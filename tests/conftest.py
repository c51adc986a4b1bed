import pytest
from pyspark.sql import SparkSession

from graphscope_spark.graph import Graph


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("graphscope-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="module", autouse=True)
def _module_cache_sweep():
    """Drop persisted DataFrames/localCheckpoint RDDs after each test
    module — iterative apps persist aggressively and the accumulated
    blocks otherwise OOM the shared local JVM late in the session."""
    yield
    spark = SparkSession.getActiveSession()
    if spark is not None:
        release_cached_blocks(spark)


def release_cached_blocks(spark):
    """Clear the SQL cache and unpersist every persisted RDD."""
    spark.catalog.clearCache()
    sc = spark.sparkContext
    for rdd_id in list(sc._jsc.getPersistentRDDs().keySet()):
        try:
            sc._jsc.sc().unpersistRDD(rdd_id, False)
        except Exception:
            pass


def make_graph(spark, vertices, edges, directed=True, num_partitions=4):
    v = spark.createDataFrame([(int(x),) for x in vertices], "id long")
    e = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "src long, dst long"
    )
    return Graph.from_edges(e, directed=directed, vertices=v,
                            num_partitions=num_partitions)


def make_weighted_graph(spark, vertices, wedges, directed=True, num_partitions=4):
    v = spark.createDataFrame([(int(x),) for x in vertices], "id long")
    e = spark.createDataFrame(
        [(int(a), int(b), float(w)) for a, b, w in wedges],
        "src long, dst long, weight double",
    )
    return Graph.from_edges(e, directed=directed, vertices=v,
                            num_partitions=num_partitions)


def df_to_dict(df, key="id"):
    rows = df.collect()
    vcol = [c for c in df.columns if c != key][0]
    return {r[key]: r[vcol] for r in rows}
