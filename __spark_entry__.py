"""Query/oracle contract for external harnesses (PySpark target).

``entry(spark)`` is a smoke check (PageRank, the first registry
entry).  Each ``queries()[name]`` runs on Spark and is compared against
the matching ``oracle_sql()[name]`` on DuckDB (row count + column
names + order-insensitive value hash).  Every entry is checked, so the
registry order carries no meaning beyond ``pagerank`` first:
``tests/test_registry_oracles.py`` compares all of them at sf0.001 and
``tools/selfcheck.py`` at any sf dir, both through
``tools/oracle_compare.compare``.

All real logic lives in ``graphscope_spark`` (the engine) and
``graphscope_spark.entry`` (the query/oracle registry); this module
is a thin adapter kept stable for the driver.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from graphscope_spark import entry as _entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: PageRank (10 LDBC
    rounds, NetworkX dangling semantics) on the co-order part graph."""
    return _entry.q_pagerank(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _entry.queries()


def oracle_sql() -> dict[str, str]:
    return _entry.oracle_sql()
