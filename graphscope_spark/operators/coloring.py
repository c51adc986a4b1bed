"""Deterministic greedy graph coloring (Jones–Plassmann fixpoint).

Reference semantics: ``apps/flash/clustering/color.h`` (84 LoC) —
every vertex starts at color 0; each round it collects the colors of
its *dominating* neighbors (higher ``(degree, id)`` priority) and
recolors to the minimum excluded value (mex); the fixpoint is the
greedy coloring along the static ``(degree, id)`` priority order, so
the result is deterministic and independent of execution schedule.

Spark shape: the dominating-direction edge set is STATIC — computed
once from the degree table and persisted — so each superstep is one
join (neighbor colors flow along dominating edges), one
``collect_set`` aggregation, and a JVM-side mex via
``array_except(sequence(0, n), colors)[1]`` — no Python in the loop.
Rounds are bounded by the longest priority-decreasing path (the
priority DAG depth), the same bound as the reference's round count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph import Graph
from graphscope_spark.plans import superstep


def greedy_coloring(graph: Graph, max_iter: int = 200) -> DataFrame:
    """``(id long, color int)`` — fixpoint of: color(v) = mex of
    colors of neighbors with higher (degree, id) priority."""
    edges = graph.symmetrized_edges().select("src", "dst")
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("d")
    )
    # dominating edges: src's (deg, id) > dst's (deg, id); static
    dom = (
        edges.join(
            deg.select(F.col("id").alias("src"), F.col("d").alias("ds")),
            "src",
        )
        .join(
            deg.select(F.col("id").alias("dst"), F.col("d").alias("dd")),
            "dst",
        )
        .where(
            (F.col("ds") > F.col("dd"))
            | ((F.col("ds") == F.col("dd")) & (F.col("src") > F.col("dst")))
        )
        .select("src", "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def step(state: DataFrame, k: int) -> DataFrame:
        used = (
            dom.join(
                state.select(F.col("id").alias("src"), "c"), "src"
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.array_sort(F.collect_set("c")).alias("used"))
        )
        # mex: first value of 0..|used| not present in the (sorted) set
        mex = F.element_at(
            F.array_except(
                F.sequence(F.lit(0), F.size("used")), F.col("used")
            ),
            1,
        )
        return (
            state.select("id", F.col("c").alias("old"))
            .join(used, "id", "left")
            .select(
                "id",
                F.coalesce(
                    F.when(F.col("used").isNotNull(), mex), F.lit(0)
                ).alias("c"),
                "old",
            )
        )

    def action(new: DataFrame, old: DataFrame):
        changed = new.where(F.col("c") != F.col("old")).count()
        return {"changed": float(changed)}, changed == 0

    # the fixpoint on a 200-vertex graph took 5.7 s cut every round,
    # 9.6 s every 5th (a round reads the previous state twice)
    state = superstep.run(
        graph.vertices.sparkSession, "coloring",
        lambda: graph.vertices.select("id", F.lit(0).alias("c")),
        step, action, max_iter, every=1,
    )
    dom.unpersist()
    return state.select("id", F.col("c").cast("int").alias("color"))
