"""Strongly connected components — trim + coloring (FW-BW style).

Reference: ``analytical_engine/apps/flash/connectivity/scc.h`` (84
LoC) — the FLASH SCC uses the same decomposition family: repeatedly
(1) TRIM trivial SCCs (vertices with no in- or out-edges in the live
subgraph are singletons), (2) COLOR every vertex with the minimum id
it can reach forward (a min-propagation fixpoint), (3) for each pivot
``c`` (a vertex whose color is itself), the SCC of ``c`` is the set of
color-``c`` vertices reachable forward from ``c`` within the color
class — every color-``c`` vertex reaches ``c`` by definition, so
reachability from ``c`` inside the class certifies mutuality.  Found
SCCs are peeled off and the loop repeats on the remainder.

The emitted label is the minimum member id of each SCC (the pivot),
a canonical choice any engine can reproduce, which is what makes the
transitive-closure SQL oracle comparable row-for-row.

Spark shape: every step is a frontier- or degree-style join over the
live edge set; each fixpoint round is one join + one map-combined
aggregation.  The pivot reach (3) is one :func:`bfs` hop flood
(``traversal.HopFlood``) from every pivot at once over the edges
inside a color class: the classes are disjoint, so each vertex is
reached only from its own pivot.  The trim and color rounds read
their frames several times, so they are ``localCheckpoint``-ed every
round rather than on the cut schedule of ``plans.superstep`` (the
iterative-plan-growth OOM documented in SURVEY §4); every such cut is
released once the result is materialized.  On web graphs
trim kills the huge DAG-like periphery in a few rounds and coloring
handles the giant SCC in O(diameter) rounds — the known scalable
decomposition for power-law digraphs.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.graph import Graph
from graphscope_spark.operators.traversal import HopFlood
from graphscope_spark.plans import superstep


def _not_empty(df: DataFrame) -> bool:
    return df.limit(1).count() > 0


def scc(graph: Graph, max_outer: int = 1_000) -> DataFrame:
    """``(id long, scc long)`` — scc = min id of the vertex's strongly
    connected component.  Each pivot flood's result is freed with
    ``superstep.release`` once its SCCs are cut, and every round cut
    once the result is: the result is the only block a call leaves."""
    spark = graph.vertices.sparkSession
    cuts: list[DataFrame] = []

    def cut(df: DataFrame) -> DataFrame:
        cuts.append(df.localCheckpoint(eager=True))
        return cuts[-1]

    active_e = cut(
        graph.edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    active_v = cut(graph.vertices.select("id"))
    results: list[DataFrame] = []

    for _ in range(max_outer):
        # ---- 1. trim: peel vertices with no in or no out edge ------
        while True:
            srcs = active_e.select(F.col("src").alias("id")).distinct()
            dsts = active_e.select(F.col("dst").alias("id")).distinct()
            keep_v = cut(
                active_v.join(srcs, "id", "left_semi")
                .join(dsts, "id", "left_semi")
            )
            n_keep, n_active = keep_v.count(), active_v.count()
            if n_keep < n_active:
                trivial = active_v.join(keep_v, "id", "left_anti")
                results.append(trivial.select("id", F.col("id").alias("scc")))
                active_v = keep_v
                active_e = cut(
                    active_e.join(keep_v.withColumnRenamed("id", "src"),
                                  "src", "left_semi")
                    .join(keep_v.withColumnRenamed("id", "dst"),
                          "dst", "left_semi")
                )
            if n_keep == n_active or n_keep == 0:
                break
        if not _not_empty(active_v):
            break

        # ---- 2. color: min forward-reachable id to fixpoint --------
        color = cut(active_v.select("id", F.col("id").alias("color")))
        while True:
            # color flows AGAINST edge direction: v inherits the min
            # color of its out-neighbors (min id reachable forward)
            msgs = (
                active_e.join(
                    color.select(F.col("id").alias("dst"),
                                 F.col("color").alias("c")), "dst")
                .groupBy(F.col("src").alias("id"))
                .agg(F.min("c").alias("mn"))
            )
            nxt = cut(
                color.join(msgs, "id", "left")
                .select(
                    "id",
                    F.least("color", F.coalesce("mn", F.col("color"))
                            ).alias("color"),
                )
            )
            changed = (
                nxt.withColumnRenamed("color", "nc")
                .join(color, "id")
                .where(F.col("nc") != F.col("color"))
                .limit(1)
                .count()
            )
            color = nxt
            if changed == 0:
                break

        # ---- 3. pivot reach within the color class -----------------
        # one hop flood from every pivot over the edges that stay
        # inside a color class: the SCC of pivot c is what c reaches
        same = (
            active_e.join(color.select(F.col("id").alias("src"),
                                       F.col("color").alias("cs")), "src")
            .join(color.select(F.col("id").alias("dst"),
                               F.col("color").alias("cd")), "dst")
            .where(F.col("cs") == F.col("cd"))
            .select("src", "dst")
        )
        flood = HopFlood(
            Graph.from_edges(same, vertices=active_v,
                             num_partitions=graph.num_partitions),
            color.where(F.col("id") == F.col("color")).select("id"),
            symmetrize=False,
        )
        reach = flood.run(flood.until_empty, sys.maxsize)
        found = cut(reach.join(color, "id")
                    .select("id", F.col("color").alias("scc")))
        superstep.release(reach)
        flood.edges.unpersist()
        results.append(found)

        # ---- 4. peel the found SCCs off ----------------------------
        active_v = cut(active_v.join(found.select("id"), "id", "left_anti"))
        if not _not_empty(active_v):
            break
        active_e = cut(
            active_e.join(active_v.withColumnRenamed("id", "src"),
                          "src", "left_semi")
            .join(active_v.withColumnRenamed("id", "dst"),
                  "dst", "left_semi")
        )

    if results:
        acc = results[0]
        for r in results[1:]:
            acc = acc.unionByName(r)
        out = acc.localCheckpoint(eager=True)
    else:
        out = spark.createDataFrame([], "id long, scc long")
    # the result is materialized: no cut made on the way is read again
    for c in cuts:
        superstep.release(c)
    return out
