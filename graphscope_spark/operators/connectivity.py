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
aggregation.  Each round's frames are read several times, so they are
``localCheckpoint``-ed every round rather than on the cut schedule of
``plans.superstep`` (the iterative-plan-growth OOM documented in
SURVEY §4).  On web graphs
trim kills the huge DAG-like periphery in a few rounds and coloring
handles the giant SCC in O(diameter) rounds — the known scalable
decomposition for power-law digraphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.graph import Graph


def _not_empty(df: DataFrame) -> bool:
    return df.limit(1).count() > 0


def scc(graph: Graph, max_outer: int = 1_000) -> DataFrame:
    """``(id long, scc long)`` — scc = min id of the vertex's strongly
    connected component."""
    spark = graph.vertices.sparkSession
    active_e = (
        graph.edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    active_v = graph.vertices.select("id").localCheckpoint(eager=True)
    results: list[DataFrame] = []

    for _ in range(max_outer):
        # ---- 1. trim: peel vertices with no in or no out edge ------
        while True:
            srcs = active_e.select(F.col("src").alias("id")).distinct()
            dsts = active_e.select(F.col("dst").alias("id")).distinct()
            keep = (
                active_v.join(srcs, "id", "left_semi")
                .join(dsts, "id", "left_semi")
                .localCheckpoint(eager=True)
            )
            n_keep, n_active = keep.count(), active_v.count()
            if n_keep < n_active:
                trivial = active_v.join(keep, "id", "left_anti")
                results.append(trivial.select("id", F.col("id").alias("scc")))
                active_v = keep
                active_e = (
                    active_e.join(keep.withColumnRenamed("id", "src"),
                                  "src", "left_semi")
                    .join(keep.withColumnRenamed("id", "dst"),
                          "dst", "left_semi")
                    .localCheckpoint(eager=True)
                )
            if n_keep == n_active or n_keep == 0:
                break
        if not _not_empty(active_v):
            break

        # ---- 2. color: min forward-reachable id to fixpoint --------
        color = active_v.select("id", F.col("id").alias("color"))
        color = color.localCheckpoint(eager=True)
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
            nxt = (
                color.join(msgs, "id", "left")
                .select(
                    "id",
                    F.least("color", F.coalesce("mn", F.col("color"))
                            ).alias("color"),
                )
                .localCheckpoint(eager=True)
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
        members = color.where(F.col("id") == F.col("color")).select(
            F.col("color"), F.col("id")
        ).localCheckpoint(eager=True)
        frontier = members
        while _not_empty(frontier):
            cand = (
                active_e.join(
                    frontier.select(F.col("color"),
                                    F.col("id").alias("src")), "src")
                .select("color", F.col("dst").alias("id"))
                .distinct()
                .join(
                    color.withColumnRenamed("color", "c2"), "id")
                .where(F.col("color") == F.col("c2"))
                .select("color", "id")
                .join(members, ["color", "id"], "left_anti")
                .localCheckpoint(eager=True)
            )
            members = members.unionByName(cand).localCheckpoint(eager=True)
            frontier = cand
        found = members.select("id", F.col("color").alias("scc"))
        results.append(found.localCheckpoint(eager=True))

        # ---- 4. peel the found SCCs off ----------------------------
        found_ids = found.select("id")
        active_v = active_v.join(found_ids, "id", "left_anti").localCheckpoint(
            eager=True
        )
        if not _not_empty(active_v):
            break
        active_e = (
            active_e.join(active_v.withColumnRenamed("id", "src"),
                          "src", "left_semi")
            .join(active_v.withColumnRenamed("id", "dst"),
                  "dst", "left_semi")
            .localCheckpoint(eager=True)
        )

    if not results:
        return spark.createDataFrame([], "id long, scc long")
    acc = results[0]
    for r in results[1:]:
        acc = acc.unionByName(r)
    return acc
