"""Minimum spanning forest — distributed Borůvka.

Reference semantics: ``apps/flash/measurement/msf.h`` (68 LoC) runs
Kruskal per fragment then tree-merges partial MSTs; its edge
comparator is ``std::pair<edata_t, std::pair<vid_t, vid_t>>`` —
lexicographic (weight, src, dst).  Under that STRICT total order the
minimum spanning forest is unique, so any MSF algorithm using the
same order produces the identical edge set; this module uses
Borůvka's algorithm, the natural bulk-synchronous formulation (the
reference's per-fragment Kruskal + reduce is a driver-bottleneck at
scale: the final merge runs on one node over O(V) edges).

Borůvka rounds (≤ log2 V, components at least halve):

1. every component picks its minimum incident outgoing edge under
   (weight, u, v) — one join + one map-side-combined min-aggregation;
2. picked edges hook components into pseudo-trees (the strict total
   order makes the only possible cycles 2-cycles, flattened to the
   min endpoint);
3. pointer-jumping contracts each pseudo-tree to its root in
   O(log depth) self-joins over the (small) component table;
4. relabel and repeat until no component has an outgoing edge.

All per-round state is component-sized — the edge table is touched
once per round by a single co-partitioned join, so at 100 TB each
round is one edge-scan plus component-table shuffles that shrink
geometrically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph import Graph
from graphscope_spark.plans import superstep


def minimum_spanning_forest(
    graph: Graph,
    weight_col: str = "weight",
    max_iter: int = 64,
) -> DataFrame:
    """``(src long, dst long, weight double)`` — the unique MSF under
    the lexicographic (weight, src, dst) edge order, src < dst
    canonical.  Total weight = ``result.agg(sum("weight"))`` is the
    reference's ``GlobalRes``."""
    with superstep.aqe_scope(graph.vertices.sparkSession, "msf"):
        e = graph.edges
        if weight_col not in e.columns:
            e = e.withColumn(weight_col, F.lit(1.0))
        # canonical undirected weighted edges, one row per pair
        ew = (
            e.select(
                F.least("src", "dst").alias("u"),
                F.greatest("src", "dst").alias("v"),
                F.col(weight_col).cast("double").alias("w"),
            )
            .where(F.col("u") != F.col("v"))
            .groupBy("u", "v")
            .agg(F.min("w").alias("w"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        spark = graph.vertices.sparkSession
        comp = graph.vertices.select("id", F.col("id").alias("comp"))
        comp = comp.localCheckpoint(eager=True)

        forest_parts: list[DataFrame] = []
        for _ in range(max_iter):
            cu = comp.select(F.col("id").alias("u"), F.col("comp").alias("cu"))
            cv = comp.select(F.col("id").alias("v"), F.col("comp").alias("cv"))
            ec = (
                ew.join(cu, "u").join(cv, "v")
                .where(F.col("cu") != F.col("cv"))
            )
            # each endpoint's component is a candidate owner of the edge;
            # min-struct is the (weight, u, v[, cu, cv]) comparator — the
            # trailing component ids ride along without affecting order
            # because (u, v) already identifies the edge uniquely
            pick = F.struct("w", "u", "v", "cu", "cv").alias("pick")
            cand = ec.select(F.col("cu").alias("c"), pick).unionByName(
                ec.select(F.col("cv").alias("c"), pick)
            )
            sel = (
                cand.groupBy("c").agg(F.min("pick").alias("m"))
                .select("c", "m.*")
                .localCheckpoint(eager=True)
            )
            if sel.limit(1).count() == 0:
                break
            forest_parts.append(sel.select("u", "v", "w").distinct())

            # hooking: parent(c) = component across the picked edge
            par = sel.select(
                "c",
                F.when(F.col("c") == F.col("cu"), F.col("cv"))
                .otherwise(F.col("cu")).alias("p"),
            )
            # flatten 2-cycles (both components picked the same edge) to
            # the min endpoint, making the parent graph a forest
            pp = par.select(F.col("c").alias("p"), F.col("p").alias("pp"))
            par = (
                par.join(pp, "p", "left")
                .select(
                    "c",
                    F.when(F.col("pp") == F.col("c"),
                           F.least("c", "p")).otherwise(F.col("p")).alias("p"),
                )
                .localCheckpoint(eager=True)
            )
            # pointer jumping to the root: p ← p[p] until fixpoint
            while True:
                lut = par.select(F.col("c").alias("p"), F.col("p").alias("pj"))
                nxt = (
                    par.join(lut, "p", "left")
                    .select("c", F.coalesce("pj", F.col("p")).alias("p"))
                    .localCheckpoint(eager=True)
                )
                moved = (
                    nxt.withColumnRenamed("p", "np")
                    .join(par, "c")
                    .where(F.col("np") != F.col("p"))
                    .limit(1).count()
                )
                par = nxt
                if moved == 0:
                    break
            comp = (
                comp.join(par.withColumnRenamed("c", "comp"), "comp", "left")
                .select("id", F.coalesce("p", F.col("comp")).alias("comp"))
                .localCheckpoint(eager=True)
            )

        ew.unpersist()
        if not forest_parts:
            return spark.createDataFrame([], "src long, dst long, weight double")
        acc = forest_parts[0]
        for p in forest_parts[1:]:
            acc = acc.unionByName(p)
        return acc.select(
            F.col("u").alias("src"), F.col("v").alias("dst"),
            F.col("w").alias("weight"),
        ).distinct()

