"""Deterministic synchronous Louvain, phase 1 (community moves).

Re-expresses the move phase of the reference's distributed Louvain
(``apps/pregel/louvain/louvain.h:31-53`` — the Sotera synchronized
vertex-move formulation: each vertex sees its neighbors' communities
and the community totals, then moves to the neighbor community with
the best modularity gain).  The reference runs asynchronously with
randomized tie handling, which is why earlier rounds skipped it; this
variant pins every source of nondeterminism instead:

- **fixed synchronous rounds** (the reference's own test only checks
  the app runs; community quality is comparable),
- **min-community-id tie-break** on equal gain,
- **the reference's own anti-cycle rule** (``louvain.h:261-265``):
  a move to a HIGHER community id is only applied on even rounds, a
  move to a LOWER id only on odd rounds — so two adjacent vertices
  can never swap communities in the same round and symmetric
  oscillation dies,

which makes the result a pure function of the graph and exactly
SQL-oracle-able (unrolled rounds, identical float expressions).

Modularity gain of moving ``v`` to community ``c``, unweighted:
``e_vc - k_v * sigma_tot\\v(c) / 2m`` where ``e_vc`` = edges from
``v`` into ``c``, ``sigma_tot\\v`` excludes ``v``'s own degree, the
shared ``1/2m`` scale dropped.  Each round is three shuffles —
community degree totals, neighbor-community counts, per-vertex
argmax — all map-side combined.  :func:`louvain` adds phase-2: a
weighted community contraction (cross-community edge weights +
per-community self weights) and another phase-1 pass on the
contracted graph.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from ..graph import Graph
from ..plans import superstep


def louvain_one_level(
    graph: Graph,
    rounds: int = 4,
    sym: DataFrame | None = None,
    self_w: DataFrame | None = None,
    checkpoint=None,
) -> DataFrame:
    """``(id, community)`` after ``rounds`` deterministic synchronous
    modularity-gain move rounds (phase 1 of Louvain).

    ``sym``/``self_w`` are the multi-level hooks: a pre-weighted
    symmetric edge table ``(src, dst, w)`` and per-vertex internal
    (self-loop) weights ``(id, sw)`` from a community contraction.
    Self-loop weight moves WITH the vertex, so it adds equally to
    every candidate's ``e_vc`` and cancels out of the argmax — it
    only enters ``k`` and ``2m``.
    """
    if sym is None:
        sym = graph.symmetrized_edges().select(
            "src", "dst", F.lit(1).cast("long").alias("w")
        )
    sym = sym.persist(StorageLevel.MEMORY_AND_DISK)
    two_m = sym.agg(F.sum("w")).first()[0]
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.sum("w").cast("long").alias("k")
    )
    state0 = (
        graph.vertices.select("id", F.col("id").alias("comm"))
        .join(deg, "id", "left")
        .withColumn("k", F.coalesce("k", F.lit(0)).cast("long"))
    )
    if self_w is not None:
        state0 = state0.join(self_w, "id", "left").select(
            "id", "comm",
            (F.col("k") + F.coalesce("sw", F.lit(0))).alias("k"),
        )
        two_m += self_w.agg(F.sum("sw")).first()[0] or 0

    def step(state: DataFrame, r: int) -> DataFrame:
        sig = state.groupBy("comm").agg(F.sum("k").alias("sig"))
        nbr_comm = state.select(
            F.col("id").alias("dst"), F.col("comm").alias("c")
        )
        cand = (
            sym.join(nbr_comm, "dst")
            .groupBy(F.col("src").alias("id"), "c")
            .agg(F.sum("w").cast("long").alias("cnt"))
        )
        # staying put is always a candidate, even when no neighbor
        # shares v's community (its e_vc is then 0)
        stay = state.select(
            "id", F.col("comm").alias("c"),
            F.lit(0).cast("long").alias("cnt"),
        )
        cand = (
            cand.unionByName(stay)
            .groupBy("id", "c")
            .agg(F.sum("cnt").alias("cnt"))
        )
        sc = (
            cand.join(sig.withColumnRenamed("comm", "c"), "c")
            .join(
                state.select(
                    "id", F.col("comm").alias("cur"), "k"
                ),
                "id",
            )
            .withColumn(
                "sig_ex",
                F.col("sig")
                - F.when(
                    F.col("c") == F.col("cur"), F.col("k")
                ).otherwise(F.lit(0)),
            )
            .withColumn(
                "score",
                F.col("cnt")
                - (F.col("k") * F.col("sig_ex"))
                / F.lit(float(two_m)),
            )
        )
        best = sc.groupBy("id").agg(
            F.max(
                F.struct(
                    F.col("score").alias("s"),
                    (-F.col("c")).alias("nc"),
                )
            ).alias("m")
        )
        pick = best.select("id", (-F.col("m.nc")).alias("new_c"))
        # reference louvain.h:261-265: up-moves on even rounds,
        # down-moves on odd rounds
        if r % 2 == 0:
            allowed = F.col("new_c") > F.col("comm")
        else:
            allowed = F.col("new_c") < F.col("comm")
        return (
            state.join(pick, "id")
            .select(
                "id",
                F.when(allowed, F.col("new_c"))
                .otherwise(F.col("comm"))
                .alias("comm"),
                "k",
            )
        )

    # a round reads the previous state five times, so an uncut round
    # multiplies the plan ~5x: 6 rounds on a 200-vertex graph took 4.2 s
    # cut every round, 16.8 s every 3rd.  The eager cut is the round's
    # only job.
    state = superstep.run(
        graph.vertices.sparkSession, "louvain", lambda: state0, step,
        lambda new, old: ({}, False), rounds, checkpoint=checkpoint,
        every=1,
    )
    sym.unpersist()
    return state.select("id", F.col("comm").alias("community"))


def louvain(graph: Graph, levels: int = 2, rounds: int = 4) -> DataFrame:
    """Multi-level Louvain: run phase-1, compress each community to a
    super-vertex (reference ``louvain.h`` ``compressCommunities``),
    repeat on the contracted graph, and map final communities back to
    the original vertices.  ``(id, community)``.

    The contraction is one aggregation over the CURRENT level's
    weighted edge table (edges relabeled by that level's community
    assignment, cross-community weights summed, intra-community
    weights folded into per-super-vertex self weights together with
    the members' carried self weights), so the weighted multigraph —
    not an unweighted simplification — flows through every level and
    each level costs strictly less than the previous one: the graph
    shrinks to |communities| vertices.
    """
    mapping = louvain_one_level(graph, rounds=rounds)
    # Per-level state: the current level's weighted symmetric edge
    # table, per-vertex self weights, and THIS level's id→community
    # map (relabeling must use the level-local map — the cumulative
    # original-id `mapping` keys don't name super-vertices).
    cur_sym = graph.symmetrized_edges().select(
        "src", "dst", F.lit(1).cast("long").alias("w")
    )
    cur_self: DataFrame | None = None
    cur_map = mapping
    for _ in range(1, levels):
        m_src = cur_map.select(
            F.col("id").alias("src"), F.col("community").alias("csrc")
        )
        m_dst = cur_map.select(
            F.col("id").alias("dst"), F.col("community").alias("cdst")
        )
        relabeled = cur_sym.join(m_src, "src").join(m_dst, "dst")
        contracted = (
            relabeled.where(F.col("csrc") != F.col("cdst"))
            .groupBy(
                F.col("csrc").alias("src"), F.col("cdst").alias("dst")
            )
            .agg(F.sum("w").cast("long").alias("w"))
        )
        # internal weight: both directions of each intra-community
        # edge (exactly what 2m accounting needs) PLUS the members'
        # own carried self weights from deeper levels
        self_w = (
            relabeled.where(F.col("csrc") == F.col("cdst"))
            .groupBy(F.col("csrc").alias("id"))
            .agg(F.sum("w").cast("long").alias("sw"))
        )
        if cur_self is not None:
            carried = (
                cur_self.join(cur_map, "id")
                .groupBy(F.col("community").alias("id"))
                .agg(F.sum("sw").cast("long").alias("sw"))
            )
            self_w = (
                self_w.unionByName(carried)
                .groupBy("id")
                .agg(F.sum("sw").cast("long").alias("sw"))
            )
        if contracted.isEmpty():
            break
        super_g = Graph.from_edges(
            contracted.select("src", "dst"), directed=False
        )
        super_map = louvain_one_level(
            super_g, rounds=rounds, sym=contracted, self_w=self_w
        )
        mapping = (
            mapping.join(
                super_map.select(
                    F.col("id").alias("community"),
                    F.col("community").alias("community2"),
                ),
                "community",
                "left",
            )
            .select(
                "id",
                F.coalesce("community2", "community").alias("community"),
            )
            .localCheckpoint(eager=True)
        )
        cur_sym, cur_self, cur_map = contracted, self_w, super_map
    return mapping


def modularity(
    graph: Graph, assignment: DataFrame, community_col: str = "community"
) -> DataFrame:
    """Newman modularity of a community assignment, unweighted:
    ``Q = Σ_c [ e_c/m − (d_c/2m)² ]`` with ``e_c`` = intra-community
    edges, ``d_c`` = total degree of the community.  One row,
    ``(modularity double)`` rounded to 6dp — two aggregations over
    the edge table, no iteration.  The quality number the reference's
    Louvain maximizes (``louvain.h`` phase-1 halting)."""
    sym = graph.symmetrized_edges().select("src", "dst")
    two_m = sym.count()
    a_src = assignment.select(
        F.col("id").alias("src"), F.col(community_col).alias("ca")
    )
    a_dst = assignment.select(
        F.col("id").alias("dst"), F.col(community_col).alias("cb")
    )
    labeled = sym.join(a_src, "src").join(a_dst, "dst")
    intra = labeled.where(F.col("ca") == F.col("cb")).groupBy(
        F.col("ca").alias("c")
    ).agg(F.count(F.lit(1)).cast("long").alias("e2"))  # 2·e_c
    deg = labeled.groupBy(F.col("ca").alias("c")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    per_c = deg.join(intra, "c", "left").select(
        (
            F.coalesce("e2", F.lit(0)) / F.lit(float(two_m))
            - (F.col("d") / F.lit(float(two_m)))
            * (F.col("d") / F.lit(float(two_m)))
        ).alias("q")
    )
    return per_c.agg(F.round(F.sum("q"), 6).alias("modularity"))
