"""Weakly-connected components — min-label propagation to fixpoint.

Reference semantics: ``apps/projected/wcc_projected.h`` (186 LoC):
init ``comp(v) = id(v)`` (ref ``:76-81``); propagate **min** component
id over out- AND in-edges until fixpoint, frontier-driven (ref
``:83-120, 140-181``); message combine is ``min``
(``SyncStateOnOuterVertex``, ref ``:107-113``).  Component-id
convention: the minimum vertex id in the component (ref python
``tests/unittest/test_app.py:195-200``) — partitioning-invariant.

Spark shape: the frontier-sparse iteration the reference gets from
``DenseVertexSet`` is an explicit ``frontier`` DataFrame — only
vertices whose component changed last round send messages
(SURVEY.md §4.1 "frontier-driven sparse iteration").  On top of plain
propagation (O(diameter) rounds) an optional pointer-jumping step
(``comp ← comp[comp]``, one extra |V|-sized self-join per round)
shortcuts long chains to O(log d) rounds — the standard trick from the
Hash-to-Min / two-phase CC literature, essential at 100 TB where the
giant component's diameter is what you pay per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph import Graph
from graphscope_spark.plans import superstep
from graphscope_spark.plans.checkpoint import CheckpointManager


def wcc(
    graph: Graph,
    max_iter: int = 200,
    pointer_jumping: bool = True,
    checkpoint: CheckpointManager | None = None,
    init_labels: DataFrame | None = None,
) -> DataFrame:
    """Returns ``(id long, comp long)`` with ``comp`` = min vertex id
    in the weakly-connected component.

    ``init_labels`` warm-starts from a previous result ``(id, comp)``
    (incremental/streaming growth): every label is a vertex id inside
    the same component, so min-label propagation from old labels
    converges to the true new minimum — unchanged regions settle in
    one round.

    **Insert-only contract**: the warm start is correct only for
    grow-only graphs (edges/vertices added, never removed) — min
    propagation can lower a label but never raise one, so after a
    deletion a stale too-small label would persist forever.  Labels
    pointing at vertices absent from the current graph are dropped
    here (those vertices fall back to cold-start ``comp = id``); a
    deletion that leaves the labeled vertex present cannot be detected
    cheaply, so the caller must not feed compacted/delete-containing
    edge logs (see ``streaming.edge_stream.incremental_wcc``).

    The state row carries the previous label ``old_comp``; the
    frontier is the rows whose label changed (all rows on round 0 and
    on resume, where ``old_comp`` is NULL)."""
    edges = graph.symmetrized_edges().select("src", "dst")
    if graph.num_partitions:
        edges = edges.repartition(graph.num_partitions, "src")
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    unset = F.lit(None).cast("long").alias("old_comp")

    def init() -> DataFrame:
        if init_labels is None:
            return graph.vertices.select("id", F.col("id").alias("comp"), unset)
        # guard: only labels that name a vertex of the CURRENT graph
        # are trusted (a label pointing at a removed vertex would be a
        # permanently-stale minimum); others cold-start at comp = id.
        valid = init_labels.select("id", F.col("comp").alias("c0")).join(
            graph.vertices.select(F.col("id").alias("c0")), "c0", "left_semi"
        )
        return graph.vertices.select("id").join(valid, "id", "left").select(
            "id", F.coalesce("c0", F.col("id")).alias("comp"), unset
        )

    def step(state: DataFrame, k: int) -> DataFrame:
        # messages: frontier vertices push their comp to neighbors;
        # min-combine
        frontier = state.where(
            ~F.col("comp").eqNullSafe(F.col("old_comp"))
        ).select(F.col("id").alias("src"), "comp")
        cand = (
            edges.join(frontier, "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("comp").alias("cand"))
        )
        new_state = (
            state.select("id", F.col("comp").alias("old_comp"))
            .join(cand, "id", "left")
            .select(
                "id",
                F.least(F.col("old_comp"),
                        F.coalesce("cand", F.col("old_comp"))).alias("comp"),
                "old_comp",
            )
        )
        if pointer_jumping:
            # comp ← comp[comp]: follow the label one hop through the
            # current state table (comp(v) ≤ v invariant keeps this in
            # the same component and monotone non-increasing).
            lut = new_state.select(
                F.col("id").alias("comp"), F.col("comp").alias("jump")
            )
            new_state = (
                new_state.join(lut, "comp", "left")
                .select(
                    "id",
                    F.coalesce("jump", F.col("comp")).alias("comp"),
                    "old_comp",
                )
            )
        return new_state

    def action(new: DataFrame, old: DataFrame):
        changed = new.where(F.col("comp") != F.col("old_comp")).count()
        return {"changed": float(changed)}, changed == 0

    state = superstep.run(
        graph.vertices.sparkSession, "wcc", init, step, action, max_iter,
        cols=("id", "comp"), checkpoint=checkpoint,
        resume=lambda s: s.select("id", "comp", unset),
    )
    return state.select("id", "comp")
