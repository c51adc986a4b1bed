"""CDLP / LPA — LDBC Graphalytics community detection by label
propagation, the semantics GAE's ``cdlp`` app is verified against
(golden ``p2p-31-CDLP``, reference ``test/app_tests.sh:359-366,
402-405``; doc ``docs/analytical_engine/builtin_algorithms.md:89-99,
236-247``; python wrapper ``analytical/app/lpa.py:29-54`` with
``max_round=10`` pinned in ``test/run_app.h:254-263``):

- init ``label(v) = v``;
- synchronous rounds: every vertex adopts the **most frequent** label
  among its incoming AND outgoing neighbors (a bidirectional neighbor
  counts twice), ties broken by **minimum** label;
- exactly ``max_round`` rounds (no convergence test);
- a vertex with no neighbors keeps its label.

NOTE the FLASH variant (``apps/flash/clustering/lpa.h:47-77``) uses
first-seen tie-break — the LDBC min-tie-break here is normative since
the reference's goldens are LDBC files (SURVEY.md §2.B.3).

Spark shape per round: edge⋈label join, pre-partition messages by
``dst``, then ONE ``mode(label, deterministic=true)`` aggregation —
Spark's deterministic mode returns the minimum among tied modes,
which IS the LDBC tie-break (verified against the histogram+argmax
formulation: identical labels, measured ~25% faster at sf0.1 since
the per-group frequency map is built once instead of histogram +
second argmax pass).  AQE stays ON here — unlike the fixed-shape
pagerank/wcc supersteps, the label-histogram shuffle shrinks as
communities converge and AQE's runtime coalesce wins (off measured
~1.8x slower at sf0.1; see ``plans.superstep``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph import Graph
from graphscope_spark.plans import superstep
from graphscope_spark.plans.checkpoint import CheckpointManager


def cdlp(
    graph: Graph,
    max_round: int = 10,
    checkpoint: CheckpointManager | None = None,
    init_labels: DataFrame | None = None,
) -> DataFrame:
    """Returns ``(id long, label long)`` after exactly ``max_round``
    synchronous LDBC-CDLP rounds.

    ``init_labels`` warm-starts the labeling (vertices absent from it
    seed with their own id, the cold-start rule).  Unlike WCC's
    min-propagation, CDLP recomputes every label from the neighbor
    mode each round, so a warm start is merely a seed: it needs no
    insert-only contract and is safe after deletions — stale labels
    wash out.  Note the LDBC fixed-round semantics: ``max_round``
    rounds FROM the seed is a refinement of the previous labeling,
    not equal to ``max_round`` rounds from scratch on the new graph
    (streaming incrementals want exactly that refinement)."""
    # in+out neighbor multiset: reversed edges unioned WITHOUT dedup —
    # a u↔v pair contributes v's label to u twice, per LDBC spec.
    if graph.directed:
        msgs_edges = graph.edges.select("src", "dst").unionByName(
            graph.reversed_edges().select("src", "dst")
        )
    elif getattr(graph, "edges_symmetric", False):
        # .undirected() guarantees both directions are stored —
        # skip the defensive symmetrize+dedup shuffle
        msgs_edges = graph.edges.select("src", "dst")
    else:
        # undirected: one message per (neighbor, direction) pair.
        # symmetrized_edges (dedup) is storage-agnostic — identical
        # multiset whether the table holds one direction or both
        # (previously graph.edges as-is: a one-direction table
        # silently dropped half the label messages)
        msgs_edges = graph.symmetrized_edges().select("src", "dst")
    msgs_edges = msgs_edges.where(F.col("src") != F.col("dst"))
    if graph.num_partitions:
        msgs_edges = msgs_edges.repartition(graph.num_partitions, "src")
    msgs_edges = msgs_edges.persist(StorageLevel.MEMORY_AND_DISK)

    def init() -> DataFrame:
        if init_labels is None:
            return graph.vertices.select("id", F.col("id").alias("label"))
        return (
            graph.vertices.select("id")
            .join(
                init_labels.select("id", F.col("label").alias("l0")),
                "id", "left",
            )
            .select("id", F.coalesce("l0", F.col("id")).alias("label"))
        )

    n_part = int(
        graph.vertices.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )

    def step(state: DataFrame, rnd: int) -> DataFrame:
        # one exchange per round: pre-partition messages by dst, then a
        # single deterministic-mode aggregation (min label among tied
        # modes = the LDBC tie-break) runs shuffle-free on top of it
        winner = (
            msgs_edges.join(state.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), "label")
            .repartition(n_part, "id")
            .groupBy("id")
            .agg(F.mode("label", True).alias("new_label"))
        )
        return (
            state.withColumnRenamed("label", "old_label")
            .join(winner, "id", "left")
            .select("id", F.coalesce("new_label", F.col("old_label")).alias("label"))
        )

    state = superstep.run(
        graph.vertices.sparkSession, "cdlp", init, step,
        superstep.fixed_rounds, max_round, checkpoint=checkpoint,
    )
    return state.select("id", "label")
