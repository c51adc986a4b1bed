"""PageRank — NetworkX-faithful semantics of the reference's
``pagerank_nx`` app (``analytical_engine/apps/pagerank/
pagerank_networkx.h``, 167 LoC; declared as GAE's PageRank definition
in ``docs/analytical_engine/builtin_algorithms.md:257-271``):

- init ``r(v) = 1/N``; per-vertex out-degree cached (ref ``:62-74``);
- ``dangling_sum = α·Σ_{outdeg=0} r(v)`` (ref ``:76-87, 137-161``);
- each round: ``base = (1-α)/N + dangling_sum/N``;
  ``r'(v) = α·Σ_{u→v} r(u)/outdeg(u) + base`` — pull from in-neighbors
  on digraphs, neighbors on undirected (ref ``:108-133``);
- stop when ``Σ_v |r'(v) − r(v)| < tol·N`` or round > max_iter
  (ref ``:135-149``); defaults ``alpha=0.85, max_iter=100, tol=1e-6``
  (``python/graphscope/analytical/app/pagerank.py:91-121``).

Spark shape per superstep (SURVEY.md §4.3): one co-partitioned join of
the cached CSR adjacency with the rank state, one shuffle aggregation
of exploded contributions by ``dst`` (map-side partial sum = GAE's
message combining), and ONE driver action that computes the L1 delta
and the next dangling sum together — three logical steps, a single
Spark job per superstep.  The loop itself is ``plans.superstep.run``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph import Graph
from graphscope_spark.plans import superstep
from graphscope_spark.plans.checkpoint import CheckpointManager


def pagerank(
    graph: Graph,
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-06,
    checkpoint: CheckpointManager | None = None,
    stats: dict | None = None,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """Returns ``(id long, rank double)``.

    ``init_ranks`` warm-starts the iteration from a previous result
    ``(id, rank)`` — vertices missing from it start at ``1/N`` and the
    whole vector is renormalised to sum 1, so a slightly-changed graph
    (streaming micro-batch, incremental update) converges in a few
    rounds instead of from scratch.

    ``tol <= 0`` gives the fixed-round LDBC/Graphalytics variant
    (``grape::PageRankOpt`` with ``delta=0.85, max_round=10`` pinned in
    ``test/run_app.h:342-358``) — exactly ``max_iter`` rounds.

    ``stats`` receives ``rounds`` and ``final_l1`` (and the last
    superstep's committed metrics)."""

    def init(base_v: DataFrame, n: int) -> DataFrame:
        if init_ranks is None:
            return base_v.select("id", F.lit(1.0 / n).alias("rank"))
        # warm start: carry over prior ranks, default new vertices to
        # 1/N, renormalize so the mass invariant (Σ rank = 1) holds
        seeded = base_v.select("id").join(
            init_ranks.select("id", F.col("rank").alias("r0")), "id", "left"
        ).select("id", F.coalesce("r0", F.lit(1.0 / n)).alias("rank"))
        total = seeded.agg(F.sum("rank")).first()[0] or 1.0
        return seeded.select(
            "id", (F.col("rank") / F.lit(float(total))).alias("rank")
        )

    out = _rank_loop(
        graph, "pagerank", alpha, max_iter, tol, init,
        lambda n, dsum: F.lit((1.0 - alpha) / n + dsum / n),
        checkpoint, stats,
    )
    if stats is not None and "l1_delta" in stats:
        stats["final_l1"] = stats["l1_delta"]
    return out


def personalized_pagerank(
    graph: Graph,
    source: int,
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-06,
) -> DataFrame:
    """Personalized PageRank from a single source (reference
    ``apps/flash/ranking/ppr.h``; NetworkX ``pagerank(personalization=
    {s: 1})`` semantics): teleport and dangling mass both return to the
    SOURCE instead of spreading uniformly::

        r'(v) = α·Σ_{u→v} r(u)/outdeg(u)
                + [v = s]·((1-α) + α·dangling_sum)

    Same superstep as global PageRank."""
    is_src = F.col("id") == int(source)
    return _rank_loop(
        graph, "personalized_pagerank", alpha, max_iter, tol,
        lambda base_v, n: base_v.select(
            "id", F.when(is_src, 1.0).otherwise(0.0).alias("rank")),
        lambda n, dsum: F.when(is_src, F.lit((1.0 - alpha) + dsum))
        .otherwise(0.0),
    )


def articlerank(
    graph: Graph, damping: float = 0.85, max_iter: int = 10
) -> DataFrame:
    """ArticleRank (reference ``apps/flash/ranking/articlerank.h``):
    like PageRank but contributions divide by ``outdeg(u) + ⟨outdeg⟩``
    so low-degree citers are dampened.  Reference protocol exactly:
    init 0, fixed rounds of ``r'(v) = (1-d) + d·Σ_{u→v} r(u)/(deg(u)+avg)``
    (no dangling redistribution, no normalization)."""
    spark = graph.vertices.sparkSession
    with superstep.aqe_scope(spark, "articlerank"):
        adj = graph.adjacency("out" if graph.directed else "both",
                              cache=True)
        deg = _degrees(graph).persist(StorageLevel.MEMORY_AND_DISK)
        row = deg.agg(F.sum("deg").alias("t"),
                      F.count(F.lit(1)).alias("n")).collect()[0]
        avg = (row["t"] or 0) / row["n"] if row["n"] else 1.0
        state = superstep.run(
            spark, "articlerank",
            lambda: deg.select("id", F.lit(0.0).alias("rank")),
            lambda state, k: deg.select("id").join(
                _messages(adj, state, F.col("degree") + F.lit(avg)),
                "id", "left",
            ).select(
                "id",
                (damping * F.coalesce("msum", F.lit(0.0))
                 + (1.0 - damping)).alias("rank"),
            ),
            superstep.fixed_rounds, max_iter,
        )
    return state.select("id", "rank")


def _degrees(graph: Graph) -> DataFrame:
    """``(id, deg)``: the message divisor — out-degree on digraphs,
    degree on undirected graphs."""
    if graph.directed:
        return graph.out_degrees().withColumnRenamed("out_degree", "deg")
    return graph.degrees().withColumnRenamed("degree", "deg")


def _messages(adj: DataFrame, state: DataFrame, divisor: Column) -> DataFrame:
    """``(id, msum)``: Σ_{u→v} rank(u)/divisor(u) — one co-partitioned
    join of the cached adjacency with the rank state, one shuffle
    aggregation of the exploded contributions by ``dst`` (map-side
    partial sum = GAE's message combining)."""
    return (
        adj.join(state.select(F.col("id").alias("src"), "rank"), "src")
        .select(F.explode("dst_list").alias("id"), (F.col("rank") / divisor).alias("c"))
        .groupBy("id")
        .agg(F.sum("c").alias("msum"))
    )


def _rank_loop(graph, op, alpha, max_iter, tol, init, teleport,
               checkpoint=None, stats=None) -> DataFrame:
    """The superstep pagerank and personalized_pagerank share:
    ``r'(v) = α·msum(v) + teleport(n, dangling_sum)`` with
    ``dangling_sum = α·Σ_{outdeg=0} r(v)`` of the previous state."""
    spark = graph.vertices.sparkSession
    # the set-up actions run under the loop's AQE setting too
    with superstep.aqe_scope(spark, op):
        # messages flow src→dst along this adjacency: for the pull-from-
        # in-neighbors digraph semantics we keep edges as-is and
        # aggregate on dst; degree divisor is the *out*-degree (or
        # undirected degree).
        adj = graph.adjacency("out" if graph.directed else "both", cache=True)
        # static per-vertex base table: (id, deg, dangling)
        base_v = _degrees(graph).withColumn("dangling", F.col("deg") == 0)
        if graph.num_partitions:
            base_v = base_v.repartition(graph.num_partitions, "id")
        base_v = base_v.persist(StorageLevel.MEMORY_AND_DISK)
        n = base_v.count()
        if n == 0:
            return base_v.select("id", F.lit(0.0).alias("rank"))
        dangling = F.sum(
            F.when(F.col("dangling"), F.col("rank")).otherwise(0.0)
        ).alias("dsum")
        mass: list[float] = []  # α·Σ_{dangling} r(v) of the state in hand

        def step(state: DataFrame, k: int) -> DataFrame:
            if not mass:  # first superstep of this call: fresh or resumed
                mass.append(alpha * (
                    state.join(base_v.where("dangling").select("id"), "id",
                               "left_semi")
                    .agg(F.sum("rank")).collect()[0][0] or 0.0
                ))
            return base_v.join(
                _messages(adj, state, F.col("degree")), "id", "left"
            ).select(
                "id",
                (alpha * F.coalesce("msum", F.lit(0.0))
                 + teleport(n, mass[0])).alias("rank"),
                "dangling",
            )

        def action(new: DataFrame, old: DataFrame):
            # single action: L1 delta + next dangling sum together;
            # fixed-round mode never reads the L1 delta, so it skips
            # the |V|⋈|V| join
            if tol > 0:
                row = new.join(
                    old.select("id", F.col("rank").alias("old_rank")), "id"
                ).agg(
                    F.sum(F.abs(F.col("rank") - F.col("old_rank"))).alias("l1"),
                    dangling,
                ).collect()[0]
                l1 = row["l1"] or 0.0
            else:
                row, l1 = new.agg(dangling).collect()[0], 0.0
            mass[0] = (row["dsum"] or 0.0) * alpha
            return ({"l1_delta": float(l1), "dangling_sum": mass[0]},
                    tol > 0 and l1 < tol * n)

        state = superstep.run(
            spark, op, lambda: init(base_v, n), step, action, max_iter,
            cols=("id", "rank"), checkpoint=checkpoint, stats=stats,
        )
    return state.select("id", "rank")
