"""Betweenness centrality — level-synchronous Brandes over DataFrames.

Reference semantics: ``analytical_engine/apps/centrality/betweenness/
betweenness_centrality.h`` (240 LoC, + ``betweenness_centrality_
generic.h`` 224) / NetworkX ``betweenness_centrality``: for each
source s, count shortest paths (sigma) with a BFS, then accumulate
dependencies backward level by level::

    delta(v) = Σ_{w : v→w, dist(w)=dist(v)+1} sigma(v)/sigma(w) · (1 + delta(w))
    bc(v)   += delta(v)   for v ≠ s

Undirected graphs double-count each path (s..t and t..s) so the sum is
halved; ``normalized=True`` rescales by 1/((n-1)(n-2)) (directed) or
2/((n-1)(n-2)) (undirected) as NetworkX does.  Endpoints are NOT
counted (NetworkX default).

Spark shape (SURVEY.md §4.1 frontier pattern, multi-source like the
``apsp_lengths`` flood): ALL sampled sources flood simultaneously —
the state is keyed (source, id), and every forward superstep is ONE
join of the depth-k frontier against the src-partitioned edge table
plus ONE (source, dst) aggregation with map-side combine, regardless
of how many sources are in flight.  One backward sweep then finalizes
delta one depth at a time from the level below; the vertex variant
sums it, the edge variant reads its per-edge term off the final
deltas in one post-pass join.  Both sweeps run on
``plans.superstep.run``.  Exact for the given sources; sampling
sources is the standard scale play (Brandes-Pich) — each source's
contribution is exact, so a DuckDB oracle over the same source set
matches bit rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph import Graph
from graphscope_spark.plans import superstep


def _brandes(graph: Graph, sources: DataFrame | None, max_depth: int,
             result) -> DataFrame:
    """Run the Brandes sweeps both variants share and return
    ``result(edges, sigma, dag)``, materialized: ``edges`` is the
    (src, dst) table the sweeps walked, ``sigma(source, id, depth,
    sigma)`` holds every vertex each source reached, with its BFS
    depth and shortest-path count, and ``dag(source, id, depth,
    sigma, delta)`` holds the rows of ``sigma`` past depth 0 with
    their dependency (the sources alone when nothing is).

    Both sweeps run on ``superstep.run``.  The forward one adds depth
    ``k + 1`` at superstep ``k``, summing ``sigma`` over the depth-k
    in-neighbors; the backward one finalizes depth ``maxd - 1 - k``
    from the deltas one level below, down to depth 1: no variant
    reads a source's own dependency.  Each sweep returns the one soft
    cut ``superstep.run`` ends on; both are freed with
    ``superstep.release`` once the result is cut."""
    spark = graph.vertices.sparkSession
    edges = (graph.edges if graph.directed else graph.symmetrized_edges()).select(
        "src", "dst"
    )
    if graph.num_partitions:
        edges = edges.repartition(graph.num_partitions, "src")
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    # each step unions one level onto the state: coalesced back, or
    # the partition count grows with the depth
    parts = graph.num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions"))

    seeds = graph.vertices if sources is None else sources
    src = F.col(seeds.columns[0]).cast("long")
    depth = F.col("depth")
    level: list[int] = [0]  # the depth the last forward step reached

    def forward(state: DataFrame, k: int) -> DataFrame:
        level[0] = k + 1
        cand = (
            edges.join(
                state.where(depth == k)
                .select("source", F.col("id").alias("src"), "sigma"),
                "src")
            .groupBy("source", F.col("dst").alias("id"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(state.select("source", "id"), ["source", "id"], "left_anti")
            .withColumn("depth", F.lit(k + 1).cast("long"))
        )
        return state.unionByName(cand).coalesce(parts)

    def reached(new: DataFrame, old: DataFrame):
        frontier = new.where(depth == level[0]).count()
        return {"frontier": float(frontier)}, frontier == 0

    stats: dict = {}
    sigma = superstep.run(
        spark, "betweenness",
        lambda: seeds.select(src.alias("source"), src.alias("id"),
                             F.lit(0).cast("long").alias("depth"),
                             F.lit(1.0).alias("sigma")),
        forward, reached, max_depth, stats=stats,
    )
    # the last superstep added depth `rounds`, unless it added nothing
    rounds = stats.get("rounds", 0)
    maxd = rounds - 1 if stats.get("frontier") == 0 else rounds

    def backward(state: DataFrame, k: int) -> DataFrame:
        d = maxd - 1 - k
        # delta(v) = Σ_{v→w, depth(w) = d+1} sigma_v/sigma_w · (1 + delta_w)
        contrib = (
            state.where(depth == d + 1)
            .select("source", F.col("id").alias("dst"),
                    (F.lit(1.0) + F.col("delta")).alias("t"),
                    F.col("sigma").alias("sigma_w"))
            .join(edges, "dst")
            .select("source", F.col("src").alias("id"), "t", "sigma_w")
            .join(sigma.where(depth == d)
                  .select("source", "id", F.col("sigma").alias("sigma_v")),
                  ["source", "id"])
            .groupBy("source", "id")
            .agg(F.sum(F.col("sigma_v") / F.col("sigma_w") * F.col("t"))
                 .alias("contrib"))
        )
        lvl = (
            sigma.where(depth == d)
            .join(contrib, ["source", "id"], "left")
            .select("source", "id", "depth", "sigma",
                    F.coalesce("contrib", F.lit(0.0)).alias("delta"))
        )
        return state.unionByName(lvl).coalesce(parts)

    dag = superstep.run(
        spark, "betweenness",
        lambda: sigma.where(depth == maxd).withColumn("delta", F.lit(0.0)),
        backward, superstep.fixed_rounds, max(maxd - 1, 0),
    )
    out = result(edges, sigma, dag).localCheckpoint(eager=True)
    superstep.release(sigma)
    superstep.release(dag)
    return out


def edge_betweenness_centrality(
    graph: Graph,
    sources: DataFrame | None = None,
    normalized: bool = False,
    max_depth: int = 10_000,
) -> DataFrame:
    """``(src long, dst long, eb double)`` — Brandes EDGE betweenness
    (NetworkX ``edge_betweenness_centrality`` semantics; the edge
    analog of ``apps/centrality/betweenness``): the per-edge term
    ``sigma_v/sigma_w · (1 + delta_w)`` of the backward sweep IS the
    edge's dependency, so one post-pass join over the shared sweep's
    final deltas gives it for every DAG edge v→w (depth(w) =
    depth(v) + 1).  Undirected edges are reported once (src < dst),
    the two-orientation double-count halved; ``normalized`` rescales
    by 1/(n(n-1)) (directed) i.e. the raw sum, matching NetworkX."""
    directed = graph.directed
    n = graph.vertices.count() if normalized else 0
    if n > 1:
        # NetworkX: 1/(n(n-1)) directed; 2/(n(n-1)) undirected applied
        # to the HALVED sum — both reduce to 1/(n(n-1)) of the raw sum
        scale = 1.0 / float(n * (n - 1))
    else:
        scale = 1.0 if directed else 0.5

    def result(edges: DataFrame, sigma: DataFrame, dag: DataFrame):
        per_edge = (
            sigma.select("source", F.col("id").alias("src"),
                         F.col("depth").alias("dv"),
                         F.col("sigma").alias("sigma_v"))
            .join(edges, "src")
            .join(dag.select("source", F.col("id").alias("dst"),
                             F.col("depth").alias("dw"),
                             F.col("sigma").alias("sigma_w"), "delta"),
                  ["source", "dst"])
            .where(F.col("dw") == F.col("dv") + 1)
            .select("src", "dst",
                    (F.col("sigma_v") / F.col("sigma_w")
                     * (F.lit(1.0) + F.col("delta"))).alias("c"))
        )
        # canonical edge set: every graph edge appears in the output,
        # with eb = 0.0 for edges no sampled shortest path crosses
        # (NetworkX reports those as 0.0, not absent)
        if directed:
            canon = edges.distinct()
            pairs = per_edge
        else:
            canon = edges.select(
                F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"),
            ).distinct()
            pairs = per_edge.select(
                F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"), "c",
            )
        scored = pairs.groupBy("src", "dst").agg(
            (F.sum("c") * scale).alias("eb"))
        return canon.join(scored, ["src", "dst"], "left").select(
            "src", "dst", F.coalesce("eb", F.lit(0.0)).alias("eb")
        )

    return _brandes(graph, sources, max_depth, result)


def betweenness_centrality(
    graph: Graph,
    sources: DataFrame | None = None,
    normalized: bool = False,
    max_depth: int = 10_000,
) -> DataFrame:
    """``(id long, bc double)`` — Brandes betweenness accumulated over
    ``sources`` (all vertices when None; pass a sample for large
    graphs).  Directedness follows ``graph.directed``; bc(v) is the
    sum of delta(v) over the sources v is not (depth ≥ 1)."""
    # NetworkX rescale: normalized applies 1/((n-1)(n-2)) to the raw
    # (unhalved) sum — equivalently "2/((n-1)(n-2))" on the halved
    # undirected value; unnormalized undirected halves the double-count
    n = graph.vertices.count() if normalized else 0
    if n > 2:
        scale = 1.0 / float((n - 1) * (n - 2))
    else:
        scale = 1.0 if graph.directed else 0.5

    def result(edges: DataFrame, sigma: DataFrame, dag: DataFrame):
        sums = (
            dag.where(F.col("depth") >= 1)
            .groupBy("id").agg(F.sum("delta").alias("b"))
        )
        return (
            graph.vertices.select("id")
            .join(sums, "id", "left")
            .select("id", (F.coalesce("b", F.lit(0.0)) * scale).alias("bc"))
        )

    return _brandes(graph, sources, max_depth, result)
