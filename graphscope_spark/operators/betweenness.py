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
closeness flood): ALL sampled sources flood simultaneously — state is
keyed (source, id), every superstep is ONE join of the frontier
against the src-partitioned edge table plus ONE (source, dst)
aggregation with map-side combine, regardless of how many sources are
in flight.  The backward sweep reuses the per-level frontiers cached
on the way down, so each level is one frontier-sized join, not an
O(V·S) scan.  Exact for the given sources; sampling sources is the
standard scale play (Brandes-Pich) — each source's contribution is
exact, so a DuckDB oracle over the same source set matches bit rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.graph import Graph
from graphscope_spark.plans import superstep


def edge_betweenness_centrality(
    graph: Graph,
    sources: DataFrame | None = None,
    normalized: bool = False,
    max_depth: int = 10_000,
) -> DataFrame:
    """``(src long, dst long, eb double)`` — Brandes EDGE betweenness
    (NetworkX ``edge_betweenness_centrality`` semantics; the edge
    analog of ``apps/centrality/betweenness``): the backward sweep's
    per-edge term ``sigma_v/sigma_w · (1 + delta_w)`` IS the edge's
    dependency, so this reuses the exact vertex machinery and emits
    the per-level edge contributions before they are summed onto
    vertices.  Undirected edges are reported once (src < dst), the
    two-orientation double-count halved; ``normalized`` rescales by
    1/(n(n-1)) (directed) i.e. the raw sum, matching NetworkX."""
    with superstep.aqe_scope(graph.vertices.sparkSession, "betweenness"):
        directed = graph.directed
        edges, n, levels = _forward_sigma_levels(graph, sources, max_depth)

        spark = graph.vertices.sparkSession
        maxd = len(levels) - 1
        edge_parts: list[DataFrame] = []
        delta = None
        if maxd >= 1:
            delta = levels[maxd].withColumn("delta", F.lit(0.0))
        for d in range(maxd, 0, -1):
            per_edge = (
                delta.withColumnRenamed("id", "dst")
                .join(edges, "dst")
                .select(
                    "source", F.col("src").alias("v"), F.col("dst").alias("w"),
                    (F.lit(1.0) + F.col("delta")).alias("t"),
                    F.col("sigma").alias("sigma_w"),
                )
                .join(
                    levels[d - 1].select(
                        "source", F.col("id").alias("v"),
                        F.col("sigma").alias("sigma_v"),
                    ),
                    ["source", "v"],
                )
                .select(
                    "source", "v", "w",
                    (F.col("sigma_v") / F.col("sigma_w") * F.col("t")).alias("c"),
                )
                .localCheckpoint(eager=True)
            )
            edge_parts.append(per_edge)
            contrib = per_edge.groupBy("source", F.col("v").alias("id")).agg(
                F.sum("c").alias("contrib")
            )
            delta = (
                levels[d - 1]
                .join(contrib, ["source", "id"], "left")
                .select(
                    "source", "id", "sigma",
                    F.coalesce("contrib", F.lit(0.0)).alias("delta"),
                )
                .localCheckpoint(eager=True)
            )

        # canonical edge set: every graph edge appears in the output, with
        # eb = 0.0 for edges no sampled shortest path crosses (NetworkX
        # reports those as 0.0, not absent)
        if directed:
            canon = edges.distinct()
        else:
            canon = edges.select(
                F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"),
            ).distinct()
        if not edge_parts:
            return canon.withColumn("eb", F.lit(0.0))
        acc = edge_parts[0]
        for p in edge_parts[1:]:
            acc = acc.unionByName(p)
        if directed:
            pairs = acc.select(F.col("v").alias("src"),
                               F.col("w").alias("dst"), "c")
            scale = 1.0
        else:
            pairs = acc.select(
                F.least("v", "w").alias("src"),
                F.greatest("v", "w").alias("dst"), "c",
            )
            scale = 0.5
        if normalized and n > 1:
            # NetworkX: 1/(n(n-1)) directed; 2/(n(n-1)) undirected applied
            # to the HALVED sum — both reduce to 1/(n(n-1)) of the raw sum
            scale = 1.0 / float(n * (n - 1))
        scored = pairs.groupBy("src", "dst").agg(
            (F.sum("c") * scale).alias("eb")
        )
        return canon.join(scored, ["src", "dst"], "left").select(
            "src", "dst", F.coalesce("eb", F.lit(0.0)).alias("eb")
        )


def _forward_sigma_levels(
    graph: Graph, sources: DataFrame | None, max_depth: int
):
    """Shared Brandes forward sweep (previously copy-pasted between
    the vertex and edge variants): per-source BFS levels with
    shortest-path counts.  Returns ``(edges, n, levels)`` where
    ``levels[d]`` holds ``(source, id, sigma)`` for depth-d vertices.
    """
    directed = graph.directed
    edges = (graph.edges if directed else graph.symmetrized_edges()).select(
        "src", "dst"
    )
    if graph.num_partitions:
        edges = edges.repartition(graph.num_partitions, "src")
    edges = edges.localCheckpoint(eager=True)
    n = graph.vertices.count()

    seeds = graph.vertices if sources is None else sources
    seeds = seeds.select(F.col(seeds.columns[0]).cast("long").alias("source"))

    lv0 = seeds.select(
        "source", F.col("source").alias("id"), F.lit(1.0).alias("sigma")
    ).localCheckpoint(eager=True)
    levels: list[DataFrame] = [lv0]
    visited = lv0.select("source", "id").localCheckpoint(eager=True)
    for _ in range(max_depth):
        front = levels[-1]
        cand = (
            edges.join(front.withColumnRenamed("id", "src"), "src")
            .groupBy("source", F.col("dst").alias("id"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(visited, ["source", "id"], "left_anti")
            .localCheckpoint(eager=True)
        )
        if cand.limit(1).count() == 0:
            break
        levels.append(cand)
        visited = visited.unionByName(
            cand.select("source", "id")
        ).localCheckpoint(eager=True)
    return edges, n, levels


def betweenness_centrality(
    graph: Graph,
    sources: DataFrame | None = None,
    normalized: bool = False,
    max_depth: int = 10_000,
) -> DataFrame:
    """``(id long, bc double)`` — Brandes betweenness accumulated over
    ``sources`` (all vertices when None; pass a sample for large
    graphs).  Directedness follows ``graph.directed``.  AQE pinned off
    for the two sweeps (fixed-shape levels; see ``plans.superstep``)."""
    with superstep.aqe_scope(graph.vertices.sparkSession, "betweenness"):
        directed = graph.directed
        # forward: BFS levels with shortest-path counts (shared sweep)
        edges, n, levels = _forward_sigma_levels(graph, sources, max_depth)

        # ---- backward: dependency accumulation level by level ----------
        spark = graph.vertices.sparkSession
        maxd = len(levels) - 1
        deltas: list[DataFrame | None] = [None] * (maxd + 1)
        if maxd >= 1:
            deltas[maxd] = levels[maxd].withColumn("delta", F.lit(0.0))
        for d in range(maxd, 0, -1):
            lw = deltas[d]
            contrib = (
                lw.withColumnRenamed("id", "dst")
                .join(edges, "dst")
                .select(
                    "source", F.col("src").alias("id"),
                    (F.lit(1.0) + F.col("delta")).alias("t"),
                    F.col("sigma").alias("sigma_w"),
                )
                .join(
                    levels[d - 1].withColumnRenamed("sigma", "sigma_v"),
                    ["source", "id"],
                )
                .groupBy("source", "id")
                .agg(
                    F.sum(F.col("sigma_v") / F.col("sigma_w") * F.col("t")).alias(
                        "contrib"
                    )
                )
            )
            deltas[d - 1] = (
                levels[d - 1]
                .join(contrib, ["source", "id"], "left")
                .select(
                    "source", "id", "sigma",
                    F.coalesce("contrib", F.lit(0.0)).alias("delta"),
                )
                .localCheckpoint(eager=True)
            )

        # bc(v) = Σ_sources delta(v) over levels ≥ 1 (v ≠ source)
        non_source = [deltas[d].select("id", "delta") for d in range(1, maxd + 1)]
        if non_source:
            acc = non_source[0]
            for p in non_source[1:]:
                acc = acc.unionByName(p)
            sums = acc.groupBy("id").agg(F.sum("delta").alias("b"))
        else:
            sums = spark.createDataFrame([], "id long, b double")
        # NetworkX rescale: normalized applies 1/((n-1)(n-2)) to the raw
        # (unhalved) sum — equivalently "2/((n-1)(n-2))" on the halved
        # undirected value; unnormalized undirected halves the double-count
        if normalized and n > 2:
            scale = 1.0 / float((n - 1) * (n - 2))
        else:
            scale = 1.0 if directed else 0.5
        return (
            graph.vertices.select("id")
            .join(sums, "id", "left")
            .select("id", (F.coalesce("b", F.lit(0.0)) * scale).alias("bc"))
        )

