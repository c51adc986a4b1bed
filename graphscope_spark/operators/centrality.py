"""Centrality apps: degree, eigenvector, Katz, closeness, HITS.

Reference semantics:

- degree_centrality — ``apps/centrality/degree/degree_centrality.h``
  (78 LoC): ``deg(v) / (n-1)`` with ``deg`` = in, out, or in+out
  ("both") per the ``type`` param.
- eigenvector — ``apps/centrality/eigenvector/eigenvector_centrality.h``:
  power iteration ``x' = A^T x`` (pull from in-neighbors; undirected =
  neighbors), L2-normalize each round, stop when
  ``Σ|x'-x| < n·tol`` (NetworkX semantics).
- katz — ``apps/centrality/katz/katz_centrality.h``:
  ``x'(v) = α·Σ_{u→v} x(u) + β``, L2-normalized at convergence,
  ``Σ|x'-x| < n·tol``.
- closeness — ``apps/centrality/closeness/closeness_centrality.h``:
  ``(r-1)/Σd · (r-1)/(n-1)`` — the Wasserman-Faust improved formula
  NetworkX uses, with r = reachable count (incoming paths on digraphs).
- HITS — ``apps/hits/hits.h`` (205 LoC): alternating hub/authority
  power iteration, sum-normalized per round, tolerance on hub L1 delta
  (NetworkX semantics: normalize by max during iteration, by sum at
  the end when ``normalized=True``).

Spark shape: each is a (few-)per-round join+agg over the edge table;
static per-vertex divisors (degrees, n) are computed once.  All state
joins hash-partition on ``id`` so the per-round shuffles reuse the
same partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.graph import Graph
from graphscope_spark.plans import superstep


def degree_centrality(graph: Graph, degree_type: str = "both") -> DataFrame:
    """``(id long, dc double)`` — deg/(n-1); ``degree_type`` in
    {"in", "out", "both"} (reference ``degree_centrality.h:40-70``)."""
    n = graph.vertices.count()
    denom = float(n - 1) if n > 1 else 1.0
    if degree_type == "in":
        deg = graph.in_degrees().withColumnRenamed("in_degree", "deg")
    elif degree_type == "out":
        deg = graph.out_degrees().withColumnRenamed("out_degree", "deg")
    elif degree_type == "both":
        ind = graph.in_degrees()
        outd = graph.out_degrees()
        deg = (
            ind.join(outd, "id")
            .select("id", (F.col("in_degree") + F.col("out_degree")).alias("deg"))
        )
    else:
        raise ValueError(f"bad degree_type {degree_type!r}")
    return deg.select("id", (F.col("deg") / denom).alias("dc"))


def eigenvector_centrality(
    graph: Graph, max_iter: int = 100, tol: float = 1e-06
) -> DataFrame:
    """``(id long, ec double)`` — L2-normalized dominant eigenvector
    (power iteration; NetworkX/hundred-iteration semantics).  AQE
    stays ON: unlike the frontier loops, the dense |V|-state joins
    here measured ~1.4x FASTER with adaptive planning (A/B at
    sf0.01, see ``plans.superstep`` for the policy)."""
    edges = graph.edges if graph.directed else graph.symmetrized_edges()
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    n = graph.vertices.count()

    def step(state: DataFrame, k: int) -> DataFrame:
        msum = (
            edges.join(state.select(F.col("id").alias("src"), "x"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("x").alias("m"))
        )
        # x' = x + A^T x (the +x keeps periodic graphs converging, as
        # NetworkX does); then L2 normalize.  The norm is a broadcast
        # one-row subaggregate instead of a driver collect, so norm +
        # normalized state + L1 delta all evaluate in ONE driver
        # action per round (same single-action shape as pagerank's
        # combined L1+dangling agg, ``pagerank.py``).
        raw = state.join(msum, "id", "left").select(
            "id",
            F.col("x").alias("old"),
            (F.col("x") + F.coalesce("m", F.lit(0.0))).alias("nx"),
        )
        norm1 = raw.agg(
            F.sqrt(F.sum(F.col("nx") * F.col("nx"))).alias("norm")
        ).select(F.coalesce(F.nullif("norm", F.lit(0.0)), F.lit(1.0)).alias("norm"))
        return (
            raw.crossJoin(F.broadcast(norm1))
            .select("id", (F.col("nx") / F.col("norm")).alias("x"), "old")
        )

    # a round reads the previous state four times (raw twice, through
    # the norm), so an uncut round multiplies the plan ~4x: 12 rounds on
    # a 200-vertex graph took 47.6 s cut every 5th round, 9.5 s every 3rd
    state = superstep.run(
        graph.vertices.sparkSession, "eigenvector",
        lambda: graph.vertices.select("id", F.lit(1.0 / n).alias("x")),
        step, lambda new, old: _l1_stop(new, n * tol), max_iter, every=3,
    )
    return state.select("id", F.col("x").alias("ec"))


def _l1_stop(new: DataFrame, bound: float) -> tuple[dict, bool]:
    """Power-iteration action: ``Σ|x − old| < bound`` stops."""
    delta = new.agg(F.sum(F.abs(F.col("x") - F.col("old")))).collect()[0][0]
    return {"l1_delta": delta}, delta < bound


def katz_centrality(
    graph: Graph,
    alpha: float = 0.1,
    beta: float = 1.0,
    max_iter: int = 100,
    tol: float = 1e-06,
) -> DataFrame:
    """``(id long, kc double)`` — Katz with L2 normalization at the
    end (NetworkX semantics, reference katz app).  AQE stays ON
    (A/B-measured neutral-to-better for the dense-state loop)."""
    edges = graph.edges if graph.directed else graph.symmetrized_edges()
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    n = graph.vertices.count()

    def step(state: DataFrame, k: int) -> DataFrame:
        msum = (
            edges.join(state.select(F.col("id").alias("src"), "x"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("x").alias("m"))
        )
        return (
            state.select("id", F.col("x").alias("old"))
            .join(msum, "id", "left")
            .select(
                "id",
                (alpha * F.coalesce("m", F.lit(0.0)) + beta).alias("x"),
                "old",
            )
        )

    # a round reads the previous state twice: 12 rounds on a 200-vertex
    # graph took 4.3 s cut every 3rd round, 5.1 s every 5th
    state = superstep.run(
        graph.vertices.sparkSession, "katz",
        lambda: graph.vertices.select("id", F.lit(0.0).alias("x")),
        step, lambda new, old: _l1_stop(new, n * tol), max_iter, every=3,
    )
    norm = state.agg(F.sqrt(F.sum(F.col("x") * F.col("x")))).collect()[0][0] or 1.0
    return state.select("id", (F.col("x") / norm).alias("kc"))


def hits(
    graph: Graph, max_iter: int = 100, tol: float = 1e-08
) -> DataFrame:
    """``(id long, hub double, auth double)`` — HITS with per-round
    max-normalization and final sum-normalization (NetworkX semantics,
    reference ``apps/hits/hits.h``).  AQE stays ON (A/B-measured
    ~1.6x faster for the dense two-phase hub/auth loop)."""
    # static inputs truncated once: without this every round's plan
    # re-embeds the full edge-derivation lineage and the analyzed plan
    # string grows unboundedly (OOM on explain by round ~8)
    edges = graph.edges.select("src", "dst").localCheckpoint(eager=True)
    verts = graph.vertices.select("id").localCheckpoint(eager=True)
    n = verts.count()
    hub = verts.select("id", F.lit(1.0 / n).alias("hub")).localCheckpoint(
        eager=True
    )
    # a round reads the previous hub four times (twice through each max
    # normalizer), so an uncut round multiplies the plan ~4x: on the
    # default 5-round cadence tests/test_apps2.py::test_hits ran a 6 GB
    # driver out of heap; every third round (~64x) holds
    with superstep.LineageCuts(graph.vertices.sparkSession, "hits",
                               every=3) as cuts:
        auth = None
        pinned: list = []  # persisted frames backing hub/auth, for unpersist
        for it in range(max_iter):
            # auth(v) = Σ_{u→v} hub(u), max-normalized.  The per-round max
            # normalizers are broadcast one-row subaggregates instead of
            # driver collects: auth-max, hub-max, and the hub L1 delta all
            # evaluate in ONE driver action per round (the delta collect
            # at the end) — one round-trip, not three.
            a_raw = (
                verts
                .join(
                    edges.join(hub.withColumnRenamed("id", "src"), "src")
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.sum("hub").alias("auth")),
                    "id",
                    "left",
                )
                .select("id", F.coalesce("auth", F.lit(0.0)).alias("auth"))
            )
            amax = a_raw.agg(F.max("auth").alias("amax")).select(
                F.coalesce(F.nullif("amax", F.lit(0.0)), F.lit(1.0)).alias("amax")
            )
            a = a_raw.crossJoin(F.broadcast(amax)).select(
                "id", (F.col("auth") / F.col("amax")).alias("auth")
            )
            a = cuts.maybe(a, it, persist=True)
            # hub(u) = Σ_{u→v} auth(v), max-normalized
            h_raw = (
                verts
                .join(
                    edges.join(a.withColumnRenamed("id", "dst"), "dst")
                    .groupBy(F.col("src").alias("id"))
                    .agg(F.sum("auth").alias("hub")),
                    "id",
                    "left",
                )
                .select("id", F.coalesce("hub", F.lit(0.0)).alias("hub"))
            )
            hmax = h_raw.agg(F.max("hub").alias("hmax")).select(
                F.coalesce(F.nullif("hmax", F.lit(0.0)), F.lit(1.0)).alias("hmax")
            )
            h = h_raw.crossJoin(F.broadcast(hmax)).select(
                "id", (F.col("hub") / F.col("hmax")).alias("hub")
            )
            h = cuts.maybe(h, it, persist=True)
            delta = (
                h.join(hub.withColumnRenamed("hub", "old"), "id")
                .agg(F.sum(F.abs(F.col("hub") - F.col("old"))))
                .collect()[0][0]
            )
            for p in pinned:
                p.unpersist()
            pinned = [a, h]
            hub, auth = h, a
            if delta < tol:
                break
        hsum = hub.agg(F.sum("hub")).collect()[0][0] or 1.0
        asum = auth.agg(F.sum("auth")).collect()[0][0] or 1.0
        result = (
            hub.select("id", (F.col("hub") / hsum).alias("hub"))
            .join(auth.select("id", (F.col("auth") / asum).alias("auth")), "id")
        )
        return cuts.keep(result)


def _incoming_hops(graph: Graph, sources: DataFrame | None) -> DataFrame:
    """``(source, id, dist long)``: the hop distance from every
    reacher ``id`` TO ``source`` — one ``apsp_lengths`` flood along
    the reversed edges (directed) or the symmetrized ones (undirected).
    The flood from ``source`` visits exactly the vertices with a path
    to it, itself at 0."""
    from graphscope_spark.operators.traversal import apsp_lengths

    if graph.directed:
        rev = Graph.from_edges(
            graph.reversed_edges(), directed=True,
            vertices=graph.vertices, num_partitions=graph.num_partitions,
        )
        return apsp_lengths(rev, sources=sources)
    return apsp_lengths(graph, sources=sources, symmetrize=True)


def harmonic_centrality(
    graph: Graph, sources: DataFrame | None = None
) -> DataFrame:
    """``(id long, hc double)`` — harmonic centrality
    ``hc(v) = Σ_{u≠v} 1/d(u, v)`` (reference
    ``apps/flash/centrality/harmonic.h``; NetworkX semantics over
    incoming-path distances).  Rides the same multi-source BFS flood
    as closeness/APSP; pass ``sources`` for a sample (exact for those
    vertices)."""
    hc = (
        _incoming_hops(graph, sources).where(F.col("dist") > 0)
        .groupBy(F.col("source").alias("id"))
        .agg(F.sum(1.0 / F.col("dist")).alias("hc"))
    )
    # every requested vertex gets a row — isolated/unreaching
    # vertices score 0.0 (NetworkX; closeness_centrality in this
    # module follows the same every-vertex convention)
    seeds = (
        sources.select(F.col(sources.columns[0]).alias("id")).distinct()
        if sources is not None
        else graph.vertices.select("id")
    )
    return seeds.join(hc, "id", "left").select(
        "id", F.coalesce("hc", F.lit(0.0)).alias("hc")
    )


def closeness_centrality(
    graph: Graph, wf_improved: bool = True, sources: DataFrame | None = None
) -> DataFrame:
    """``(id long, cc double)`` — Wasserman-Faust closeness over
    incoming-path distances (NetworkX/reference semantics).

    The distances come from the multi-source BFS flood harmonic
    centrality rides (``apsp_lengths``), seeded with every vertex at
    dist 0.  This is O(n·m) worst-case — the reference pays the same;
    for large graphs pass ``sources`` to flood only a sample (each
    source's flood is independent, so the sample is exact for those
    vertices).  The flood runs with AQE off, inside
    ``multi_source_sssp`` (see ``plans.superstep``).
    """
    n = graph.vertices.count()
    # group by the flood origin: r = |reachers|+1 (incl. self),
    # total = Σ dist
    per_v = _incoming_hops(graph, sources).groupBy(
        F.col("source").alias("id")
    ).agg(F.count(F.lit(1)).alias("r"), F.sum("dist").alias("total"))
    if wf_improved:
        cc = F.when(
            F.col("total") > 0,
            ((F.col("r") - 1) / F.col("total"))
            * ((F.col("r") - 1) / F.lit(float(n - 1) if n > 1 else 1.0)),
        ).otherwise(0.0)
    else:
        cc = F.when(
            F.col("total") > 0, (F.col("r") - 1) / F.col("total")
        ).otherwise(0.0)
    return per_v.select("id", cc.alias("cc"))
