"""Clustering coefficients and k-core decomposition.

Reference semantics:

- LCC — ``grape::LCCOpt`` per LDBC (golden ``p2p-31-LCC``): local
  clustering coefficient ``lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1))``
  over the undirected simple graph, 0 when deg < 2.
- avg_clustering — ``apps/clustering/avg_clustering.h`` (260 LoC):
  graph-level mean of per-vertex coefficients.
- transitivity — ``apps/clustering/transitivity.h`` (311 LoC):
  ``3·triangles / open+closed wedges`` = ``Σ 2·tri(v) / Σ deg(v)·(deg(v)−1)``.
- k-core — ``apps/kcore/kcore.h`` (130 LoC): iterative peeling; output
  1 if v belongs to the k-core else 0 (``kcore_context.h:31-56``).
- k-shell — ``apps/kshell/kshell.h`` (139 LoC): vertices in the k-core
  but not the (k+1)-core.

Spark shape: LCC reuses the degree-oriented triangle two-join (the
orientation bounds join width to O(√m) per vertex — the same trick the
reference uses at ``triangles.h:70-95``); k-core peeling is a loop of
degree-filter semi-joins where each round only recomputes degrees
inside the surviving vertex set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph import Graph
from graphscope_spark.operators.triangles import triangles
from graphscope_spark.plans import superstep


def lcc(graph: Graph) -> DataFrame:
    """``(id long, lcc double)`` — undirected local clustering
    coefficient, 0 for degree < 2."""
    tri = triangles(graph)
    deg = graph.degrees()
    return (
        tri.join(deg, "id")
        .select(
            "id",
            F.when(
                F.col("degree") >= 2,
                2.0 * F.col("tricnt") / (F.col("degree") * (F.col("degree") - 1)),
            )
            .otherwise(0.0)
            .alias("lcc"),
        )
    )


def avg_clustering(graph: Graph) -> float:
    """Graph-level average clustering coefficient."""
    return lcc(graph).agg(F.avg("lcc")).collect()[0][0] or 0.0


def transitivity(graph: Graph) -> float:
    """``3·#triangles / #wedges`` over the undirected simple graph."""
    tri3 = (
        triangles(graph).agg(F.sum("tricnt")).collect()[0][0] or 0
    )  # = 3·#triangles
    wedges = (
        graph.degrees()
        .agg(F.sum(F.col("degree") * (F.col("degree") - 1)))
        .collect()[0][0]
        or 0
    )
    return (2.0 * tri3 / wedges) if wedges else 0.0


def directed_clustering(graph: Graph) -> DataFrame:
    """``(id long, cc double)`` — DIRECTED clustering coefficient
    (Fagiolo 2007), reference ``apps/clustering/clustering.h`` (286
    LoC, golden ``p2p-31-clustering``)::

        cc(v) = T(v) / (d_tot(v)·(d_tot(v)−1) − 2·d_rec(v))

    where ``d_tot = in+out`` over distinct arcs, ``d_rec`` counts
    reciprocal neighbors, and ``T(v) = Σ_{triangles {u,v,w}}
    w(uv)·w(vw)·w(uw)`` with ``w(a,b) ∈ {1,2}`` the number of arcs
    between the pair — i.e. ``(A+Aᵀ)³_vv / 2``.

    Spark shape: the weighted pair table ``w`` is symmetric, so the
    degree-oriented two-join from the undirected triangle counter
    applies unchanged — each support triangle found once, its weight
    product credited to all three corners.  Same O(m^1.5) wedge bound.
    """
    e = (
        graph.edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # symmetric multiplicity: w(a,b) = [a→b] + [b→a]
    und = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    w = und.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("int").alias("w")
    ).persist(StorageLevel.MEMORY_AND_DISK)

    # d_tot = in + out over distinct arcs: und carries one row per arc
    # per orientation, so counting rows by src counts both directions
    dtot = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("dtot")
    )
    # w holds BOTH ordered rows of a reciprocal pair, so grouping by
    # src counts each reciprocal neighbor exactly once
    rec = (
        w.where(F.col("w") == 2)
        .groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).cast("long").alias("rec"))
    )

    # orient the SUPPORT graph by (support-degree, id); carry weights
    sup = w  # one row per ordered pair; support degree = distinct nbrs
    sdeg = sup.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("sd")
    )
    o = (
        sup.join(sdeg.select(F.col("id").alias("src"),
                             F.col("sd").alias("ds")), "src")
        .join(sdeg.select(F.col("id").alias("dst"),
                          F.col("sd").alias("dd")), "dst")
        .where(
            (F.col("ds") < F.col("dd"))
            | ((F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst")))
        )
        .select("src", "dst", "w")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e1 = o.select(F.col("src").alias("a"), F.col("dst").alias("b"),
                  F.col("w").alias("w1"))
    e2 = o.select(F.col("src").alias("b"), F.col("dst").alias("c"),
                  F.col("w").alias("w2"))
    e3 = o.select(F.col("src").alias("a"), F.col("dst").alias("c"),
                  F.col("w").alias("w3"))
    tris = (
        e1.join(e2, "b").join(e3, ["a", "c"])
        .select("a", "b", "c",
                (F.col("w1") * F.col("w2") * F.col("w3")).alias("p"))
    )
    corners = (
        tris.select(F.col("a").alias("id"), "p")
        .unionAll(tris.select(F.col("b").alias("id"), "p"))
        .unionAll(tris.select(F.col("c").alias("id"), "p"))
    )
    t = corners.groupBy("id").agg(F.sum("p").cast("long").alias("t"))
    denom = (
        F.col("dtot") * (F.col("dtot") - 1) - 2 * F.coalesce("rec", F.lit(0))
    )
    return (
        graph.vertices.select("id")
        .join(dtot, "id", "left")
        .join(rec, "id", "left")
        .join(t, "id", "left")
        .select(
            "id",
            F.when(
                (F.coalesce("dtot", F.lit(0)) >= 2) & (denom > 0),
                F.coalesce("t", F.lit(0)) / denom,
            ).otherwise(0.0).alias("cc"),
        )
    )


def densest_subgraph_approx(
    graph: Graph, eps: float = 0.5, max_iter: int = 10_000
) -> tuple[float, int, DataFrame]:
    """Greedy 2(1+ε)-approximation of the densest subgraph (reference
    ``apps/flash/subgraph/densest-sub-2-approx.h``; Bahmani et al.'s
    parallel peeling): each round, measure the current density
    ρ = |E|/|V|, drop every vertex whose degree ≤ 2(1+ε)·ρ, and keep
    the densest vertex set seen (earliest round on ties).

    O(log_{1+ε} n) rounds — each one degree aggregation + two
    semi-joins over the shrinking subgraph.  Fully deterministic, so
    an unrolled SQL oracle reproduces the same best round and member
    set.  Returns ``(best_density, best_round, members_df)``."""
    edges = graph.symmetrized_edges().select("src", "dst").localCheckpoint(
        eager=True
    )
    verts = graph.vertices.select("id").localCheckpoint(eager=True)
    best_density, best_round = -1.0, -1
    best_set = verts
    cur_v, cur_e = verts, edges
    for rnd in range(max_iter):
        n = cur_v.count()
        if n == 0:
            break
        m = cur_e.count() / 2.0  # sym edges double-count
        density = m / n
        if density > best_density:
            best_density, best_round, best_set = density, rnd, cur_v
        deg = cur_e.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("d")
        )
        keep = (
            cur_v.join(deg, "id", "left")
            .where(F.coalesce("d", F.lit(0)) > 2.0 * (1.0 + eps) * density)
            .select("id")
            .localCheckpoint(eager=True)
        )
        if keep.count() == n:
            # no vertex qualifies for removal only when ALL degrees
            # exceed the bound — impossible (avg degree = 2ρ), so this
            # is the numeric edge case n small; drop min-degree ids
            break
        cur_v = keep
        cur_e = (
            cur_e.join(keep.withColumnRenamed("id", "src"), "src",
                       "left_semi")
            .join(keep.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
    return best_density, best_round, best_set


def kcore(graph: Graph, k: int, max_iter: int = 10_000) -> DataFrame:
    """``(id long, in_kcore int)`` — 1 if v survives k-core peeling
    (reference ``kcore.h`` / ``kcore_context.h:31-56``)."""
    spark = graph.vertices.sparkSession
    edges = graph.symmetrized_edges().select("src", "dst").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    alive_edges = edges
    with superstep.aqe_scope(spark, "kcore"), \
            superstep.LineageCuts(spark, "kcore") as cuts:
        for step in range(max_iter):
            deg = alive_edges.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("d")
            )
            # keep MUST be cut every round: nxt references alive_edges
            # once directly and twice through keep, so an uncut keep
            # makes the logical plan grow 3^rounds (explain-string OOM
            # by round ~6)
            keep = cuts.cut(deg.where(F.col("d") >= k).select("id"))
            nxt = (
                alive_edges.join(keep.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(keep.withColumnRenamed("id", "dst"), "dst", "left_semi")
            )
            nxt = cuts.maybe(nxt, step, persist=True)
            before, after = alive_edges.count(), nxt.count()
            if alive_edges is not edges:
                alive_edges.unpersist()
            alive_edges = nxt
            if after == before:
                break
        core = (
            alive_edges.select(F.col("src").alias("id")).distinct()
            .withColumn("in_kcore", F.lit(1))
        )
        return cuts.keep(
            graph.vertices.select("id")
            .join(core, "id", "left")
            .select("id", F.coalesce("in_kcore", F.lit(0)).alias("in_kcore"))
        )


def kshell(graph: Graph, k: int) -> DataFrame:
    """``(id long, in_kshell int)`` — in k-core but not (k+1)-core
    (reference ``kshell.h``).

    The (k+1)-core is a subset of the k-core, so its peel starts from
    the k-core's INDUCED subgraph instead of the full graph — the
    second peel touches only the (typically much smaller) core,
    roughly halving the work of two independent peels."""
    a = kcore(graph, k).withColumnRenamed("in_kcore", "a")
    core_members = a.where(F.col("a") == 1).select("id")
    sub = graph.induce_subgraph(core_members)
    b = kcore(sub, k + 1).withColumnRenamed("in_kcore", "b")
    return (
        a.join(b, "id", "left")
        .select(
            "id",
            ((F.col("a") == 1) & (F.coalesce("b", F.lit(0)) == 0))
            .cast("int").alias("in_kshell"),
        )
    )


def core_numbers_hindex(graph: Graph, max_iter: int = 200) -> DataFrame:
    """``(id long, core long)`` — full core decomposition by the
    h-operator fixpoint (Lü, Chen, Ren, Zhang, Zhou, Stanley, "The
    H-index of a network node and its relation to degree and
    coreness", Nature Communications 7:10168, 2016): start from
    ``h0(v) = deg(v)`` and iterate ``h(v) ← H({h(u) : u ∈ N(v)})``
    where H is the h-index of the neighbor multiset; the fixpoint is
    exactly the core number of every vertex.

    Unlike the k-peel (``core_numbers``, sequential in the degeneracy
    — one distributed fixpoint loop PER k), this is a single
    superstep loop: each round is one edge join plus a per-vertex
    window h-index, and every vertex converges simultaneously.  The
    right 100×-scale formulation (rounds observed ≲ graph diameter).
    """
    edges = graph.symmetrized_edges().select("src", "dst").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    from pyspark.sql import Window

    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("h")
    )
    state = (
        graph.vertices.select("id")
        .join(deg, "id", "left")
        .select("id", F.coalesce("h", F.lit(0).cast("long")).alias("h"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nb = edges.join(
            state.withColumnRenamed("id", "dst"), "dst"
        ).select(F.col("src").alias("id"), "h")
        w = Window.partitionBy("id").orderBy(F.desc("h"))
        # h-index: max over ranks r (values sorted desc) of min(r, v_r)
        hnew = (
            nb.withColumn("r", F.row_number().over(w).cast("long"))
            .groupBy("id")
            .agg(F.max(F.least("r", F.col("h"))).alias("h"))
        )
        nxt = (
            state.withColumnRenamed("h", "old")
            .join(hnew.withColumnRenamed("h", "new"), "id", "left")
            .select(
                "id",
                F.coalesce("new", F.lit(0).cast("long")).alias("h"),
                "old",
            )
            .localCheckpoint(eager=True)
        )
        changed = nxt.where(F.col("h") != F.col("old")).count()
        state = nxt.select("id", "h")
        if changed == 0:
            break
    return state.select("id", F.col("h").alias("core"))


def core_numbers(graph: Graph, max_k: int | None = None) -> DataFrame:
    """``(id long, core long)`` — full core decomposition by repeated
    peeling with increasing k (degeneracy-bounded).

    Kept as the simple reference implementation and for bounded-k
    helpers; prefer :func:`core_numbers_hindex` — this one runs a
    distributed fixpoint PER k value, sequential in the degeneracy."""
    edges = graph.symmetrized_edges().select("src", "dst").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    spark = graph.vertices.sparkSession
    result = graph.vertices.select("id", F.lit(0).cast("long").alias("core"))
    alive = edges
    k = 1
    while True:
        if max_k is not None and k > max_k:
            break
        # peel at level k to fixpoint
        while True:
            deg = alive.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("d")
            )
            keep = deg.where(F.col("d") >= k).select("id").localCheckpoint(
                eager=True
            )
            nxt = (
                alive.join(keep.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(keep.withColumnRenamed("id", "dst"), "dst", "left_semi")
                .localCheckpoint(eager=True)
            )
            if nxt.count() == alive.count():
                break
            alive = nxt
        survivors = alive.select(F.col("src").alias("id")).distinct()
        if survivors.limit(1).count() == 0:
            break
        result = (
            result.join(survivors.withColumn("k", F.lit(k).cast("long")), "id", "left")
            .select("id", F.coalesce("k", F.col("core")).alias("core"))
            .localCheckpoint(eager=True)
        )
        k += 1
    _ = spark  # session kept for symmetry with other apps
    return result


def onion_layers(graph: Graph, max_iter: int = 10_000) -> DataFrame:
    """``(id long, core long, layer long)`` — onion-layer ordering
    (reference ``apps/flash/core/onion-layer-ordering.h``): after the
    core decomposition, repeatedly peel every vertex whose remaining
    same-or-higher-core degree is ≤ its coreness; the round index a
    vertex is peeled in is its onion layer (Hébert-Dufresne et al.'s
    internal structure ordering, layer 0 = the first peel).

    The reference protocol, re-expressed: ``d(v)`` starts as the
    number of neighbors with ``core ≥ core(v)``; a round ranks every
    unranked ``v`` with ``d(v) ≤ core(v)``, then subtracts from each
    unranked vertex the number of just-ranked SAME-core neighbors
    (higher-core neighbors never counted lower-core ones, so no
    decrement crosses core levels).  Each round is one frontier join
    + one counting shuffle, identical machinery to the kcore peel.
    """
    edges = graph.symmetrized_edges().select("src", "dst").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    core = core_numbers_hindex(graph)
    # d0 = # neighbors with core >= own core
    nbc = edges.join(
        core.select(F.col("id").alias("dst"), F.col("core").alias("cd")),
        "dst",
    ).select(F.col("src").alias("id"), "cd")
    d0 = (
        core.join(
            nbc.groupBy("id", "cd").agg(F.count(F.lit(1)).alias("n")),
            "id",
            "left",
        )
        .groupBy("id", "core")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("cd") >= F.col("core"), F.col("n"))
                    .otherwise(F.lit(0))
                ),
                F.lit(0),
            ).alias("d")
        )
    )
    pending = (F.col("layer") == -1) & (F.col("d") <= F.col("core"))

    def step(state: DataFrame, i: int) -> DataFrame:
        newly = state.where(pending).select("id", F.col("core").alias("score"))
        ranked = state.withColumn(
            "layer",
            F.when(pending, F.lit(i).cast("long")).otherwise(F.col("layer")),
        )
        # decrement unranked SAME-core neighbors of the just-ranked set
        dec = (
            edges.join(newly.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), "score")
            .join(ranked.select("id", "core"), "id")
            .where(F.col("score") == F.col("core"))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("dc"))
        )
        return (
            ranked.join(dec, "id", "left")
            .select(
                "id", "core",
                F.when(F.col("layer") != -1, F.col("d"))
                .otherwise(F.col("d") - F.coalesce("dc", F.lit(0)))
                .alias("d"),
                "layer",
            )
        )

    def action(new: DataFrame, old: DataFrame):
        left = new.where(pending).count()
        return {"pending": float(left)}, left == 0

    state = superstep.run(
        graph.vertices.sparkSession, "onion",
        lambda: d0.select(
            "id", "core", F.col("d").cast("long").alias("d"),
            F.lit(-1).cast("long").alias("layer"),
        ),
        step, action, max_iter,
        # a round reads the previous state three times: the peel of a
        # 200-vertex graph took 13.6 s cut every round, 29.4 s every 5th
        every=1,
    )
    edges.unpersist()
    return state.select("id", "core", "layer")


def degeneracy_ordering(graph: Graph) -> DataFrame:
    """``(id, pos)`` — a degeneracy ordering (reference
    ``apps/flash/core/degeneracy-ordering.h``): the reference peels
    THE minimum-degree vertex one at a time, an inherently sequential
    order; the standard parallel relaxation peels whole onion layers
    and orders within a layer by vertex id.  Any layer-consistent
    order is a valid degeneracy ordering (every vertex has at most
    ``core(v) ≤ degeneracy`` neighbors later in the order), and the
    id tie-break makes this one deterministic.

    The global position is the two-phase prefix-sum pattern: a
    distributed ``row_number`` within each layer plus per-layer start
    offsets computed from the tiny layer-count table (|layers| rows,
    broadcast back) — never a single-partition global sort.
    """
    from pyspark.sql import Window

    lay = onion_layers(graph)
    within = Window.partitionBy("layer").orderBy("id")
    ranked = lay.withColumn("r", F.row_number().over(within) - 1)
    counts = lay.groupBy("layer").agg(F.count("*").alias("n"))
    off_w = Window.orderBy("layer").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = counts.withColumn(
        "off", F.coalesce(F.sum("n").over(off_w), F.lit(0))
    ).select("layer", "off")
    return ranked.join(F.broadcast(offs), "layer").select(
        "id", (F.col("off") + F.col("r")).cast("long").alias("pos")
    )
