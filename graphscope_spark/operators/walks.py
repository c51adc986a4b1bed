"""Deterministic random walks — the DataFrame analog of the
reference learning engine's neighbor-sampling walks (GraphScope GLE
``graphlearn/core/operator/sampler`` random walk; also the sampling
primitive under node2vec/DeepWalk embeddings).

A walk step is one co-partitioned join of the frontier against the
cached CSR adjacency — identical shuffle shape to a PageRank
superstep, so the same scale properties hold (hub salting, AQE off,
one live Exchange).  The "randomness" is the engine-portable h60 hash
of ``(walk_id, step, current vertex)``, which makes every walk
byte-reproducible across runs, partitionings, and engines — the same
determinism-over-RNG tradeoff as :func:`...functions.curation.
stratified_sample`, and what lets the walk family be oracle-checked
exactly in SQL.

Dead ends (vertices with no out-neighbor) terminate the walk early;
walks on an undirected graph never dead-end.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import h60
from ..graph import Graph
from ..plans import superstep


def sample_neighbors(
    g: Graph,
    k: int = 3,
    strategy: str = "hash",
    salt: str = "nbr",
) -> DataFrame:
    """Per-vertex k-neighbor sample — the GLE ``sample(k).by(...)``
    primitive: ``(src, nbr)`` with at most ``k`` rows per vertex.

    ``strategy='topk'`` keeps the k smallest neighbor ids (GLE's
    deterministic topk sampler); ``'hash'`` keeps the k neighbors
    with the smallest ``h60(salt:src:dst)`` — an unbiased-looking but
    fully reproducible choice.  Both run as one projection over the
    cached CSR row (sort a ≤degree-length array, slice k) — no
    shuffle beyond the adjacency build, no per-row Python.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    adj = g.adjacency(direction="out", sort_lists=True)
    if strategy == "topk":
        picked = F.slice("dst_list", 1, k)
    elif strategy == "hash":
        key = lambda d: h60(  # noqa: E731
            F.concat_ws(
                ":",
                F.lit(salt),
                F.col("src").cast("string"),
                d.cast("string"),
            )
        )
        picked = F.transform(
            F.slice(
                F.array_sort(
                    F.transform(
                        "dst_list",
                        lambda d: F.struct(
                            key(d).alias("h"), d.alias("dst")
                        ),
                    )
                ),
                1,
                k,
            ),
            lambda s: s["dst"],
        )
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    return adj.select("src", F.explode(picked).alias("nbr"))


def negative_sampling(
    g: Graph,
    k: int = 3,
    salt: str = "neg",
    dense_rank: bool = True,
) -> DataFrame:
    """Deterministic NEGATIVE edge sampling — the GLE negative
    sampler (``graphlearn/core/operator/sampler`` negative samplers,
    the other half of link-prediction training data alongside
    :func:`sample_neighbors`): for every vertex, up to ``k``
    non-neighbors ``(src, neg_dst)``.

    Candidate ``j`` for vertex ``v`` is the vertex at dense rank
    ``h60(salt:v:j) % n`` — a pure function of (v, j), so
    byte-reproducible and SQL-oracle-able.  Candidates that hit a real
    out-neighbor or ``v`` itself are anti-joined away (standard
    rejection; expected loss is avg_degree/n, negligible on sparse
    graphs).  Output ≤ k rows per vertex.

    ``dense_rank=True`` builds the rank dictionary with a global
    ``row_number`` — fine up to ~10⁸ vertices but a single-task sort
    beyond that; at web scale pass ``dense_rank=False`` when the
    vertex ids are ALREADY dense 0..n-1 (the mining pipeline's
    ``from_string_edges`` ids are) and the modulo addresses vertices
    directly with no dictionary at all.
    """
    from pyspark.sql import Window

    if k < 1:
        # sequence(0, k-1) with k=0 silently DESCENDS to [0, -1]
        # (Spark's default step is -1 when start > stop) and would
        # emit two negatives per vertex instead of zero
        raise ValueError(f"k must be >= 1, got {k}")
    n = g.vertices.count()
    cand_j = F.explode(
        F.sequence(F.lit(0), F.lit(k - 1))
    ).alias("j")
    cands = g.vertices.select(F.col("id").alias("src"), cand_j)
    pick = h60(
        F.concat_ws(
            ":", F.lit(salt), F.col("src").cast("string"),
            F.col("j").cast("string"),
        )
    ) % F.lit(n)
    cands = cands.select("src", pick.alias("rk"))
    if dense_rank:
        ranked = g.vertices.select(
            "id",
            (F.row_number().over(Window.orderBy("id")) - 1)
            .cast("long").alias("rk"),
        )
        cands = cands.join(ranked, "rk").select(
            "src", F.col("id").alias("neg_dst")
        )
    else:
        cands = cands.select("src", F.col("rk").alias("neg_dst"))
    real = g.edges.select("src", F.col("dst").alias("neg_dst"))
    return (
        cands.where(F.col("src") != F.col("neg_dst"))
        .join(real, ["src", "neg_dst"], "left_anti")
        .distinct()
    )


def node2vec_walks(
    g: Graph,
    length: int = 4,
    seed_mod: int = 10,
    p_inv: int = 2,
    q_inv: int = 3,
    salt: str = "n2v",
) -> DataFrame:
    """Second-order (node2vec-biased) deterministic walks — the
    biased-walk sampler under GLE's node2vec embeddings (GraphScope
    GLE ``graphlearn/python/nn`` node2vec; Grover & Leskovec 2016).

    The classic sampler draws the next vertex with unnormalized
    weight 1/p for returning to the previous vertex, 1 for a common
    neighbor of (prev, cur), and 1/q otherwise.  To keep the walk
    byte-reproducible AND exactly SQL-oracle-able, weights are the
    INTEGER reciprocals ``p_inv`` = 1/p and ``q_inv`` = 1/q and the
    weighted draw is integer replication: candidate ``d`` with weight
    ``w`` enters the argmin race once per replica ``r < w`` with key
    ``h60(salt:walk:step:v:d:r)`` — no transcendentals (an
    exponential-race draw would hinge on cross-engine ``ln``/``pow``
    ULP parity), no RNG.  Arbitrary rational p/q reduce to the same
    machinery by scaling all three weights to integers.

    Step 1 has no previous vertex, so every candidate weighs
    ``q_inv`` — identical replica counts, i.e. the uniform first step
    of the reference sampler.

    ``p_inv`` / ``q_inv`` must be integers ≥ 1: replication cannot
    express weight 0 ("never take this move"), and a 0 would silently
    become a DESCENDING ``F.sequence(0, -1)`` = two replicas on the
    Spark side while the SQL oracle's ``r < 0`` yields none.

    Scale shape: per step, one co-partitioned frontier×adjacency join
    explodes candidates (message volume = frontier out-degree sum ×
    ≤ max(p_inv, q_inv) replicas — a small-constant PageRank
    superstep), one (prev, d) hash join against the edge list for the
    common-neighbor test, one walk-keyed min-aggregation.  Nothing is
    collected; no per-row Python.
    """
    if not (isinstance(p_inv, int) and p_inv >= 1
            and isinstance(q_inv, int) and q_inv >= 1):
        raise ValueError(
            f"p_inv/q_inv must be integers >= 1, got {p_inv!r}/{q_inv!r}"
        )
    adj = g.adjacency(direction="out", sort_lists=True)
    nbr = adj.select(
        F.col("src").alias("p_src"),
        F.explode("dst_list").alias("p_dst"),
    )
    seeds = g.vertices.where(F.col("id") % seed_mod == 0).select(
        F.col("id").alias("walk_id"),
        F.lit(None).cast("long").alias("prev"),
        F.col("id").alias("v"),
    )
    out_levels = [
        seeds.select(
            "walk_id", F.lit(0).alias("step"), F.col("v")
        )
    ]
    cur = seeds
    spark = g.vertices.sparkSession
    # the output union re-embeds every level's plan: uncut, it grows
    # ~2^length and explainString OOMs the driver on length >= 6, so
    # levels are cut every second step
    with superstep.aqe_scope(spark, "walks"), \
            superstep.LineageCuts(spark, "node2vec", every=2) as cuts:
        for s in range(1, length + 1):
            cand = (
                cur.join(adj, cur["v"] == adj["src"])
                .select(
                    "walk_id", "prev", "v",
                    F.explode("dst_list").alias("d"),
                )
                .join(
                    nbr,
                    (F.col("prev") == F.col("p_src"))
                    & (F.col("d") == F.col("p_dst")),
                    "left",
                )
                .select(
                    "walk_id", "prev", "v", "d",
                    F.when(F.col("d") == F.col("prev"), F.lit(p_inv))
                    .when(F.col("p_src").isNotNull(), F.lit(1))
                    .otherwise(F.lit(q_inv))
                    .alias("wt"),
                )
            )
            rep = cand.select(
                "walk_id", "v", "d",
                F.explode(
                    F.sequence(F.lit(0), F.col("wt") - 1)
                ).alias("r"),
            )
            key = h60(
                F.concat_ws(
                    ":",
                    F.lit(salt),
                    F.col("walk_id").cast("string"),
                    F.lit(str(s)),
                    F.col("v").cast("string"),
                    F.col("d").cast("string"),
                    F.col("r").cast("string"),
                )
            )
            cur = (
                rep.groupBy("walk_id", "v")
                .agg(
                    F.min(
                        F.struct(key.alias("h"), F.col("d").alias("d"))
                    ).alias("m")
                )
                .select(
                    "walk_id",
                    F.col("v").alias("prev"),
                    F.col("m.d").alias("v"),
                )
            )
            # the frontier feeds BOTH the next step and the output
            # union.  The LAST step cuts unconditionally so every
            # per-step Exchange executes inside this AQE-off scope —
            # only the narrow union of cut levels runs outside it
            cur = cuts.cut(cur) if s == length else cuts.maybe(cur, s)
            out_levels.append(
                cur.select("walk_id", F.lit(s).alias("step"), "v")
            )
        out = out_levels[0]
        for lv in out_levels[1:]:
            out = out.unionByName(lv)
        return cuts.keep(out)


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """(center, context) training pairs from walk rows — the
    skip-gram pair generation between GLE's walk sampler and an
    embedding trainer (word2vec over walks, DeepWalk/node2vec): every
    ordered pair of positions in the same walk at step distance
    1..``window``, aggregated to ``(center, context, pair_count)``.

    One walk-keyed self-join — per-walk row count is walk length + 1,
    so the join fan-out is the bounded constant ``2·window`` per row,
    never quadratic in corpus size.
    """
    a, b = walks.alias("a"), walks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.walk_id") == F.col("b.walk_id"))
            & (F.col("a.step") != F.col("b.step"))
            & (
                F.abs(F.col("a.step") - F.col("b.step"))
                <= F.lit(window)
            ),
        )
        .groupBy(
            F.col("a.v").alias("center"),
            F.col("b.v").alias("context"),
        )
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )


def random_walks(
    g: Graph,
    length: int = 4,
    seed_mod: int = 10,
    salt: str = "walk",
) -> DataFrame:
    """Length-``length`` deterministic walks from every vertex with
    ``id % seed_mod == 0``; returns ``(walk_id, step, v)`` including
    step 0 (the seed itself).

    Step rule: from vertex ``v`` at step ``s`` in walk ``w``, move to
    ``nbrs(v)[h60(w:s:v) % degree(v)]`` over the sorted neighbor
    list — a pure function of (walk, step, position), so the result
    is independent of partitioning and execution order.
    """
    adj = g.adjacency(direction="out", sort_lists=True)
    seeds = g.vertices.where(F.col("id") % seed_mod == 0).select(
        F.col("id").alias("walk_id"),
        F.lit(0).alias("step"),
        F.col("id").alias("v"),
    )
    levels = [seeds]
    cur = seeds
    spark = g.vertices.sparkSession
    # a level reads the previous one once, so the output union's plan
    # grows quadratically, not geometrically: the default cadence
    with superstep.aqe_scope(spark, "walks"), \
            superstep.LineageCuts(spark, "walks") as cuts:
        for s in range(1, length + 1):
            pick = h60(
                F.concat_ws(
                    ":",
                    F.lit(salt),
                    F.col("walk_id").cast("string"),
                    F.lit(str(s)),
                    F.col("v").cast("string"),
                )
            )
            cur = (
                cur.join(adj, cur["v"] == adj["src"])
                .select(
                    "walk_id",
                    F.lit(s).alias("step"),
                    F.element_at(
                        "dst_list",
                        (pick % F.col("degree") + 1).cast("int"),
                    ).alias("v"),
                )
            )
            # the last step cuts unconditionally so all per-step
            # Exchanges execute inside the AQE-off scope
            cur = cuts.cut(cur) if s == length else cuts.maybe(cur, s)
            levels.append(cur)
        out = levels[0]
        for lv in levels[1:]:
            out = out.unionByName(lv)
        return cuts.keep(out)
