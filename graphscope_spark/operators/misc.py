"""Remaining second-tier apps: the assortativity family (degree /
attribute / numeric), average degree connectivity, node and edge
boundary, VoteRank.

Reference semantics:

- assortativity — ``apps/assortativity/degree_assortativity_coefficient.h``
  (NetworkX semantics): Pearson correlation of (deg(u), deg(v)) over
  directed edges u→v, with configurable source/target degree type
  (out-degree at the source, in-degree at the target by default for
  digraphs; undirected uses the full degree at both ends of both edge
  orientations).
- average degree connectivity — ``apps/assortativity/
  average_degree_connectivity.h``: for each degree value k, the mean
  degree of neighbors of vertices of degree k.
- node boundary — ``apps/boundary/node_boundary.h``: vertices NOT in
  S adjacent to some vertex in S.
- VoteRank — ``apps/voterank/voterank.h`` (230 LoC, NetworkX
  semantics): iteratively elect the highest-voted vertex; each round
  every vertex's score = Σ voting-ability of in-neighbors; the winner
  is removed from voting and its out-neighbors' voting ability drops
  by 1/⟨k⟩ (floor 0).  Inherently sequential in the number of elected
  seeds — each election is one distributed scoring pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph import Graph
from graphscope_spark.plans import superstep


def degree_assortativity(graph: Graph) -> float:
    """Pearson correlation of endpoint degrees over edges.

    Directed: corr(out-deg(src), in-deg(dst)) over directed edges;
    undirected: corr over both orientations of the symmetrized simple
    edge set (NetworkX ``degree_assortativity_coefficient``)."""
    if graph.directed:
        e = graph.edges.select("src", "dst")
        sdeg = graph.out_degrees().select(
            F.col("id").alias("src"), F.col("out_degree").alias("ds")
        )
        ddeg = graph.in_degrees().select(
            F.col("id").alias("dst"), F.col("in_degree").alias("dd")
        )
    else:
        e = graph.symmetrized_edges().select("src", "dst")
        deg = graph.degrees()
        sdeg = deg.select(F.col("id").alias("src"), F.col("degree").alias("ds"))
        ddeg = deg.select(F.col("id").alias("dst"), F.col("degree").alias("dd"))
    r = (
        e.join(sdeg, "src").join(ddeg, "dst")
        .agg(F.corr("ds", "dd").alias("r"))
        .collect()[0]["r"]
    )
    return float(r) if r is not None else 0.0


def average_degree_connectivity(graph: Graph) -> DataFrame:
    """``(degree long, avg_nbr_degree double)`` over the undirected
    simple graph (reference ``average_degree_connectivity.h``)."""
    deg = graph.degrees()
    e = graph.symmetrized_edges().select("src", "dst")
    pairs = (
        e.join(deg.select(F.col("id").alias("src"),
                          F.col("degree").alias("ds")), "src")
        .join(deg.select(F.col("id").alias("dst"),
                         F.col("degree").alias("dd")), "dst")
    )
    return pairs.groupBy(F.col("ds").alias("degree")).agg(
        F.avg("dd").alias("avg_nbr_degree")
    )


def node_boundary(graph: Graph, s: DataFrame) -> DataFrame:
    """Vertices adjacent to S but outside S: ``(id)``
    (reference ``apps/boundary/node_boundary.h``)."""
    sv = s.select(F.col(s.columns[0]).alias("id"))
    e = graph.symmetrized_edges().select("src", "dst")
    return (
        e.join(sv.withColumnRenamed("id", "src"), "src", "left_semi")
        .select(F.col("dst").alias("id"))
        .distinct()
        .join(sv, "id", "left_anti")
    )


def diameter_approx(graph: Graph) -> tuple[int, int, int]:
    """Double-sweep diameter lower bound (reference
    ``apps/flash/measurement/diameter-approx.h``): BFS from the min-id
    vertex, pick the farthest reached vertex (max depth, min-id
    tie-break), BFS again from it — the second eccentricity is a
    quality lower bound on the diameter (exact on trees).

    Returns ``(diameter_lb, sweep1_far_vertex, sweep1_ecc)``."""
    from graphscope_spark.operators.traversal import bfs

    src = int(graph.vertices.agg(F.min("id")).collect()[0][0])
    d1 = bfs(graph, src, symmetrize=True)
    far_row = (
        d1.orderBy(F.desc("depth"), F.asc("id")).limit(1).collect()[0]
    )
    far, ecc1 = int(far_row["id"]), int(far_row["depth"])
    d2 = bfs(graph, far, symmetrize=True)
    lb = int(d2.agg(F.max("depth")).collect()[0][0])
    return lb, far, ecc1


def maximal_independent_set(graph: Graph, max_iter: int = 10_000) -> DataFrame:
    """``(id long, in_mis int)`` — deterministic Luby MIS (reference
    ``apps/flash/matching/mis.h``): each round every still-active
    vertex with a (priority, id) pair lexicographically smaller than
    ALL its active neighbors' joins the set; it and its neighbors
    leave the active set.  Priorities are ``h60('m:' || id)`` — fixed,
    engine-portable pseudo-randomness, so the SQL oracle reproduces
    the exact same set.  O(log n) rounds w.h.p.; every round is one
    neighbor-min join + two semi/anti joins over the shrinking active
    subgraph."""
    from graphscope_spark.functions.text import h60

    edges = graph.symmetrized_edges().select("src", "dst")
    spark = graph.vertices.sparkSession
    active_v = graph.vertices.select(
        "id", h60(F.concat(F.lit("m:"), F.col("id").cast("string"))).alias("pri")
    ).localCheckpoint(eager=True)
    active_e = edges.localCheckpoint(eager=True)
    mis_parts: list[DataFrame] = []
    for _ in range(max_iter):
        if active_v.limit(1).count() == 0:
            break
        # min (pri, id) among active neighbors
        nbr_min = (
            active_e.join(
                active_v.select(F.col("id").alias("dst"), "pri"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min(F.struct("pri", F.col("dst").alias("nid"))).alias("m"))
        )
        winners = (
            active_v.join(nbr_min, "id", "left")
            .where(
                F.col("m").isNull()
                | (F.struct("pri", F.col("id").alias("nid")) < F.col("m"))
            )
            .select("id")
            .localCheckpoint(eager=True)
        )
        mis_parts.append(winners)
        # drop winners and their neighbors from the active set
        nbrs = (
            active_e.join(winners.withColumnRenamed("id", "src"), "src",
                          "left_semi")
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        removed = winners.unionByName(nbrs).distinct().localCheckpoint(
            eager=True
        )
        active_v = active_v.join(removed, "id", "left_anti").localCheckpoint(
            eager=True
        )
        active_e = (
            active_e.join(active_v.withColumnRenamed("id", "src"),
                          "src", "left_semi")
            .join(active_v.withColumnRenamed("id", "dst"), "dst",
                  "left_semi")
            .localCheckpoint(eager=True)
        )
    if mis_parts:
        mis = mis_parts[0]
        for p in mis_parts[1:]:
            mis = mis.unionByName(p)
    else:
        mis = spark.createDataFrame([], "id long")
    return (
        graph.vertices.select("id")
        .join(mis.withColumn("in_mis", F.lit(1)), "id", "left")
        .select("id", F.coalesce("in_mis", F.lit(0)).alias("in_mis"))
    )


def maximal_matching(graph: Graph, max_iter: int = 10_000) -> DataFrame:
    """``(src long, dst long)`` matched pairs (src < dst) — the
    deterministic local-min greedy matching (reference
    ``apps/flash/matching/mm.h`` family): each round an active edge
    joins the matching iff its ``(h60, src, dst)`` priority is the
    minimum among ALL active edges at BOTH endpoints; matched vertices
    and their incident edges retire.  The global-min active edge
    always wins, so progress is guaranteed; O(log m) rounds in
    practice.  Priorities are h60-derived — engine-portable, so a SQL
    oracle reproduces the exact matching."""
    from graphscope_spark.functions.text import h60

    spark = graph.vertices.sparkSession
    e = (
        graph.symmetrized_edges()
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    active = e.withColumn(
        "pri",
        h60(F.concat(F.lit("e:"), F.col("src").cast("string"),
                     F.lit(":"), F.col("dst").cast("string"))),
    ).localCheckpoint(eager=True)
    parts: list[DataFrame] = []
    for _ in range(max_iter):
        if active.limit(1).count() == 0:
            break
        ep = F.struct("pri", "src", "dst")
        both = active.select("src", "dst", "pri", ep.alias("ep"))
        vmin = (
            both.select(F.col("src").alias("v"), "ep")
            .unionByName(both.select(F.col("dst").alias("v"), "ep"))
            .groupBy("v")
            .agg(F.min("ep").alias("m"))
        )
        winners = (
            both.join(vmin.withColumnRenamed("v", "src")
                      .withColumnRenamed("m", "ms"), "src")
            .join(vmin.withColumnRenamed("v", "dst")
                  .withColumnRenamed("m", "md"), "dst")
            .where((F.col("ep") == F.col("ms")) & (F.col("ep") == F.col("md")))
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
        parts.append(winners)
        mv = (
            winners.select(F.col("src").alias("v"))
            .unionByName(winners.select(F.col("dst").alias("v")))
            .distinct()
        )
        active = (
            active.join(mv.withColumnRenamed("v", "src"), "src", "left_anti")
            .join(mv.withColumnRenamed("v", "dst"), "dst", "left_anti")
            .localCheckpoint(eager=True)
        )
    if not parts:
        return spark.createDataFrame([], "src long, dst long")
    acc = parts[0]
    for p in parts[1:]:
        acc = acc.unionByName(p)
    return acc.select("src", "dst")


#: sentinel "unreached" distance matching the reference's INT_MAX init
KCENTER_INF = 2_147_483_647


def k_center(graph: Graph, k: int = 3) -> DataFrame:
    """``(id long, dis long)`` — greedy farthest-first k-center over
    hop distance (reference ``apps/flash/measurement/k-center.h``):
    the first center is the max-(degree, id) vertex; each round a BFS
    from the newest center lowers every vertex's distance-to-nearest-
    center, and the farthest vertex (max (dis, id) — the reference's
    fragment-order tie-break made deterministic) becomes the next
    center.  Result is each vertex's hop distance to its nearest
    center, the 2-approximation certificate for the k-center radius;
    an empty graph gives an empty frame.  k sequential
    :func:`~graphscope_spark.operators.traversal.bfs` floods, each
    folded into the running min."""
    from graphscope_spark.operators.traversal import bfs

    if k < 1:
        raise ValueError(f"k_center needs k >= 1, got {k}")
    deg = graph.symmetrized_edges().groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("d")
    )
    first = (
        graph.vertices.select("id")
        .join(deg, "id", "left")
        .orderBy(F.desc(F.coalesce("d", F.lit(0))), F.desc("id"))
        .limit(1).collect()
    )
    dis = graph.vertices.select(
        "id", F.lit(KCENTER_INF).cast("long").alias("dis")
    )
    if not first:
        return dis
    center = int(first[0]["id"])
    for i in range(k):
        hop = bfs(graph, center, symmetrize=True)
        nxt = (
            dis.join(hop, "id", "left")
            .select("id", F.least("dis", F.coalesce("depth", "dis")).alias("dis"))
            .localCheckpoint(eager=True)
        )
        # the cut fold reads neither the flood nor the previous fold
        superstep.release(hop)
        if i > 0:  # the first fold read the vertices, not a cut
            superstep.release(dis)
        dis = nxt
        if i + 1 < k:
            far = dis.orderBy(F.desc("dis"), F.desc("id")).limit(1).collect()
            center = int(far[0]["id"])
    return dis


def min_vertex_cover_greedy(graph: Graph, max_iter: int = 10_000) -> DataFrame:
    """``(id long, in_cover int)`` — FLASH's parallel greedy vertex
    cover (reference ``apps/flash/matching/min-cover-greedy.h``): every
    round each active vertex whose (residual-degree, id) beats ALL its
    not-yet-covered neighbors joins the cover (tie-break: LARGER id
    wins, per the reference's ``nb_id > id`` test); covered vertices
    stop counting toward neighbors' residual degrees; a vertex leaves
    the active set once covered or once its residual degree hits 0.

    Faithful to the reference including its quirk that an isolated or
    fully-covered-neighborhood vertex in round 0 trivially beats an
    empty neighborhood and is selected.  Deterministic, so the SQL
    oracle reproduces the exact set.  O(log n) expected rounds; each
    round is one neighbor-max join + one decrement aggregation over
    the shrinking active subgraph."""
    edges = graph.symmetrized_edges().select("src", "dst").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )

    def step(state: DataFrame, k: int) -> DataFrame:
        # max (d, id) among NOT-covered neighbors (reference filter1
        # scans all neighbors with !nb.c, active or not)
        unc = state.where(F.col("c") == 0).select(
            F.col("id").alias("dst"), F.struct("d", "id").alias("s")
        )
        nbmax = (
            edges.join(unc, "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.max("s").alias("m"))
        )
        sel = (
            state.where(F.col("a") == 1)
            .join(nbmax, "id", "left")
            .where(
                F.col("m").isNull()
                | (F.col("m") < F.struct("d", F.col("id")))
            )
            .select("id")
        )
        # selected vertices cover themselves; their still-uncovered
        # neighbors (reference check = !d.c AFTER selection) lose one
        # residual degree per selected neighbor
        dec = (
            edges.join(sel.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.count(F.lit(1)).cast("long").alias("tmp"))
        )
        selc = sel.withColumn("hit", F.lit(1))
        return (
            state.join(selc, "id", "left")
            .join(dec, "id", "left")
            .select(
                "id",
                F.when(
                    (F.col("hit").isNull()) & (F.col("c") == 0),
                    F.col("d") - F.coalesce("tmp", F.lit(0).cast("long")),
                ).otherwise(F.col("d")).alias("d"),
                F.greatest("c", F.coalesce("hit", F.lit(0))).alias("c"),
                "a",
            )
            .select(
                "id", "d", "c",
                ((F.col("a") == 1) & (F.col("c") == 0) & (F.col("d") > 0))
                .cast("int").alias("a"),
            )
        )

    def action(new: DataFrame, old: DataFrame):
        active = new.where(F.col("a") == 1).count()
        return {"active": float(active)}, active == 0

    # a round reads the previous state five times (twice through each
    # use of `sel`) and dense tied neighborhoods serialize the greedy
    # into many rounds: on a 200-vertex graph the fixpoint took 15.1 s
    # cut every round, 30.6 s every 3rd
    state = superstep.run(
        graph.vertices.sparkSession, "min_cover",
        lambda: graph.vertices.select("id")
        .join(deg, "id", "left")
        .select(
            "id",
            F.coalesce("d", F.lit(0).cast("long")).alias("d"),
            F.lit(0).alias("c"),
            F.lit(1).alias("a"),
        ),
        step, action, max_iter, every=1,
    )
    edges.unpersist()
    return state.select("id", F.col("c").alias("in_cover"))


def min_dominating_set_greedy(graph: Graph, max_iter: int = 10_000) -> DataFrame:
    """``(id long, in_dom_set int)`` — FLASH's parallel greedy
    dominating set (reference ``apps/flash/matching/
    min-dominating-set.h``): each round runs TWO max-propagation steps
    of (residual-count, id) over non-dominated neighborhoods; vertices
    that remain their own 2-hop maximum join the set and dominate
    themselves and their neighbors; the rest recompute
    residual-count = #non-dominated neighbors and repeat until every
    vertex is dominated.  Tie-break: larger (count, id) wins, per the
    reference's GT test.  Deterministic → exact SQL oracle."""
    edges = graph.symmetrized_edges().select("src", "dst").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("mc")
    )
    # like min_cover, dense tied neighborhoods can push this loop far
    # past the localCheckpoint-chain cliff: every state is cut
    with superstep.LineageCuts(graph.vertices.sparkSession, "mindom") as cuts:
        state = (
            graph.vertices.select("id")
            .join(deg, "id", "left")
            .select(
                "id",
                F.coalesce("mc", F.lit(0).cast("long")).alias("mc"),
                F.col("id").alias("mi"),
                F.lit(0).alias("dom"),
                F.lit(0).alias("b"),
            )
        )
        state = cuts.cut(state)

        def _max_prop(st):
            # (truncated by the caller via cuts.cut)
            # one step: active vertices take the max (mc, mi) over self
            # and non-dominated neighbors
            nb = edges.join(
                st.where(F.col("dom") == 0)
                .select(F.col("id").alias("dst"),
                        F.struct("mc", "mi").alias("s")),
                "dst",
            ).groupBy(F.col("src").alias("id")).agg(F.max("s").alias("m"))
            return (
                st.join(nb, "id", "left")
                .select(
                    "id",
                    F.when(
                        (F.col("dom") == 0)
                        & F.col("m").isNotNull()
                        & (F.col("m") > F.struct("mc", "mi")),
                        F.col("m"),
                    ).otherwise(F.struct("mc", "mi")).alias("s"),
                    "dom", "b",
                )
                .select("id", F.col("s.mc").alias("mc"),
                        F.col("s.mi").alias("mi"), "dom", "b")
            )

        for _ in range(max_iter):
            if state.where(F.col("dom") == 0).limit(1).count() == 0:
                break
            state = cuts.cut(_max_prop(cuts.cut(_max_prop(state))))
            sel = (
                state.where((F.col("dom") == 0) & (F.col("mi") == F.col("id")))
                .select("id")
                .localCheckpoint(eager=True)
            )
            newly = (
                edges.join(sel.withColumnRenamed("id", "src"), "src")
                .select(F.col("dst").alias("id"))
                .distinct()
                .unionByName(sel)
                .distinct()
                .withColumn("hit", F.lit(1))
            )
            inset = sel.withColumn("inb", F.lit(1))
            state = (
                state.join(newly, "id", "left")
                .join(inset, "id", "left")
                .select(
                    "id", "mc", "mi",
                    F.greatest("dom", F.coalesce("hit", F.lit(0))).alias("dom"),
                    F.greatest("b", F.coalesce("inb", F.lit(0))).alias("b"),
                )
            )
            state = cuts.cut(state)
            # survivors reset: mi = id, mc = #non-dominated neighbors
            rc = (
                edges.join(
                    state.where(F.col("dom") == 0)
                    .select(F.col("id").alias("dst")),
                    "dst",
                )
                .groupBy(F.col("src").alias("id"))
                .agg(F.count(F.lit(1)).cast("long").alias("rc"))
            )
            state = (
                state.join(rc, "id", "left")
                .select(
                    "id",
                    F.when(F.col("dom") == 0,
                           F.coalesce("rc", F.lit(0).cast("long")))
                    .otherwise(F.col("mc")).alias("mc"),
                    F.when(F.col("dom") == 0, F.col("id"))
                    .otherwise(F.col("mi")).alias("mi"),
                    "dom", "b",
                )
            )
            state = cuts.cut(state)
        out = cuts.keep(state.select("id", F.col("b").alias("in_dom_set")))
    edges.unpersist()
    return out


def voterank(graph: Graph, num_seeds: int = 10) -> DataFrame:
    """Top influencers by iterative voting: ``(id long, rank int)``
    with rank 0 = first elected (reference ``voterank.h``; NetworkX
    ``voterank`` semantics, min-id tie-break for determinism)."""
    edges = graph.edges.select("src", "dst").distinct()
    if not graph.directed:
        edges = graph.symmetrized_edges().select("src", "dst")
    edges = edges.localCheckpoint(eager=True)
    n = graph.vertices.count()
    m = edges.count()
    # NetworkX dampening: 1/⟨k⟩ where ⟨k⟩ = Σ_v deg(v)/n counts BOTH
    # endpoints of every edge — 2m/n for directed edge lists; the
    # symmetrized undirected list already double-counts, so m/n there.
    # Computed as a single division (n/denom) so the DuckDB oracle can
    # reproduce the exact IEEE value.
    denom = (2.0 * m) if graph.directed else float(m)
    dampen = (n / denom) if denom else 1.0

    ability = graph.vertices.select(
        "id", F.lit(1.0).alias("va")
    ).localCheckpoint(eager=True)
    elected_rows: list[tuple[int, int]] = []
    elected_ids: set[int] = set()
    spark = graph.vertices.sparkSession
    for rank in range(num_seeds):
        # NetworkX direction: for edge (n, nbr), n's score gains
        # nbr's ability — score(n) = Σ va over OUT-neighbors (the
        # earlier in-neighbor sum was inverted on directed graphs;
        # identical by symmetry on undirected ones)
        scores = (
            edges.join(ability.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("va").alias("score"))
        )
        if elected_ids:
            banned = spark.createDataFrame(
                [(int(i),) for i in elected_ids], "id long"
            )
            scores = scores.join(banned, "id", "left_anti")
        # argmax on the 6dp-quantized score (then min id): makes the
        # election reproducible across engines — fp summation-order
        # differences below 1e-6 can no longer flip the winner.  The
        # quantizer is floor(score*1e6 + 0.5) on positive scores: one
        # IEEE expression both Spark and DuckDB evaluate identically,
        # with no engine-specific round() tie-break mode in play.
        top = (
            scores.orderBy(
                F.desc(F.floor(F.col("score") * 1e6 + F.lit(0.5))),
                F.asc("id"),
            )
            .limit(1).collect()
        )
        if not top or top[0]["score"] <= 0:
            break
        winner = int(top[0]["id"])
        elected_rows.append((winner, rank))
        elected_ids.add(winner)
        # winner stops voting; its out-neighbors' ability -= 1/<k>
        nbrs = edges.where(F.col("src") == winner).select(
            F.col("dst").alias("id")
        )
        ability = (
            ability.join(
                nbrs.withColumn("hit", F.lit(True)), "id", "left"
            )
            .select(
                "id",
                F.when(F.col("id") == winner, 0.0)
                .when(F.col("hit"),
                      F.greatest(F.col("va") - dampen, F.lit(0.0)))
                .otherwise(F.col("va"))
                .alias("va"),
            )
            .localCheckpoint(eager=True)
        )
    return spark.createDataFrame(
        elected_rows or [(None, None)], "id long, rank int"
    ).where(F.col("id").isNotNull())


def attribute_assortativity(graph: Graph, prop: str) -> float:
    """Newman attribute (categorical) assortativity coefficient over a
    vertex property (reference
    ``apps/assortativity/attribute_assortativity.h:34-224`` with
    ``numeric=false``; nx wrapper
    ``python/graphscope/nx/algorithms/builtin.py:773``).

    Mixing matrix ``e[x][y]`` = fraction of edges whose source carries
    attribute x and target y (directed edges as stored; both
    orientations for undirected graphs), then
    ``r = (Σᵢ e_ii − Σᵢ a_i b_i) / (1 − Σᵢ a_i b_i)`` with ``a``/``b``
    the row/column marginals — the reference's ``computeAssortativity``.

    Scale shape: one groupBy over the attribute-joined edge table (the
    mixing map is |categories|² rows — tiny however large the graph),
    marginals are two more aggs over THAT map, then the coefficient is
    exact integer scalar math with ONE final double division
    (``(tr·m − s)/(m² − s)``) so Spark and a SQL oracle agree
    bit-for-bit.  Returns ``nan`` when the graph has a single
    attribute value (0/0, as NetworkX raises for).

    Known divergence: in the undirected case self-loop edges are
    excluded (``symmetrized_edges`` canonicalizes ``src != dst``)
    while NetworkX counts them in the mixing matrix; directed graphs
    keep self-loops, matching NetworkX.  Same caveat applies to
    :func:`numeric_assortativity`."""
    e = (graph.edges if graph.directed
         else graph.symmetrized_edges()).select("src", "dst")
    att = graph.vertices.select("id", F.col(prop).alias("att"))
    mix = (
        e.join(att.select(F.col("id").alias("src"),
                          F.col("att").alias("xs")), "src")
        .join(att.select(F.col("id").alias("dst"),
                         F.col("att").alias("xd")), "dst")
        .groupBy("xs", "xd")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    row = mix.agg(
        F.sum("cnt").alias("m"),
        F.sum(F.when(F.col("xs") == F.col("xd"), F.col("cnt"))
              .otherwise(F.lit(0))).alias("tr"),
    ).collect()[0]
    m, tr = int(row["m"] or 0), int(row["tr"] or 0)
    if m == 0:
        mix.unpersist()
        return float("nan")
    a = mix.groupBy("xs").agg(F.sum("cnt").alias("a"))
    b = mix.groupBy("xd").agg(F.sum("cnt").alias("b"))
    s_row = (
        a.join(b, a["xs"] == b["xd"])
        .agg(F.sum(F.col("a") * F.col("b")))
        .collect()[0][0]
    )
    s = int(s_row or 0)
    mix.unpersist()
    denom = m * m - s
    if denom == 0:
        return float("nan")
    return (tr * m - s) / denom


def numeric_assortativity(graph: Graph, prop: str) -> float:
    """Numeric assortativity coefficient over a numeric vertex
    property (reference ``attribute_assortativity.h`` with
    ``numeric=true`` → ``utils.h`` ``ProcessMatrix``; nx wrapper
    ``builtin.py:815``).

    The reference's matrix form
    ``Σᵢⱼ xᵢxⱼ(e_ij − a_i b_j) / (σ_a σ_b)`` over the value-mixing
    matrix is algebraically the Pearson correlation of
    ``(x_src, x_dst)`` over edges (covariance over marginal std-devs;
    the n-denominators cancel), so it compiles to one attribute-joined
    edge scan and a single ``corr`` aggregate — whole-stage codegen,
    no driver-side matrix at any scale."""
    e = (graph.edges if graph.directed
         else graph.symmetrized_edges()).select("src", "dst")
    att = graph.vertices.select(
        "id", F.col(prop).cast("double").alias("att")
    )
    r = (
        e.join(att.select(F.col("id").alias("src"),
                          F.col("att").alias("xs")), "src")
        .join(att.select(F.col("id").alias("dst"),
                         F.col("att").alias("xd")), "dst")
        .agg(F.corr("xs", "xd").alias("r"))
        .collect()[0]["r"]
    )
    return float(r) if r is not None else float("nan")


def edge_boundary(
    graph: Graph, s: DataFrame, t: DataFrame | None = None
) -> DataFrame:
    """Edges from S to T (default: the complement of S):
    ``(src, dst)`` — reference ``apps/boundary/edge_boundary.h``, nx
    wrapper ``builtin.py:691``.  Directed graphs: out-edges of S
    landing in T; undirected: each boundary edge once, oriented with
    its S endpoint first (NetworkX ``edge_boundary``).  Two semi-joins
    (one anti-join for the complement case) — no shuffle beyond the
    broadcast-able S/T sides."""
    sv = s.select(F.col(s.columns[0]).alias("id"))
    e = (graph.edges if graph.directed
         else graph.symmetrized_edges()).select("src", "dst")
    r = e.join(sv.withColumnRenamed("id", "src"), "src", "left_semi")
    if t is None:
        r = r.join(sv.withColumnRenamed("id", "dst"), "dst", "left_anti")
    else:
        tv = t.select(F.col(t.columns[0]).alias("dst"))
        r = r.join(tv, "dst", "left_semi")
    return r.select("src", "dst").distinct()


def min_edge_cover(graph: Graph, max_iter: int = 10_000) -> DataFrame:
    """``(id long, d long, partner long)`` per-vertex edge-cover state
    — FLASH's greedy minimum edge cover (reference
    ``apps/flash/matching/min-edge-cover.h``): run the deterministic
    local-min maximal matching (``maximal_matching`` — h60 edge
    priorities, an edge matches iff it is the priority minimum at BOTH
    endpoints; O(log m) rounds), then the cover is the matched pairs
    plus one pendant edge per remaining non-isolated unmatched vertex
    — the reference counts ``matched/2 + |unmatched, deg>0|``.

    ``partner`` = matched partner id, −1 if unmatched.  An earlier
    formulation (mutual min-(degree,id) proposals) was correct but
    inherently sequential on dense communities — cliques match one
    pair per round, O(n) rounds — so it was replaced by the
    edge-local-dominance matching whose round count is logarithmic
    (Luby-style MIS on the line graph); the cover-size semantics are
    unchanged (any maximal matching yields the same 3/2-approximation
    guarantee, and the h60 priority makes THIS matching deterministic
    and SQL-reproducible).
    """
    edges = graph.symmetrized_edges().select("src", "dst").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    m = maximal_matching(graph, max_iter=max_iter)
    partners = m.select(
        F.col("src").alias("id"), F.col("dst").alias("partner")
    ).unionByName(
        m.select(F.col("dst").alias("id"), F.col("src").alias("partner"))
    )
    out = (
        graph.vertices.select("id")
        .join(deg, "id", "left")
        .join(partners, "id", "left")
        .select(
            "id",
            F.coalesce("d", F.lit(0).cast("long")).alias("d"),
            F.coalesce("partner", F.lit(-1).cast("long")).alias("partner"),
        )
    )
    edges.unpersist()
    return out
