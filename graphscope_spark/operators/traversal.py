"""Traversal apps: BFS depth and single-source shortest paths.

Reference semantics:

- BFS — ``analytical_engine/apps/bfs/bfs_generic.h`` (199 LoC):
  level-synchronous frontier expansion from a source vertex, result =
  hop depth (``format="dist"``); unreached vertices excluded from the
  golden (``p2p-31-BFS`` lists reached vertices).  Depth limit
  supported.
- SSSP — vendored spec ``apps/projected/sssp_projected.h`` (181 LoC):
  frontier-driven Bellman-Ford over double weights; init
  ``dist(source)=0``, relax ``dist(v) = min(dist(v), dist(u)+w(u,v))``
  until no distance changes.

Spark shape (both): the frontier is an explicit DataFrame; each
superstep joins ONLY the frontier against the src-partitioned edge
table (frontier-sparse iteration, SURVEY.md §4.1), min-combines
candidate distances by ``dst`` (map-side partial min = GAE's message
combining), and keeps strict improvements.  Work per superstep is
O(frontier-adjacent edges), not O(E) — at 100 TB the frontier is the
difference between a 3-round BFS touching 3×E edges and touching each
edge once.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph import Graph
from graphscope_spark.plans import superstep
from graphscope_spark.plans.checkpoint import CheckpointManager


class HopFlood:
    """The hop flood of :func:`bfs`, :func:`sssp_has_path` and the bcc
    forest, on ``superstep.run``: the ``roots(id)`` start at depth 0,
    and superstep ``k`` adds the unvisited out-neighbors of the
    depth-``k`` frontier at depth ``k + 1``; ``frontier(state)``
    selects the rows the latest step added.  Each vertex gets the
    depth of its nearest root."""

    def __init__(self, graph: Graph, roots: DataFrame, symmetrize: bool):
        edges = (graph.symmetrized_edges() if symmetrize
                 else graph.edges).select("src", "dst")
        if graph.num_partitions:
            edges = edges.repartition(graph.num_partitions, "src")
        self.edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
        self.spark = graph.vertices.sparkSession
        # a union concatenates partitions: coalesced back every step,
        # or a depth-d state scans d times as many tasks
        self.parts = graph.num_partitions or int(
            self.spark.conf.get("spark.sql.shuffle.partitions"))
        self.roots = roots
        self.level = 0  # the depth the last step reached

    def init(self) -> DataFrame:
        return self.roots.select(F.col("id").cast("long"),
                                 F.lit(0).cast("long").alias("depth"))

    def step(self, state: DataFrame, k: int) -> DataFrame:
        self.level = k + 1
        # expand frontier; left_anti against visited keeps strict news
        cand = (
            self.edges.join(
                state.where(F.col("depth") == k).select(F.col("id").alias("src")),
                "src")
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(state.select("id"), "id", "left_anti")
            .withColumn("depth", F.lit(k + 1).cast("long"))
        )
        return state.unionByName(cand).coalesce(self.parts)

    def frontier(self, state: DataFrame) -> DataFrame:
        return state.where(F.col("depth") == self.level)

    def until_empty(self, new: DataFrame, old: DataFrame):
        """The action of a full flood: stop once a step adds nothing."""
        n = self.frontier(new).count()
        return {"frontier": float(n)}, n == 0

    def run(self, action, max_iter: int,
            checkpoint: CheckpointManager | None = None) -> DataFrame:
        """The flood's last state, a soft cut that holds the only
        blocks the flood leaves; a caller that floods from many
        sources (``k_center``) frees it with ``superstep.release``."""
        return superstep.run(self.spark, "bfs", self.init, self.step,
                             action, max_iter, checkpoint=checkpoint)


def bfs(
    graph: Graph,
    source: int,
    depth_limit: int | None = None,
    symmetrize: bool = False,
    checkpoint: CheckpointManager | None = None,
) -> DataFrame:
    """Hop depth from ``source``: ``(id long, depth long)``, reached
    vertices only (reference golden convention ``p2p-31-BFS``).
    Superstep ``k`` expands the frontier ``depth == k``, so a resumed
    run re-reads its frontier from the committed state."""
    flood = HopFlood(graph, _one_root(graph, source), symmetrize)
    return flood.run(flood.until_empty,
                     sys.maxsize if depth_limit is None else depth_limit,
                     checkpoint)


def _one_root(graph: Graph, source: int) -> DataFrame:
    return graph.vertices.sparkSession.createDataFrame(
        [(int(source),)], "id long")


def hop_preds(edges: DataFrame, depth: DataFrame) -> DataFrame:
    """``(id, pred)``: every edge ``pred → id`` of ``edges(src, dst)``
    that lies on a shortest path, i.e. ``depth(pred) + 1 =
    depth(id)`` in the hop-depth frame ``depth(id, depth)`` — the
    full predecessor multiset of a BFS."""
    du = depth.select(F.col("id").alias("src"), F.col("depth").alias("du"))
    return (
        edges.join(du, "src")
        .join(depth.withColumnRenamed("id", "dst"), "dst")
        .where(F.col("du") + 1 == F.col("depth"))
        .select(F.col("dst").alias("id"), F.col("src").alias("pred"))
    )


def min_id_parents(edges: DataFrame, depth: DataFrame) -> DataFrame:
    """``(id, pred)`` with ``pred(v) = min{u : u→v ∧ depth(u)+1 =
    depth(v)}`` — the one BFS-tree convention of the engine (BFS tree
    formats, the bcc forest, GIE ``shortestPath``): deterministic, so
    a SQL oracle reproduces the tree exactly.  Depth-0 vertices (the
    sources) get no row."""
    return hop_preds(edges, depth).groupBy("id").agg(
        F.min("pred").alias("pred")
    )


def bfs_tree(
    graph: Graph,
    source: int,
    output_format: str = "edges",
    depth_limit: int | None = None,
    symmetrize: bool = False,
) -> DataFrame:
    """BFS spanning-tree output formats of the reference's generic BFS
    (``apps/bfs/bfs_generic.h:132-156``): the predecessor array
    rendered as ``edges`` → ``(pred, id)``, ``predecessors`` →
    ``(id, pred)``, or ``successors`` → ``(src, dst)`` parent→child
    rows.  The reference keeps whichever predecessor message landed
    last (``:186``, nondeterministic under partitioning); here
    ``pred(v) = min{u : u→v ∧ depth(u)+1 = depth(v)}`` — the same
    min-id convention as ``sssp_path`` — so the tree is deterministic
    and exactly reproducible by a SQL oracle.  One post-pass join
    after the depth fixpoint (:func:`min_id_parents`); no
    per-superstep pred bookkeeping."""
    depth = bfs(graph, source, depth_limit, symmetrize)
    e = (graph.symmetrized_edges() if symmetrize else graph.edges).select(
        "src", "dst"
    )
    tree = min_id_parents(e, depth)
    if output_format == "edges":
        return tree.select(F.col("pred"), F.col("id"))
    if output_format == "predecessors":
        return tree.select("id", "pred")
    if output_format == "successors":
        return tree.select(F.col("pred").alias("src"),
                           F.col("id").alias("dst"))
    raise ValueError(f"unknown output_format: {output_format!r}")


def sssp(
    graph: Graph,
    source: int,
    weight_col: str = "weight",
    max_iter: int = 10_000,
    symmetrize: bool = False,
    checkpoint: CheckpointManager | None = None,
) -> DataFrame:
    """Shortest weighted distance from ``source``: ``(id long,
    dist double)``, reached vertices only.  Frontier-driven
    Bellman-Ford (reference ``sssp_projected.h:83-160``)."""
    spark = graph.vertices.sparkSession
    edges = _sssp_edge_table(graph, weight_col, symmetrize).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    init = spark.createDataFrame([(int(source), 0.0)], "id long, dist double")
    return _bellman_ford(spark, "sssp", edges, init, [], max_iter,
                         checkpoint).select("id", "dist")


def _bellman_ford(spark, op, edges, init, keys, max_iter, checkpoint):
    """Frontier-driven min-relaxation of ``dist`` keyed on
    ``keys + ["id"]``.  The state row keeps the previous distance
    ``old``; the frontier is the rows that improved (all rows on
    round 0 and on resume, where ``old`` is NULL — monotone
    min-relaxation makes the re-announce safe, at worst one redundant
    round)."""
    improved = F.col("old").isNull() | (F.col("dist") < F.col("old"))
    cols = [*keys, "id", "dist"]
    unset = F.lit(None).cast("double").alias("old")

    def step(state: DataFrame, k: int) -> DataFrame:
        cand = (
            edges.join(
                state.where(improved)
                .select(*keys, F.col("id").alias("src"), "dist"),
                "src")
            .groupBy(*keys, F.col("dst").alias("id"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("cand"))
        )
        return (
            state.select(*keys, "id", F.col("dist").alias("old"))
            .join(cand, [*keys, "id"], "full")
            .select(
                *keys, "id",
                F.least(
                    F.coalesce("old", F.lit(float("inf"))),
                    F.coalesce("cand", F.lit(float("inf"))),
                ).alias("dist"),
                "old",
            )
        )

    def action(new: DataFrame, old: DataFrame):
        changed = new.where(improved).count()
        return {"changed": float(changed)}, changed == 0

    return superstep.run(
        spark, op, lambda: init.select(*cols, unset), step, action,
        max_iter, cols=cols, checkpoint=checkpoint,
        resume=lambda s: s.select(*cols, unset),
    )


def sssp_path(
    graph: Graph,
    source: int,
    weight_col: str = "weight",
    max_iter: int = 10_000,
    symmetrize: bool = False,
) -> DataFrame:
    """Shortest-path TREE from ``source``: ``(id long, pred long,
    dist double)`` — reference ``apps/sssp/sssp_path.h`` (174 LoC)
    emits one ``[predecessor, node, sssp_length]`` row per reached
    vertex.

    The predecessor is derived in ONE post-pass after the distance
    fixpoint: ``pred(v) = min{u : u→v ∧ dist(u)+w(u,v) = dist(v)}``
    (min-id tie-break ⇒ deterministic tree, exactly reproducible by a
    SQL oracle).  No per-superstep predecessor bookkeeping — the
    iterate loop stays the plain distance flood.  The equality test is
    exact when weights are integer-valued doubles (sums stay exact in
    fp64), which is the engine's convention for derived weights.
    ``pred`` is NULL for the source itself.
    """
    edges = _sssp_edge_table(graph, weight_col, symmetrize)
    dist = sssp(graph, source, weight_col, max_iter, symmetrize)
    du = dist.select(F.col("id").alias("src"), F.col("dist").alias("du"))
    dv = dist.select(F.col("id").alias("id"), "dist")
    pred = (
        edges.join(du, "src")
        .join(dv, edges.dst == dv.id)
        .where(F.col("du") + F.col("w") == F.col("dist"))
        .groupBy("id")
        .agg(F.min("src").alias("pred"))
    )
    return (
        dist.join(pred, "id", "left")
        .select(
            "id",
            F.when(F.col("id") == source, F.lit(None).cast("long"))
            .otherwise(F.col("pred")).alias("pred"),
            "dist",
        )
    )


def sssp_has_path(
    graph: Graph,
    source: int,
    target: int,
    max_iter: int = 10_000,
    symmetrize: bool = False,
) -> bool:
    """True iff a directed path source→target exists (reference
    ``apps/sssp/sssp_has_path.h`` (157 LoC): BFS over unweighted
    reachability).  The :func:`bfs` flood with its own action, which
    stops the superstep the target is reached — never floods past the
    target's level — or the frontier empties."""
    if int(source) == int(target):
        return True
    flood = HopFlood(graph, _one_root(graph, source), symmetrize)
    hit: list[bool] = [False]

    def action(new: DataFrame, old: DataFrame):
        # ONE action per superstep: frontier size + target-hit
        row = flood.frontier(new).agg(
            F.count(F.lit(1)).alias("n"),
            F.max((F.col("id") == int(target)).cast("int")).alias("hit"),
        ).collect()[0]
        hit[0] = bool(row["hit"])
        return {"frontier": float(row["n"])}, hit[0] or row["n"] == 0

    # a bool escapes, nothing lazy: free the flood's result now
    superstep.release(flood.run(action, max_iter))
    return hit[0]


def multi_source_sssp(
    graph: Graph,
    sources: DataFrame,
    weight_col: str = "weight",
    max_iter: int = 10_000,
    symmetrize: bool = False,
    checkpoint: CheckpointManager | None = None,
    prebuilt_edges: DataFrame | None = None,
) -> DataFrame:
    """Weighted distances from every source at once: ``(source long,
    id long, dist double)``, reached pairs only.

    ``prebuilt_edges`` lets a batching caller (``apsp_full_lengths``)
    build and persist the (src, dst, w) table ONCE instead of once
    per call.  The result is a projection of the soft cut
    ``superstep.run`` ends on: a batching caller frees each batch's
    with ``superstep.release`` once it has read it.

    One frontier-driven Bellman-Ford keyed on (source, id) — the
    backbone for APSP (``apps/apsp/all_pairs_shortest_path_length.h``,
    144 LoC) and average-path-length; each source's flood is exact and
    independent, so running a source SAMPLE gives exact rows for those
    sources.  Messages min-combine map-side per (source, dst) — the
    shuffle stays one per superstep regardless of the source count.

    With ``checkpoint``, every superstep commits the (source, id,
    dist) state; a resumed run reloads the latest committed state and
    re-announces it as the frontier (same convention as wcc);
    ``max_iter`` counts supersteps in total, resumed ones included.
    """
    if prebuilt_edges is not None:
        edges = prebuilt_edges
    else:
        edges = _sssp_edge_table(graph, weight_col, symmetrize).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    src = F.col(sources.columns[0]).cast("long")
    init = sources.select(src.alias("source"), src.alias("id"),
                          F.lit(0.0).alias("dist"))
    state = _bellman_ford(graph.vertices.sparkSession, "multi_source_sssp",
                          edges, init, ["source"], max_iter, checkpoint)
    return state.select("source", "id", "dist")


def _sssp_edge_table(graph, weight_col, symmetrize):
    """(src, dst, w double) table for the SSSP family, repartitioned
    by src; NOT persisted — the caller decides the lifetime."""
    e = graph.symmetrized_edges(dedup=False) if symmetrize else graph.edges
    if weight_col not in e.columns:
        e = e.withColumn(weight_col, F.lit(1.0))
    edges = e.select("src", "dst", F.col(weight_col).cast("double").alias("w"))
    if graph.num_partitions:
        edges = edges.repartition(graph.num_partitions, "src")
    return edges


def sssp_average_length(
    graph: Graph,
    sources: DataFrame | None = None,
    weight_col: str = "weight",
    symmetrize: bool = False,
) -> float:
    """Mean shortest-path length over reached (source, target) pairs,
    self-pairs excluded — reference ``apps/sssp/sssp_average_length.h``
    (260 LoC) averages all-pairs SSSP lengths.  Pass ``sources`` to
    average over a source sample (exact for those sources)."""
    seeds = graph.vertices if sources is None else sources
    d = multi_source_sssp(graph, seeds.select(seeds.columns[0]),
                          weight_col, symmetrize=symmetrize)
    row = (
        d.where(F.col("source") != F.col("id"))
        .agg(F.avg("dist").alias("avg"))
        .collect()[0]
    )
    return float(row["avg"]) if row["avg"] is not None else 0.0


def apsp_lengths(
    graph: Graph,
    sources: DataFrame | None = None,
    symmetrize: bool = False,
) -> DataFrame:
    """Unweighted all-pairs shortest path lengths ``(source, id,
    dist long)`` (reference ``all_pairs_shortest_path_length.h:144``:
    per-source BFS depth).  ``sources`` restricts to a sample row-set;
    each flood is exact for its source."""
    seeds = graph.vertices if sources is None else sources
    d = multi_source_sssp(
        graph,
        seeds.select(seeds.columns[0]),
        weight_col="__hop__",
        symmetrize=symmetrize,
    )
    return d.select("source", "id", F.col("dist").cast("long").alias("dist"))


def apsp_full_lengths(
    graph: Graph,
    batch_size: int = 50_000,
    batch_count: int | None = None,
    symmetrize: bool | None = None,
) -> DataFrame:
    """EXACT unweighted APSP over EVERY source — the un-sampled
    semantics of ``apps/apsp/all_pairs_shortest_path_length.h:144``
    (per-source BFS depth, all sources) — as landmark BATCHES of
    :func:`multi_source_sssp`.  Returns ``(source, id, dist long)``,
    reached pairs only.

    **Memory knob**: peak superstep state is ``|batch| × reach``
    (source, id, dist) rows instead of ``|V|²`` — ``batch_size``
    bounds it (``batch_count`` overrides directly).  Sources are
    assigned to batches by ``id % batch_count`` — a map-side predicate,
    never a driver-side collect of the vertex set — so the loop is
    ``batch_count`` sequential multi-source floods, each one shuffle
    per superstep regardless of batch width.  The per-batch results
    union lazily with a lineage cut every four batches (so the union's
    plan never re-embeds more than four floods).

    At 100 TB-class graphs exact APSP is |V|² output and inherently a
    batch job; this shape lets the caller trade wall-clock for memory
    and write each batch's output to the sink incrementally.
    """
    import math as _math

    if symmetrize is None:
        # undirected graphs may store only one direction per edge;
        # callers whose edge table is ALREADY symmetric pass False
        symmetrize = not graph.directed
    if batch_count is None:
        n = graph.vertices.count()
        batch_count = max(1, _math.ceil(n / batch_size))
    # one shared persisted edge table for ALL batches (re-persisting
    # it per multi_source_sssp call leaked batch_count copies), and
    # each batch's result released once a union cut has read it —
    # without this the block store grows with batch_count, the
    # opposite of what the memory knob promises
    shared_edges = _sssp_edge_table(graph, "__hop__", symmetrize).persist()
    out: DataFrame | None = None
    unread: list[DataFrame] = []  # what `out` reads until its next cut
    for b in range(batch_count):
        srcs = graph.vertices.select("id").where(
            F.pmod(F.col("id"), F.lit(batch_count)) == b
        )
        d = multi_source_sssp(
            graph, srcs, weight_col="__hop__", symmetrize=symmetrize,
            prebuilt_edges=shared_edges,
        ).select("source", "id", F.col("dist").cast("long").alias("dist"))
        out = d if out is None else out.unionByName(d)
        unread.append(d)
        if (b + 1) % 4 == 0 or b + 1 == batch_count:
            # the last cut materializes the result, so every upstream
            # frame, the shared edge table included, can go
            out = out.localCheckpoint(eager=True)
            for f in unread:
                superstep.release(f)
            unread = [out]
    shared_edges.unpersist()
    return out


def random_multi_bfs(
    graph: Graph,
    k: int = 8,
    symmetrize: bool = False,
    max_iter: int = 10_000,
) -> DataFrame:
    """FLASH random multi-source BFS (reference
    ``apps/flash/traversal/random-multi-bfs.h:34``, registry algo
    ``flash_random_multi_bfs``): ``k`` random source vertices flood
    hop distances at once; each vertex reports ``res`` = the MAX over
    the per-source distances that reach it, ``-1`` when no source
    does.  The reference seeds ``rand_r(time(NULL))`` — here the
    sources are the ``k`` smallest ``h60("rmb:" || id)`` vertices, the
    repo's deterministic-sample convention, so a SQL oracle replays
    the identical source set.  Returns ``(id long, res long)``.

    Scale shape: one ``multi_source_sssp`` flood — messages
    min-combine map-side per (source, dst), ONE shuffle per superstep
    regardless of ``k`` (the analog of the reference's 64-bit seen
    bitmask riding one message).
    """
    from graphscope_spark.functions.text import h60

    srcs = (
        graph.vertices
        .withColumn(
            "hp", h60(F.concat(F.lit("rmb:"), F.col("id").cast("string")))
        )
        .orderBy("hp", "id")
        .limit(k)
        .select("id")
    )
    d = multi_source_sssp(
        graph, srcs, weight_col="__hop__", symmetrize=symmetrize,
        max_iter=max_iter,
    )
    mx = d.groupBy("id").agg(F.max(F.col("dist").cast("long")).alias("res"))
    return (
        graph.vertices.select("id")
        .join(mx, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("res"), F.lit(-1).cast("long")).alias("res"),
        )
    )
