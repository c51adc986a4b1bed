"""Biconnected components, bridges, and articulation points.

Reference semantics: ``apps/flash/connectivity/bridge.h`` (154 LoC),
``cut-point.h``, ``bcc.h`` (146 LoC) — all three build a BFS forest
and then walk parent pointers per non-tree edge *sequentially on the
driver* (``VertexMapSeq`` + a driver-side union-find), which is
exactly the part that cannot scale.  This module replaces that walk
with the textbook parallel algorithm — Tarjan & Vishkin, "An
efficient parallel biconnectivity algorithm" (SIAM J. Computing
14(4), 1985) — restated on a BFS forest with only level-synchronous
DataFrame sweeps:

1. BFS forest from each component's min-id root (components via
   ``wcc``; one ``bfs`` hop flood from all roots at once);
   deterministic min-id parent per non-root (``min_id_parents``, the
   convention ``bfs_tree`` uses).
2. Subtree sizes ``sz`` — one bottom-up sweep over levels.
3. Preorder numbers ``pre`` — one top-down sweep (per-parent window
   prefix-sum of sibling subtree sizes); subtree(v) is then exactly
   the interval ``[pre(v), pre(v)+sz(v))``.
4. ``low``/``high`` — min/max preorder over subtree ∪ non-tree
   neighbors of subtree — one bottom-up sweep.
5. Tarjan-Vishkin auxiliary graph on tree edges (each represented by
   its child endpoint): rule 1 joins the two tree edges under a
   CROSSING non-tree edge (neither endpoint an ancestor of the
   other); rule 2 joins a parent edge to a child edge when the child
   subtree escapes the parent interval (``low(w) < pre(v)`` or
   ``high(w) ≥ pre(v)+sz(v)``).  Connected components of the
   auxiliary graph (min-label ``wcc`` — pointer-jumped, O(log)
   rounds) are the biconnected components.
6. Bridges fall out without the auxiliary graph at all: tree edge
   (p(v), v) is a bridge iff NO non-tree edge leaves subtree(v) —
   ``low(v) ≥ pre(v) ∧ high(v) < pre(v)+sz(v)`` (the preorder
   interval is the subtree, so the test is exact for any rooted
   spanning tree; every non-tree edge of the graph either stays
   inside or crosses the cut that the tree edge closes).
7. Articulation points: v is a cut vertex iff its incident tree
   edges span ≥ 2 distinct blocks (for the root: its child edges).

Every sweep is O(depth) rounds of joins partitioned by parent/child
id; nothing is driver-sequential, so the 100 TB story is the BFS
depth (small on real link graphs) times one shuffle per level.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph import Graph


def _bfs_forest(graph: Graph) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns ``(edges, depth, pred)``:

    - ``edges`` — symmetrized simple edge set (persisted);
    - ``depth(id, depth)`` — hop depth from the component's min-id
      root (roots at 0; every vertex reached): one :func:`bfs` flood
      from all roots at once, each vertex reached only from its own
      component's root;
    - ``pred(id, pred)`` — min-id parent for every non-root.
    """
    from graphscope_spark.operators.traversal import HopFlood, min_id_parents
    from graphscope_spark.operators.wcc import wcc

    edges = graph.symmetrized_edges().select("src", "dst").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    roots = wcc(graph).select(F.col("comp").alias("id")).distinct()
    flood = HopFlood(graph, roots, symmetrize=True)
    depth = flood.run(flood.until_empty, sys.maxsize)
    pred = min_id_parents(edges, depth).localCheckpoint(eager=True)
    return edges, depth, pred


def _tv_tables(graph: Graph):
    """Shared Tarjan-Vishkin tables: ``(edges, depth, pred, info)``
    where ``info(id, depth, pred, sz, pre, low, high)`` (pred NULL at
    roots)."""
    edges, depth, pred = _bfs_forest(graph)
    maxd = depth.agg(F.max("depth")).collect()[0][0] or 0

    # levels as (id, depth, pred); roots have pred NULL
    node = depth.join(pred, "id", "left").localCheckpoint(eager=True)

    # -- bottom-up: subtree sizes.  Sweep levels deepest-first; only
    # rows at the current level are finalized each step.
    sz = node.where(F.col("depth") == maxd).select(
        "id", F.lit(1).cast("long").alias("sz")
    )
    done = sz  # finalized (id, sz) rows, deepest levels first
    for d in range(maxd - 1, -1, -1):
        child_sum = (
            node.where(F.col("depth") == d + 1)
            .join(done, "id")
            .groupBy(F.col("pred").alias("id"))
            .agg(F.sum("sz").alias("cs"))
        )
        lvl = (
            node.where(F.col("depth") == d)
            .join(child_sum, "id", "left")
            .select("id",
                    (F.lit(1) + F.coalesce("cs", F.lit(0))).cast("long")
                    .alias("sz"))
        )
        done = done.unionByName(lvl).localCheckpoint(eager=True)
    sz = done

    # -- top-down: preorder.  Roots get cumulative offsets of whole
    # components ordered by root id; children get parent's pre + 1 +
    # prefix sizes of smaller-id siblings.
    rsz = node.where(F.col("pred").isNull()).join(sz, "id")
    wroot = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
    pre = rsz.select(
        "id",
        F.coalesce(F.sum("sz").over(wroot), F.lit(0)).cast("long")
        .alias("pre"),
    ).localCheckpoint(eager=True)
    for d in range(1, maxd + 1):
        kids = (
            node.where(F.col("depth") == d)
            .join(sz, "id")
            .join(pre.select(F.col("id").alias("pred"),
                             F.col("pre").alias("ppre")), "pred")
        )
        wsib = (
            Window.partitionBy("pred").orderBy("id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        lvl = kids.select(
            "id",
            (F.col("ppre") + 1
             + F.coalesce(F.sum("sz").over(wsib), F.lit(0))).cast("long")
            .alias("pre"),
        )
        pre = pre.unionByName(lvl).localCheckpoint(eager=True)

    # -- non-tree edges (both orientations): symmetrized minus tree
    tree_pairs = node.where(F.col("pred").isNotNull()).select(
        F.col("pred").alias("src"), F.col("id").alias("dst")
    )
    tree_both = tree_pairs.unionByName(
        tree_pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nontree = edges.join(tree_both, ["src", "dst"], "left_anti").persist(
        StorageLevel.MEMORY_AND_DISK
    )

    # -- bottom-up: low/high = min/max pre over subtree + non-tree nbrs
    ntp = (
        nontree.join(pre.withColumnRenamed("id", "dst"), "dst")
        .groupBy(F.col("src").alias("id"))
        .agg(F.min("pre").alias("ntlo"), F.max("pre").alias("nthi"))
    )
    base = (
        node.join(pre, "id")
        .join(ntp, "id", "left")
        .select(
            "id", "depth", "pred", "pre",
            F.least("pre", F.coalesce("ntlo", F.col("pre"))).alias("self_lo"),
            F.greatest("pre", F.coalesce("nthi", F.col("pre")))
            .alias("self_hi"),
        )
        .localCheckpoint(eager=True)
    )
    lh = base.where(F.col("depth") == maxd).select(
        "id", F.col("self_lo").alias("low"), F.col("self_hi").alias("high")
    )
    for d in range(maxd - 1, -1, -1):
        clh = (
            base.where(F.col("depth") == d + 1)
            .select("id", "pred")
            .join(lh, "id")
            .groupBy(F.col("pred").alias("id"))
            .agg(F.min("low").alias("clo"), F.max("high").alias("chi"))
        )
        lvl = (
            base.where(F.col("depth") == d)
            .join(clh, "id", "left")
            .select(
                "id",
                F.least("self_lo", F.coalesce("clo", F.col("self_lo")))
                .alias("low"),
                F.greatest("self_hi", F.coalesce("chi", F.col("self_hi")))
                .alias("high"),
            )
        )
        lh = lh.unionByName(lvl).localCheckpoint(eager=True)

    info = (
        node.join(sz, "id").join(pre, "id").join(lh, "id")
        .localCheckpoint(eager=True)
    )
    return edges, nontree, info


def bridges(graph: Graph) -> DataFrame:
    """``(src long, dst long)`` canonical (src < dst) bridge edges:
    tree edge (p(v), v) is a bridge iff no non-tree edge leaves
    subtree(v) — ``low(v) ≥ pre(v) ∧ high(v) < pre(v) + sz(v)``."""
    _, _, info = _tv_tables(graph)
    b = info.where(
        F.col("pred").isNotNull()
        & (F.col("low") >= F.col("pre"))
        & (F.col("high") < F.col("pre") + F.col("sz"))
    )
    return b.select(
        F.least("pred", "id").alias("src"),
        F.greatest("pred", "id").alias("dst"),
    )


def _blocks(graph: Graph) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns ``(info, nontree, block)`` where ``block(id, block)``
    labels every NON-ROOT vertex (≡ its parent tree edge) with its
    biconnected component's min member id."""
    from graphscope_spark.operators.wcc import wcc

    _, nontree, info = _tv_tables(graph)
    iv = info.select("id", "pred", "pre", "sz", "low", "high")

    # rule 1: crossing non-tree edge (u, w) — neither subtree interval
    # contains the other endpoint — joins tree edges u and w
    pu = iv.select(F.col("id").alias("src"), F.col("pre").alias("pu"),
                   F.col("sz").alias("su"))
    pw = iv.select(F.col("id").alias("dst"), F.col("pre").alias("pw"),
                   F.col("sz").alias("sw"))
    r1 = (
        nontree.where(F.col("src") < F.col("dst"))
        .join(pu, "src").join(pw, "dst")
        .where(
            ~((F.col("pw") >= F.col("pu"))
              & (F.col("pw") < F.col("pu") + F.col("su")))
            & ~((F.col("pu") >= F.col("pw"))
                & (F.col("pu") < F.col("pw") + F.col("sw")))
        )
        .select("src", "dst")
    )
    # rule 2: child edge (v, w) joins parent edge (p(v), v) when
    # subtree(w) escapes v's interval; v must be non-root
    vv = iv.select(F.col("id").alias("v"), F.col("pred").alias("vp"),
                   F.col("pre").alias("pv"), F.col("sz").alias("sv"))
    r2 = (
        iv.where(F.col("pred").isNotNull())
        .select(F.col("id").alias("w"), F.col("pred").alias("v"),
                "low", "high")
        .join(vv, "v")
        .where(
            F.col("vp").isNotNull()
            & ((F.col("low") < F.col("pv"))
               | (F.col("high") >= F.col("pv") + F.col("sv")))
        )
        .select(F.col("v").alias("src"), F.col("w").alias("dst"))
    )
    aux_edges = r1.unionByName(r2)
    nonroots = iv.where(F.col("pred").isNotNull()).select("id")
    aux = Graph.from_edges(aux_edges, directed=False, vertices=nonroots,
                           num_partitions=graph.num_partitions)
    block = wcc(aux).withColumnRenamed("comp", "block")
    return info, nontree, block


def biconnected_edge_labels(graph: Graph) -> DataFrame:
    """``(src long, dst long, block long)`` — EVERY canonical edge
    labeled with its biconnected component (min non-root member id of
    the block); reference ``apps/flash/connectivity/bcc.h`` labels
    the same decomposition.  Tree edge (p(v), v) carries block(v); a
    non-tree edge never touches a BFS root and neither endpoint is
    the LCA of the cycle it closes, so both endpoints' parent edges
    lie on that cycle and share its block — label it via either
    endpoint."""
    info, nontree, block = _blocks(graph)
    tree = (
        info.where(F.col("pred").isNotNull())
        .join(block, "id")
        .select(
            F.least("pred", "id").alias("src"),
            F.greatest("pred", "id").alias("dst"),
            "block",
        )
    )
    nt = (
        nontree.where(F.col("src") < F.col("dst"))
        .join(block.withColumnRenamed("id", "src"), "src")
        .select("src", "dst", "block")
    )
    return tree.unionByName(nt)


def articulation_points(graph: Graph) -> DataFrame:
    """``(id long, is_cut int)`` — 1 iff removing the vertex
    disconnects its component: the vertex's incident tree edges span
    ≥ 2 distinct biconnected blocks (for roots: its child edges)."""
    info, _, block = _blocks(graph)
    # child edges of v carry block(child); the parent edge carries
    # block(v) itself
    child_blocks = (
        info.where(F.col("pred").isNotNull())
        .select(F.col("pred").alias("id"), "id")
        .toDF("id", "child")
        .join(block.withColumnRenamed("id", "child"), "child")
        .select("id", "block")
    )
    own_block = (
        info.where(F.col("pred").isNotNull()).select("id")
        .join(block, "id")
        .select("id", "block")
    )
    counts = (
        child_blocks.unionByName(own_block)
        .groupBy("id")
        .agg(F.countDistinct("block").alias("nb"))
    )
    return (
        graph.vertices.select("id")
        .join(counts, "id", "left")
        .select(
            "id",
            (F.coalesce("nb", F.lit(0)) >= 2).cast("int").alias("is_cut"),
        )
    )
