"""Round-3 operators: h-index core decomposition, generic k-clique,
BFS tree formats, FLASH greedy min-cover / min-dominating-set."""

from __future__ import annotations

import random
import sys

import networkx as nx
import pytest

from graphscope_spark.graph import Graph
from graphscope_spark.operators import clustering
from graphscope_spark.operators.clustering import (
    core_numbers,
    core_numbers_hindex,
)
from graphscope_spark.operators.misc import (
    min_dominating_set_greedy,
    min_vertex_cover_greedy,
)
from graphscope_spark.operators.traversal import bfs, bfs_tree
from graphscope_spark.operators.triangles import k_clique_count


@pytest.fixture(scope="module")
def rand_graph(spark):
    random.seed(7)
    n = 80
    edges = set()
    while len(edges) < 200:
        u, v = random.randrange(n), random.randrange(n)
        if u != v:
            edges.add((min(u, v), max(u, v)))
    G = nx.Graph(sorted(edges))
    G.add_nodes_from(range(n))
    edf = spark.createDataFrame(sorted(edges), "src long, dst long")
    vdf = spark.createDataFrame([(i,) for i in range(n)], "id long")
    g = Graph.from_edges(edf, directed=False, vertices=vdf,
                         num_partitions=4)
    return g, G


def test_core_numbers_hindex_matches_networkx(spark, rand_graph):
    g, G = rand_graph
    got = {r["id"]: r["core"]
           for r in core_numbers_hindex(g).collect()}
    assert got == dict(nx.core_number(G))


def test_core_numbers_max_k_clips_networkx(spark, rand_graph):
    g, G = rand_graph
    for max_k in (2, 3):
        got = {r["id"]: r["core"] for r in core_numbers(g, max_k).collect()}
        assert got == {v: min(c, max_k) for v, c in nx.core_number(G).items()}


def test_core_numbers_runs_to_the_fixpoint(spark, monkeypatch):
    """On a path the h-operator moves one hop per round, so the middle
    of a long path reads core 2 until about n/2 rounds have run: a
    result returned on a round budget is wrong there.  core_numbers
    asks for no budget and stops only when nothing changes."""
    n = 16
    g = Graph.from_edges(
        spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                              "src long, dst long"),
        directed=False,
        vertices=spark.createDataFrame([(i,) for i in range(n)], "id long"),
        num_partitions=4,
    )
    budgets = []
    hindex = clustering._hindex

    def spy(graph, max_iter, cap):
        budgets.append(max_iter)
        return hindex(graph, max_iter, cap)

    monkeypatch.setattr(clustering, "_hindex", spy)
    got = {r["id"]: r["core"] for r in core_numbers(g, 3).collect()}
    assert got == {i: 1 for i in range(n)}
    assert budgets == [sys.maxsize]


@pytest.mark.parametrize("k", [3, 4, 5])
def test_k_clique_count_matches_networkx(spark, rand_graph, k):
    g, G = rand_graph
    exp = sum(1 for c in nx.enumerate_all_cliques(G) if len(c) == k)
    assert k_clique_count(g, k) == exp


def test_bfs_tree_formats(spark, rand_graph):
    g, G = rand_graph
    depth = {r["id"]: r["depth"]
             for r in bfs(g, 0, symmetrize=True).collect()}
    pred = {r["id"]: r["pred"]
            for r in bfs_tree(g, 0, "predecessors",
                              symmetrize=True).collect()}
    # every reached non-source vertex has the min-id parent one level up
    assert set(pred) == set(depth) - {0}
    for v, p in pred.items():
        assert depth[p] + 1 == depth[v]
        assert p == min(u for u in G.neighbors(v)
                        if depth.get(u, -2) + 1 == depth[v])
    # edges/successors render the same tree
    e = {(r[0], r[1])
         for r in bfs_tree(g, 0, "edges", symmetrize=True).collect()}
    s = {(r["src"], r["dst"])
         for r in bfs_tree(g, 0, "successors", symmetrize=True).collect()}
    assert e == s == {(p, v) for v, p in pred.items()}


def _flash_cover(adj, nodes):
    d = {i: len(adj[i]) for i in nodes}
    c = {i: False for i in nodes}
    act = set(nodes)
    while act:
        b = {v for v in act
             if all(not (not c[nb] and (d[nb] > d[v]
                                        or (d[nb] == d[v] and nb > v)))
                    for nb in adj[v])}
        for v in b:
            c[v] = True
        tmp: dict[int, int] = {}
        for s in b:
            for nb in adj[s]:
                if not c[nb]:
                    tmp[nb] = tmp.get(nb, 0) + 1
        for v, t in tmp.items():
            d[v] -= t
        act = {v for v in act if not c[v] and d[v] > 0}
    return {i: int(c[i]) for i in nodes}


def _flash_dominating(adj, nodes):
    mc = {i: len(adj[i]) for i in nodes}
    mi = {i: i for i in nodes}
    dom = {i: False for i in nodes}
    b = {i: False for i in nodes}
    act = set(nodes)
    while act:
        for _ in range(2):
            nmc, nmi = dict(mc), dict(mi)
            for v in act:
                for nb in adj[v]:
                    if not dom[nb] and (
                        mc[nb] > nmc[v]
                        or (mc[nb] == nmc[v] and mi[nb] > nmi[v])
                    ):
                        nmc[v], nmi[v] = mc[nb], mi[nb]
            mc, mi = nmc, nmi
        sel = {v for v in act if mi[v] == v}
        for v in sel:
            b[v] = True
            dom[v] = True
            for nb in adj[v]:
                dom[nb] = True
        act = {v for v in act if not dom[v]}
        for v in act:
            mi[v] = v
            mc[v] = sum(1 for nb in adj[v] if not dom[nb])
    return {i: int(b[i]) for i in nodes}


def test_subgraph_counts_match_bruteforce(spark, rand_graph):
    from collections import Counter

    from graphscope_spark.operators.triangles import (
        diamond_count,
        tailed_triangle_count,
        three_path_count,
    )

    g, G = rand_graph
    tris = [c for c in nx.enumerate_all_cliques(G) if len(c) == 3]
    p3 = sum((G.degree(u) - 1) * (G.degree(v) - 1)
             for u, v in G.edges()) - 3 * len(tris)
    tailed = sum(G.degree(c) - 2 for t in tris for c in t)
    ec: Counter = Counter()
    for a, b, c in tris:
        for x, y in ((a, b), (b, c), (a, c)):
            ec[(min(x, y), max(x, y))] += 1
    dia = sum(t * (t - 1) // 2 for t in ec.values())
    assert three_path_count(g) == p3
    assert tailed_triangle_count(g) == tailed
    assert diamond_count(g) == dia


def test_k_center_matches_greedy(spark, rand_graph):
    from graphscope_spark.operators.misc import KCENTER_INF, k_center

    g, G = rand_graph
    adj = {i: set(G.neighbors(i)) for i in G.nodes()}

    def bfs_d(s):
        d = {s: 0}
        q = [s]
        while q:
            nq = []
            for x in q:
                for y in adj[x]:
                    if y not in d:
                        d[y] = d[x] + 1
                        nq.append(y)
            q = nq
        return d

    dis = {i: KCENTER_INF for i in G.nodes()}
    center = max(G.nodes(), key=lambda i: (len(adj[i]), i))
    for _ in range(3):
        for i, h in bfs_d(center).items():
            dis[i] = min(dis[i], h)
        center = max(G.nodes(), key=lambda i: (dis[i], i))
    got = {r["id"]: r["dis"] for r in k_center(g, 3).collect()}
    assert got == dis


@pytest.mark.parametrize("k", [0, -1])
def test_k_center_rejects_k_below_one(spark, rand_graph, k):
    from graphscope_spark.operators.misc import k_center

    with pytest.raises(ValueError, match="k >= 1"):
        k_center(rand_graph[0], k)


def test_k_center_empty_graph_is_empty(spark):
    from graphscope_spark.operators.misc import k_center

    g = Graph.from_edges(
        spark.createDataFrame([], "src long, dst long"), directed=False,
        vertices=spark.createDataFrame([], "id long"))
    out = k_center(g, 3)
    assert out.collect() == []
    assert out.schema.simpleString() == "struct<id:bigint,dis:bigint>"


def test_min_cover_matches_reference_protocol(spark, rand_graph):
    g, G = rand_graph
    adj = {i: set(G.neighbors(i)) for i in G.nodes()}
    exp = _flash_cover(adj, sorted(G.nodes()))
    got = {r["id"]: r["in_cover"]
           for r in min_vertex_cover_greedy(g).collect()}
    assert got == exp
    # it IS a vertex cover
    assert all(got[u] or got[v] for u, v in G.edges())


def test_min_dominating_matches_reference_protocol(spark, rand_graph):
    g, G = rand_graph
    adj = {i: set(G.neighbors(i)) for i in G.nodes()}
    exp = _flash_dominating(adj, sorted(G.nodes()))
    got = {r["id"]: r["in_dom_set"]
           for r in min_dominating_set_greedy(g).collect()}
    assert got == exp
    # it IS a dominating set
    assert all(got[v] or any(got[u] for u in G.neighbors(v))
               for v in G.nodes())
