"""Bridges / articulation points (Tarjan-Vishkin on a BFS forest) and
minimum spanning forest (Borůvka) vs NetworkX / pure-Python oracles."""

from __future__ import annotations

import random

import duckdb
import networkx as nx
import pytest
from pyspark.sql import functions as F

from graphscope_spark import entry as E
from graphscope_spark.graph import Graph
from graphscope_spark.operators.bcc import (
    articulation_points,
    biconnected_edge_labels,
    bridges,
)
from graphscope_spark.operators.msf import minimum_spanning_forest
from tools.oracle_compare import compare


def _graph(spark, edges, nodes):
    edf = spark.createDataFrame(sorted(edges), "src long, dst long")
    vdf = spark.createDataFrame([(i,) for i in sorted(nodes)], "id long")
    return Graph.from_edges(edf, directed=False, vertices=vdf,
                            num_partitions=4)


def _cases():
    yield "barbell", nx.barbell_graph(4, 2)
    yield "two_comps", nx.disjoint_union(nx.cycle_graph(5),
                                         nx.path_graph(5))
    yield "gnm", nx.gnm_random_graph(40, 50, seed=5)


@pytest.mark.parametrize("name,G", list(_cases()))
def test_bridges_and_cut_points_match_networkx(spark, name, G):
    G = nx.convert_node_labels_to_integers(G, ordering="sorted")
    edges = {(min(u, v), max(u, v)) for u, v in G.edges() if u != v}
    g = _graph(spark, edges, G.nodes())
    got_b = {(r["src"], r["dst"]) for r in bridges(g).collect()}
    exp_b = {(min(u, v), max(u, v)) for u, v in nx.bridges(G)}
    assert got_b == exp_b
    got_c = {r["id"] for r in articulation_points(g).collect()
             if r["is_cut"]}
    assert got_c == set(nx.articulation_points(G))
    # full BCC: the edge partition into blocks must match NetworkX's
    # biconnected_component_edges up to block relabeling (compare as
    # sets of frozenset-of-edges)
    rows = biconnected_edge_labels(g).collect()
    got_blocks: dict[int, set] = {}
    for r in rows:
        got_blocks.setdefault(r["block"], set()).add((r["src"], r["dst"]))
    exp_blocks = {
        frozenset((min(u, v), max(u, v)) for u, v in comp)
        for comp in nx.biconnected_component_edges(G)
    }
    assert {frozenset(b) for b in got_blocks.values()} == exp_blocks


def test_bridge_oracles_compare_non_empty_rows(spark, tmp_path):
    """The ``bridges`` and ``cut_points`` registry entries against
    their DuckDB oracles on a co-order graph that has both: two
    4-cliques joined by the path 4-5-6-7, every pair co-ordered in two
    orders, plus one pair (1, 10) co-ordered once, which the
    two-order threshold of ``part_graph_min2`` drops."""
    pairs = ([(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
             + [(a, b) for a in range(7, 11) for b in range(a + 1, 11)]
             + [(4, 5), (5, 6), (6, 7)])
    orders = [p for p in pairs for _ in range(2)] + [(1, 10)]
    rows = [(o, part) for o, p in enumerate(orders) for part in p]
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long") \
        .write.parquet(str(tmp_path / "lineitem.parquet"))
    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * FROM "
            f"'{tmp_path}/lineitem.parquet/*.parquet'")
    try:
        verdicts = {n: compare(spark, con, n, str(tmp_path))
                    for n in ("bridges", "cut_points")}
        # the verdict holds Spark equal to the oracle, so the oracle's
        # rows stand for both sides
        cut = {r[0] for r in con.sql(
            f"SELECT id FROM ({E.oracle_sql()['cut_points']}) WHERE is_cut = 1"
        ).fetchall()}
    finally:
        con.close()
    for v in verdicts.values():
        assert v.ok, v.report()
    assert verdicts["bridges"].oracle_rows == 3
    assert cut == {4, 5, 6, 7}


def test_msf_matches_kruskal_total_order(spark):
    random.seed(13)
    n, nodes = 60, range(60)
    edges = set()
    while len(edges) < 120:
        u, v = random.randrange(n), random.randrange(n)
        if u != v:
            edges.add((min(u, v), max(u, v)))
    wed = spark.createDataFrame(
        [(u, v, float((u + v) % 7 + 1)) for u, v in sorted(edges)],
        "src long, dst long, weight double",
    )
    vdf = spark.createDataFrame([(i,) for i in nodes], "id long")
    g = Graph.from_edges(wed, directed=False, vertices=vdf,
                         num_partitions=4)
    got = {(r["src"], r["dst"], r["weight"])
           for r in minimum_spanning_forest(g).collect()}
    # Kruskal under the same (weight, src, dst) total order is the
    # unique MSF the reference's comparator induces
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    exp = set()
    for w, u, v in sorted((float((u + v) % 7 + 1), u, v)
                          for u, v in edges):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            exp.add((u, v, w))
    assert got == exp


def test_msf_total_weight_matches_networkx(spark):
    # total MSF weight is comparator-independent — check against
    # NetworkX's Kruskal on the same weighted graph
    G = nx.gnm_random_graph(50, 110, seed=21)
    wed = spark.createDataFrame(
        [(min(u, v), max(u, v), float((u + v) % 5 + 1))
         for u, v in G.edges()],
        "src long, dst long, weight double",
    )
    for u, v in G.edges():
        G[u][v]["weight"] = float((u + v) % 5 + 1)
    vdf = spark.createDataFrame([(i,) for i in G.nodes()], "id long")
    g = Graph.from_edges(wed, directed=False, vertices=vdf,
                         num_partitions=4)
    got = minimum_spanning_forest(g).agg(F.sum("weight")).collect()[0][0]
    exp = sum(d["weight"]
              for _, _, d in nx.minimum_spanning_edges(G, data=True))
    assert got == pytest.approx(exp)
