"""Second-tier apps vs the pure-Python oracle: traversal, centrality,
clustering, k-core family.  Float apps use allclose-style tolerance,
integer apps exact — mirroring the reference's golden strategy
(``tests/unittest/test_app.py``)."""

import math

import pytest
from pyspark.sql import functions as F

from graphscope_spark.operators.centrality import (
    closeness_centrality,
    degree_centrality,
    eigenvector_centrality,
    hits,
    katz_centrality,
)
from graphscope_spark.operators.clustering import (
    avg_clustering,
    core_numbers,
    kcore,
    kshell,
    transitivity,
)
from graphscope_spark.operators.traversal import bfs, sssp
from graphscope_spark.sources.synthetic import (
    TINY_EDGES,
    TINY_VERTICES,
    gen_edges,
    gen_weighted_edges,
)

from tests.conftest import df_to_dict, make_graph, make_weighted_graph
from tests.oracle import (
    bfs_oracle,
    closeness_oracle,
    core_numbers_oracle,
    degree_centrality_oracle,
    eigenvector_oracle,
    hits_oracle,
    katz_oracle,
    kcore_oracle,
    kshell_oracle,
    sssp_oracle,
    avg_clustering_oracle,
    transitivity_oracle,
)

P2P = gen_edges(n=100, m=500, seed=7)
GRAPHS = {"tiny": (TINY_VERTICES, TINY_EDGES), "p2p_like": P2P}


def assert_close(got: dict, want: dict, tol=1e-06):
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k], abs_tol=tol), (k, got[k], want[k])


@pytest.mark.parametrize("name", list(GRAPHS))
def test_bfs(spark, name):
    vs, es = GRAPHS[name]
    g = make_graph(spark, vs, es)
    src = min(vs)
    got = df_to_dict(bfs(g, src, symmetrize=True))
    want = {
        v: d for v, d in bfs_oracle(vs, es, src, directed=False).items()
        if d >= 0
    }
    assert got == want


def test_bfs_directed_depth_limit(spark):
    vs, es = GRAPHS["p2p_like"]
    g = make_graph(spark, vs, es)
    src = min(vs)
    got = df_to_dict(bfs(g, src, depth_limit=2))
    want = {
        v: d for v, d in bfs_oracle(vs, es, src, directed=True).items()
        if 0 <= d <= 2
    }
    assert got == want


@pytest.mark.parametrize("directed", [True, False])
def test_sssp(spark, directed):
    vs, wes = gen_weighted_edges(n=80, m=400, seed=11)
    g = make_weighted_graph(spark, vs, wes)
    src = min(vs)
    got = df_to_dict(sssp(g, src, symmetrize=not directed))
    want = {
        v: d
        for v, d in sssp_oracle(vs, wes, src, directed=directed).items()
        if d != float("inf")
    }
    assert set(got) == set(want)
    for v in want:
        assert math.isclose(got[v], want[v], abs_tol=1e-09)


@pytest.mark.parametrize("degree_type", ["in", "out", "both"])
def test_degree_centrality(spark, degree_type):
    vs, es = GRAPHS["p2p_like"]
    g = make_graph(spark, vs, es)
    got = df_to_dict(degree_centrality(g, degree_type))
    want = degree_centrality_oracle(vs, es, degree_type)
    assert_close(got, want, tol=1e-12)


def test_eigenvector(spark):
    vs, es = GRAPHS["p2p_like"]
    g = make_graph(spark, vs, es)
    got = df_to_dict(eigenvector_centrality(g, max_iter=50))
    want = eigenvector_oracle(vs, es, max_iter=50)
    assert_close(got, want, tol=1e-05)


def test_katz(spark):
    vs, es = GRAPHS["p2p_like"]
    g = make_graph(spark, vs, es)
    got = df_to_dict(katz_centrality(g))
    want = katz_oracle(vs, es)
    assert_close(got, want, tol=1e-06)


def test_hits(spark):
    vs, es = GRAPHS["p2p_like"]
    g = make_graph(spark, vs, es)
    res = hits(g, max_iter=50)
    hub = {r["id"]: r["hub"] for r in res.collect()}
    auth = {r["id"]: r["auth"] for r in res.collect()}
    want_h, want_a = hits_oracle(vs, es, max_iter=50)
    assert_close(hub, want_h, tol=1e-06)
    assert_close(auth, want_a, tol=1e-06)


def test_closeness(spark):
    vs, es = GRAPHS["tiny"]
    g = make_graph(spark, vs, es)
    got = df_to_dict(closeness_centrality(g))
    want = closeness_oracle(vs, es, directed=True)
    assert_close(got, want, tol=1e-09)


def test_closeness_undirected_sample(spark):
    import networkx as nx

    vs, es = GRAPHS["p2p_like"]
    g = make_graph(spark, vs, es, directed=False)
    sample = [vs[0], vs[7], vs[31], vs[62], vs[-1]]
    srcs = spark.createDataFrame([(v,) for v in sample], "id long")
    got = df_to_dict(closeness_centrality(g, sources=srcs))
    G = nx.Graph()
    G.add_nodes_from(vs)
    G.add_edges_from(es)
    want = {v: nx.closeness_centrality(G, u=v) for v in sample}
    assert_close(got, want, tol=1e-09)


@pytest.mark.parametrize("k", [2, 3])
def test_kcore(spark, k):
    vs, es = GRAPHS["p2p_like"]
    g = make_graph(spark, vs, es)
    assert df_to_dict(kcore(g, k)) == kcore_oracle(vs, es, k)


def test_kshell(spark):
    vs, es = GRAPHS["tiny"]
    g = make_graph(spark, vs, es)
    assert df_to_dict(kshell(g, 2)) == kshell_oracle(vs, es, 2)


def test_core_numbers(spark):
    vs, es = GRAPHS["tiny"]
    g = make_graph(spark, vs, es)
    assert df_to_dict(core_numbers(g)) == core_numbers_oracle(vs, es)


def test_clustering_aggregates(spark):
    vs, es = GRAPHS["p2p_like"]
    g = make_graph(spark, vs, es)
    assert math.isclose(
        avg_clustering(g), avg_clustering_oracle(vs, es), abs_tol=1e-09
    )
    assert math.isclose(
        transitivity(g), transitivity_oracle(vs, es), abs_tol=1e-09
    )


def test_induce_subgraph_and_add_column(spark):
    vs, es = GRAPHS["tiny"]
    g = make_graph(spark, vs, es)
    sub = g.induce_subgraph(
        spark.createDataFrame([(0,), (1,), (2,), (3,)], "id long")
    )
    assert sub.vertices.count() == 4
    kept = {(r["src"], r["dst"]) for r in sub.edges.collect()}
    assert kept == {(0, 1), (1, 2), (2, 0), (2, 3)}
    joined = g.add_column(degree_centrality(g, "out"))
    assert "dc" in joined.columns and joined.count() == len(vs)


def test_consolidate_columns(spark):
    vs, es = GRAPHS["tiny"]
    g = make_graph(spark, vs, es)
    g2 = make_graph(spark, vs, es)
    g2.vertices = g.add_column(degree_centrality(g, "out")).join(
        g.add_column(degree_centrality(g, "in"))
        .withColumnRenamed("dc", "dc_in").select("id", "dc_in"),
        "id",
    )
    packed = g2.consolidate_columns(["dc", "dc_in"], out="feats")
    row = packed.where(F.col("id") == 0).collect()[0]
    assert "dc" not in packed.columns and "dc_in" not in packed.columns
    assert len(row["feats"]) == 2


def test_salted_adjacency_equals_plain(spark):
    vs, es = GRAPHS["p2p_like"]
    g = make_graph(spark, vs, es)
    plain = {
        r["src"]: (sorted(r["dst_list"]), r["degree"])
        for r in g.adjacency("out", cache=False, sort_lists=True).collect()
    }
    # threshold 1 routes every key through the salted two-phase path
    salted = {
        r["src"]: (sorted(r["dst_list"]), r["degree"])
        for r in g.adjacency(
            "out", cache=False, salt_threshold=1, salt_buckets=4
        ).collect()
    }
    assert plain == salted
