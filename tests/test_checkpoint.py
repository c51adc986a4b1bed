"""Checkpoint/resume equivalence: run k supersteps with checkpointing,
'kill' (discard the driver state), resume from the latest committed
superstep, and require results identical to an uninterrupted run —
the protocol SURVEY.md §5 pins for the north rule's resumability."""

import math

import pytest
from pyspark.sql import functions as F

from graphscope_spark.operators.cdlp import cdlp
from graphscope_spark.operators.pagerank import pagerank
from graphscope_spark.operators.wcc import wcc
from graphscope_spark.plans.checkpoint import CheckpointManager
from graphscope_spark.sources.synthetic import gen_edges

from tests.conftest import df_to_dict, make_graph

VS, ES = gen_edges(n=80, m=400, seed=13)


def test_pagerank_resume_equivalence(spark, tmp_path):
    g = make_graph(spark, VS, ES)
    want = df_to_dict(pagerank(g, max_iter=8, tol=0.0))

    ck = CheckpointManager(str(tmp_path), "pr")
    # phase 1: run only 3 of 8 rounds ("crash" after superstep 2)
    pagerank(g, max_iter=3, tol=0.0, checkpoint=ck)
    assert ck.latest_superstep() == 2
    # phase 2: fresh call resumes at superstep 3 and finishes
    got = df_to_dict(pagerank(g, max_iter=8, tol=0.0, checkpoint=ck))
    assert set(got) == set(want)
    for v in VS:
        assert math.isclose(got[v], want[v], abs_tol=1e-12), v
    # metrics recorded per superstep
    m = ck.load_metrics(spark)
    assert m.count() == 8
    assert "l1_delta" in m.columns


def test_wcc_resume_equivalence(spark, tmp_path):
    g = make_graph(spark, VS, ES)
    want = df_to_dict(wcc(g))
    ck = CheckpointManager(str(tmp_path), "wcc")
    wcc(g, max_iter=1, checkpoint=ck)  # crash after first superstep
    assert ck.latest_superstep() == 0
    got = df_to_dict(wcc(g, checkpoint=ck))
    assert got == want


def test_cdlp_resume_equivalence(spark, tmp_path):
    g = make_graph(spark, VS, ES)
    want = df_to_dict(cdlp(g, max_round=6))
    ck = CheckpointManager(str(tmp_path), "cdlp")
    cdlp(g, max_round=2, checkpoint=ck)
    assert ck.latest_superstep() == 1
    got = df_to_dict(cdlp(g, max_round=6, checkpoint=ck))
    assert got == want


def test_lineage_is_recorded(spark, tmp_path):
    g = make_graph(spark, VS, ES)
    ck = CheckpointManager(str(tmp_path), "pr2")
    pagerank(g, max_iter=2, tol=0.0, checkpoint=ck)
    lineage = spark.read.parquet(str(tmp_path / "pr2" / "lineage" / "superstep=1"))
    assert {"partition_id", "rows", "superstep"} <= set(lineage.columns)
    assert lineage.agg(F.sum("rows")).collect()[0][0] == len(VS)


def test_multi_source_sssp_resume_equivalence(spark, tmp_path):
    from graphscope_spark.operators.traversal import multi_source_sssp

    g = make_graph(spark, VS, ES)
    srcs = spark.createDataFrame(
        [(int(s),) for s in sorted(VS)[:4]], "id long"
    )
    want = {(r["source"], r["id"]): r["dist"]
            for r in multi_source_sssp(g, srcs).collect()}

    ck = CheckpointManager(str(tmp_path), "mss")
    # phase 1: only 2 supersteps, then "crash"
    multi_source_sssp(g, srcs, max_iter=2, checkpoint=ck)
    assert ck.latest_superstep() == 1
    # phase 2: resume from the committed state and run to fixpoint
    got = {(r["source"], r["id"]): r["dist"]
           for r in multi_source_sssp(g, srcs, checkpoint=ck).collect()}
    assert got == want
    # max_iter counts supersteps in total, resumed ones included: a
    # finished run asked for 2 supersteps runs none
    latest = ck.latest_superstep()
    multi_source_sssp(g, srcs, max_iter=2, checkpoint=ck)
    assert ck.latest_superstep() == latest


def _commit_ts(spark, ck):
    """Commit time of supersteps 0 and 1."""
    m = ck.load_metrics(spark).where(F.col("superstep") <= 1)
    return sorted((r["superstep"], r["wall_ts"]) for r in m.collect())


def test_bfs_resume_equivalence(spark, tmp_path):
    from graphscope_spark.operators.traversal import bfs

    g = make_graph(spark, VS, ES)
    src = sorted(VS)[0]
    want = df_to_dict(bfs(g, src))
    ck = CheckpointManager(str(tmp_path), "bfs")
    bfs(g, src, depth_limit=2, checkpoint=ck)  # "crash" after superstep 1
    assert ck.latest_superstep() == 1
    first = _commit_ts(spark, ck)
    got = df_to_dict(bfs(g, src, checkpoint=ck))
    assert got == want
    # the resumed call continued after superstep 1 instead of
    # restarting and overwriting the earlier commits
    assert _commit_ts(spark, ck) == first


def test_sssp_resume_equivalence(spark, tmp_path):
    from graphscope_spark.operators.traversal import sssp

    g = make_graph(spark, VS, ES)
    src = sorted(VS)[0]
    want = df_to_dict(sssp(g, src))
    ck = CheckpointManager(str(tmp_path), "sssp")
    sssp(g, src, max_iter=2, checkpoint=ck)  # "crash" after superstep 1
    assert ck.latest_superstep() == 1
    first = _commit_ts(spark, ck)
    got = df_to_dict(sssp(g, src, checkpoint=ck))
    assert got == want
    assert _commit_ts(spark, ck) == first


def test_louvain_resume_equivalence(spark, tmp_path):
    from itertools import combinations
    from graphscope_spark.operators.louvain import louvain_one_level

    edges = (
        list(combinations(range(5), 2))
        + list(combinations(range(10, 15), 2))
        + [(4, 10)]
    )
    g = make_graph(spark, sorted({v for e in edges for v in e}), edges)
    want = {r["id"]: r["community"] for r in
            louvain_one_level(g, rounds=4).collect()}
    ck = CheckpointManager(str(tmp_path), "louvain")
    louvain_one_level(g, rounds=2, checkpoint=ck)  # "crash" after round 1
    assert ck.latest_superstep() == 1
    got = {r["id"]: r["community"] for r in
           louvain_one_level(g, rounds=4, checkpoint=ck).collect()}
    assert got == want
