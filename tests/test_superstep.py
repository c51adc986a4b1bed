"""The superstep driver (``plans.superstep``): cut schedule, failure
cleanup, checkpoint resume, and the per-call block-store footprint of
the operators that run on it."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from graphscope_spark.operators.cdlp import cdlp
from graphscope_spark.operators.pagerank import pagerank
from graphscope_spark.operators.traversal import sssp
from graphscope_spark.operators.wcc import wcc
from graphscope_spark.plans import superstep
from graphscope_spark.plans.checkpoint import CheckpointManager
from graphscope_spark.sources.synthetic import gen_edges

from tests.conftest import make_graph

AQE = "spark.sql.adaptive.enabled"


def _kind(df):
    """'soft' for a localCheckpoint, 'hard' for a parquet re-read."""
    plan = df._jdf.queryExecution().analyzed().getClass().getSimpleName()
    return "soft" if plan == "LogicalRDD" else "hard"


def test_cut_schedule(spark, monkeypatch, tmp_path):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    df = spark.range(3)
    with superstep.LineageCuts(spark, "sched") as cuts:
        kinds = {}
        for k in range(16):
            out = cuts.maybe(df, k)
            if out is not df:
                kinds[k] = _kind(out)
                assert sorted(r.id for r in out.collect()) == [0, 1, 2]
        assert kinds == {0: "soft", 5: "soft", 10: "hard", 15: "soft"}
        assert os.listdir(tmp_path)
    assert not os.listdir(tmp_path)


def test_ten_rounds_cut_softly_at_0_and_5(spark, monkeypatch, tmp_path):
    """The flagship schedule: two soft cuts, no scratch dir."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    ks, cut = [], {}

    def step(state, k):
        ks.append(k)
        return state.select("id", (F.col("x") + 1).alias("x"))

    def action(new, old):
        if not new.is_cached:  # a cut frame, not a persisted one
            cut[ks[-1]] = _kind(new)
        return superstep.fixed_rounds(new, old)

    out = superstep.run(
        spark, "t10", lambda: spark.range(4).select("id", F.lit(0).alias("x")),
        step, action, 10,
    )
    assert cut == {0: "soft", 5: "soft"}
    assert {r.x for r in out.collect()} == {10}
    assert not os.listdir(tmp_path)


def test_failing_step_restores_aqe_and_removes_dir(spark, monkeypatch,
                                                   tmp_path):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    spark.conf.set(AQE, "true")
    inside = []

    def step(state, k):
        inside.append(spark.conf.get(AQE))
        if k == 3:  # after a hard cut made the scratch dir
            assert os.listdir(tmp_path)
            raise RuntimeError("boom")
        return state.select("id", (F.col("x") + 1).alias("x"))

    with pytest.raises(RuntimeError, match="boom"):
        superstep.run(
            spark, "pagerank",
            lambda: spark.range(4).select("id", F.lit(0).alias("x")),
            step, superstep.fixed_rounds, 10, every=1,
        )
    assert inside == ["false"] * 4
    assert spark.conf.get(AQE) == "true"
    assert not os.listdir(tmp_path)


def test_resume_starts_after_latest_and_counts_max_iter_in_total(
        spark, tmp_path):
    ck = CheckpointManager(str(tmp_path), "run")
    ran = []

    def step(state, k):
        ran.append(k)
        return state.select("id", (F.col("x") + k).alias("x"))

    def go(max_iter):
        ran.clear()
        return superstep.run(
            spark, "resume",
            lambda: spark.range(3).select("id", F.lit(0).alias("x")),
            step, superstep.fixed_rounds, max_iter, checkpoint=ck,
        )

    go(3)
    assert ran == [0, 1, 2] and ck.latest_superstep() == 2
    out = go(5)
    assert ran == [3, 4] and ck.latest_superstep() == 4
    assert {r.x for r in out.collect()} == {0 + 1 + 2 + 3 + 4}
    go(5)
    assert ran == []


def _path(spark, n):
    return make_graph(spark, range(n), [(i, i + 1) for i in range(n - 1)],
                      directed=False)


def _held(spark, call):
    """RDDs a call leaves persisted once its result is collected."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    before = set(rdds.keySet())
    call().collect()
    return len(set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
               - before)


@pytest.mark.parametrize("op", ["pagerank", "wcc", "cdlp", "sssp"])
def test_held_blocks_do_not_grow_with_supersteps(spark, op):
    vs, es = gen_edges(n=80, m=400, seed=13)
    g = make_graph(spark, vs, es)
    path = _path(spark, 24)
    calls = {
        "pagerank": lambda r: pagerank(g, max_iter=r, tol=0.0),
        "wcc": lambda r: wcc(path, max_iter=r, pointer_jumping=False),
        "cdlp": lambda r: cdlp(g, max_round=r),
        "sssp": lambda r: sssp(path, 0, max_iter=r),
    }
    call = calls[op]
    _held(spark, lambda: call(1))  # warm the graph's own caches
    assert _held(spark, lambda: call(2)) == _held(spark, lambda: call(8))
