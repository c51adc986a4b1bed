"""One superstep driver for every iterative operator.

GRAPE runs every app through one worker loop: the app supplies PEval /
IncEval and the worker owns the rounds, the message exchange and
termination.  Here an operator supplies

- ``init()`` — its initial state frame (not called on resume);
- ``step(state, k)`` — the lazy plan of superstep ``k``'s new state;
- ``action(new, old)`` — the ONE Spark action of the superstep, which
  must scan all of ``new`` (so its cache is complete before ``old`` is
  released; in a loop cut every round the eager cut has already done
  so) and returns ``(metrics, stop)``;

and :func:`run` owns the rest: the AQE scope, persisting each new state
and releasing the frames behind the old one, the lineage-cut policy,
``CheckpointManager`` resume and commit, and the per-superstep stats.

**Lifetime rule.**  :func:`run` frees every frame it makes.  Each call
ends on one soft cut: the last state, ``localCheckpoint``-ed unless it
already is the latest soft cut; the persisted state and the cut before
it are then dropped.  So once a call returns, the cache manager holds
nothing it made, and the block store holds only the RDD behind the
returned frame.  Spark's ContextCleaner frees that RDD once the caller
drops the frame; a caller that runs many floods frees it at once with
:func:`release`, which also takes a projection of the frame.

**Cut policy** (:class:`LineageCuts`).  Without cuts the analyzed plan
of superstep ``k`` embeds all ``k`` earlier ones and analysis time
dominates by round ~30.  Every ``CUT_EVERY``-th superstep is cut with
``localCheckpoint(eager=True)``.  Chained localCheckpoints degrade in
Spark 4.1 local mode once the chain passes ~15 links, even though the
plan string stays flat (measured on the min-edge-cover loop cut every
round: flat 0.8 s/round through round 15, then 2.0, 4.2, 9.1, 22, 57,
159 s); the cost sits in physical re-planning over the checkpoint
chain.  So every ``HARD_EVERY``-th cut is a parquet round-trip instead
— the re-read is a fresh scan with no history — and no chain exceeds
three links (same loop: flat ~1 s/round for 26+ rounds, full fixpoint
30 s vs 34 s for parquet on every round).  A 10-round loop therefore
cuts softly at ``k = 0`` and ``k = 5`` and never writes a file.

**AQE table** (``AQE_OFF``).  AQE re-plans every query by
materializing shuffle stages and reading their statistics: a win for a
one-shot query, a loss for a loop that runs the same small fixed-shape
plan 10-30 times.  Measured A/B at sf0.01-sf0.1, both orders,
repeated:

- AQE OFF (1.3-3x faster; sf0.1/local[32]: PageRank 7.8 s → 5.2 s, WCC
  10.4 s → 3.7 s): pagerank and its variants, wcc, bfs, sssp,
  multi_source_sssp, betweenness, kcore, msf, louvain, random walks —
  supersteps whose shuffle size is stable or shrinks predictably and
  whose skew is already guarded (salting, map-side combine,
  co-partitioned joins).  Closeness and harmonic centrality flood
  through multi_source_sssp, and the bcc forest and scc's pivot
  reach through bfs's flood, so they run with AQE off too.
- AQE ON, i.e. the session's setting (faster than off): cdlp
  (14.9 s → 43 s with AQE off: the label histogram shrinks as labels
  converge and runtime coalesce wins), hits, eigenvector, katz (dense
  |V|-state join chains).

On the prebuilt-adjacency path (``jobs/pagerank_job.py``, 10-60M
edges) the gap widens to ~10x: AQE's coalesce heuristic (~64 MB per
partition) collapses the small post-combine message shuffle to a
handful of partitions and near-serializes the aggregation; fixed
``spark.sql.shuffle.partitions`` with AQE off keeps one full wave of
tasks per superstep.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from contextlib import contextmanager, nullcontext
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from graphscope_spark.plans.checkpoint import CheckpointManager

CUT_EVERY = 5
HARD_EVERY = 3

AQE_OFF = frozenset({
    "pagerank", "personalized_pagerank", "articlerank", "wcc", "bfs",
    "sssp", "multi_source_sssp", "betweenness", "kcore", "msf",
    "louvain", "walks",
})

_AQE_KEY = "spark.sql.adaptive.enabled"
_LEVEL = StorageLevel.MEMORY_AND_DISK


@contextmanager
def superstep_conf(spark: SparkSession, adaptive: bool):
    """Pin AQE on or off for a block; always restores the previous
    session value on exit."""
    prev = spark.conf.get(_AQE_KEY, "true")
    spark.conf.set(_AQE_KEY, "true" if adaptive else "false")
    try:
        yield
    finally:
        spark.conf.set(_AQE_KEY, prev)


def aqe_scope(spark: SparkSession, op: str):
    """The AQE setting the table above measured for operator ``op``:
    pinned off for the block, or the session's own setting."""
    return superstep_conf(spark, False) if op in AQE_OFF else nullcontext()


class LineageCuts:
    """The cut policy: :func:`run` applies it to its state, and loops
    whose state is more than one frame call it directly.

    ``maybe(df, k)`` cuts on every ``every``-th superstep; ``cut(df)``
    cuts now.  Hard cuts write under a scratch dir that the context
    exit removes, so a frame still read after the loop must go through
    ``keep`` first."""

    def __init__(self, spark: SparkSession, name: str, every: int = CUT_EVERY):
        self.spark, self.name, self.every = spark, name, every
        self.dir: str | None = None
        self.cuts = 0
        self.hard = False  # whether any cut was hard
        self.last_hard = False  # whether the latest cut was hard

    def cut(self, df: DataFrame) -> DataFrame:
        i = self.cuts
        self.cuts += 1
        self.last_hard = i % HARD_EVERY == HARD_EVERY - 1
        if not self.last_hard:
            return df.localCheckpoint(eager=True)
        if self.dir is None:
            self.dir = tempfile.mkdtemp(prefix=f"gs_trunc_{self.name}_")
        self.hard = True
        path = os.path.join(self.dir, f"r{i}")
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.schema(df.schema).parquet(path)

    def due(self, k: int) -> bool:
        return k % self.every == 0

    def maybe(self, df: DataFrame, k: int, persist: bool = False) -> DataFrame:
        """Cut ``df`` when superstep ``k`` is due; otherwise return it,
        persisted when asked."""
        if self.due(k):
            return self.cut(df)
        return df.persist(_LEVEL) if persist else df

    def keep(self, df: DataFrame) -> DataFrame:
        """``df``, materialized when a hard cut may sit in its lineage,
        so it outlives the scratch dir."""
        return df.localCheckpoint(eager=True) if self.hard else df

    def close(self) -> None:
        if self.dir is not None:
            shutil.rmtree(self.dir, ignore_errors=True)
            self.dir = None

    def __enter__(self) -> "LineageCuts":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def release(df: DataFrame) -> None:
    """Unpersist the RDD a soft cut left in the block store, given the
    cut or a projection of it (a hard cut's files go with the scratch
    dir): for a frame :func:`run` returned, once nothing reads it."""
    plan = df._jdf.queryExecution().analyzed()
    while plan.children().size() == 1:
        plan = plan.children().head()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def fixed_rounds(new: DataFrame, old: DataFrame) -> tuple[dict, bool]:
    """The action of a fixed-round loop: materialize ``new``, never
    stop early."""
    new.count()
    return {}, False


def run(
    spark: SparkSession,
    op: str,
    init: Callable[[], DataFrame],
    step: Callable[[DataFrame, int], DataFrame],
    action: Callable[[DataFrame, DataFrame], tuple[dict, bool]],
    max_iter: int,
    cols: Sequence[str] | None = None,
    checkpoint: CheckpointManager | None = None,
    resume: Callable[[DataFrame], DataFrame] | None = None,
    stats: dict | None = None,
    every: int = CUT_EVERY,
) -> DataFrame:
    """Run supersteps ``k = start .. max_iter - 1`` and return the last
    state frame (all its columns).

    ``max_iter`` counts supersteps in total: a run resumed from a
    ``checkpoint`` starts at the latest committed superstep + 1, from
    the committed frame passed through ``resume``.  ``cols`` is the
    projection committed per superstep (default: every column).
    ``stats`` receives ``rounds`` and the last superstep's metrics.
    ``every`` is the soft-cut cadence; an operator passes its own only
    with the measurement that needs it.  The returned frame is a soft
    cut and the only thing the call leaves held (module docstring)."""
    with aqe_scope(spark, op), LineageCuts(spark, op, every) as cuts:
        latest = None if checkpoint is None else checkpoint.latest_superstep()
        if latest is None:
            start, state = 0, init()
        else:
            start, state = latest + 1, checkpoint.load_state(spark, latest)
            if resume is not None:
                state = resume(state)
        # a loop cut every round starts from a cut state too: its first
        # step reads the initial plan as often as any later state
        # (multi-level louvain on two 4-cliques: 15-17 s from a cut
        # initial state, 23-28 s from a persisted one)
        last_cut = cuts.cut(state) if every == 1 else None
        state = state.persist(_LEVEL) if last_cut is None else last_cut
        for k in range(start, max_iter):
            t0 = time.time()
            new = cuts.maybe(step(state, k), k, persist=True)
            metrics, stop = action(new, state)
            state.unpersist()
            if cuts.due(k):
                # nothing computed after this cut reads the one before
                if last_cut is not None:
                    release(last_cut)
                last_cut = new
            state = new
            metrics = {**metrics, "wall_ms": (time.time() - t0) * 1000.0}
            if checkpoint is not None:
                checkpoint.save(k, state.select(*cols) if cols else state,
                                metrics)
            if stats is not None:
                stats.update(metrics, rounds=k + 1)
            if stop:
                break
        if state is not last_cut or cuts.last_hard:
            # end on one soft cut: nothing else the call made stays
            # held, and the result outlives the scratch dir
            kept = state.localCheckpoint(eager=True)
            state.unpersist()
            if last_cut is not None:
                release(last_cut)
            state = kept
        return state
