"""Link-graph benchmark: one workload in one Spark process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout.  The run

1. writes the workload's seeded input table (not timed);
2. sets up: starts a ``local[nproc]`` session, loads the input and
   builds the graph (adjacency, degrees and the undirected view
   persisted), then warms up by running the workload's graph apps once,
   shortened to one round, then ``mine`` once and ``pagerank`` twice in
   full;
3. repeats the workload's timed calls (``mine``, ``pagerank``, ``wcc``,
   ``cdlp``, ``pagerank``, ``triangles``, ``pagerank``; or ``mine``,
   ``pagerank``, ``pagerank`` twice over) in whole rotations until
   ``--seconds`` have passed, each result materialized inside its timing;
4. checks every result, outside the timing, against DuckDB
   (``oracle.py``), and prints one JSON line last.

With ``--trace 0`` that line holds the end-to-end metrics.  With
``--trace 1`` the session also writes Spark's event log and the line
holds the per-layer split (``eventlog.py``).  Every wrapped call runs
in its own Spark job group in both modes.  Everything the run writes
stays under ``perfbench/.work`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

CALLS = ("mine", "pagerank", "wcc", "cdlp", "triangles", "pagerank_conv")
PR_ROUNDS = 10  # fixed-round PageRank (LDBC)
PR_TOL = 1e-6  # PageRank to convergence, with a checkpoint commit per superstep
CDLP_ROUNDS = 10

# name -> (kind, the calls of one timed rotation, the calls a traced run
# adds, input sizes per scale); "tiny" is the self-test size.  PageRank,
# which the bounded figures rest on, runs several times per rotation.  A
# rotation outlasts the benchmark's --seconds, so every run times the
# same calls in the same order: the calls keep getting a little faster
# through a run, and a varying count would move the medians.
# mined-repos' PageRank to convergence with a checkpoint commit per
# superstep runs in traced runs only: its commits wait on the host's disk
# and scheduler, and run to run it spread more than any bound allows.
WORKLOADS = {
    "coorder": ("coorder", ("mine", "pagerank", "wcc", "cdlp", "pagerank", "triangles",
                            "pagerank"), (),
                {"bench": dict(orders=18_750, parts=2_500),
                 "tiny": dict(orders=1_500, parts=200)}),
    "mined-repos": ("mined", ("mine", "pagerank", "pagerank") * 2, ("pagerank_conv",),
                    {"bench": dict(repos=2_000, files_per_repo=5),
                     "tiny": dict(repos=150, files_per_repo=4)}),
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------ inputs
def input_key(workload: str, scale: str, seed: int) -> str:
    """Names everything derived from one input: workload, sizes and seed."""
    sizes = WORKLOADS[workload][3][scale]
    return f"{workload}-{'-'.join(str(v) for v in sizes.values())}-{seed}"


def write_input(workload: str, scale: str, seed: int) -> str:
    import inputs

    kind, _, _, sizes = WORKLOADS[workload]
    name, make = {"coorder": ("lineitem.parquet", inputs.coorder_lineitem),
                  "mined": ("code.parquet", inputs.code_table)}[kind]
    path = os.path.join(WORK, "input", input_key(workload, scale, seed), name)
    if not os.path.exists(path):
        make(path, seed, **sizes[scale])
    return path


# ------------------------------------------------------------- spans
@dataclass
class Span:
    """One wrapped call: its job group and wall-clock window."""

    id: str
    t0: float = 0.0
    t1: float = 0.0
    extra: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Sets a unique Spark job group around every wrapped call and
    clears it afterwards, so no job inherits a stale group."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._n = 0
        self._stack: list[str] = []

    def open(self, name: str) -> Span:
        parent = self._stack[-1] + "/" if self._stack else ""
        span = Span(f"{parent}{name}#{self._n}")
        self._n += 1
        self._stack.append(span.id)
        self.sc.setJobGroup(span.id, span.id)
        span.t0 = time.time()
        return span

    def close(self, span: Span) -> None:
        span.t1 = time.time()
        self._stack.pop()
        if self._stack:
            self.sc.setJobGroup(self._stack[-1], self._stack[-1])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        self.spans.append(span)

    def call(self, name: str, fn):
        span = self.open(name)
        try:
            return fn()
        finally:
            self.close(span)


# ------------------------------------------------------------ session
def host_facts() -> dict:
    def read(path: str) -> str | None:
        try:
            with open(path) as f:
                return f.read().strip()
        except OSError:
            return None

    mem_kb = next((int(line.split()[1]) for line in (read("/proc/meminfo") or "").splitlines()
                   if line.startswith("MemTotal:")), 0)
    try:
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "l3": read("/sys/devices/system/cpu/cpu0/cache/index3/size"),
        "python": platform.python_version(),
        "git_sha": sha,
    }


def driver_mem_gb(mem_total_mb: int) -> int:
    """A quarter of the host's memory, between 2 and 8 GiB."""
    return max(2, min(8, mem_total_mb // 4096))


def start_session(name: str, cores: int, mem_gb: int, eventlog_dir: str | None):
    from graphscope_spark.session import get_spark

    # the heap and its young generation have a fixed size: grown on
    # demand, the heap resized through the timed calls, which slowed the
    # first ~20 s of calls by up to 40% and moved the peak RSS run to run
    confs = {
        "spark.driver.memory": f"{mem_gb}g",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData "
            f"-Xms{mem_gb}g -Xmn1g",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # plan strings feed only logs and the event log; unbounded, the
        # mined graph's plans make them hundreds of MB per run
        "spark.sql.maxPlanStringLength": "65536",
    }
    if eventlog_dir:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(name, master=f"local[{cores}]", shuffle_partitions=cores,
                      extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cpu_times() -> list[int]:
    """The host's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...), from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the JVM")


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            if int(stat[stat.rindex(")") + 2:].split()[1]) == pid:
                out.append(int(d))
    return out


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for all."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    kids, todo = [], [proc.pid]
    while todo:
        found = _children(todo.pop())
        kids += found
        todo += found
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# ---------------------------------------------------------- workload
def _materialize(df):
    df = df.persist()
    df.count()
    return df


def _dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


def spanned_checkpoint(tracer: Tracer, base: str):
    """A ``CheckpointManager`` whose commits run in their own sub-span."""
    from graphscope_spark.plans.checkpoint import CheckpointManager

    class Spanned(CheckpointManager):
        commits = 0

        def save(self, superstep, state, metrics):
            span = tracer.open("checkpoint")
            try:
                super().save(superstep, state, metrics)
            finally:
                tracer.close(span)
            self.commits += 1

    return Spanned(base, "pagerank")


class Workload:
    """The library calls one workload makes, on one input file.

    ``coorder`` extracts co-order pairs from a lineitem table; ``mined``
    mines repository dependencies from a code table through the Arrow
    UDF and maps them to dense ids.  ``pagerank`` runs ``PR_ROUNDS``
    fixed rounds; ``pagerank_conv`` runs to ``PR_TOL`` with a checkpoint
    commit every superstep."""

    def __init__(self, spark, tracer: Tracer, kind: str, path: str, cores: int):
        self.spark, self.tr, self.kind, self.path = spark, tracer, kind, path
        self.cores = cores
        self.g = self.gu = self.vmap = None
        self.n_edges = 0

    def load(self):
        from graphscope_spark.sources.loader import load_table

        return load_table(self.spark, self.path)

    def extract(self):
        """The edge table from the raw input: ``(edges, files or None)``."""
        if self.kind == "coorder":
            from graphscope_spark.entry import part_edges

            return part_edges(self.spark, os.path.dirname(self.path))[1], None
        from graphscope_spark.sources.miner import mine_edges

        files, edges = mine_edges(self.load(), use_arrow_udf=True)
        return edges, files

    def build(self) -> None:
        from graphscope_spark.entry import part_graph
        from graphscope_spark.graph import Graph

        t = self.tr
        # the extraction's own read of the input hits this cached table
        raw = t.call("sources.load", lambda: _materialize(self.load()))
        edges = t.call("sources", lambda: _materialize(self.extract()[0]))
        span = t.open("graph.dictionary")
        if self.kind == "coorder":
            g = part_graph(self.spark, os.path.dirname(self.path))
        else:
            g, self.vmap = Graph.from_string_edges(edges, "src_repo", "dst_repo",
                                                   num_partitions=self.cores)
        # cut the lineage: left in place, every superstep re-analyzes the
        # whole sources plan (cdlp on the mined graph then stalls for minutes)
        g.vertices = g.vertices.localCheckpoint(eager=True)
        g.edges = g.edges.localCheckpoint(eager=True)
        t.close(span)
        edges.unpersist()
        raw.unpersist()
        self.n_edges = t.call("graph.count", g.edges.count)
        t.call("graph.adjacency", lambda: g.adjacency("out").count())
        t.call("graph.degrees", lambda: _materialize(g.out_degrees()))
        gu = g.undirected()
        gu.edges = t.call("graph.undirected", lambda: _materialize(gu.edges))
        self.g, self.gu = g, gu

    def run(self, name: str, ckpt_dir: str, rounds: int | None = None):
        """One call: ``(result, files or None, extra facts)``, materialized."""
        from graphscope_spark.operators.cdlp import cdlp
        from graphscope_spark.operators.pagerank import pagerank
        from graphscope_spark.operators.triangles import triangles
        from graphscope_spark.operators.wcc import wcc

        if name == "mine":
            edges, files = self.extract()
            if files is not None:
                files = _materialize(files)
            return _materialize(edges), files, {}
        st: dict = {}
        if name == "pagerank":
            r = pagerank(self.g, alpha=0.85, max_iter=rounds or PR_ROUNDS, tol=0.0, stats=st)
            return _materialize(r), None, {"supersteps": st["rounds"]}
        if name == "pagerank_conv":
            ck = spanned_checkpoint(self.tr, ckpt_dir)
            r = _materialize(pagerank(self.g, alpha=0.85, max_iter=rounds or 100, tol=PR_TOL,
                                      checkpoint=ck, stats=st))
            return r, None, {"supersteps": st["rounds"], "commits": ck.commits,
                             "ckpt_mb": _dir_mb(ck.base)}
        if name == "wcc":
            return _materialize(wcc(self.g, max_iter=rounds or 200)), None, {}
        if name == "cdlp":
            return _materialize(cdlp(self.gu, max_round=rounds or CDLP_ROUNDS)), None, {}
        if name == "triangles":
            return _materialize(triangles(self.g)), None, {}
        raise ValueError(name)


# ------------------------------------------------------------ checks
def _collect(wl: Workload, df):
    return wl.tr.call("bench.check", df.toPandas)


def expected_results(wl: Workload, key: str, cores: int) -> dict:
    """Oracle results for this input, from the cache when present."""
    import duckdb
    import numpy as np

    import oracle

    vmap_digest = None
    if wl.kind == "mined":
        pdf = _collect(wl, wl.vmap)
        vmap = dict(zip(pdf["oid"], pdf["id"].astype("int64")))
        vmap_digest = oracle.digest(f"{k}\t{v}" for k, v in vmap.items())
    cache = os.path.join(WORK, "oracle", key + ".npz")
    exp = oracle.load_cache(cache)
    if exp is not None and (vmap_digest is None or str(exp["vmap"]) == vmap_digest):
        return exp
    con = duckdb.connect()
    con.execute(f"SET threads = {cores}")
    if wl.kind == "coorder":
        v, src, dst = oracle.coorder_graph(con, wl.path)
        sources = {"mine": np.array(oracle.edge_digest(src, dst))}
        tol = 0.0
    else:
        s_rep, d_rep, shas = oracle.mined_edges(con, wl.path)
        if set(vmap) != set(s_rep) | set(d_rep) or len(set(vmap.values())) != len(vmap):
            raise RuntimeError("vertex dictionary is not a bijection onto the mined repos")
        v = np.array(sorted(vmap.values()), dtype=np.int64)
        src = np.array([vmap[r] for r in s_rep], dtype=np.int64)
        dst = np.array([vmap[r] for r in d_rep], dtype=np.int64)
        sources = {"mine": np.array(oracle.digest(f"{a}\t{b}" for a, b in zip(s_rep, d_rep))),
                   "mine.files": np.array(oracle.digest(shas)), "vmap": np.array(vmap_digest)}
        tol = PR_TOL
    con.close()
    exp = {**oracle.graph_apps(v, src, dst, cores, tol), **sources}
    oracle.save_cache(cache, exp)
    return exp


def check(wl: Workload, name: str, result, files, extra: dict, exp: dict) -> str | None:
    """``None`` when the result matches the oracle, else the reason."""
    import numpy as np

    import oracle

    pdf = _collect(wl, result)
    if name == "mine":
        extra["edges"] = len(pdf)
        if wl.kind == "coorder":
            extra["files"] = 0
            got = oracle.edge_digest(pdf["src"].to_numpy(), pdf["dst"].to_numpy())
        else:
            shas = _collect(wl, files.select("sha256"))["sha256"]
            extra["files"] = len(shas)
            if oracle.digest(shas) != str(exp["mine.files"]):
                return "file sha256 differs"
            got = oracle.digest(f"{a}\t{b}" for a, b in zip(pdf["src_repo"], pdf["dst_repo"]))
        return None if got == str(exp["mine"]) else "edge table differs"
    col = {"pagerank": "rank", "pagerank_conv": "rank", "wcc": "comp", "cdlp": "label",
           "triangles": "tricnt"}[name]
    pdf = pdf.sort_values("id")
    if not np.array_equal(pdf["id"].to_numpy(), exp["ids"]):
        return "vertex set differs"
    got, want = pdf[col].to_numpy(), exp[name]
    if name.startswith("pagerank"):
        want_steps = int(exp[f"{name}.supersteps"])
        if extra["supersteps"] != want_steps:
            return f"{extra['supersteps']} supersteps, oracle {want_steps}"
        bad = ~np.isclose(got, want, rtol=1e-6, atol=1e-12)
    else:
        bad = got.astype(np.int64) != want.astype(np.int64)
    return f"{int(bad.sum())} vertices differ" if bad.any() else None


# ------------------------------------------------------------ the run
def summarize(xs: list[float]) -> dict:
    """Median plus the highest percentile the sample supports: the one
    with at least ten samples above it, else the maximum."""
    xs = sorted(xs)
    n = len(xs)
    out = {"n": n, "median": statistics.median(xs)}
    if n >= 20:
        p = int(100 * (1 - 10 / n))
        out[f"p{p}"] = xs[int(n * p / 100)]
    else:
        out["max"] = xs[-1]
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, scale: str) -> dict:
    kind, rotation, traced_calls, _ = WORKLOADS[workload]
    apps = tuple(dict.fromkeys(rotation))  # the calls apps_s adds up
    if trace:
        rotation += traced_calls
    key = input_key(workload, scale, seed)
    facts = host_facts()
    cores = facts["nproc"]
    path = write_input(workload, scale, seed)
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    ev_dir = os.path.join(run_dir, "eventlog") if trace else None
    shutil.rmtree(run_dir, ignore_errors=True)
    if ev_dir:
        os.makedirs(ev_dir)

    t0 = time.time()
    spark = start_session(f"perfbench-{workload}", cores, driver_mem_gb(facts["mem_total_mb"]),
                          ev_dir)
    session_s = time.time() - t0
    sc = spark.sparkContext
    facts.update(spark=spark.version, java=sc._jvm.System.getProperty("java.version"),
                 driver_mem_gb=driver_mem_gb(facts["mem_total_mb"]))
    jvm_pid = sc._gateway.proc.pid
    tr = Tracer(sc)
    wl = Workload(spark, tr, kind, path, cores)

    span = tr.open("build")
    wl.build()
    tr.close(span)
    build_s = span.wall
    # before the warm-up, so that the warm JVM goes straight to the timed calls
    exp = expected_results(wl, key, cores)
    span = tr.open("warmup")
    # every call once, the graph apps shortened to one round, then mine and
    # two full PageRanks: the first full-length calls of a session ran up
    # to 40% slower, and PageRank's timings flatten only from the third on
    warm = [(c, 1) for c in dict.fromkeys(rotation) if c not in ("mine", "pagerank")]
    for name, rounds in warm + [("mine", None), ("pagerank", None), ("pagerank", None)]:
        out, files, _ = wl.run(name, os.path.join(run_dir, "warmup"), rounds=rounds)
        for df in (out, files):
            if df is not None:
                df.unpersist()
        shutil.rmtree(os.path.join(run_dir, "warmup"), ignore_errors=True)
    tr.close(span)
    warmup_s = span.wall
    log(f"session {session_s:.1f}s, build {build_s:.1f}s, warm-up {warmup_s:.1f}s")

    timed: dict[str, list[Span]] = {c: [] for c in rotation}
    failures: list[str] = []
    cpu0 = cpu_times()
    t_loop = time.time()
    while not timed[rotation[-1]] or time.time() - t_loop < seconds:
        for name in rotation:
            ckpt = os.path.join(run_dir, f"ckpt-{name}-{len(timed[name])}")
            span = tr.open(name)
            try:
                out, files, span.extra = wl.run(name, ckpt)
            finally:
                tr.close(span)
            timed[name].append(span)
            why = check(wl, name, out, files, span.extra, exp)
            log(f"{name}: {span.wall:.2f}s {why or 'ok'}")
            if why:
                failures.append(f"{name}: {why}")
            for df in (out, files):
                if df is not None:
                    df.unpersist()
            shutil.rmtree(ckpt, ignore_errors=True)
    loop_s = time.time() - t_loop
    # CPU time the hypervisor gave other tenants: the timed calls slow
    # down by several times this share
    cpu = [b - a for a, b in zip(cpu0, cpu_times())]
    steal_frac = cpu[7] / max(1, sum(cpu))
    peak_rss = jvm_peak_rss_mb(jvm_pid)
    cached_mb = sum(i.memSize() + i.diskSize()
                    for i in sc._jsc.sc().getRDDStorageInfo()) / 2**20
    stop_session(spark)

    med = {c: statistics.median(s.wall for s in timed[c]) for c in apps}
    steps = statistics.median(s.extra["supersteps"] for s in timed["pagerank"])
    attempted = sum(len(v) for v in timed.values())
    e2e = dict(
        setup_s=session_s + build_s + warmup_s,
        pagerank_s=med["pagerank"],
        apps_s=sum(med.values()),
        pagerank_eps=wl.n_edges * steps / med["pagerank"],
        peak_rss_mb=peak_rss,
        ok_frac=1.0 - len(failures) / attempted,
    )
    detail = {
        "workload": workload, "seed": seed, "scale": scale, "trace": trace, "host": facts,
        "edges": wl.n_edges, "loop_s": loop_s, "steal_frac": steal_frac, "failures": failures,
        "samples": {c: summarize([s.wall for s in timed[c]]) for c in timed},
        "build_s": build_s, "session_start_s": session_s, "warmup_s": warmup_s,
        "graph_cached_mb": cached_mb,
    }
    result = {"attempted": attempted, "e2e": e2e, "detail": detail}
    if trace:
        import eventlog

        log_ = eventlog.parse(eventlog.find_log(ev_dir))
        result["layers"] = layers(log_, tr, timed, wl, cores, session_s, warmup_s, cached_mb)
        if result["layers"]["trace.unattributed_jobs"]:
            failures.append("trace: Spark jobs outside every wrapped call")
    result["failed"] = len(failures)
    shutil.rmtree(run_dir, ignore_errors=True)
    return result


def layers(log_, tr: Tracer, timed: dict, wl: Workload, cores: int, session_s: float,
           warmup_s: float, cached_mb: float) -> dict:
    import eventlog

    def split(span: Span) -> dict:
        return eventlog.call_layers(log_, span.id, span.t0 * 1e3, span.t1 * 1e3, cores)

    def med(xs) -> float:
        xs = list(xs)  # empty for a call outside the workload's rotation: reads 0
        return statistics.median(xs) if xs else 0.0

    def children(parent: Span, name: str) -> list[Span]:
        return [s for s in tr.spans if s.id.startswith(f"{parent.id}/{name}#")]

    timed = {c: timed.get(c, []) for c in CALLS}
    out: dict[str, float] = {f"{c}.wall_s": med(s.wall for s in timed[c]) for c in CALLS}
    per = {c: [split(s) for s in timed[c]] for c in CALLS}
    app_keys = ("driver_s", "jobs", "stages", "tasks", "aqe_updates", "executor_cpu_s",
                "executor_run_s", "gc_s", "busy_frac", "task_skew", "agg_build_s",
                "shuffle_write_mb", "shuffle_records")
    for app in ("pagerank", "wcc", "cdlp", "triangles"):
        cuts = ("lineage_cuts", "lineage_cut_s") if app != "triangles" else ()
        for k in app_keys + cuts:
            out[f"{app}.{k}"] = med(d[k] for d in per[app])
    for k in ("driver_s", "jobs", "executor_cpu_s", "shuffle_write_mb"):
        out[f"mine.{k}"] = med(d[k] for d in per["mine"])
    for k in ("driver_s", "jobs"):
        out[f"pagerank_conv.{k}"] = med(d[k] for d in per["pagerank_conv"])

    pr = timed["pagerank"]
    steps = med(s.extra["supersteps"] for s in pr)
    out["pagerank.supersteps"] = steps
    out["pagerank.jobs_per_superstep"] = out["pagerank.jobs"] / steps
    out["pagerank.msgs_per_edge"] = out["pagerank.shuffle_records"] / (wl.n_edges * steps)
    conv = timed["pagerank_conv"]
    out["pagerank_conv.supersteps"] = med(s.extra["supersteps"] for s in conv)
    commits = [children(s, "checkpoint") for s in conv]
    out["checkpoint.commits"] = med(s.extra["commits"] for s in conv)
    out["checkpoint.write_jobs"] = med(sum(split(c)["jobs"] for c in cs) for cs in commits)
    out["checkpoint.write_s"] = med(sum((c.wall for c in cs), 0.0) for cs in commits)
    out["checkpoint.write_mb"] = med(s.extra["ckpt_mb"] for s in conv)

    build = next(s for s in tr.spans if s.id.startswith("build#") and "/" not in s.id)

    def build_part(name: str, fn=lambda s: s.wall) -> float:
        return fn(*children(build, name))

    out["sources.load_s"] = build_part("sources.load")
    out["sources.mine.executor_cpu_s"] = out["mine.executor_cpu_s"]
    out["sources.mine.python_mb"] = med(d["python_mb"] for d in per["mine"])
    out["sources.mine.files"] = med(s.extra["files"] for s in timed["mine"])
    out["sources.mine.edges"] = med(s.extra["edges"] for s in timed["mine"])
    for part in ("dictionary", "adjacency", "degrees", "undirected"):
        out[f"graph.{part}_s"] = build_part(f"graph.{part}")
    out["graph.adjacency.shuffle_write_mb"] = build_part(
        "graph.adjacency", lambda s: split(s)["shuffle_write_mb"])
    out["graph.cached_mb"] = cached_mb
    out["session.start_s"] = session_s
    out["session.warmup_s"] = warmup_s
    out["trace.unattributed_jobs"] = eventlog.unattributed_jobs(log_)
    return out


def unit_of(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_eps", "1/s"), ("_frac", "frac"),
                         ("_skew", "ratio"), ("per_superstep", "ratio"), ("per_edge", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def untraced_apps_s(workload: str, seed: int, seconds: float, scale: str) -> float:
    """``apps_s`` of an untraced child run of the same workload and seed."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed",
           str(seed), "--seconds", str(seconds), "--trace", "0", "--scale", scale]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=170)
    if p.returncode:
        raise RuntimeError("untraced reference run failed")
    return json.loads(p.stdout.splitlines()[-1])["metrics"]["apps_s"]["value"]


def _write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(path + ".tmp", path)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "tiny"), default="bench",
                    help="input size; 'tiny' is the self-test size")
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    try:
        import graphscope_spark  # the program under test, from this checkout
    except ImportError as e:
        log(f"cannot import the program from {ROOT}: {e}")
        return 2
    if os.path.dirname(os.path.abspath(graphscope_spark.__file__)) != os.path.join(
            ROOT, "graphscope_spark"):
        log(f"graphscope_spark is not the one in {ROOT}")
        return 2
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")

    ref = untraced_apps_s(args.workload, args.seed, args.seconds, args.scale) \
        if args.trace else None
    res = run(args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    key = input_key(args.workload, args.scale, args.seed)
    if args.trace:
        metrics = res["layers"]
        metrics["trace.overhead_frac"] = res["e2e"]["apps_s"] / ref - 1.0
    else:
        metrics = res["e2e"]
    detail = {**res["detail"], "metrics": metrics}
    _write_json(os.path.join(WORK, "results", f"{key}-trace{args.trace}.json"), detail)
    print(json.dumps(detail), flush=True)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
