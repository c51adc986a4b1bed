"""Per-layer numbers from Spark's own event log, standard library only.

The benchmark wraps every call it times in a Spark job group named
``<call>#<n>`` (sub-spans as ``<call>#<n>/<part>``).  Spark copies the
group into the properties of every job and stage it launches for that
thread, including the adaptive-execution stages it submits from helper
threads, so each job, stage and task is attributed to exactly one
wrapped call.  A job without a group is *unattributed*.

The log must be written uncompressed and unrolled
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``);
the SQL plan events dominate its size and are only scanned for their
execution id, never decoded.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

_EXEC_ID = re.compile(r'"executionId":(\d+)')
_AQE_UPDATE = '"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"'
# event-log timestamps and the benchmark's clock may disagree by a few ms
SLACK_MS = 20.0

# SQL metrics (task accumulables, milliseconds or bytes) kept per stage
SQL_METRICS = {
    "time in aggregation build": "agg_build_ms",
    "data sent to Python workers": "python_bytes",
}


@dataclass
class Stage:
    group: str | None = None
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_bytes: float = 0.0
    shuffle_records: float = 0.0
    task_ms: list = field(default_factory=list)
    sql: dict = field(default_factory=lambda: defaultdict(float))


@dataclass
class Job:
    group: str | None
    start_ms: int
    end_ms: int = 0
    result_stage_name: str = ""
    exec_id: int | None = None


@dataclass
class EventLog:
    jobs: dict
    stages: dict
    aqe_updates: dict  # SQL execution id -> adaptive re-plans


def find_log(log_dir: str) -> str:
    """The single finished application log in ``log_dir``."""
    logs = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {logs}")
    return os.path.join(log_dir, logs[0])


def parse(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = defaultdict(Stage)
    aqe: dict[int, int] = defaultdict(int)
    with open(path, encoding="utf-8") as f:
        for line in f:
            head = line[:160]
            if _AQE_UPDATE in head:
                m = _EXEC_ID.search(head)
                if m:
                    aqe[int(m.group(1))] += 1
                continue
            if not head.startswith('{"Event":"SparkListener'):
                continue
            kind = head[10:head.index('"', 10)]
            if kind == "SparkListenerTaskEnd":
                _task_end(stages, json.loads(line))
            elif kind == "SparkListenerStageSubmitted":
                ev = json.loads(line)
                stages[ev["Stage Info"]["Stage ID"]].group = (
                    ev.get("Properties") or {}).get("spark.jobGroup.id")
            elif kind == "SparkListenerJobStart":
                ev = json.loads(line)
                props = ev.get("Properties") or {}
                infos = ev.get("Stage Infos") or []
                last = max(infos, key=lambda s: s["Stage ID"]) if infos else {}
                eid = props.get("spark.sql.execution.id")
                jobs[ev["Job ID"]] = Job(
                    group=props.get("spark.jobGroup.id"),
                    start_ms=ev["Submission Time"],
                    result_stage_name=last.get("Stage Name", ""),
                    exec_id=int(eid) if eid is not None else None,
                )
            elif kind == "SparkListenerJobEnd":
                ev = json.loads(line)
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
    return EventLog(jobs=jobs, stages=dict(stages), aqe_updates=dict(aqe))


def _task_end(stages: dict, ev: dict) -> None:
    info, tm = ev["Task Info"], ev.get("Task Metrics")
    st = stages[ev["Stage ID"]]
    st.tasks += 1
    st.task_ms.append(info["Finish Time"] - info["Launch Time"])
    if not tm:
        return
    st.run_ms += tm["Executor Run Time"]
    st.cpu_ns += tm["Executor CPU Time"]
    st.gc_ms += tm["JVM GC Time"]
    sw = tm.get("Shuffle Write Metrics") or {}
    st.shuffle_bytes += sw.get("Shuffle Bytes Written", 0)
    st.shuffle_records += sw.get("Shuffle Records Written", 0)
    for acc in info.get("Accumulables") or []:
        key = SQL_METRICS.get(acc.get("Name"))
        if key is not None and acc.get("Update") is not None:
            st.sql[key] += float(acc["Update"])


def union_ms(spans) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def in_span(group: str | None, span_id: str) -> bool:
    return group is not None and (group == span_id or group.startswith(span_id + "/"))


def call_layers(log: EventLog, span_id: str, t0_ms: float, t1_ms: float, cores: int) -> dict:
    """Layer split of one wrapped call: its jobs, stages and tasks.

    Raises ``ValueError`` when a job of the call lies outside the
    call's own wall-clock window, because then ``driver_s`` plus the
    union of job spans would not add up to the call's wall time."""
    jobs = [j for j in log.jobs.values() if in_span(j.group, span_id)]
    for j in jobs:
        if j.start_ms < t0_ms - SLACK_MS or j.end_ms > t1_ms + SLACK_MS:
            raise ValueError(
                f"{span_id}: job span [{j.start_ms}, {j.end_ms}] outside call "
                f"window [{t0_ms:.0f}, {t1_ms:.0f}]"
            )
    spans = [(max(j.start_ms, t0_ms), min(j.end_ms, t1_ms)) for j in jobs]
    wall_ms = t1_ms - t0_ms
    jobs_ms = union_ms(spans)
    stages = [s for s in log.stages.values() if in_span(s.group, span_id)]
    cuts = [j for j in jobs if j.result_stage_name.startswith("localCheckpoint")]
    exec_ids = {j.exec_id for j in jobs if j.exec_id is not None}
    run_ms = sum(s.run_ms for s in stages)
    skew_num = skew_den = 0.0
    for s in stages:
        if len(s.task_ms) >= 2 and s.run_ms > 0:
            med = statistics.median(s.task_ms)
            skew_num += max(s.task_ms) / max(med, 1.0) * s.run_ms
            skew_den += s.run_ms
    return {
        "driver_s": (wall_ms - jobs_ms) / 1e3,
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s.tasks for s in stages),
        "aqe_updates": sum(log.aqe_updates.get(e, 0) for e in exec_ids),
        "lineage_cuts": len(cuts),
        "lineage_cut_s": union_ms([(j.start_ms, j.end_ms) for j in cuts]) / 1e3,
        "executor_run_s": run_ms / 1e3,
        "executor_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
        "gc_s": sum(s.gc_ms for s in stages) / 1e3,
        "busy_frac": run_ms / max(wall_ms * cores, 1.0),
        "task_skew": skew_num / skew_den if skew_den else 1.0,
        "agg_build_s": sum(s.sql["agg_build_ms"] for s in stages) / 1e3,
        "python_mb": sum(s.sql["python_bytes"] for s in stages) / 2**20,
        "shuffle_write_mb": sum(s.shuffle_bytes for s in stages) / 2**20,
        "shuffle_records": sum(s.shuffle_records for s in stages),
    }


def unattributed_jobs(log: EventLog) -> int:
    return sum(1 for j in log.jobs.values() if j.group is None)
