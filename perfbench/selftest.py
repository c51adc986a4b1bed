"""Self-test of the benchmark harness at tiny input sizes.

    python3 perfbench/selftest.py

For every workload in ``BENCHMARK.json`` it runs ``run.py --scale tiny``
untraced and then traced, through the real harness path (seeded input,
DuckDB oracle, event-log parse, job-group attribution), and checks the
result line against ``BENCHMARK.json``: the exact keys, ``correct``,
every metric name and unit, and ``trace.unattributed_jobs == 0``.  It
also checks that ``run.py`` fails without printing a result when the
program it measures is absent.  Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7


def fail(msg: str) -> None:
    print(f"selftest: FAIL {msg}", file=sys.stderr)
    sys.exit(1)


def run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result(line: str, expected: dict[str, str], label: str) -> dict:
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"{label}: result keys {sorted(res)}")
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        fail(f"{label}: correct={res['correct']} failed={res['failed']}")
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != expected:
        fail(f"{label}: metrics differ from BENCHMARK.json: "
             f"missing {sorted(set(expected) - set(got))}, extra {sorted(set(got) - set(expected))}, "
             f"units {[(k, got[k], expected[k]) for k in got if k in expected and got[k] != expected[k]]}")
    return res


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for w in bench["workloads"]:
        for trace, expected in (("0", e2e), ("1", layer)):
            label = f"{w['name']} trace={trace}"
            p = run(["--workload", w["name"], "--seed", str(SEED), "--seconds", "1",
                     "--trace", trace, "--scale", "tiny"])
            if p.returncode:
                fail(f"{label}: exit {p.returncode}\n{p.stderr[-3000:]}")
            res = check_result(p.stdout.strip().splitlines()[-1], expected, label)
            if trace == "1" and res["metrics"]["trace.unattributed_jobs"]["value"] != 0:
                fail(f"{label}: unattributed Spark jobs")
            print(f"selftest: ok {label}: {res['attempted']} calls checked", flush=True)

    # without the program beside it, run.py must fail and print no result
    bare = os.path.join(HERE, ".work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(os.path.join(bare, "perfbench"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            shutil.copy(os.path.join(HERE, f), os.path.join(bare, "perfbench"))
    p = run(["--workload", bench["workloads"][0]["name"], "--seed", "1", "--seconds", "1"],
            cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        fail("run.py did not fail without the program")
    print("selftest: ok bare checkout fails without a result")


if __name__ == "__main__":
    main()
