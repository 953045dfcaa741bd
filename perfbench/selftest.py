"""Tiny-size self-test of the pages benchmark (checks no timing values).

    python3 perfbench/selftest.py

Runs every workload untraced and traced on a few thousand rows and
checks that:

- the last stdout line has exactly the keys correct/attempted/failed/
  metrics, the oracle passed and no operation failed;
- every metric named in BENCHMARK.json is printed with its unit, and
  the end-to-end metrics are all positive;
- the per-layer metrics of the layers each workload runs are positive;
- BENCHMARK.json, ``perfbench/run.py`` and ``perfbench/workloads.py``
  name the same metrics and workloads;
- in a directory holding only BENCHMARK.json and ``perfbench/`` the
  benchmark exits non-zero without printing a result.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ROWS = 2_000

# per-layer metrics that must be positive on each workload; the rest
# may legitimately be 0 (no spill, no Python UDF) or be a difference of
# two timings
_POSITIVE_ALL = ["spark.jobs", "spark.tasks", "spark.executor_run_s",
                 "scan.bytes", "write.files", "write.bytes", "parse.ok_share",
                 "route.rows.sink_default", "plan.codegen_stages",
                 "session.start_s", "session.warmup_s", "scan.s",
                 "ckpt.scan_passes", "wall.docs_per_s", "wall.resume_s",
                 "wall.drain_p50_s", "wall.drain_p75_s"]
POSITIVE = {
    "pages_batch": _POSITIVE_ALL + ["aggregate.rows_out", "aggregate.s"],
    "pages_resume": _POSITIVE_ALL + ["ckpt.groups", "ckpt.groups_skipped",
                                     "ckpt.group_s_p50", "stream.trigger_ms",
                                     "stream.add_batch_ms", "stream.rows_per_drain"],
}


def run(cwd: str, workload: str, trace: int) -> tuple[int, list[str]]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--rows", str(ROWS)]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def check_result(lines: list[str], spec: list[dict], positive: list[str]) -> list[str]:
    errors = []
    res = json.loads(lines[-1])
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        errors.append(f"result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0 or res.get("attempted", 0) < 1:
        errors.append(f"oracle: correct={res.get('correct')} failed={res.get('failed')} "
                      f"attempted={res.get('attempted')}")
    metrics = res.get("metrics", {})
    if sorted(metrics) != sorted(m["name"] for m in spec):
        errors.append(f"metric names differ: {sorted(set(metrics) ^ {m['name'] for m in spec})}")
    for m in spec:
        got = metrics.get(m["name"])
        if got is None:
            continue
        if got["unit"] != m["unit"]:
            errors.append(f"{m['name']}: unit {got['unit']} != {m['unit']}")
        if not math.isfinite(got["value"]):
            errors.append(f"{m['name']}: value {got['value']}")
        if m["name"] in positive and not got["value"] > 0:
            errors.append(f"{m['name']}: value {got['value']} is not positive")
    return errors


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.run import E2E, PER_LAYER
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures = []
    for key, names in (("end_to_end", E2E), ("per_layer", PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in bench[key]}
        if declared != names:
            failures.append(f"BENCHMARK.json {key} differs from run.py")

    if sorted(WORKLOADS) != sorted(w["name"] for w in bench["workloads"]):
        failures.append("BENCHMARK.json workloads differ from workloads.py")
    for w in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, lines = run(ROOT, w, trace)
            if code != 0 or not lines:
                failures.append(f"{w} trace={trace}: exit {code}")
                continue
            positive = ([m["name"] for m in bench[key]] if trace == 0 else POSITIVE[w])
            failures += [f"{w} trace={trace}: {e}"
                         for e in check_result(lines, bench[key], positive)]
            print(f"{w} trace={trace}: checked", flush=True)

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = run(bare, "pages_batch", 0)
        if code == 0 or any(line.startswith("{") for line in lines):
            failures.append(f"bare directory: exit {code}, stdout {lines}")
    finally:
        shutil.rmtree(bare)

    for f in failures:
        print("FAIL", f)
    print("selftest:", "ok" if not failures else f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
