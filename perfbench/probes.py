"""Measurement probes that sit outside the engine package.

- host facts: ``nproc``, load average, CPU steal share from /proc/stat;
- peak RSS of every process this one started (the JVM and its Python
  workers), from ``VmHWM`` in /proc/<pid>/status;
- in-memory spans around the public calls into each layer;
- a digest of Spark's JSON event log (jobs, tasks, shuffle, GC, skew
  and the executed plan of each SQL execution);
- a ``StreamingQueryListener`` that keeps each micro-batch's
  ``durationMs`` breakdown.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time


# --------------------------------------------------------------------- host

def cpu_times() -> list[int]:
    """Aggregate jiffies: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(start: list[int], end: list[int]) -> float:
    delta = [b - a for a, b in zip(start, end)]
    total = sum(delta)
    return delta[7] / total if total else 0.0


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # the command name may hold spaces; fields resume after ')'
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def descendants(root: int) -> list[int]:
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            pp = _ppid(int(name))
            if pp is not None:
                parent[int(name)] = pp
    out, frontier = [], {root}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier}
        out.extend(frontier)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant (the Spark JVM and its Python workers), including
    children they have reaped. Time the host steals from the VM is not
    counted."""
    own = os.times()
    total = own.user + own.system + own.children_user + own.children_system
    tick = os.sysconf("SC_CLK_TCK")
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime stime cutime cstime are fields 14-17 of the stat line
        total += sum(int(x) for x in fields[11:15]) / tick
    return total


def jit_threads_cpu() -> dict[tuple[int, int], float]:
    """CPU seconds of each live JIT compiler thread of the descendants,
    by (pid, tid)."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for pid in descendants(os.getpid()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if "Compiler" not in f.read():
                        continue
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            out[(pid, int(tid))] = (int(fields[11]) + int(fields[12])) / tick
    return out


def work_cpu_mark() -> tuple[float, dict]:
    return tree_cpu_s(), jit_threads_cpu()


def work_cpu_since(mark: tuple[float, dict]) -> float:
    """CPU seconds of the process tree since ``mark``, less those of the
    JVM's JIT compiler threads. Compiling takes about half the CPU of
    the first operations after start-up and little once the hot code is
    compiled; how much of it lands in a given operation varies from run
    to run. The JVM runs with a fixed set of compiler threads
    (``-XX:-UseDynamicNumberOfCompilerThreads``), so none exits in
    between and takes its CPU time out of the count."""
    cpu0, jit0 = mark
    jit = sum(v - jit0.get(k, 0.0) for k, v in jit_threads_cpu().items())
    return tree_cpu_s() - cpu0 - jit


def peak_rss_mb() -> float:
    """Sum of VmHWM over every descendant of this process (the Spark
    JVM and the Python workers it forks). Summing per-process peaks is
    an upper bound on the simultaneous peak."""
    kb = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


# -------------------------------------------------------------------- spans

class Tracer:
    """Spans kept in memory; ``dump`` writes them when the run ends.

    A disabled tracer records nothing, so untraced runs pay only the
    cost of entering a null context.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


# ------------------------------------------------------------ streaming

def progress_listener():
    """A StreamingQueryListener that keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append({"id": str(p.id), "batch": p.batchId,
                                  "rows": p.numInputRows,
                                  "duration_ms": dict(p.durationMs)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()


# ------------------------------------------------------------ event log

_SQL = "org.apache.spark.sql.execution.ui."
_UDF_MARKERS = ("Python", "Pandas", "InArrow", "ArrowEval")


def read_event_log(directory: str) -> list[dict]:
    events = []
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name)) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _plan_nodes(info: dict):
    yield info["nodeName"]
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def plan_shape(plan_info: dict) -> dict[str, int]:
    names = list(_plan_nodes(plan_info))
    return {
        "exchanges": sum(n.endswith("Exchange") and not n.startswith("Reused")
                         for n in names),
        "python_udf_nodes": sum(any(m in n for m in _UDF_MARKERS)
                                for n in names),
        "codegen_stages": sum(n.startswith("WholeStageCodegen") for n in names),
    }


def digest_events(events: list[dict], t0_ms: float, t1_ms: float) -> dict:
    """Totals for the jobs submitted in [t0_ms, t1_ms], plus the plan
    shape of the longest SQL execution that started in that window."""
    stage_in_window: set[int] = set()
    jobs = 0
    sql: dict[int, dict] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            if t0_ms <= e["Submission Time"] <= t1_ms:
                jobs += 1
                stage_in_window.update(e["Stage IDs"])
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            sql[e["executionId"]] = {"start": e["time"], "end": None,
                                     "plan": e["sparkPlanInfo"]}
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            if e["executionId"] in sql:
                sql[e["executionId"]]["plan"] = e["sparkPlanInfo"]
        elif kind == _SQL + "SparkListenerSQLExecutionEnd":
            if e["executionId"] in sql:
                sql[e["executionId"]]["end"] = e["time"]

    tot = dict.fromkeys(
        ["tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_write", "shuffle_read",
         "spill", "input_bytes", "records_written"], 0)
    stage_tasks: dict[int, list[int]] = {}
    scan_stages: set[int] = set()
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or e["Stage ID"] not in stage_in_window:
            continue
        m = e.get("Task Metrics") or {}
        info = e["Task Info"]
        tot["tasks"] += 1
        tot["run_ms"] += m.get("Executor Run Time", 0)
        tot["cpu_ns"] += m.get("Executor CPU Time", 0)
        tot["gc_ms"] += m.get("JVM GC Time", 0)
        tot["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        tot["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        tot["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        inp = m.get("Input Metrics") or {}
        tot["input_bytes"] += inp.get("Bytes Read", 0)
        if inp.get("Records Read", 0) > 0:
            scan_stages.add(e["Stage ID"])
        tot["records_written"] += (m.get("Output Metrics") or {}).get("Records Written", 0)
        stage_tasks.setdefault(e["Stage ID"], []).append(
            info["Finish Time"] - info["Launch Time"])

    skews = [max(d) / max(statistics.median(d), 1.0)
             for d in stage_tasks.values() if len(d) >= 2]
    in_window = [x for x in sql.values()
                 if t0_ms <= x["start"] <= t1_ms and x["end"] is not None]
    main = max(in_window, key=lambda x: x["end"] - x["start"], default=None)
    return {
        "jobs": jobs,
        **tot,
        "scan_stages": len(scan_stages),
        "task_skew": statistics.median(skews) if skews else 1.0,
        "plan": plan_shape(main["plan"]) if main else
        {"exchanges": 0, "python_udf_nodes": 0, "codegen_stages": 0},
    }
