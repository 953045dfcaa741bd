"""Run one workload of the pages benchmark and print its metrics.

    python3 perfbench/run.py --workload pages_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The input is generated from the seed
with ``datagen.write_pages`` (cached under ``.perfbench_work/cache`` by
seed and size), the Spark session runs on ``local[<nproc>]`` and every
operation's output is checked against the DuckDB oracle in
``perfbench/oracle.py``.

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` measures the per-layer metrics: after unmeasured warm-up
operations, the layer-prefix decomposition, then half a run's operations
untraced, then as many again with spans, the Spark event log and a
streaming listener on. The last stdout line is the
result JSON; the line before it is the host record.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "opentelemetry_collector_contrib_spark"
WORK = os.path.join(ROOT, ".perfbench_work")

ROWS = 50_000
PARTS = 20  # input part files of the batch runs and checkpointed pairs
INCREMENTS = 100  # the same pages re-chunked into streaming increments
SETUPS = 3
CACHE_KEEP = 6  # cached inputs, one per (seed, rows)
# A fixed 1 GB heap (-Xms = -Xmx), smaller than the package's 8 GB
# default to keep the host's memory use small. A growing heap made peak
# RSS depend on when G1 expanded it (over five runs on a 4-core VM, a
# spread of 0.19 of the median, against 0.02-0.04 fixed) and slowed the
# first operations.
# With the heap fixed, peak RSS does not track heap use; heap pressure
# shows in spark.gc_s.
DRIVER_MEMORY = "1g"

E2E = {"setup_s": "s", "docs_per_cpu_s": "1/s", "resume_cpu_s": "s",
       "drain_cpu_p50_s": "s", "drain_cpu_p75_s": "s", "peak_rss_mb": "MB"}

PER_LAYER = {
    "scan.s": "s", "parse.s": "s", "enrich.s": "s", "route.s": "s",
    "write.s": "s", "aggregate.s": "s", "counters.residual_s": "s",
    "parse.ok_share": "ratio", "enrich.host_hit_share": "ratio",
    "scan.bytes": "bytes", "write.files": "count", "write.bytes": "bytes",
    "route.rows.sink_errors": "count", "route.rows.sink_en_get": "count",
    "route.rows.sink_api": "count", "route.rows.sink_default": "count",
    "aggregate.rows_out": "count",
    "ckpt.scan_passes": "count", "ckpt.groups": "count",
    "ckpt.groups_skipped": "count", "ckpt.group_s_p50": "s",
    "ckpt.rows_redone": "count",
    "stream.latest_offset_ms": "ms", "stream.query_planning_ms": "ms",
    "stream.add_batch_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms", "stream.trigger_ms": "ms",
    "stream.rows_per_drain": "count",
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.task_skew": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "plan.exchanges": "count", "plan.python_udf_nodes": "count",
    "plan.codegen_stages": "count",
    "session.start_s": "s", "session.warmup_s": "s",
    "trace.overhead_share": "ratio", "trace.layer_sum_share": "ratio",
    "wall.docs_per_s": "1/s", "wall.resume_s": "s",
    "wall.drain_p50_s": "s", "wall.drain_p75_s": "s",
}

_STREAM_KEYS = {"stream.latest_offset_ms": "latestOffset",
                "stream.query_planning_ms": "queryPlanning",
                "stream.add_batch_ms": "addBatch",
                "stream.wal_commit_ms": "walCommit",
                "stream.commit_offsets_ms": "commitOffsets",
                "stream.trigger_ms": "triggerExecution"}


def load_api() -> SimpleNamespace:
    from opentelemetry_collector_contrib_spark import datagen, session
    from opentelemetry_collector_contrib_spark.plans import checkpoint, pipeline
    from opentelemetry_collector_contrib_spark.streaming import stream
    return SimpleNamespace(
        get_spark=session.get_spark, write_pages=datagen.write_pages,
        gen_host_meta=datagen.gen_host_meta, gen_lang_family=datagen.gen_lang_family,
        parse_pages=pipeline.parse_pages, enrich_pages=pipeline.enrich_pages,
        route_pages=pipeline.route_pages, sink_rows=pipeline.sink_rows,
        aggregate_pages=pipeline.aggregate_pages, run_pipeline=pipeline.run_pipeline,
        run_pipeline_checkpointed=checkpoint.run_pipeline_checkpointed,
        stream_pages_pipeline=stream.stream_pages_pipeline)


# ------------------------------------------------------------------- input

def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _cached_parts(d: str, rows: int) -> list[str] | None:
    """The cached part files, if their row count and hashes still match
    the manifest written when they were generated."""
    import pyarrow.parquet as pq
    try:
        with open(os.path.join(d, "manifest.json")) as f:
            manifest = json.load(f)
    except (OSError, ValueError):
        return None
    parts = [os.path.join(d, n) for n in sorted(manifest["sha256"])]
    try:
        if (manifest["rows"] != rows
                or sum(pq.read_metadata(p).num_rows for p in parts) != rows
                or any(_sha256(p) != manifest["sha256"][os.path.basename(p)]
                       for p in parts)):
            return None
    except OSError:
        return None
    return parts


def _write_manifest(d: str, rows: int, seed: int) -> list[str]:
    names = sorted(n for n in os.listdir(d) if n.endswith(".parquet"))
    with open(os.path.join(d, "manifest.json"), "w") as f:
        json.dump({"rows": rows, "seed": seed,
                   "sha256": {n: _sha256(os.path.join(d, n)) for n in names}}, f)
    return [os.path.join(d, n) for n in names]


def ensure_input(api, seed: int, rows: int) -> tuple[list[str], list[str]]:
    """Pages for ``seed``, cached by (seed, rows), as ``PARTS`` part files
    and as ``INCREMENTS`` streaming increments holding the same rows.
    ``write_pages`` makes the increments; each part file concatenates
    consecutive increments."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    cache = os.path.join(WORK, "cache")
    d = os.path.join(cache, f"pages-s{seed}-n{rows}")
    inc_dir, part_dir = os.path.join(d, "increments"), os.path.join(d, "parts")
    increments, parts = _cached_parts(inc_dir, rows), _cached_parts(part_dir, rows)
    if increments is None or parts is None:
        shutil.rmtree(d, ignore_errors=True)
        api.write_pages(inc_dir, rows, seed=seed, chunk_rows=rows // INCREMENTS)
        increments = _write_manifest(inc_dir, rows, seed)
        os.makedirs(part_dir)
        per = INCREMENTS // PARTS
        for i in range(PARTS):
            table = pa.concat_tables(pq.read_table(p)
                                     for p in increments[i * per:(i + 1) * per])
            pq.write_table(table, os.path.join(part_dir, f"part-{i:05d}.parquet"),
                           compression="zstd")
        parts = _write_manifest(part_dir, rows, seed)
    os.utime(d)
    entries = sorted((os.path.join(cache, n) for n in os.listdir(cache)),
                     key=os.path.getmtime, reverse=True)
    for old in entries[CACHE_KEEP:]:
        shutil.rmtree(old, ignore_errors=True)
    return parts, increments


# ----------------------------------------------------------------- session

def spark_conf(work: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed set of JIT compiler threads, so that their CPU time can
        # be told apart from the work's (probes.work_cpu_since); it does
        # not change what is compiled
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                                          f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData "
                                          "-XX:-UseDynamicNumberOfCompilerThreads"),
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def setup(ctx, loops, work: str, master: str, traced: bool) -> tuple[float, float]:
    """Session start plus each loop's warm-up call on a small slice.
    Returns (session seconds, warm-up seconds)."""
    if ctx.spark is not None:
        ctx.spark.stop()
    log("setup")
    t0 = time.perf_counter()
    with ctx.tracer.span("session.get_spark"):
        ctx.spark = ctx.api.get_spark(master, app_name="perfbench",
                                      shuffle_partitions=os.cpu_count(),
                                      extra_conf=spark_conf(work, traced))
    ctx.lookups()
    t1 = time.perf_counter()
    with ctx.tracer.span("warm_up"):
        for loop in loops:
            loop.warm_up()
    return t1 - t0, time.perf_counter() - t1


def shutdown(spark) -> None:
    """Stop Spark, close the gateway JVM and wait for every process this
    one started to end."""
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    from perfbench.probes import descendants
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


# ------------------------------------------------------------- measuring

def log(msg: str) -> None:
    print(f"perfbench: {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def n_ops(loop, seconds: float) -> int:
    """Operations per measurement: ``seconds`` of work at the loop's
    nominal operation time on a 4-core host, and at least ``min_ops``,
    the fewest whose quantiles are worth reporting. Fixing the count
    (rather than stopping on the clock) makes every run do the same
    work, so the JIT warm-up inside the loop weighs the same in every
    run."""
    return max(loop.min_ops, round(seconds / loop.nominal_op_s))


def measure(loop, count: int) -> list[dict]:
    """Closed loop: ``count`` operations, one at a time. Checks run
    between operations, untimed."""
    from perfbench.probes import work_cpu_mark, work_cpu_since
    recs: list[dict] = []
    while len(recs) < count and loop.prepare():
        rec: dict = {}
        mark = work_cpu_mark()
        t0 = time.perf_counter()
        try:
            rec = loop.op()
            rec["s"] = time.perf_counter() - t0
            rec["cpu"] = work_cpu_since(mark)
            rec["ok"] = loop.verify(rec)
        except Exception as e:  # a failed operation is counted, not fatal
            rec = {"s": time.perf_counter() - t0, "cpu": work_cpu_since(mark),
                   "ok": False, "error": repr(e)}
            print(f"perfbench: operation failed: {e!r}", file=sys.stderr)
        rec["kind"] = loop.kind
        recs.append(rec)
        log(f"{loop.kind} {len(recs)}: {rec['s']:.3f} s, {rec['cpu']:.2f} cpu-s, "
            f"ok={rec['ok']}")
    return recs


def measure_all(loops, counts: dict[str, int]) -> dict[str, list[dict]]:
    return {loop.kind: measure(loop, counts[loop.kind]) for loop in loops}


def _done(recs: list[dict]) -> list[dict]:
    return [r for r in recs if "error" not in r]


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _p75(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=4)[2] if len(xs) >= 2 else _median(xs)


def _throughput(recs: list[dict]) -> float:
    busy = sum(r["s"] for r in recs)
    return sum(r["docs"] for r in recs) / busy if busy else 0.0


def _median_rate(recs: list[dict], clock: str) -> float:
    return _median([r["docs"] / r[clock] for r in recs if r[clock] > 0])


def op_figures(recs: dict[str, list[dict]], clock: str) -> dict[str, float]:
    """Median throughput, resume time and drain quantiles on one clock:
    ``s`` (wall seconds) or ``cpu`` (work CPU seconds, see
    ``probes.work_cpu_since``). Throughput and resume time come from the
    workload's first loop, the drain quantiles from its drains. A
    workload without resumes or drains reports its operation time in
    their place."""
    main = _done(next(iter(recs.values())))
    drains = _done(recs.get("drain", [])) or main
    return {
        "docs_per": _median_rate(main, clock),
        "resume": _median([r.get(f"resume_{clock}", r[clock]) for r in main]),
        "drain_p50": _median([r[clock] for r in drains]),
        "drain_p75": _p75([r[clock] for r in drains]),
    }


def e2e_metrics(recs: dict[str, list[dict]], setups: list[float]) -> dict[str, float]:
    f = op_figures(recs, "cpu")
    return {
        "setup_s": _median(setups),
        "docs_per_cpu_s": f["docs_per"],
        "resume_cpu_s": f["resume"],
        "drain_cpu_p50_s": f["drain_p50"],
        "drain_cpu_p75_s": f["drain_p75"],
    }


def layer_metrics(ctx, loops, untraced: dict, traced: dict,
                  layers: dict[str, float], digest: dict, progress: list[dict],
                  cold: tuple[float, float]) -> dict[str, float]:
    """Per-layer metrics of the workload's first loop (layer times,
    output, event log), plus the streaming listener's breakdown of its
    drains. Spark figures are per operation of the first loop."""
    from perfbench.oracle import parquet_files
    from perfbench.workloads import ResumePairs
    main = loops[0]
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.start_s"], m["session.warmup_s"] = cold
    ok_t = _done(traced[main.kind])
    ok_u = _done(untraced[main.kind])
    ops = max(len(ok_t), 1)
    rate_u, rate_t = _throughput(ok_u), _throughput(ok_t)
    m["trace.overhead_share"] = rate_u / rate_t - 1 if rate_t else 0.0

    for k, v in layers.items():
        m[f"{k}.s"] = v
    wall = op_figures(untraced, "s")
    m["wall.docs_per_s"] = wall["docs_per"]
    m["wall.resume_s"] = wall["resume"]
    m["wall.drain_p50_s"] = wall["drain_p50"]
    m["wall.drain_p75_s"] = wall["drain_p75"]
    op_s = min((r["s"] for r in ok_u), default=0.0)
    m["counters.residual_s"] = op_s - sum(layers.values())
    m["trace.layer_sum_share"] = sum(layers.values()) / op_s if op_s else 0.0

    d = digest
    m["spark.jobs"] = d["jobs"] / ops
    m["spark.tasks"] = d["tasks"] / ops
    m["spark.executor_run_s"] = d["run_ms"] / 1e3 / ops
    m["spark.executor_cpu_s"] = d["cpu_ns"] / 1e9 / ops
    m["spark.gc_s"] = d["gc_ms"] / 1e3 / ops
    m["spark.shuffle_write_bytes"] = d["shuffle_write"] / ops
    m["spark.shuffle_read_bytes"] = d["shuffle_read"] / ops
    m["spark.spill_bytes"] = d["spill"] / ops
    m["spark.task_skew"] = d["task_skew"]
    m["scan.bytes"] = d["input_bytes"] / ops
    m["ckpt.scan_passes"] = d["scan_stages"] / ops
    for k, v in d["plan"].items():
        m[f"plan.{k}"] = v

    # the output of the last traced operation
    files = parquet_files(main.output_dir())
    stats = ctx.oracle.output_stats(files)
    m["parse.ok_share"] = stats["ok_share"]
    m["enrich.host_hit_share"] = stats["host_hit_share"]
    for sink, n in stats["sinks"].items():
        m[f"route.rows.{sink}"] = n
    m["write.files"] = len(files)
    m["write.bytes"] = sum(os.path.getsize(f) for f in files)
    if main.kind == "batch":
        m["aggregate.rows_out"] = ctx.oracle.rows_in(
            parquet_files(os.path.join(main.out, "metrics")))
    if main.kind == "pair" and ok_t:
        groups = [ResumePairs.group_stats(r) for r in ok_t]
        m["ckpt.groups"] = _median([len(r["ledger"]) for r in ok_t])
        m["ckpt.groups_skipped"] = _median([g["skipped"] for g in groups])
        m["ckpt.group_s_p50"] = _median([x for g in groups for x in g["durations"]])
        m["ckpt.rows_redone"] = d["records_written"] / ops - ctx.rows
    drains = _done(traced.get("drain", []))
    if drains and progress:
        for name, key in _STREAM_KEYS.items():
            m[name] = _median([p["duration_ms"].get(key, 0) for p in progress])
        m["stream.rows_per_drain"] = _median([r["docs"] for r in drains])
    return m


# ------------------------------------------------------------------ main

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["pages_batch", "pages_resume"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--rows", type=int, default=ROWS,
                    help=f"input pages, a multiple of {INCREMENTS}")
    return ap.parse_args(argv)


def host_record(spark, master: str) -> dict:
    return {"nproc": os.cpu_count(), "master": master, "spark": spark.version,
            "jdk": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/ in {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    if args.rows <= 0 or args.rows % INCREMENTS:
        print(f"perfbench: --rows must be a positive multiple of {INCREMENTS}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.oracle import Oracle
    from perfbench.probes import (Tracer, cpu_times, digest_events, peak_rss_mb,
                                  progress_listener, read_event_log, steal_share)
    from perfbench.workloads import (WORKLOADS, Ctx, batch_prefixes,
                                     checkpoint_prefixes)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(WORK, "runs", tag)
    results = os.path.join(WORK, "results")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "eventlog", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(results, exist_ok=True)
    # keep Spark's and Python's temporary files inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    log("start")
    api = load_api()
    parts, increments = ensure_input(api, args.seed, args.rows)
    log("input ready")
    # the oracle reads the increments, so a drain can be checked against
    # the increments moved in so far
    oracle = Oracle(increments)
    log("oracle ready")
    master = f"local[{os.cpu_count()}]"
    traced = bool(args.trace)
    ctx = Ctx(api, Tracer(False), oracle, parts, increments, work, args.rows)

    def fresh_loops():
        # a drain slows as its query's files accumulate, so every
        # measurement starts from a fresh loop state
        return [cls(ctx) for cls in WORKLOADS[args.workload]]

    loops = fresh_loops()
    counts = {loop.kind: n_ops(loop, args.seconds) for loop in loops}
    load0, cpu0 = list(os.getloadavg()), cpu_times()
    try:
        cold = setup(ctx, loops, work, master, traced=False)
        setups = [sum(cold)] + [sum(setup(ctx, loops, work, master, traced=False))
                                for _ in range(SETUPS - 1)]
        if not traced:
            recs = measure_all(loops, counts)
            metrics = e2e_metrics(recs, setups)
            metrics["peak_rss_mb"] = peak_rss_mb()
            host = host_record(ctx.spark, master)
        else:
            # JIT warm-up is still going on after the set-ups; a traced
            # run compares layers with the first loop's operations, so
            # it warms that loop up first
            half = {k: max(1, n // 2) for k, n in counts.items()}
            warm = measure_all(fresh_loops()[:1], half)
            # the operations keep speeding up as the JIT compiles more,
            # so the prefixes come before the untraced half they are
            # compared with, and the two halves run back to back
            ctx.tracer = Tracer(True)
            layers = (batch_prefixes(ctx) if loops[0].kind == "batch"
                      else checkpoint_prefixes(ctx))
            ctx.tracer.enabled = False
            untraced = measure_all(fresh_loops(), half)
            # the traced half: a new session with the event log on,
            # spans and the streaming listener
            ctx.tracer.enabled = True
            loops = fresh_loops()
            setup(ctx, loops, work, master, traced=True)
            listener = progress_listener()
            ctx.spark.streams.addListener(listener)
            recs, windows = {}, {}
            for loop in loops:
                t0 = time.time() * 1000
                with ctx.tracer.span("measure", kind=loop.kind):
                    recs[loop.kind] = measure(loop, half[loop.kind])
                windows[loop.kind] = (t0, time.time() * 1000)
            main_loop = loops[0]
            # the measured query's progress, not the warm-up query's
            ids = {loop.query_id() for loop in loops if loop.kind == "drain"}
            progress = [p for p in listener.progress if p["id"] in ids]
            host = host_record(ctx.spark, master)
            ctx.spark.stop()  # closes the event log
            digest = digest_events(read_event_log(os.path.join(work, "eventlog")),
                                   *windows[main_loop.kind])
            metrics = layer_metrics(ctx, loops, untraced, recs, layers, digest,
                                    progress, cold)
            recs = {f"{phase}.{k}": v for phase, d in
                    (("warm", warm), ("untraced", untraced), ("traced", recs))
                    for k, v in d.items()}
    finally:
        log("shutdown")
        shutdown(ctx.spark)
        log("stopped")
    oracle.close()
    host.update(loadavg_start=load0, loadavg_end=list(os.getloadavg()),
                steal_share=steal_share(cpu0, cpu_times()))
    units = PER_LAYER if traced else E2E

    ops = [r for v in recs.values() for r in v]
    failed = sum(not r["ok"] for r in ops)
    result = {
        "correct": bool(ops) and failed == 0,
        "attempted": max(len(ops), 1),
        "failed": failed if ops else 1,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump({"host": host, "result": result, "ops": recs, "args": vars(args)},
                  f, indent=1, sort_keys=True)
    if traced:
        ctx.tracer.dump(os.path.join(results, f"{tag}.spans.json"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"host": host}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
