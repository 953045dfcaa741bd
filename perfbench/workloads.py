"""The operation loops of the pages workloads and the layer-prefix
decomposition.

A workload is one or more loops, run one after the other:

- ``pages_batch``: ``BatchRuns``;
- ``pages_resume``: ``ResumePairs``, then ``StreamDrains``. Both are
  ways of resuming from a checkpoint: a crashed checkpointed run resumed
  from its ledger, and availableNow drains that each restart a streaming
  query from its offsets.

Each loop has the same shape:

- ``warm_up()``: the loop's own call on a small slice of the input
  (part of the measured set-up);
- ``prepare()``: untimed work before one operation (clearing the
  output, moving the next increment into the source directory);
  returns False when the loop has no more input;
- ``op()``: one timed operation, calling only the package's public
  functions;
- ``verify(rec)``: checks the operation's output against the oracle,
  outside the timed region.

``min_ops`` and ``nominal_op_s`` set how many operations a run measures
(see ``run.n_ops``). Every layer call inside an operation is wrapped in
a span named after the module it enters.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from perfbench.oracle import parquet_files
from perfbench.probes import work_cpu_mark, work_cpu_since

N_GROUPS = 8
FAIL_AFTER_GROUP = 3
# run_pipeline_checkpointed's default bucket count, restated for the
# checkpoint-shaped layer prefixes
N_BUCKETS = 64
# part files (increments for the drains) a set-up's warm-up call reads:
# a tenth of the input, so the JIT has compiled more of the hot paths
# before the first measured operation
WARM_UP_PARTS = 2


class Ctx:
    """What an operation needs: the session, the lookups, the input,
    the oracle, a tracer and a private work directory."""

    def __init__(self, api, tracer, oracle, parts: list[str],
                 increments: list[str], work: str, rows: int):
        self.api = api
        self.spark = None
        self.tracer = tracer
        self.oracle = oracle
        self.parts = parts
        self.increments = increments
        self.work = work
        self.rows = rows
        self.host_meta = None
        self.lang_family = None

    def lookups(self) -> None:
        with self.tracer.span("operators.enrich.lookups"):
            self.host_meta = self.spark.createDataFrame(self.api.gen_host_meta())
            self.lang_family = self.spark.createDataFrame(self.api.gen_lang_family())

    def read(self, files: list[str]):
        with self.tracer.span("sources.parquet"):
            return self.spark.read.parquet(*files)

    def warm_up_parts(self) -> list[str]:
        """The small slice the set-up's warm-up call runs on."""
        return self.parts[:WARM_UP_PARTS]

    def path(self, *names: str) -> str:
        return os.path.join(self.work, *names)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


class BatchRuns:
    """``run_pipeline`` in send mode over all pages: 4 sinks, both
    broadcast lookups, direct write, aggregates and counters."""

    kind = "batch"
    nominal_op_s = 2.5
    min_ops = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.out = ctx.path("batch_out")

    def _run(self, files: list[str], out: str) -> dict:
        c = self.ctx
        pages = c.read(files)
        with c.tracer.span("plans.pipeline.run_pipeline"):
            return c.api.run_pipeline(c.spark, pages, out, host_meta=c.host_meta,
                                      lang_family=c.lang_family, on_error="send",
                                      write_mode="direct")

    def warm_up(self) -> None:
        self._run(self.ctx.warm_up_parts(), _fresh(self.ctx.path("warm_batch")))

    def prepare(self) -> bool:
        _fresh(self.out)
        return True

    def op(self) -> dict:
        return {"docs": self.ctx.rows, "counters": self._run(self.ctx.parts, self.out)}

    def verify(self, rec: dict) -> bool:
        o = self.ctx.oracle
        want = o.counters()
        return (rec["counters"] == want
                and not o.counters_mismatch(os.path.join(self.out, "counters.json"))
                and o.row_mismatches(parquet_files(os.path.join(self.out, "routed"))) == 0
                and o.metric_mismatches(os.path.join(self.out, "metrics")) == 0)

    def output_dir(self) -> str:
        return os.path.join(self.out, "routed")


class ResumePairs:
    """``run_pipeline_checkpointed`` over all pages, crashing after
    group 3 of 8, then resumed with the same settings; the pair is one
    operation."""

    kind = "pair"
    nominal_op_s = 10.0
    min_ops = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.out = ctx.path("resume_out")

    def _pair(self, files: list[str], out: str, n_groups: int,
              fail_after: int) -> dict:
        c = self.ctx
        pages = c.read(files)
        kw = dict(host_meta=c.host_meta, lang_family=c.lang_family,
                  n_groups=n_groups)
        t0 = time.time()
        crashed = False
        with c.tracer.span("plans.checkpoint", call="crash"):
            try:
                c.api.run_pipeline_checkpointed(c.spark, pages, out,
                                                fail_after_group=fail_after, **kw)
            except RuntimeError as e:
                crashed = "injected failure" in str(e)
        t1, mark = time.time(), work_cpu_mark()
        with c.tracer.span("plans.checkpoint", call="resume"):
            counters = c.api.run_pipeline_checkpointed(c.spark, pages, out, **kw)
        t2, resume_cpu = time.time(), work_cpu_since(mark)
        return {"crashed": crashed, "counters": counters,
                "t0": t0, "t1": t1, "t2": t2, "resume_cpu": resume_cpu}

    def warm_up(self) -> None:
        self._pair(self.ctx.warm_up_parts(), _fresh(self.ctx.path("warm_resume")), 2, 0)

    def prepare(self) -> bool:
        _fresh(self.out)
        return True

    def op(self) -> dict:
        rec = self._pair(self.ctx.parts, self.out, N_GROUPS, FAIL_AFTER_GROUP)
        rec["docs"] = self.ctx.rows
        rec["resume_s"] = rec["t2"] - rec["t1"]
        rec["ledger"] = self._ledger_times()
        return rec

    def _ledger_times(self) -> dict[int, float]:
        d = os.path.join(self.out, "_ledger")
        return {int(n[len("group-"):-len(".json")]): os.path.getmtime(os.path.join(d, n))
                for n in os.listdir(d) if n.startswith("group-") and n.endswith(".json")}

    def verify(self, rec: dict) -> bool:
        o = self.ctx.oracle
        return (rec["crashed"]
                and sorted(rec["ledger"]) == list(range(N_GROUPS))
                and rec["counters"] == o.counters()
                and not o.counters_mismatch(os.path.join(self.out, "counters.json"))
                and o.row_mismatches(parquet_files(os.path.join(self.out, "routed"))) == 0)

    @staticmethod
    def group_stats(rec: dict) -> dict:
        """Groups skipped on resume, and each group's wall time from the
        ledger commit times (the first group of a call is timed from the
        call's start)."""
        led = rec["ledger"]
        skipped = sum(t < rec["t1"] for t in led.values())
        durations, prev = [], None
        for g in sorted(led):
            start = rec["t0"] if g == 0 else (rec["t1"] if g == skipped else prev)
            durations.append(led[g] - start)
            prev = led[g]
        return {"skipped": skipped, "durations": durations}

    def output_dir(self) -> str:
        return os.path.join(self.out, "routed")


class StreamDrains:
    """A closed loop with one client: move the next pre-generated
    increment into the source directory, then drain it with
    ``stream_pages_pipeline`` (availableNow)."""

    kind = "drain"
    nominal_op_s = 0.9
    min_ops = 40

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.stage = ctx.path("stream_stage")
        self.src = ctx.path("stream_src")
        self.out = ctx.path("stream_out")
        self.ckpt = ctx.path("stream_ckpt")
        self.next = 0
        for d in (self.stage, self.src):
            os.makedirs(_fresh(d))
        _fresh(self.out)
        _fresh(self.ckpt)
        for p in ctx.increments:
            shutil.copyfile(p, os.path.join(self.stage, os.path.basename(p)))

    def _drain(self, src: str, out: str, ckpt: str) -> dict:
        c = self.ctx
        with c.tracer.span("streaming.stream.stream_pages_pipeline"):
            return c.api.stream_pages_pipeline(c.spark, src, out, ckpt,
                                               host_meta=c.host_meta,
                                               lang_family=c.lang_family)

    def warm_up(self) -> None:
        src = _fresh(self.ctx.path("warm_stream_src"))
        os.makedirs(src)
        for p in self.ctx.increments[:WARM_UP_PARTS]:
            shutil.copyfile(p, os.path.join(src, os.path.basename(p)))
        self._drain(src, _fresh(self.ctx.path("warm_stream_out")),
                    _fresh(self.ctx.path("warm_stream_ckpt")))

    def prepare(self) -> bool:
        if self.next >= len(self.ctx.increments):
            return False
        name = os.path.basename(self.ctx.increments[self.next])
        os.replace(os.path.join(self.stage, name), os.path.join(self.src, name))
        self.next += 1
        return True

    def op(self) -> dict:
        res = self._drain(self.src, self.out, self.ckpt)
        return {"docs": res["accepted"], "counters": res, "inc": self.next - 1}

    def verify(self, rec: dict) -> bool:
        o = self.ctx.oracle
        want = o.counters(max_inc=rec["inc"])["accepted"] - o.counters(max_inc=rec["inc"] - 1)["accepted"]
        files = parquet_files(os.path.join(self.out, "routed"))
        return (rec["counters"]["accepted"] == want
                and o.row_mismatches(files, max_inc=rec["inc"]) == 0)

    def query_id(self) -> str:
        """The measured query's id, kept in its checkpoint."""
        with open(os.path.join(self.ckpt, "metadata")) as f:
            return json.load(f)["id"]


WORKLOADS = {"pages_batch": (BatchRuns,),
             "pages_resume": (ResumePairs, StreamDrains)}


# ------------------------------------------------- layer prefix timings

_UNWRITTEN = ("html", "body", "rest")  # columns sink_rows drops


def _best_of(steps, rounds: int, tr) -> dict[str, float]:
    """Fastest of ``rounds`` timings of each cumulative prefix."""
    cum: dict[str, list[float]] = {}
    for _ in range(rounds):
        for name, run in steps:
            with tr.span(f"prefix.{name}"):
                t0 = time.perf_counter()
                run()
                cum.setdefault(name, []).append(time.perf_counter() - t0)
    return {k: min(v) for k, v in cum.items()}


def _self_times(best: dict[str, float], order: list[str]) -> dict[str, float]:
    self_s = {order[0]: best[order[0]]}
    for prev, cur in zip(order, order[1:]):
        self_s[cur] = best[cur] - best[prev]
    return self_s


def _frames(ctx: Ctx, pages) -> dict:
    api, tr = ctx.api, ctx.tracer
    with tr.span("operators.parsers.parse_pages"):
        parsed = api.parse_pages(pages, on_error="send")
    with tr.span("operators.enrich.enrich_pages"):
        enriched = api.enrich_pages(parsed, ctx.host_meta, ctx.lang_family)
    with tr.span("operators.routing.route_pages"):
        routed = api.route_pages(enriched)
    return {"scan": pages, "parse": parsed, "enrich": enriched, "route": routed}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


_ORDER = ["scan", "parse", "enrich", "route", "write"]


def batch_prefixes(ctx: Ctx, rounds: int = 2) -> dict[str, float]:
    """Self time of each layer of a ``run_pipeline`` call from
    cumulative noop-sink prefixes over all pages.

    The pre-route section runs as one fused codegen stage, so a layer's
    cost is the difference between the prefix that ends with it and the
    prefix before it. Each noop prefix reads only the columns the sink
    write keeps. The write prefix is the direct sink write; the
    aggregate is its own job over the written output.
    """
    api, spark, tr = ctx.api, ctx.spark, ctx.tracer
    out = ctx.path("prefix_out")

    def step(name):
        def run():
            frames = _frames(ctx, ctx.read(ctx.parts))
            if name != "write":
                _noop(frames[name].drop(*_UNWRITTEN))
                return
            (api.sink_rows(frames["route"]).sortWithinPartitions("sink")
             .write.mode("overwrite").partitionBy("sink")
             .parquet(os.path.join(out, "routed")))
        return run

    def aggregate():
        back = spark.read.parquet(os.path.join(out, "routed"))
        with tr.span("operators.aggregate.aggregate_pages"):
            aggs = api.aggregate_pages(back)
        aggs.write.mode("overwrite").parquet(os.path.join(out, "metrics"))

    best = _best_of([(n, step(n)) for n in _ORDER] + [("aggregate", aggregate)],
                    rounds, tr)
    return {**_self_times(best, _ORDER), "aggregate": best["aggregate"]}


def checkpoint_prefixes(ctx: Ctx, groups: tuple[int, ...] = (0, 1),
                        rounds: int = 1) -> dict[str, float]:
    """Self time of each layer of a crash-plus-resume pair, from
    cumulative noop-sink prefixes in the checkpointed run's shape.

    Every group of ``run_pipeline_checkpointed`` rescans all pages,
    keeps its buckets, and writes all columns through a
    ``repartition(sink)`` shuffle. The prefixes do the same for
    ``groups`` and scale the sum to all ``N_GROUPS`` groups, which a
    pair runs once each. The ledger and the row-level ``observe`` are
    left to the residual.
    """
    from pyspark.sql import functions as F
    out = ctx.path("prefix_ckpt")

    def frames(g):
        pages = ctx.read(ctx.parts)
        bucket = F.pmod(F.xxhash64(F.col("url")), F.lit(N_BUCKETS))
        part = (pages.withColumn("bucket", bucket)
                .filter(F.pmod(F.col("bucket"), F.lit(N_GROUPS)) == g))
        return _frames(ctx, part)

    def step(name):
        def run():
            for g in groups:
                if name != "write":
                    _noop(frames(g)[name])
                    continue
                (frames(g)["route"]
                 .withColumn("attributes", F.map_entries(F.col("attributes")))
                 .repartition(F.col("sink")).write.mode("overwrite")
                 .partitionBy("sink").parquet(os.path.join(out, f"group={g}")))
        return run

    best = _best_of([(n, step(n)) for n in _ORDER], rounds, ctx.tracer)
    scale = N_GROUPS / len(groups)
    return {k: v * scale for k, v in _self_times(best, _ORDER).items()}
