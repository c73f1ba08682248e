"""Closed-loop measurement shared by the workloads.

One client issues a workload's operations back to back. A workload
hands out *cycles*: lists of operations whose mix is fixed and whose
parameters come from the seed. How many cycles a run measures follows
from ``--seconds`` alone (``Workload.cycles``), never from how fast the
cycles run, so a faster program measures the same operations.

Untraced runs (``--trace 0``) time each operation and nothing else.
Traced runs run each operation under a Spark job group, with the
layer entry points wrapped in spans, and read the group's jobs from
the status store afterwards.
"""

from __future__ import annotations

import contextlib
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

import sparkstats
import stats
from tracing import Tracer, by_name, instrument, span_cost_s


@dataclass
class Op:
    kind: str                        # latency class, e.g. "get", "query"
    label: str                       # what exactly ran (query name, range)
    run: Callable[[], Any]           # the timed work; returns the materialized result
    check: Callable[[Any], bool]     # is the result right? (not timed)
    rows_out: Callable[[Any], int] | None = None


@dataclass
class OpRecord:
    id: int
    kind: str
    label: str
    latency_s: float
    ok: bool
    error: str | None = None
    rows_out: int | None = None
    spark: sparkstats.OpSpark | None = None
    extra: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: Any
    tracer: Tracer
    workdir: Any
    nproc: int
    setup: dict = field(default_factory=dict)        # phase → seconds
    cached_after: set = field(default_factory=set)   # op labels that left Spark caches behind
    verify_failures: list = field(default_factory=list)  # wrong results seen during set-up


class Workload:
    """Interface; see the wl_* modules."""

    name = ""
    nominal_cycle_s = 1.0  # what one cycle takes on 4 cores
    min_cycles = 1

    def setup(self, ctx: Ctx) -> None:  # generate inputs, warm, verify
        raise NotImplementedError

    def cycles(self, seconds: float) -> int:
        """Cycles a run of ``seconds`` measures: the nominal cycle time
        sets the count, so it is fixed by the command line."""
        return max(self.min_cycles, round(seconds / self.nominal_cycle_s))

    def cycle(self, i: int) -> list[Op]:
        raise NotImplementedError

    def finish(self, ctx: Ctx) -> None:
        """Check the state the measured cycles left (not timed)."""

    def after_op(self, ctx: Ctx, rec: OpRecord) -> None:
        pass

    def report(self, ctx: Ctx, recs: list[OpRecord]) -> dict:
        """Workload-specific end-to-end figures for the report line."""
        return {}

    def layer_extras(self, ctx: Ctx, recs: list[OpRecord], spans: list) -> dict:
        """Workload-specific per-layer metrics of a traced run."""
        return {}


@contextlib.contextmanager
def timed(ctx: Ctx, phase: str):
    """Time a set-up phase into ctx.setup and as a span."""
    t0 = time.perf_counter()
    with ctx.tracer.span(phase):
        yield
    ctx.setup[phase] = ctx.setup.get(phase, 0.0) + time.perf_counter() - t0


def _cache_in_use(spark) -> bool:
    return not spark._jsparkSession.sharedState().cacheManager().isEmpty()


def run_op(ctx: Ctx, op: Op, op_id: int, traced: bool) -> OpRecord:
    sc = ctx.spark.sparkContext
    tr = ctx.tracer
    tr.op = op_id
    t_trace = time.perf_counter()
    if traced:
        sc.setJobGroup(f"perfbench-{op_id}", op.label)
    err, res = None, None
    t0 = time.perf_counter()
    t_trace = t0 - t_trace
    with tr.span(f"op.{op.kind}"):
        try:
            res = op.run()
        except Exception as e:  # a failed op is counted, not fatal
            err = f"{type(e).__name__}: {e}"[:300]
    lat = time.perf_counter() - t0
    tr.op = None
    ok = False
    if err is None:
        try:
            ok = bool(op.check(res))
        except Exception as e:
            err = f"check: {type(e).__name__}: {e}"[:300]
    rec = OpRecord(op_id, op.kind, op.label, lat, ok, err,
                   op.rows_out(res) if (op.rows_out and err is None) else None)
    if traced:
        t1 = time.perf_counter()
        rec.spark = sparkstats.read_group(ctx.spark, f"perfbench-{op_id}")
        sc.setLocalProperty("spark.jobGroup.id", None)
        rec.extra["trace_s"] = t_trace + time.perf_counter() - t1
    # release Spark-cached intermediates so the next execution
    # recomputes them (program-side caches such as footer metadata stay)
    if _cache_in_use(ctx.spark):
        ctx.cached_after.add(op.label)
        ctx.spark.catalog.clearCache()
    return rec


@dataclass
class Measurement:
    recs: list[OpRecord]
    wall_s: float       # time spent in the measured cycles
    cpu_s: float        # CPU time the driver processes used meanwhile
    spans: list         # spans recorded while measuring (traced runs)


def measure(ctx: Ctx, wl: Workload, cycles: int, trace: bool) -> Measurement:
    """Run ``cycles`` whole cycles."""
    recs: list[OpRecord] = []
    cpu0 = sparkstats.cpu_s(ctx.spark)
    start = time.perf_counter()
    with instrument(ctx.tracer) if trace else contextlib.nullcontext():
        ctx.tracer.enabled = trace
        n0 = len(ctx.tracer.spans)
        for i in range(cycles):
            for op in wl.cycle(i):
                rec = run_op(ctx, op, len(recs), trace)
                wl.after_op(ctx, rec)
                recs.append(rec)
        ctx.tracer.enabled = False
    elapsed = time.perf_counter() - start
    return Measurement(recs, elapsed, sparkstats.cpu_s(ctx.spark) - cpu0, ctx.tracer.spans[n0:])


# --- metrics ----------------------------------------------------------


def end_to_end(ctx: Ctx, m: Measurement) -> dict:
    """The gated metrics: set-up time; what the client sees (throughput
    over the operations' busy time in a closed loop with no think time,
    and median operation latency, smoothed over neighbouring ranks);
    driver CPU per operation; and the memory the driver retains."""
    ms = [r.latency_s * 1e3 for r in m.recs]
    return {
        "setup_s": sum(ctx.setup.get(k, 0.0) for k in ("session.start", "setup.generate", "setup.warm")),
        "ops_per_s": len(ms) * 1e3 / sum(ms),
        "latency_p50_ms": stats.smooth_median(ms),
        "cpu_ms_per_op": m.cpu_s * 1e3 / len(m.recs),
        "retained_mb": sparkstats.retained_mb(ctx.spark),
    }


def latency_report(recs: list[OpRecord]) -> dict:
    """Median and best-supported tail per op kind and overall."""
    out = {}
    groups = {"all": recs}
    for r in recs:
        groups.setdefault(r.kind, []).append(r)
    for k, rs in groups.items():
        ms = [r.latency_s * 1e3 for r in rs]
        t = stats.tail(ms)
        out[k] = {"n": len(ms), "p50_ms": round(stats.percentile(ms, 50), 3),
                  "p90_ms": None if (v := stats.p_or_none(ms, 90)) is None else round(v, 3),
                  "tail": None if t is None else {"p": t[0], "ms": round(t[1], 3)}}
    return out


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(ctx: Ctx, wl: Workload, m: Measurement, witness: dict) -> dict:
    """Per-layer metrics of a traced measurement."""
    recs = m.recs
    agg = by_name(m.spans)

    def self_ms(name: str) -> float:
        a = agg.get(name)
        return a["self_ms"] / a["calls"] if a else 0.0

    sp = [r.spark for r in recs]
    with_rows = [r for r in recs if r.rows_out]
    out = {
        "queries.construct_ms": self_ms("queries.construct"),
        "spark.plan_ms": self_ms("spark.plan"),
        "spark.exec_ms": self_ms("spark.exec"),
        "spark.task_run_ms": _mean(s.task_run_ms for s in sp),
        "spark.task_cpu_ms": _mean(s.task_cpu_ms for s in sp),
        "spark.jobs": _mean(s.jobs for s in sp),
        "spark.stages": _mean(s.stages for s in sp),
        "spark.tasks": _mean(s.tasks for s in sp),
        "spark.core_util": witness["core_util"],
        "spark.peak_concurrent_tasks": witness["peak_concurrent_tasks"],
        "spark.shuffle_write_bytes": _mean(s.shuffle_write_bytes for s in sp),
        "spark.shuffle_read_bytes": _mean(s.shuffle_read_bytes for s in sp),
        "spark.spill_bytes": _mean(s.spill_bytes for s in sp),
        "spark.peak_exec_memory_bytes": max((s.peak_exec_memory_bytes for s in sp), default=0),
        "spark.input_bytes": _mean(s.input_bytes for s in sp),
        "operators.scan.rows_examined_per_row": (
            sum(r.spark.input_records for r in with_rows) / sum(r.rows_out for r in with_rows)
            if with_rows else 0.0
        ),
        "operators.view.fold_ms": self_ms("operators.view.current_view"),
        "operators.scan.scan_ms": self_ms("operators.scan.scan"),
        "operators.scan.batch_get_ms": self_ms("operators.scan.batch_get"),
        "spark.failed_tasks": sum(s.failed_tasks for s in sp),
        "operators.mutation.to_df_ms": self_ms("operators.mutation.to_df"),
        "catalog.append_ms": self_ms("catalog.append"),
        "operators.seek.multi_get_ms": self_ms("operators.seek.multi_get"),
        "operators.seek.fold_row_ms": self_ms("operators.seek.fold_row"),
        "catalog.oplog_files": 0.0,
        "client.multi_get_seek_share": 0.0,
        "catalog.read_oplog_ms": self_ms("catalog.read_oplog"),
        "catalog.maintenance_ms": self_ms("catalog.maintenance"),
        "catalog.compactions": 0,
        "catalog.rewrite_bytes_per_user_byte": 0.0,
        "session.start_ms": ctx.setup.get("session.start", 0.0) * 1e3,
        "setup.generate_ms": ctx.setup.get("setup.generate", 0.0) * 1e3,
        "setup.warm_ms": ctx.setup.get("setup.warm", 0.0) * 1e3,
        # what tracing adds to an untraced run: job-group bookkeeping and
        # status-store reads around each operation, plus the span
        # wrappers inside it, as a share of the operations' own time
        "trace.overhead_pct": 100.0 * (
            sum(r.extra["trace_s"] for r in recs) + len(m.spans) * span_cost_s()
        ) / sum(r.latency_s for r in recs),
    }
    out.update(wl.layer_extras(ctx, recs, m.spans))
    return out


def witness(spark, m: Measurement, since_job: int, nproc: int) -> dict:
    """Parallelism witness over the measured operations' jobs, read
    once after timing: a traced run knows them per operation, an
    untraced run ran them outside any job group after ``since_job``."""
    ids = [j for r in m.recs if r.spark for j in r.spark.job_ids]
    agg = sparkstats.read_jobs(spark, ids or sparkstats.ungrouped_jobs(spark, since_job))
    return {
        "peak_concurrent_tasks": agg.peak_concurrent_tasks,
        # task time / (job wall time x cores)
        "core_util": agg.task_run_ms / (agg.job_wall_ms * nproc) if agg.job_wall_ms else 0.0,
        "jobs": agg.jobs,
        "tasks": agg.tasks,
    }
