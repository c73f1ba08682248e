#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Prints one report line (``# report
{...}``) with every figure of the run, then, as the last line, the
result object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics of BENCHMARK.json untraced, the per-layer ones
traced). A traced run also writes its spans to
``perfbench/out/trace-<workload>-<seed>.json``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("analytics_mix", "cell_fold_scaled", "oltp_sdk_mix")
DRIVER_MEM = "2g"


def pin_environment(work: Path, nproc: int) -> dict:
    """Fix what the session factory reads from the environment, and keep
    every scratch file inside the checkout."""
    (work / "tmp").mkdir(parents=True)
    (work / "spark-local").mkdir()
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)       # default would be local[32]
    os.environ["TERA_SPARK_DRIVER_MEM"] = DRIVER_MEM  # default 16g
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # no JVM performance-data file under /tmp (launcher and driver JVM)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}' pyspark-shell"
    )
    # Python workers (mapInPandas) import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    import tempfile

    tempfile.tempdir = str(work / "tmp")
    return {k: os.environ[k] for k in ("SPARK_GRAFT_CPUS", "TERA_SPARK_DRIVER_MEM")}


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU tick counters (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(t0: list[int], t1: list[int]) -> float:
    """Share of the host's CPU time given to other guests in between."""
    d = [b - a for a, b in zip(t0, t1)]
    return round(100.0 * d[7] / sum(d), 2) if sum(d) else 0.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def make_workload(name: str, seed: int):
    if name == "analytics_mix":
        from wl_analytics import Analytics

        return Analytics(seed)
    if name == "cell_fold_scaled":
        from wl_cellfold import CellFold

        return CellFold(seed)
    from wl_oltp import Oltp

    return Oltp(seed)


def run(args, work: Path) -> tuple[dict, dict]:
    t_start = time.perf_counter()
    nproc = len(os.sched_getaffinity(0))
    env = pin_environment(work, nproc)
    load_start = os.getloadavg()[0]
    sys.path.insert(0, str(ROOT))

    import harness
    import sparkstats
    from tracing import Tracer

    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        with tracer.span("session.start"):
            from tera_spark.session import get_spark

            spark = get_spark("perfbench")
            spark.range(1).count()
        ctx = harness.Ctx(spark, tracer, work, nproc)
        ctx.setup["session.start"] = time.perf_counter() - t_start
        wl = make_workload(args.workload, args.seed)
        wl.setup(ctx)
        tracer.enabled = False
        first_job = max(sparkstats.ungrouped_jobs(spark), default=-1) + 1
        ticks = cpu_ticks()
        m = harness.measure(ctx, wl, wl.cycles(args.seconds), bool(args.trace))
        steal = steal_pct(ticks, cpu_ticks())
        with harness.timed(ctx, "check.end_state"):
            wl.finish(ctx)
        e2e = harness.end_to_end(ctx, m)
        failed = [r for r in m.recs if not r.ok]
        witness = harness.witness(spark, m, first_job, nproc)
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": bool(args.trace),
            "env": {
                **env, "nproc": nproc,
                "load1_start": round(load_start, 2), "load1_end": round(os.getloadavg()[0], 2),
                "steal_pct_measured": steal,
                "spark": spark.version, "python": platform.python_version(),
            },
            "setup_phases_s": {k: round(v, 4) for k, v in ctx.setup.items()},
            "measured_s": round(m.wall_s, 3),
            "cycles": wl.cycles(args.seconds),
            "end_to_end": e2e,
            "error_rate": len(failed) / len(m.recs),
            "latency": harness.latency_report(m.recs),
            "peak_rss_mb": sparkstats.peak_rss_mb(spark),
            "op_latencies_ms": [[r.label, round(r.latency_s * 1e3, 2)] for r in m.recs],
            "parallelism_witness": witness,
            "left_spark_cache": sorted(ctx.cached_after),
            "verify_failures": ctx.verify_failures[:20],
            "failed_ops": [f"{r.label}: {r.error or 'wrong result'}" for r in failed[:20]],
            **wl.report(ctx, m.recs),
        }
        metrics = e2e
        if args.trace:
            metrics = harness.per_layer(ctx, wl, m, witness)
            report["per_layer"] = metrics
            out = BENCH / "out"
            out.mkdir(exist_ok=True)
            path = out / f"trace-{args.workload}-{args.seed}.json"
            path.write_text(json.dumps({
                "report": report,
                "spans": tracer.to_json(),
                "ops": [{"id": r.id, "kind": r.kind, "label": r.label, "latency_ms": r.latency_s * 1e3,
                         "ok": r.ok,
                         "spark": None if r.spark is None else {
                             k: v for k, v in r.spark.__dict__.items() if k != "task_intervals"}}
                        for r in m.recs],
            }, default=str))
            report["trace_file"] = str(path.relative_to(ROOT))
        result = {
            "correct": not ctx.verify_failures and not failed,
            "attempted": len(m.recs),
            "failed": len(failed),
            "metrics": metrics,
        }
        return report, result
    finally:
        if spark is not None:
            stop_spark(spark)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "tera_spark" / "__init__.py").is_file():
        print(f"perfbench: no tera_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    units = {m["name"]: m["unit"] for sec in ("end_to_end", "per_layer")
             for m in json.loads((ROOT / "BENCHMARK.json").read_text())[sec]}
    work = BENCH / ".work" / f"run-{os.getpid()}"
    try:
        report, result = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()}
    print("# report " + json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
