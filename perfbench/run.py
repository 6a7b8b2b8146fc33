"""Benchmark runner: one workload, one seed, one JSON line of metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload replay --seed 1 --seconds 25 --trace 0

A run is one cold set-up (a fresh JVM: session start, warm-up query, the
workload's inputs) and one pass of the workload, whose size is fixed by
constants, so every run at every seed does the same amount of work.
``--seconds`` is the nominal length of that pass; it is recorded in the
report and sizes nothing.

``--trace 0`` measures the end-to-end metrics with tracing off. ``--trace 1``
runs the same pass with tracing on and prints the per-layer metrics, the
spans and the tracing overhead: ``trace.overhead_s`` is the time spent
recording spans and tagging jobs, and ``trace.wall_s`` minus the ``wall_s``
of an untraced run at the same seed is the whole gap.

The last stdout line is always ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is a report with the host facts and the
workload's own end-to-end metrics. Everything a run writes goes under a
temp root in ``.perfbench/`` that is removed at exit; the base tables are
built once into ``.perfbench/data-*``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("replay", "versioned", "keys")

# end-to-end metrics every workload reports, with their units: the ones the
# result line carries (steady enough to gate on) and the rest of the report
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "ops_per_s": "1/s",
}
REPORTED = {
    **END_TO_END,
    "op_geomean_ms": "ms",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "peak_rss_mb": "MB",
}


def _configure_env(tmp: str, cpus: int) -> None:
    """Point every writer Spark and Python have at the run's temp root.
    Must run before the JVM starts."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(tmp, "warehouse")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # every JVM the launch starts (the launcher and the driver) keeps its
    # temp files in the run's temp root and writes no perf-data file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
        "pyspark-shell"
    )


def _make_workload(name: str, ctx: dict):
    if name == "replay":
        from perfbench.replay import Replay as W
    elif name == "versioned":
        from perfbench.versioned import Versioned as W
    else:
        from perfbench.keys import Keys as W
    return W(ctx)


def _stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None) or getattr(gateway, "java_process", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (AttributeError, OSError):
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args: argparse.Namespace) -> dict:
    from perfbench import inputs, trace

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    report: dict = {
        "workload": args.workload, "seed": args.seed, "sf": args.sf, "cpus": cpus,
        "git_head": trace.git_head(ROOT), "loadavg_1m_start": trace.loadavg_1m(),
        "canary_ms_start": trace.canary_ms(),
    }
    os.makedirs(STATE, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=STATE)
    spark = None
    try:
        _configure_env(tmp, cpus)
        from dodo_spark.session import get_spark

        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")) as f:
            pins = json.load(f)
        ctx = {"seed": args.seed, "sf": args.sf, "tmp": tmp, "cpus": cpus, "pins": pins}
        wl = _make_workload(args.workload, ctx)
        # the base tables are a build product, made before set-up is timed
        ctx["dirs"] = {sf: inputs.data_dir(STATE, sf) for sf in wl.scales}

        # set-up, cold: session start, warm-up query, the workload's inputs
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        spark.range(1000).selectExpr("sum(id)").collect()  # the session's first job
        t2 = time.perf_counter()
        wl.prepare(spark)
        setup_s = time.perf_counter() - t0

        tracer = trace.Tracer(spark, bool(args.trace))
        w0 = time.time()
        res = wl.run(spark, tracer)
        window = (w0, time.time())
        ops = res["ops"]
        outcomes = [o[2] for o in ops] + res.get("checks", [])

        lat = [o[1] for o in ops]
        failed = outcomes.count(False)
        attempted = len(outcomes)
        e2e = {
            "setup_s": setup_s,
            "wall_s": res["wall_s"],
            "ops_per_s": len(ops) / res["busy_s"],
            "op_p50_ms": trace.percentile(lat, 0.5) * 1000,
            "op_p90_ms": trace.percentile(lat, 0.9) * 1000,
            "op_geomean_ms": math.exp(statistics.fmean(math.log(max(x, 1e-6)) for x in lat)) * 1000,
            "peak_rss_mb": trace.peak_rss_mb(spark),
        }
        report.update(
            seconds=args.seconds, traced=bool(args.trace), ops=len(ops),
            failed_ratio=failed / max(attempted, 1),
            workload_metrics=wl.report(ops),
            end_to_end={k: {"value": v, "unit": REPORTED[k]} for k, v in e2e.items()},
        )
        if args.trace:
            from perfbench import layers

            jobs = trace.spark_jobs(spark)
            per_layer = layers.per_layer(wl, tracer, jobs, window)
            per_layer["session.start_s"] = t1 - t0
            per_layer["session.warmup_s"] = t2 - t1
            per_layer["trace.overhead_s"] = tracer.cost_s
            per_layer["trace.wall_s"] = res["wall_s"]
            metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in sorted(per_layer.items())}
            print(json.dumps({"spans": tracer.spans}))
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        report.update(loadavg_1m_end=trace.loadavg_1m(), canary_ms_end=trace.canary_ms())
        print(json.dumps({"report": report}))
        return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=25.0,
                    help="nominal length of the measured pass; recorded, sizes nothing")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="scale factor of the base tables")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dodo_spark")):
        print(f"perfbench: no dodo_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops its JVM and removes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 — report the failure, print no result
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
