"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cow_ingest --seed 1 --seconds 12 --trace 0

Run from the repository root. The workload builds its inputs from the
seed, sets its table up several times, drives the public ``HudiTable``
API in a closed loop (one client) for ``--seconds``, and checks every
answer against its own model. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics (``--trace 0``) or the per-layer metrics of a traced run
(``--trace 1``). The line before it carries per-op detail and the host
sentinel. Exits non-zero on a wrong answer or a failed op.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")
WORKLOADS = ("cow_ingest", "mor_ingest", "snapshot_reads")


def build_spark(work_dir: str, cpus: int):
    from pyspark.sql import SparkSession

    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={local} -Dderby.system.home={work_dir}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session (``None`` when start-up was cut short), then the
    JVM that pyspark launched, and wait until that process has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None


def run(spark, work_dir: str, workload: str, seed: int, seconds: float, trace: bool,
        scale: float = 1.0, max_ops: int | None = None, setup_reps: int = 4) -> dict:
    """Run one workload on an existing session; returns the report dict
    (also used in-process by the benchmark's tests)."""
    from tracing import Tracer, cpu_ticks, host_sentinel
    from workloads import SPECS, Failure, Workload

    ticks0 = cpu_ticks()
    tracer = Tracer(spark) if trace else None
    w = Workload(spark, work_dir, SPECS[workload], seed, scale, tracer, setup_reps)
    error = None
    try:
        if tracer:
            with tracer:
                w.run(seconds, max_ops)
        else:
            w.run(seconds, max_ops)
    except Failure as e:
        error = str(e)
    except Exception:  # an op raised: the run stops and reports it as failed
        w.failed += 1
        error = traceback.format_exc()
    report = {"workload": workload, "seed": seed, "seconds": seconds, "scale": scale,
              "trace": int(trace), "error": error, "attempted": w.attempted,
              "failed": w.failed, "detail": w.detail(), "host": host_sentinel(ticks0)}
    if error is None:
        report["end_to_end"] = {k: {"value": v, "unit": u} for k, (v, u) in w.metrics().items()}
        if tracer:
            layers = tracer.layer_metrics(w.table_info())
            report["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
            tracer.dump(os.path.join(OUT_ROOT, f"spans-{workload}-{seed}.json"),
                        {"workload": workload, "seed": seed})
    return report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", help="also write the full report JSON to this file")
    args = ap.parse_args(argv)

    # the engine is imported from the source tree beside the benchmark:
    # without it there is nothing to measure
    if not os.path.isfile(os.path.join(ROOT, "hudi_0_10_0_spark", "__init__.py")):
        print(f"perfbench: engine package hudi_0_10_0_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.pop("HUDI_SPARK_DEBUG_TIMING", None)
    # a terminated run still stops Spark and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(WORK_ROOT, exist_ok=True)
    work_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK_ROOT)
    os.environ["TMPDIR"] = work_dir
    tempfile.tempdir = work_dir
    spark = None
    try:
        t0 = time.perf_counter()
        spark = build_spark(work_dir, len(os.sched_getaffinity(0)))
        session_s = time.perf_counter() - t0
        report = run(spark, work_dir, args.workload, args.seed, args.seconds,
                     bool(args.trace))
        report["session_start_s"] = session_s
    finally:
        try:
            stop_spark(spark)
        finally:
            shutil.rmtree(work_dir, ignore_errors=True)

    if args.report:
        with open(args.report, "w") as f:
            json.dump(report, f, indent=1)
    print(json.dumps({k: report[k] for k in ("workload", "seed", "session_start_s",
                                               "detail", "host")}))
    if report["error"]:
        print(report["error"], file=sys.stderr)
        return 1
    metrics = report["end_to_end"]
    if args.trace:
        # the traced run measures every layer metric; the result line
        # carries the ones BENCHMARK.json lists (the full set is in --report)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            listed = [m["name"] for m in json.load(f)["per_layer"]]
        metrics = {k: report["per_layer"][k] for k in listed}
    print(json.dumps({"correct": True, "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
