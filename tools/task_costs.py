"""Spark task costs per op of a perfbench workload.

Usage:
    python3 tools/task_costs.py --workload cow_ingest [--seed 1] [--seconds 12] [--root DIR]

Runs one workload of ``perfbench/`` (imported unchanged, with its own
session settings) and puts every timed op in its own Spark job group.
After the run it reads Spark's status store and prints, per op:

- ``jobs``: Spark jobs the op started; ``listing``: of those, the file-
  listing jobs Spark runs inside ``DataFrameReader.load`` past
  ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths;
- ``stages`` (that ran tasks) and ``tasks``;
- ``empty``: tasks that read and wrote no record (input, output, shuffle
  read and shuffle write record counts all 0). A task that builds rows
  from driver-side local data and returns them to the driver, such as a
  broadcast build from a local relation, counts here too;
- ``deser_cpu_s``: executor CPU spent deserializing tasks; ``run_cpu_s``:
  executor CPU spent running them.

A per-kind median table follows. Set-up bulk loads are listed as
``bulk_insert``; warm-up and history ops are not timed by the workload and
do not appear. ``--root`` points at another checkout whose engine and
``perfbench/`` are imported instead of this one, so a parent commit can be
measured the same way. Nothing in the engine is hooked: the numbers come
from the status store alone.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile

COLS = ("jobs", "listing", "stages", "tasks", "empty", "deser_cpu_s", "run_cpu_s")


class TaskRecorder:
    """Stands in for perfbench's tracer: runs each timed op in its own
    Spark job group and remembers the group. ``wrap`` is the identity."""

    def __init__(self, spark):
        self.spark = spark
        self.ops: list[tuple[str, str]] = []  # (kind, job group)

    def wrap(self, name, fn):
        return fn

    def run_op(self, kind: str, fn):
        sc = self.spark.sparkContext
        group = f"task-costs-{len(self.ops)}"
        sc.setJobGroup(group, kind)
        try:
            return fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.ops.append((kind, group))


def _is_listing(job) -> bool:
    desc = job.description()
    return job.name().startswith("load at") or (
        desc.isDefined() and desc.get().startswith("Listing leaf files")
    )


def _stage_tasks(store, stage_id: int) -> list:
    try:
        attempt = store.lastStageAttempt(stage_id).attemptId()
    except Exception:  # a skipped stage never ran an attempt
        return []
    tasks = store.taskList(stage_id, attempt, 2**31 - 1)
    return [tasks.apply(i) for i in range(tasks.size())]


def group_costs(spark, group: str) -> dict:
    """The ``COLS`` figures of one job group, read from the status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(COLS, 0)
    out["deser_cpu_s"] = out["run_cpu_s"] = 0.0
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(int(jid))
        out["jobs"] += 1
        out["listing"] += _is_listing(job)
        ids = job.stageIds()
        for i in range(ids.size()):
            tasks = _stage_tasks(store, ids.apply(i))
            out["stages"] += bool(tasks)
            for t in tasks:
                m = t.taskMetrics()
                out["tasks"] += 1
                if not m.isDefined():
                    continue
                m = m.get()
                out["deser_cpu_s"] += m.executorDeserializeCpuTime() / 1e9
                out["run_cpu_s"] += m.executorCpuTime() / 1e9
                out["empty"] += not (
                    m.inputMetrics().recordsRead()
                    or m.outputMetrics().recordsWritten()
                    or m.shuffleReadMetrics().recordsRead()
                    or m.shuffleWriteMetrics().recordsWritten()
                )
    return out


def _row(label: str, vals: dict) -> str:
    return f"{label:<18}" + "".join(
        f"{vals[c]:>12.3f}" if c.endswith("_s") else f"{vals[c]:>9g}" for c in COLS
    )


def _header(first: str) -> str:
    return f"{first:<18}" + "".join(
        f"{c:>12}" if c.endswith("_s") else f"{c:>9}" for c in COLS
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="cow_ingest",
                    choices=("cow_ingest", "mor_ingest", "snapshot_reads"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument(
        "--root",
        default=os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."),
        help="checkout whose engine and perfbench/ are run",
    )
    args = ap.parse_args()
    root = os.path.abspath(args.root)
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.join(root, "perfbench"))
    os.environ["TZ"] = "UTC"
    import time

    time.tzset()

    from run import build_spark, stop_spark
    from workloads import SPECS, Workload

    work = tempfile.mkdtemp(prefix="task_costs_")
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    spark = None
    try:
        spark = build_spark(work, len(os.sched_getaffinity(0)))
        rec = TaskRecorder(spark)
        Workload(spark, work, SPECS[args.workload], args.seed, tracer=rec).run(args.seconds)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        costs = [(kind, group_costs(spark, g)) for kind, g in rec.ops]
    finally:
        try:
            stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    print(f"# {args.workload}, seed {args.seed}, {args.seconds:g} s, "
          f"{len(os.sched_getaffinity(0))} CPUs; engine from {root}")
    print(_header("op"))
    for i, (kind, c) in enumerate(costs):
        print(_row(f"{i:>3} {kind}", c))
    print()
    print(_header("median per kind") + f"{'n':>5}")
    for kind in dict.fromkeys(k for k, _ in costs):
        rows = [c for k, c in costs if k == kind]
        med = {col: statistics.median(r[col] for r in rows) for col in COLS}
        print(_row(kind, med) + f"{len(rows):>5}")


if __name__ == "__main__":
    main()
