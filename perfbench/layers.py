"""Print the per-layer table of one traced run and the tracing overhead.

    python3 perfbench/layers.py --workload cow_ingest --seed 1 --seconds 12

Runs the workload twice with the same seed, in separate processes: once
untraced and once traced. Prints every per-layer metric of the traced run,
grouped by the engine module it measures, with the end-to-end metrics the
layer should move; then, for each end-to-end metric, the traced value
minus the untraced one (the tracing overhead).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (layer, metric-name prefixes, end-to-end metrics it should move,
# workloads where it is heavy / light)
LAYERS = [
    ("operators.write", ("write.",),
     "upsert_p50_s, delete_p50_s, bulk_insert_p50_s, write_bytes_per_row",
     "cow_ingest / snapshot_reads"),
    ("operators.merge", ("merge.",), "upsert_p50_s, delete_p50_s",
     "cow_ingest / snapshot_reads"),
    ("sql.dml", ("dml.",), "merge_into_p50_s", "cow_ingest / others"),
    ("sources.read", ("read.",),
     "snapshot_read_*, incremental_read_p50_s, time_travel_p50_s",
     "snapshot_reads, mor_ingest / cow_ingest"),
    ("plans.pruning", ("pruning.",), "filtered_read_p50_s, point_lookup_p50_s",
     "snapshot_reads / ingest"),
    ("metadata", ("metadata.",), "the driver floor of every op", "all"),
    ("timeline", ("timeline.",), "upsert_tail_s", "cow_ingest / snapshot_reads"),
    ("fs", ("fs.",), "every p50", "all"),
    ("concurrency", ("concurrency.",), "upsert_tail_s (~0 with one writer)",
     "ingest / snapshot_reads"),
    ("operators.services", ("services.",),
     "compaction_p50_s, upsert_tail_s, table_bytes_per_live_row",
     "mor_ingest, cow_ingest / snapshot_reads"),
    ("Spark/py4j boundary", ("spark.", "py4j.", "driver."),
     "every p50; driver-bound vs executor-bound", "all"),
    ("process", ("proc.", "host."), "setup_s; flags noisy runs", "all"),
]


def run_once(workload: str, seed: int, seconds: int, trace: int, report: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--report", report]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.exit(f"{' '.join(cmd)} exited {p.returncode}\n{p.stderr[-3000:]}")
    with open(report) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    args = ap.parse_args()
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".perfbench_layers-") as tmp:
        plain = run_once(args.workload, args.seed, args.seconds, 0,
                         os.path.join(tmp, "plain.json"))
        traced = run_once(args.workload, args.seed, args.seconds, 1,
                          os.path.join(tmp, "traced.json"))

    print(f"{args.workload}, seed {args.seed}, {args.seconds} s; host {traced['host']}")
    layer = traced["per_layer"]
    for name, prefixes, moves, heavy in LAYERS:
        print(f"\n{name}  (should move: {moves}; heavy / light: {heavy})")
        for k, m in layer.items():
            if k.startswith(prefixes):
                print(f"  {k:44} {m['value']:14.4f} {m['unit']}")

    print("\ntracing overhead (traced - untraced)")
    print(f"  {'metric':28} {'untraced':>12} {'traced':>12} {'overhead':>12}")
    rows = [(k, plain["end_to_end"][k], traced["end_to_end"][k]) for k in plain["end_to_end"]]
    rows += [(f"{k} ({m['n']} ops)", m, traced["detail"]["ops"].get(k, m))
             for k, m in plain["detail"]["ops"].items() if "n" in m]
    for k, a, b in rows:
        d = b["value"] - a["value"]
        pct = f"{100 * d / a['value']:+.1f}%" if a["value"] else ""
        print(f"  {k:28} {a['value']:12.4f} {b['value']:12.4f} {d:+12.4f} {a['unit']} {pct}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
