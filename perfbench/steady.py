"""Check that the benchmark is steady: run a workload once per seed and
print, for each end-to-end metric, the median and the spread (distance
between the first and third quartile as a share of the median) next to
the metric's bound from BENCHMARK.json. The mix-weighted wall latency
``op_mix_p50_s`` from the detail line is shown too, with no bound.

    python3 perfbench/steady.py --workload cow_ingest --seeds 1 2 3 4 5
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", default=list(range(1, 11)))
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {}
    walls = []
    for seed in args.seeds:
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        walls.append(time.perf_counter() - t0)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}", file=sys.stderr)
            return 1
        lines = p.stdout.strip().splitlines()
        out = json.loads(lines[-1])
        detail = json.loads(lines[-2])
        host = detail["host"]
        print(f"seed {seed}: wall {walls[-1]:.1f}s steal {host['steal_pct']}% "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in out["metrics"].items()),
              flush=True)
        for k, m in out["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        values.setdefault("op_mix_p50_s", []).append(
            detail["detail"]["ops"]["op_mix_p50_s"]["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print(f"\n{args.workload}: {len(args.seeds)} runs, mean wall {statistics.mean(walls):.1f}s")
    print(f"{'metric':28} {'median':>12} {'spread':>8} {'bound':>6}")
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        bound = f"{bounds[k]:6.2f}" if k in bounds else "     -"
        print(f"{k:28} {med:12.4f} {(q3 - q1) / med:8.3f} {bound}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
