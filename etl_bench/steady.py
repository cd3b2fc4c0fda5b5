"""Run one workload on several seeds and report each metric's spread.

    python3 etl_bench/steady.py --workload nightly_etl --seeds 1-10 --seconds 8

For every metric: the median of the runs, and the spread (Q3 - Q1) / median
with Python's ``statistics.quantiles(values, n=4)``.  Also reports the wall
time per run, the failed-operation count and each run's diagnostics line.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from etl_bench.stats import median, quartile_spread  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5", help="first-last, inclusive")
    ap.add_argument("--seconds", type=float, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    if args.seconds is None:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            args.seconds = json.load(fh)["run_seconds"]
    first, last = (int(x) for x in args.seeds.split("-"))

    runs, walls, failed = [], [], 0
    for seed in range(first, last + 1):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            cwd=root, capture_output=True, text=True, timeout=900,
        )
        walls.append(time.time() - t0)
        diag = [ln for ln in proc.stderr.splitlines() if ln.startswith("etl_bench")]
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        failed += result["failed"]
        runs.append({k: v["value"] for k, v in result["metrics"].items()})
        print(f"seed {seed}: wall {walls[-1]:.1f} s  " + "  ".join(diag), flush=True)

    print(f"\n{args.workload}: {len(runs)} runs, failed ops {failed}, "
          f"wall median {median(walls):.1f} s, max {max(walls):.1f} s")
    for name in runs[0]:
        values = [r[name] for r in runs]
        spread = quartile_spread(values) if len(values) > 1 else 0.0
        print(f"  {name:45s} median {median(values):14.5g}  spread {spread:7.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
