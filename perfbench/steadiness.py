#!/usr/bin/env python3
"""Run the benchmark on consecutive seeds and report how steady each
end-to-end metric is.

    python3 perfbench/steadiness.py --workload dedup_stream --runs 10 [--first-seed 1]

For each metric it prints the median, the quartiles from
`statistics.quantiles(values, n=4)` and the spread (Q3 - Q1) / median,
next to the metric's bound from BENCHMARK.json.  A spread at or above a
third of the bound is marked.  It also prints the wall time of each run,
which bounds how many runs fit in a time budget.
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
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    walls = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        walls.append(time.time() - t0)
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        row = {k: v["value"] for k, v in result["metrics"].items()}
        print(f"seed {seed}: wall {walls[-1]:.1f} s, correct={result['correct']} "
              + " ".join(f"{k}={v:.4g}" for k, v in row.items()), flush=True)
        for k, v in row.items():
            values[k].append(v)
    for m in spec["end_to_end"]:
        vals = values[m["name"]]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        flag = "" if spread < m["bound"] / 3 else "  <-- spread >= bound/3"
        print(f"{m['name']}: median={med:.4g} q1={q1:.4g} q3={q3:.4g} spread={spread:.3f} bound={m['bound']}{flag}")
    print(f"wall per run: median={statistics.median(walls):.1f} s max={max(walls):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
