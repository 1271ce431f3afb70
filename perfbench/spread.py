#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

Usage, from the root of a checkout:
  python3 perfbench/spread.py [--runs 10] [--first-seed 1] [workload ...]

Runs `perfbench/run.py --trace 0` once per seed for each workload (all
of BENCHMARK.json's by default) and prints, per workload and metric, the
median of the runs and the spread: the distance between the first and
third quartile (statistics.quantiles(values, n=4)) as a share of the
median, next to the metric's bound and whether the spread is under a
third of it. Raw result lines are appended to
.bench_build/spread-results.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = a.workloads or [w["name"] for w in spec["workloads"]]
    log = os.path.join(ROOT, ".bench_build", "spread-results.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for w in workloads:
        rows = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            if r.returncode != 0:
                print(f"{w} seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}", file=sys.stderr)
                continue
            res = json.loads(r.stdout.strip().splitlines()[-1])
            with open(log, "a") as fh:
                fh.write(json.dumps({"workload": w, "seed": seed, "wall_s": wall, **res}) + "\n")
            rows.append(res)
            print(f"{w} seed {seed}: {wall:.1f}s correct={res['correct']}", file=sys.stderr)
        if len(rows) < 2:
            continue
        print(f"\n{w} ({len(rows)} runs, all correct: {all(r['correct'] for r in rows)})")
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in rows]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            print(f"  {m['name']:18} median {med:10.4f} {m['unit']:6} spread {spread:6.3f}"
                  f"  bound {m['bound']:.2f}  {'ok' if spread < m['bound'] / 3 else 'WIDE'}")


if __name__ == "__main__":
    main()
