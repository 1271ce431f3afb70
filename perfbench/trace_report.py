#!/usr/bin/env python3
"""Traced run of every workload, with its per-layer breakdown and the
tracing overhead.

Usage, from the root of a checkout:
  python3 perfbench/trace_report.py [--seed 7] [--out FILE]

For each workload of BENCHMARK.json: one `run.py --trace 1` run (spans,
SparkListener and job groups on) and one `run.py --trace 0` run with the
same seed. Writes a JSON document with, per workload, the per-layer
metrics of the traced run, the end-to-end metrics of both runs and the
tracing overhead (traced minus untraced, per end-to-end metric), and
prints the per-layer self times from the spans.
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} exited {r.returncode}\n{r.stderr[-3000:]}")
    # the full dump of every figure the run measured, end-to-end ones included
    dump = [l for l in r.stderr.splitlines() if l.startswith("[perfbench] all ")][-1]
    return json.loads(r.stdout.strip().splitlines()[-1]), json.loads(dump[len("[perfbench] all "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_build", "trace-report.json"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    report = {"seed": a.seed, "run_seconds": spec["run_seconds"], "workloads": {}}
    for w in [x["name"] for x in spec["workloads"]]:
        traced, traced_all = run(w, a.seed, spec["run_seconds"], 1)
        plain, _ = run(w, a.seed, spec["run_seconds"], 0)
        e2e = {}
        for m in spec["end_to_end"]:
            n = m["name"]
            t, u = traced_all[n], plain["metrics"][n]["value"]
            e2e[n] = {"traced": t, "untraced": u, "overhead": t - u, "unit": m["unit"]}
        report["workloads"][w] = {
            "correct": traced["correct"] and plain["correct"],
            "end_to_end": e2e,
            "per_layer": {k: v["value"] for k, v in traced["metrics"].items()},
        }
        print(f"\n{w}: traced vs untraced (seed {a.seed})")
        for n, v in e2e.items():
            print(f"  {n:18} {v['traced']:10.4f} {v['untraced']:10.4f}  overhead {v['overhead']:+.4f} {v['unit']}")
        layers = {k[len("layer."):-len(".self_s")]: v["value"]
                  for k, v in traced["metrics"].items() if k.startswith("layer.")}
        print("  layer self time (s): " + ", ".join(
            f"{k}={v:.2f}" for k, v in layers.items() if v > 0))
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"\nwritten to {a.out}")


if __name__ == "__main__":
    main()
