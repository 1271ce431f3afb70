#!/usr/bin/env python3
"""Run one benchmark measurement (see perfbench/NOTES.md).

Usage, from the root of a checkout:
  python3 perfbench/run.py --workload pos_stream|bi_dashboard|corpus_ingest \\
      --seed N --seconds S --trace 0|1

Builds the engine and the harness if needed (perfbench/build.py), starts
one fresh JVM on local[<all cores>], mapping the build's class-data-sharing
archive, in a fresh scratch directory under .bench_build/runs (deleted at
exit), and prints as the last line of
stdout one JSON object: correct, attempted, failed and the metrics of
BENCHMARK.json -- the end_to_end ones with --trace 0, the per_layer ones
with --trace 1. A traced run also leaves its spans in
.bench_build/traces/<workload>-<seed>.json. Every JVM log line goes to
stderr.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True
import build  # noqa: E402

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    build.build()
    work = os.path.join(build.OUT, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spans = os.path.join(build.OUT, "traces", f"{a.workload}-{a.seed}.json")
    result = os.path.join(work, "result.json")
    cmd = build.java(os.path.join(work, "tmp")) + [
        f"-XX:SharedArchiveFile={build.JSA}",
        f"-Dperfbench.dir={BENCH}", "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--out", result, "--spans", spans,
        "--t0", str(int(time.time() * 1000))]
    try:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work, env=env)
        try:
            code = proc.wait(timeout=170)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("benchmark JVM timed out")
        if code != 0:
            raise SystemExit(f"benchmark JVM exited {code}")
        with open(result) as fh:
            got = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # every measured figure, host.calib_s included, for the record
    print("[perfbench] all " + json.dumps(got["metrics"], sort_keys=True), file=sys.stderr)
    metrics = {}
    for m in wanted:
        v = got["metrics"].get(m["name"])
        if v is None:
            raise SystemExit(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    failed = int(got["failed"])
    print(json.dumps({"correct": failed == 0, "attempted": int(got["attempted"]),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
