#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Runs one workload once per seed and prints, for every end-to-end metric of
BENCHMARK.json, the median of the runs and the distance between their first
and third quartiles as a share of that median (the quartiles are
statistics.quantiles(values, n=4)), next to the metric's bound.

    python3 perfbench/spread.py --workload ann_serve --seeds 1-10
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(workload, seed, seconds):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if proc.returncode != 0:
        sys.exit(f"seed {seed}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    results = []
    for seed in seeds_of(args.seeds):
        r = run(args.workload, seed, spec["run_seconds"])
        values = " ".join(f"{m['name']}={r['metrics'][m['name']]['value']:.4g}"
                          for m in spec["end_to_end"])
        print(f"seed {seed}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} {values}", flush=True)
        results.append(r)
    if len(results) < 2:
        sys.exit("need at least two runs")
    print(f"{'metric':24} {'median':>12} {'spread':>7} {'bound':>6}")
    worst = 0.0
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        if m["name"] != "setup_s":
            worst = max(worst, spread / m["bound"])
        print(f"{m['name']:24} {med:12.4f} {spread:7.3f} {m['bound']:6.2f}")
    print(f"largest spread as a share of its bound (setup_s aside): {worst:.2f}")


if __name__ == "__main__":
    main()
