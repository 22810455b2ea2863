#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end metric's
median and quartile spread: (Q3 - Q1) / median, with Python's
statistics.quantiles(values, n=4), next to the metric's bound.

    python3 perfbench/spread.py --workload live --seeds 1 2 3 4 5 [--seconds 10]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for seed in a.seeds:
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                              a.workload, "--seed", str(seed), "--seconds", str(seconds),
                              "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE, text=True)
        r = json.loads(out.stdout.splitlines()[-1])
        runs.append(r)
        print("seed %d: correct %s failed %d/%d  %s" % (
            seed, r["correct"], r["failed"], r["attempted"],
            " ".join("%s=%.4g" % (k, v["value"]) for k, v in r["metrics"].items())), flush=True)
    print("%-20s %14s %8s %8s" % ("metric", "median", "spread", "bound"))
    for name in bounds:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("inf")
        print("%-20s %14.4f %8.3f %8.3f" % (name, med, spread, bounds[name]))


if __name__ == "__main__":
    main()
