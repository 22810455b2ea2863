#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny size, in one JVM.

    python3 perfbench/smoke_test.py

Runs every workload untraced and traced, checks that each run reports
every metric BENCHMARK.json names with its unit and no failures, then
checks that each injected fault makes the run report failures: one
dropped message (on each workload), one wrong ingest expectation (one
point too many) and one wrong battery expectation (another content hash).
Exits 0 when all hold.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "smoke",
                          "--seconds", "1"], cwd=ROOT, stdout=subprocess.PIPE, text=True,
                         timeout=900)
    lines = out.stdout.splitlines()
    cases = []
    for i, line in enumerate(lines):
        if line.startswith("# case "):
            case = dict(kv.split("=") for kv in line.split()[3:])
            case["workload"] = line.split()[2]
            result = next(json.loads(x) for x in lines[i + 1:] if x.startswith("{"))
            cases.append((case, result))
    problems = []
    if out.returncode != 0 or len(cases) != 8:
        problems.append("smoke run exited %d with %d cases" % (out.returncode, len(cases)))
    for case, r in cases:
        name = "%s trace=%s inject=%s" % (case["workload"], case["trace"], case["inject"])
        got = {k: v["unit"] for k, v in r["metrics"].items()}
        if got != want[int(case["trace"])]:
            missing = set(want[int(case["trace"])].items()) - set(got.items())
            extra = set(got.items()) - set(want[int(case["trace"])].items())
            problems.append("%s: metrics differ (missing %s, extra %s)"
                            % (name, sorted(missing)[:5], sorted(extra)[:5]))
        ratio = r["failed"] / r["attempted"]
        if case["inject"] == "none" and (not r["correct"] or r["failed"] != 0):
            problems.append("%s: failed_ratio %.6f on a clean run" % (name, ratio))
        if case["inject"] != "none" and (r["correct"] or ratio <= 0):
            problems.append("%s: the injected fault was not caught" % name)
        print("%-40s failed_ratio %.6f correct %s" % (name, ratio, r["correct"]))
    for p in problems:
        print("FAIL " + p)
    print("smoke: %s" % ("ok" if not problems else "%d problems" % len(problems)))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
