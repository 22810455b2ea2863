#!/usr/bin/env python3
"""graft's benchmark: one command per workload run.

    python3 perfbench/run.py --workload live|backfill --seed N \
        --seconds S --trace 0|1

Builds the program and the benchmark from source on first use (under
.bench_build/), runs the workload in one JVM, and prints the result as
the last line of stdout: {"correct", "attempted", "failed", "metrics"}.
See perfbench/README.md for the workloads, metrics and layers.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("live", "backfill")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")
    return jars


def sources(base):
    if not os.path.isdir(base):
        raise SystemExit("perfbench: missing sources under " + os.path.relpath(base, ROOT))
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(base)
                  for f in fs if f.endswith((".scala", ".java")))


def compile_stage(name, srcs, cp, salt):
    """Compile `srcs` against `cp` into .bench_build/<name>, skipped when
    the sources (and `salt`) are unchanged; returns (dir, stamp)."""
    h = hashlib.sha256(salt.encode())
    for s in srcs:
        with open(s, "rb") as f:
            h.update(s.encode() + b"\0" + f.read())
    stamp = h.hexdigest()
    out = os.path.join(BUILD, name)
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out, stamp
    log("compiling %d %s sources" % (len(srcs), name))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-classpath", cp, "-d", out] + srcs,
        stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        raise SystemExit("perfbench: build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("compiled %s in %.0f s" % (name, time.time() - t))
    return out, stamp


def build():
    """Compile the program, then the benchmark against it, with the Scala
    compiler that ships with Spark; returns the run classpath and the
    stamp of the benchmark's build (it covers the program's sources too)."""
    jars = spark_jars() + "/*"
    main_dir, main_stamp = compile_stage(
        "classes-main", sources(os.path.join(ROOT, "src", "main", "scala")), jars, jars)
    cp = main_dir + os.pathsep + jars
    bench_dir, bench_stamp = compile_stage(
        "classes-bench", sources(os.path.join(HERE, "src")), cp, main_stamp)
    return bench_dir + os.pathsep + cp, bench_stamp


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def calib_ms():
    """Milliseconds a fixed single-threaded loop takes: the host's speed
    at the time, to tell a slow host from a slow program."""
    t = time.perf_counter()
    sum(i * i for i in range(2000000))
    return (time.perf_counter() - t) * 1000


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over cpus."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("smoke",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args(argv)

    cp, stamp = build()
    cpus = os.cpu_count() or 1
    work = os.path.join(BUILD, "work", a.workload)
    tmp = os.path.join(BUILD, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(BUILD, "spark-local"))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-XX:-UsePerfData", "-Xmx4g", "-Xmn1g", "-XX:ReservedCodeCacheSize=512m", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dderby.system.home=" + tmp, "-Dspark.hadoop.hadoop.tmp.dir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"), "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--cpus", str(cpus),
            "--data", os.path.join(HERE, "testdata", "sf0.01"),
            "--expect", os.path.join(HERE, "expected", "battery.txt")])
    if a.trace:
        os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
        cmd += ["--spans", os.path.join(BUILD, "trace", a.workload + "-spans.jsonl")]
    load0, steal0, calib0 = loadavg(), steal_s(), calib_ms()
    t = time.time()
    r = subprocess.run(cmd, env=env, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                       text=True, timeout=600 if a.workload == "smoke" else 170)
    load1, steal1, calib1 = loadavg(), steal_s(), calib_ms()
    lines = r.stdout.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    for line in lines[:-1] if result else lines:
        print(line)
    if r.returncode != 0 or result is None:
        raise SystemExit("perfbench: workload run failed (exit %d)" % r.returncode)
    wall = time.time() - t
    host = {"nproc": cpus, "load1_start": load0, "load1_end": load1,
            "contended": max(load0, load1) > 0.5 * cpus, "wall_s": round(wall, 3),
            "steal_share": round((steal1 - steal0) / (wall * cpus), 4),
            "calib_ms": [round(calib0, 1), round(calib1, 1)]}
    print("# host " + json.dumps(host))
    if a.workload != "smoke":
        record(a, stamp, lines, result, host)
    print(json.dumps(result))


def record(a, stamp, lines, result, host):
    """Keep every run's result under .bench_build/results; a traced run
    also writes its per-layer table with the tracing overhead: traced
    minus untraced end-to-end figures, against the median of this
    checkout's untraced runs of the same workload, build and --seconds."""
    res_dir = os.path.join(BUILD, "results")
    os.makedirs(res_dir, exist_ok=True)
    hist = os.path.join(res_dir, a.workload + ".jsonl")
    if not a.trace:
        with open(hist, "a") as f:
            f.write(json.dumps({"seed": a.seed, "seconds": a.seconds, "stamp": stamp,
                                "host": host, "result": result}) + "\n")
        return
    traced = next((json.loads(x[len("# traced-e2e "):]) for x in lines
                   if x.startswith("# traced-e2e ")), {})
    untraced = []
    if os.path.exists(hist):
        with open(hist) as f:
            runs = [json.loads(x) for x in f if x.strip()]
        untraced = [r["result"]["metrics"] for r in runs
                    if r.get("stamp") == stamp and r.get("seconds") == a.seconds]
    overhead = {}
    for k, v in traced.items():
        base = sorted(m[k]["value"] for m in untraced if k in m)
        if base:
            med = base[len(base) // 2]
            overhead[k] = {"traced": v, "untraced_median": med, "untraced_runs": len(base),
                           "overhead": (v - med) / med if med else None}
    if overhead:
        for k, o in overhead.items():
            print("# tracing overhead %-18s traced %12.3f untraced median %12.3f (%d runs) %+.1f%%"
                  % (k, o["traced"], o["untraced_median"], o["untraced_runs"],
                     100 * (o["overhead"] or 0)))
    else:
        print("# tracing overhead: no untraced %s run of this build and --seconds to compare with"
              % a.workload)
    table = {"workload": a.workload, "seed": a.seed, "host": host,
             "layers": result["metrics"], "traced_end_to_end": traced, "overhead": overhead}
    os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
    with open(os.path.join(BUILD, "trace", a.workload + ".json"), "w") as f:
        json.dump(table, f, indent=1)


if __name__ == "__main__":
    main(sys.argv[1:])
