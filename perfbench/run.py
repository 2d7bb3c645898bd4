#!/usr/bin/env python3
"""Seeded workload benchmark for the tmdbsyncspark library.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload catalog_sync --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --self-test

The script builds the program and the benchmark from source with sbt (once
per source fingerprint; later runs reuse the classpath), runs one workload
in a fresh JVM and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones (see perfbench/README.md).

Everything the run writes stays inside perfbench/work and perfbench/target
(and the program's own target/ directory, written by its build).
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
STAMP = os.path.join(TARGET, "bench-build.json")
WORKLOADS = ("catalog_sync", "stream_dedup", "ann_serve")
CHILD_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (same list as the
# program's own build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the program's build and sources, and
    the benchmark's own build and sources."""
    roots = [os.path.join(ROOT, "src", "main"),
             os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    return env


def require_program():
    missing = [p for p in ("build.sbt", os.path.join("src", "main", "scala"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log("the program's sources are not here (missing: "
            + ", ".join(missing) + "); run from the root of a checkout")
        sys.exit(2)


def build():
    """Compile program + benchmark once per source fingerprint and return
    the runtime classpath."""
    require_program()
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        fp = fingerprint()
        if os.path.exists(STAMP):
            with open(STAMP) as fh:
                stamp = json.load(fh)
            if stamp.get("fingerprint") == fp:
                return stamp["classpath"]
        log("building program and benchmark with sbt")
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE,
            stderr=sys.stderr, text=True, timeout=840)
        lines = [ln.strip() for ln in proc.stdout.splitlines()]
        cp = [ln for ln in lines if ".jar" in ln and not ln.startswith("[")]
        if proc.returncode != 0 or not cp:
            sys.stderr.write(proc.stdout[-4000:])
            log("build failed")
            sys.exit(3)
        with open(STAMP, "w") as fh:
            json.dump({"fingerprint": fp, "classpath": cp[-1]}, fh)
        return cp[-1]


def run_child(cp, args, trace):
    """One workload run in its own JVM; returns the parsed result line."""
    work = os.path.join(BENCH, "work",
                        f"{args.workload}-s{args.seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Two Spark task threads (fewer on a smaller machine), two collector
    # threads and two JIT threads: with the thread that schedules Spark's
    # jobs a run keeps within four cores, so it measures the program, not
    # the scheduler.
    cpus = max(1, min(2, os.cpu_count() or 1))
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:ParallelGCThreads=2",
            "-XX:ConcGCThreads=1", "-XX:CICompilerCount=2",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(trace),
              "--work", work, "--cpus", str(cpus)])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"{args.workload} run exceeded {CHILD_TIMEOUT_S} s")
        sys.exit(4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        log(f"{args.workload} run exited with {proc.returncode}")
        sys.exit(5)
    return json.loads(lines[-1])


def self_test():
    require_program()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "perfbench/test"], cwd=BENCH, env=sbt_env())
    sys.exit(proc.returncode)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the benchmark's own unit tests and exit")
    args = ap.parse_args()
    if args.self_test:
        self_test()
    if args.workload is None:
        ap.error("--workload is required")
    cp = build()
    print(json.dumps(run_child(cp, args, args.trace)), flush=True)


if __name__ == "__main__":
    main()
