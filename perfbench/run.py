#!/usr/bin/env python3
"""Run one benchmark measurement of the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source tree. The first run builds the engine and the
harness with sbt (and again whenever their sources change); later runs start
the measuring JVM directly. Inputs are generated from the seed under
.bench_work/, which is removed again when the run ends; each run's detail
record stays in .bench_work/results/.

Standard output ends with one JSON line: correct, attempted, failed and the
metrics (end-to-end ones untraced, per-layer ones with --trace 1). The exit
code is 0 only when every output checked out.
"""
import argparse
import hashlib
import os
import subprocess
import sys
import time

WORKLOADS = ("wordcount_text", "dedup_stream", "vector_search")
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_work")
CLASSPATH = os.path.join(BENCH, "target", "runtime-classpath.txt")
STAMP = os.path.join(BENCH, "target", "source-stamp.txt")
# The whole run, build excluded, must end within this many seconds.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

# What spark-submit would pass to a JDK 17 Spark application (Spark's
# JavaModuleOptions); needed when the JVM is started directly.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """The files the build reads: engine and harness sources, build files."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(stamp):
    """Compile with sbt unless the last build was of the same sources."""
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    print("perfbench: building engine and harness with sbt", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail("build failed", 3)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def machine():
    """Cores this process may run on, and a heap sized from physical memory:
    a quarter of it, between 1 and 4 GiB."""
    cores = len(os.sched_getaffinity(0))
    mem_kb = 4 << 20
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_mb = max(1024, min(4096, mem_kb // 1024 // 4))
    return cores, heap_mb


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 and r.stdout.strip() else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if args.seconds <= 0 or args.seconds > 120:
        fail("--seconds must be in (0, 120]")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail(f"no engine sources next to {BENCH}: run from the root of a graft source tree")

    stamp = source_hash()
    build(stamp)
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    cores, heap_mb = machine()
    work = os.path.join(WORK, args.workload)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xms{heap_mb}m", f"-Xmx{heap_mb}m", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--work", work,
            "--cores", str(cores), "--commit", commit(), "--source-hash", stamp]
    start = time.monotonic()
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                           timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_LIMIT_S}s", 4)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{\"correct\""):
        fail(f"measuring JVM exited {r.returncode} without a result", 5)
    for l in lines:
        print(l)
    print(f"perfbench: {args.workload} seed {args.seed} took {time.monotonic() - start:.1f}s",
          file=sys.stderr)
    sys.exit(r.returncode)


if __name__ == "__main__":
    main()
