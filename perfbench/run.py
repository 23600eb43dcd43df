#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Workloads: analytics, backfill, livestream (see perfbench/README.md).
The first run builds the engine and the benchmark from source with sbt
into the build directory ($CARGO_TARGET_DIR, default .bench_build);
later runs reuse that build while the sources are unchanged. The last
line of standard output is the JSON result. The exit code is 0 only
when every correctness check passed.
"""
import argparse
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("analytics", "backfill", "livestream")
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, n) for n in ("build.sbt", "jvm.flags")]
    files.append(os.path.join(HERE, "project", "build.properties"))
    files.append(os.path.join(ROOT, "build.sbt"))  # names Spark's jars without SPARK_HOME
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(bdir):
    stamp_file = os.path.join(bdir, "build.stamp")
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return cp_file
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, CARGO_TARGET_DIR=bdir)
    with open(os.path.join(bdir, "build.log"), "w") as log:
        rc = subprocess.call(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {os.path.join(bdir, 'build.log')}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp_file


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    bdir = build_dir()
    with open(build(bdir)) as fh:
        cp = fh.read().strip()
    with open(os.path.join(HERE, "jvm.flags")) as fh:
        flags = [l.strip() for l in fh if l.strip()]
    tmp = os.path.join(bdir, "tmp")
    work = os.path.join(bdir, "work", args.workload)
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + flags + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--data", os.path.join(HERE, "data"), "--work", work]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    sys.exit(rc)


if __name__ == "__main__":
    main()
