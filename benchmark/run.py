#!/usr/bin/env python3
"""Benchmark command: run one workload of the graft engine for one seed.

    python3 benchmark/run.py --workload queries --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first run compiles the harness
together with the engine sources of that checkout (sbt, offline); later
runs reuse the build while no source file changes. Each run works in a
fresh directory under .bench_build/ and deletes it afterwards.

With --trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 it carries the per-layer metrics of a traced run, and the
spans go to .bench_build/traces/. The line before it holds diagnostics
(per-pass walls, set-up parts, the host probe, failures).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import datagen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "sources.sha256")
WORKLOADS = ("queries", "table_commits")
# A run must end within 180 s, or 900 s when it builds first: the build
# gets at most BUILD_S, and the run DEADLINE_S from the end of the build.
BUILD_S = 720
DEADLINE_S = 170
# Input tables: TPC-H row counts at this scale factor, fixed data seed.
# The run's --seed picks op order and table-commit keys, not the data, so
# every run checks against the same pinned results.
SCALE = 0.01
DATA_SEED = 42

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def source_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                os.path.join(BENCH, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(home):
    """Compile harness + engine unless the stamped sources are unchanged."""
    digest = source_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false", "compile"]
    r = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=BUILD_S)
    if r.returncode != 0:
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(digest)


def run_jvm(home, args, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # A fixed, pre-touched heap: no heap growth or first-touch page faults
    # inside the timed passes.
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
           "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(home, "jars", "*"),
            "bench.Main"] + [f"{k}={v}" for k, v in args.items()]
    budget = deadline - time.time()
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(1, budget))
    except subprocess.TimeoutExpired:
        fail("run exceeded its deadline")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0:
        fail(f"harness exited with code {code}")
    with open(args["out"]) as f:
        return json.load(f)


def main():
    # On SIGTERM, unwind so the JVM is stopped and the run directory removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    opts = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of an engine checkout (src/main/scala/graft missing)")
    home = spark_home()
    build(home)
    deadline = time.time() + DEADLINE_S

    work = os.path.join(BUILD, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        d0 = time.time()
        datagen.write(data, SCALE, DATA_SEED)
        # setup_s counts from here: the harness's own data generation is
        # not the engine's set-up, so it is only a diagnostic.
        t0 = time.time()
        args = {
            "workload": opts.workload, "seed": opts.seed,
            "seconds": opts.seconds, "trace": opts.trace, "work": work,
            "data": data, "datagen_s": t0 - d0,
            "expected": os.path.join(BENCH, "expected.json"),
            "out": os.path.join(work, "result.json"),
            "t0": int(t0 * 1000),
        }
        if opts.trace:
            args["spans"] = os.path.join(
                BUILD, "traces", f"{opts.workload}-seed{opts.seed}.json")
        res = run_jvm(home, args, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": res["detail"]}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed",
                                          "metrics")}))


if __name__ == "__main__":
    main()
