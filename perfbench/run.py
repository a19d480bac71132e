#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the benchmark from source (sbt, once per source
state), then runs one workload in one JVM with a Spark local[nproc]
session, and prints the run's result as the last line of standard output:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 1 the metrics are the per-layer ones, and every figure of the
run is also written to perfbench/work/trace-<workload>-seed<N>.json.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORK = os.path.join(HERE, "work")
WORKLOADS = ("copurchase-leiden", "web-leiden")

JDK17_OPENS = [
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


def sources_digest():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def build(timeout):
    digest = sources_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    log("building program and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    rc, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], timeout,
                      cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0:
        raise RuntimeError(f"sbt compile failed with exit code {rc}")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def heap_gib():
    try:
        with open("/proc/meminfo") as fh:
            kib = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return max(2, min(3, kib // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 4


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--keep-work", action="store_true",
                    help="keep the run's directory, with the generated input parquet")
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "leiden", "Leiden.scala")):
        log(f"program sources not found under {os.path.relpath(PROGRAM_SRC, os.getcwd())}")
        return 2

    start = time.monotonic()
    try:
        build(timeout=850)
    except (RuntimeError, subprocess.TimeoutExpired, OSError) as e:
        log(f"build failed: {e}")
        return 3
    built = time.monotonic() - start > 60
    budget = (890 if built else 175) - (time.monotonic() - start)

    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    trace_out = os.path.join(WORK, f"trace-{a.workload}-seed{a.seed}.json")
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    spark_jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
    # a fixed, pre-touched heap: without it the first calls of a run pay
    # the page faults of a heap they touch for the first time, and reach
    # their steady time only after several rounds
    cmd = [java, f"-Xms{heap_gib()}g", f"-Xmx{heap_gib()}g", "-XX:+AlwaysPreTouch"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Dlog4j2.configurationFile={HERE}/src/main/resources/log4j2.properties",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dspark.local.dir={run_dir}/spark",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{CLASSES}{os.pathsep}{spark_jars}",
        "graft.perfbench.Main",
        a.workload, str(a.seed), str(a.seconds), a.trace, run_dir, str(cores), trace_out,
    ]
    try:
        rc, out = run_group(cmd, max(30, budget), stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    except subprocess.TimeoutExpired:
        log("benchmark run timed out")
        return 4
    finally:
        if a.keep_work:
            log(f"inputs kept in {os.path.relpath(run_dir, os.getcwd())}")
        else:
            shutil.rmtree(run_dir, ignore_errors=True)
    results = [l[len("RESULT "):] for l in out.splitlines() if l.startswith("RESULT ")]
    if rc != 0 or not results:
        log(f"benchmark run failed with exit code {rc}")
        return 1
    print(json.dumps(json.loads(results[-1])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
