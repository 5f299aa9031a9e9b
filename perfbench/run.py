#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark driver from source on first use (sbt,
offline), then runs the driver in one JVM on local[min(4, nproc)]. Build
output, scratch data and trace files stay under `.bench_build/` at the root
of the checkout. The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}; anything else goes before it
or to standard error. Exits non-zero, without a result, when the build or
the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BENCH, "target", "runtime.classpath")
STAMP = os.path.join(BUILD, "perfbench.stamp")
WORKLOADS = ("bulk_build", "batch_search", "ingest_mixed")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the list spark-submit
# injects, org.apache.spark.launcher.JavaModuleOptions).
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
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the engine's build and sources, and the
    benchmark's own."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for name in sorted(os.listdir(os.path.join(ROOT, "project"))):
        if name.endswith((".sbt", ".properties", ".scala")):
            files.append(os.path.join(ROOT, "project", name))
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs.sort()
            files.extend(os.path.join(d, n) for n in sorted(names))
    return files


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine and driver unless the sources are unchanged since the
    last build in this checkout."""
    digest = source_digest()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    log("building engine and benchmark driver (sbt, offline)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = f"{opts} -XX:-UsePerfData -Djava.io.tmpdir={tmp}".strip()
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "writeClasspath"],
        cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.isfile(CLASSPATH):
        raise SystemExit(f"perfbench: build failed (sbt exit {proc.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    log(f"build done in {time.time() - t0:.0f}s")


def kill_group(proc):
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run_driver(args, work):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--size", args.size, "--work", work,
            "--trace-dir", os.path.join(BUILD, "traces")]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; scratch files must
    # stay inside the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    # a watchdog, so a silent hang is killed too
    timer = threading.Timer(RUN_TIMEOUT_S, kill_group, (proc,))
    timer.start()
    last = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line
            else:
                print(line, flush=True)
        proc.wait()
    finally:
        timer.cancel()
        kill_group(proc)
        proc.wait()
    if proc.returncode != 0:
        log(f"driver exited with {proc.returncode}")
        return None
    return last


def valid(result):
    try:
        r = json.loads(result)
    except (TypeError, ValueError):
        return False
    return (set(r) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(r["attempted"], int) and r["attempted"] >= 1
            and isinstance(r["failed"], int) and isinstance(r["metrics"], dict))


def main():
    # SIGTERM unwinds like an exception, so the driver JVM is killed and
    # the scratch directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--size", default="full", choices=("full", "smoke"),
                    help="smoke: the same workload at a size that runs in seconds")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"engine sources not found next to {BENCH}; run from a full checkout")
        return 2
    try:
        build()
    except subprocess.TimeoutExpired:
        log(f"build exceeded {BUILD_TIMEOUT_S}s")
        return 3
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run_driver(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None or not valid(result):
        log("no valid result")
        return 1
    print(result, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
