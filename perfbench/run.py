#!/usr/bin/env python3
"""Benchmark runner for the graft snapshot pipeline and contract queries.

Run from the repository root:

    python3 perfbench/run.py --workload stream_ref --seed 1 --seconds 16 --trace 0

Workloads: stream_ref, query_mix. The first run in a checkout
builds the library and the benchmark with sbt (offline) and caches the
classpath under .bench_build/perfbench; later runs start the JVM directly.
Every metric is printed as `metric <name> <value> <unit>`; the last line
of standard output is the JSON result.

Extra flags, passed through to the JVM: --tiny (small sizes, for the
self-test), --plant-defect (a deliberately wrong answer),
--record-fingerprints (rewrite perfbench/fingerprints.tsv), --digest
(print the digest of the seeded inputs and exit).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("stream_ref", "query_mix")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(BUILD, "classpath.txt")

# Spark on JDK 17 needs these outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_newest():
    newest = 0.0
    for base in ("src/main", "build.sbt", "project/build.properties",
                 "perfbench/src", "perfbench/build.sbt",
                 "perfbench/project/build.properties"):
        path = os.path.join(ROOT, base)
        if os.path.isfile(path):
            newest = max(newest, os.path.getmtime(path))
        for dirpath, _, files in os.walk(path):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    return newest


def build():
    """Compile with sbt when the cached classpath is missing or stale."""
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= sources_newest():
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building with sbt", file=sys.stderr)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_LIMIT_S, start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    with open(CLASSPATH + ".tmp", "w") as f:
        f.write(lines[-1].strip())
    os.replace(CLASSPATH + ".tmp", CLASSPATH)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args, extra = ap.parse_known_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no graft sources next to perfbench/ (run from a full checkout)")
    build()

    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = ["java", "-Xmx2g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={work}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work,
            "--data", os.path.join(HERE, "data", "sf0.01"),
            "--fingerprints", os.path.join(HERE, "fingerprints.tsv")] + extra

    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run timed out")
    lines = out.rstrip("\n").splitlines()
    for line in lines[:-1]:
        print(line)
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {proc.returncode}")
    last = lines[-1]
    if "--digest" in extra:
        print(last)
        return
    try:
        result = json.loads(last)
    except ValueError:
        print(last)
        fail("last line is not a JSON result")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("result line has the wrong keys")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
