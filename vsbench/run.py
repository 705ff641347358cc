#!/usr/bin/env python3
"""Run one vector-search benchmark workload and print its metrics.

Usage, from the root of a checkout:

    python3 vsbench/run.py --workload graph-upsert --seed 7 --seconds 10 --trace 0

Workloads: flat-batch, graph-upsert (see BENCHMARK.json).

The script compiles the engine sources of the checkout together with the
harness (vsbench/src) through the sbt project in vsbench/, once per source
state, into .bench_build/. It then starts one JVM that generates the
workload's inputs from the seed, sets the index up, runs the timed closed
loop and checks every answer against its own exact k-NN. The last line of
stdout is the result object; the full record (provenance, extra metrics,
first failure) and, for --trace 1, the spans go to .bench_build/results/.

Needs SPARK_HOME (the Spark installation whose jars the engine builds and
runs against), sbt and a JDK with the jdk.incubator.vector module.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ("flat-batch", "graph-upsert")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# fixed heap; no hsperfdata file, so the JVM writes nothing outside the checkout
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData"]
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"vsbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """sha256 over every file the build reads: engine sources + harness."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, ".jvmopts"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    stamp = os.path.join(BUILD, "vsbench.stamp")
    classes = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest \
            and os.path.isdir(classes):
        return classes
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "compile"]
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                           stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    if r.returncode != 0:
        die(f"build failed with code {r.returncode}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def git_commit():
    """The checkout's commit, or "unknown" outside a git work tree."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        die("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        die(f"no engine sources under {ENGINE_SRC}: run from a full checkout")
    spark_home = os.environ.get("SPARK_HOME", "")
    jars = os.path.join(spark_home, "jars")
    if not spark_home or not os.path.isdir(jars):
        die("SPARK_HOME must name a Spark installation with a jars/ directory")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")

    digest = source_digest()
    classes = build(digest)

    tag = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    results = os.path.join(BUILD, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    cmd = (["java"] + JVM_FLAGS + ["--add-modules", "jdk.incubator.vector",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
              "vsbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--out", results, "--source", digest,
              "--commit", git_commit()])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        die(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    sys.stdout.write("\n".join(lines[:-1]) + ("\n" if len(lines) > 1 else ""))
    if proc.returncode != 0 or not lines:
        die(f"harness exited with code {proc.returncode}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        die("harness printed no result line")
    print(json.dumps(result))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
