#!/usr/bin/env python3
"""Facade benchmark entry point.

Builds the engine and the benchmark code from this checkout with sbt
(once per source state; the classpath is cached under perfbench/target),
then runs one workload in a fresh JVM and relays its output. The last
stdout line is the result object; the line before it is the run's record.

Usage (from the checkout root):
    python3 perfbench/run.py --workload <build|search_wand|search_lsm_rw> \
        --seed <n> --seconds <s> --trace <0|1>
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
CP_FILE = os.path.join(TARGET, "bench-classpath.txt")
WORKLOADS = ("build", "search_wand", "search_lsm_rw")
# Spark 4 on JDK 17 outside spark-submit needs the same module openings the
# root build passes to its forked JVMs.
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 175
BUILD_RUN_LIMIT_S = 880


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for base in roots:
        for dirpath, dirs, names in os.walk(base):
            dirs.sort()
            files.extend(os.path.join(dirpath, n) for n in sorted(names))
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath(deadline):
    """Cached runtime classpath, rebuilt with sbt when the sources changed."""
    stamp = source_stamp()
    if os.path.exists(CP_FILE):
        with open(CP_FILE) as f:
            cached_stamp, cp = (f.read().splitlines() + ["", ""])[:2]
        if cached_stamp == stamp and cp:
            return cp, False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                           f"-Dsbt.repository.config={repos}")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=max(10, deadline - time.time()))
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 1)
    classes = os.path.join(TARGET, "scala-2.13", "classes")
    lines = [l for l in p.stdout.splitlines() if l.startswith(classes)]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-20000:])
        fail("build failed", 1)
    os.makedirs(TARGET, exist_ok=True)
    with open(CP_FILE, "w") as f:
        f.write(f"{stamp}\n{lines[-1].strip()}\n")
    return lines[-1].strip(), True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "api", "SearchEngine.scala")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    t0 = time.time()
    cp, built = classpath(t0 + BUILD_RUN_LIMIT_S - 60)
    deadline = t0 + (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S)
    work = os.path.join(TARGET, "work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = shutil.which("java") or fail("java not found")
    cmd = [java] + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:-UsePerfData", f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "graft.perfbench.FacadeBench",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--out", os.path.join(TARGET, "records")]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # keep Spark's scratch space inside the work dir
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        shutil.rmtree(work, ignore_errors=True)
        fail("run exceeded its time limit", 1)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    if proc.returncode != 0 or not isinstance(result, dict) or "correct" not in result:
        sys.stderr.write(out[-20000:])
        fail(f"run failed (exit {proc.returncode})", 1)
    sys.stdout.write(out if out.endswith("\n") else out + "\n")


if __name__ == "__main__":
    main()
