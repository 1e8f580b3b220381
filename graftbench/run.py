#!/usr/bin/env python3
"""Runs one graft benchmark workload and prints its results as JSON lines.

    python3 graftbench/run.py --workload search|curate|ingest --seed N \
        --seconds S --trace 0|1

The first run in a checkout compiles the engine and the benchmark from
source with sbt (offline); later runs reuse the build until a source file
changes. The last line of standard output is the run summary:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
The exit code is 0 only when every operation and check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(BENCH, ".work")
STAMP = os.path.join(BENCH, "target", "graftbench-build.json")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
WORKLOADS = ("search", "curate", "ingest")
SUMMARY_KEYS = {"correct", "attempted", "failed", "metrics"}

# Spark on JDK 17 outside spark-submit needs these (the same list the
# engine's own build passes to forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every input of the build, so a changed file forces a rebuild."""
    h = hashlib.sha256()
    inputs = [os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            inputs += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    for p in sorted(inputs):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles with sbt when the sources changed; returns the runtime classpath."""
    digest = source_digest()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            stamp = json.load(f)
        if stamp.get("digest") == digest:
            return stamp["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(
            shutil.which("spark-submit"))))
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("graftbench: building with sbt", file=sys.stderr)
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "scala-2.13" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    with open(STAMP, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def summary_ok(line):
    try:
        obj = json.loads(line)
    except ValueError:
        return False
    return isinstance(obj, dict) and set(obj) == SUMMARY_KEYS


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC)}; "
             "run from a full checkout of the repository")
    classpath = build()
    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--nproc", str(nproc),
            "--work", run_dir, "--out", os.path.join(WORK, "spans")])
    log_path = os.path.join(WORK, f"stderr-{args.workload}.log")
    last = ""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, stdin=subprocess.DEVNULL,
                                text=True, cwd=ROOT)
        watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
        watchdog.start()
        try:
            for line in proc.stdout:
                line = line.rstrip("\n")
                if line.startswith("{"):
                    if last:
                        print(last, flush=True)
                    last = line
            proc.wait()
        finally:
            watchdog.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode < 0:
        last = ""
    if not summary_ok(last):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"no run summary (exit code {proc.returncode}); see {os.path.relpath(log_path)}", 3)
    print(last, flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
