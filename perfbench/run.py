#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source with sbt on first use
(again only when a source file changes), then runs the workload in one
JVM. Progress and every measured metric go to stdout as `[perfbench]`
lines; the last stdout line is the JSON summary. All files it writes
stay under `.perfbench/` at the checkout root; the run's temp root is
deleted when the run ends.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("backfill", "follow_tip", "serve_sink", "neardup")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = ["-Xms2g", "-Xmx2g"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    out = []
    for base in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                 "perfbench/project", "perfbench/src/main"):
        p = os.path.join(ROOT, base)
        if os.path.isfile(p):
            out.append(p)
        for d, dirs, files in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out.extend(os.path.join(d, f) for f in sorted(files))
    return out


def source_hash():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Build once per source state; return (classpath, jvm options)."""
    for need in ("build.sbt", "src/main/scala", "examples", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from a full checkout of the repository")
    os.makedirs(STATE, exist_ok=True)
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp = os.path.join(STATE, "build.stamp")
    with open(os.path.join(STATE, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = source_hash()
        have = open(stamp).read() if os.path.exists(stamp) else ""
        if have != want or not os.path.exists(launch):
            env = dict(os.environ)
            env.setdefault("COURSIER_MODE", "offline")
            cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
                   "-Dsbt.server.forcestart=false", "perfbenchLaunch"]
            try:
                r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                                   stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
            except FileNotFoundError:
                fail("sbt is not on PATH")
            except subprocess.TimeoutExpired:
                fail("build timed out")
            if r.returncode != 0 or not os.path.exists(launch):
                fail(f"build failed (sbt exit {r.returncode})")
            with open(stamp, "w") as f:
                f.write(want)
    lines = open(launch).read().splitlines()
    return lines[0], [l for l in lines[1:] if l]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    classpath, jvm_opts = build()
    tmp = os.path.join(STATE, "tmp", f"{a.workload}-{a.seed}-{os.getpid()}")
    results = os.path.join(STATE, "results")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *HEAP, f"-Djava.io.tmpdir={tmp}", *jvm_opts, "-cp", classpath,
           "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--tmp", tmp, "--results", results]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run timed out", 1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
