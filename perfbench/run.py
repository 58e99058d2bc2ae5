#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 40 --trace 0

Builds the program and the benchmark from source with sbt on first use
(cached under perfbench/target, keyed by the sources), then runs one JVM.
The last line is one JSON object: correct, attempted, failed, metrics.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Exits non-zero, printing no result, when the build or the
run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "catalog.txt")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("catalog", "ep1_pipeline")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_key():
    """Digest of every build input, so a changed source forces a rebuild."""
    h = hashlib.sha256()
    for base in (os.path.join(REPO, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(REPO):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(REPO, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def classpath():
    """Compiles with sbt when the sources changed; returns the run classpath."""
    if not os.path.exists(os.path.join(REPO, "build.sbt")):
        fail("no build.sbt next to perfbench/: run from a full checkout of the repository")
    key = source_key()
    stamp = os.path.join(TARGET, f"classpath-{key}.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                "-Dsbt.override.build.repos=true",
                                "-Dsbt.server.autostart=false", "-Xmx2g"]).strip()
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                 "export perfbench/Runtime/fullClasspath"],
                                cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    with open(stamp, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


def run_jvm(cp, args, root, log):
    """Runs perfbench.Main; returns its exit status and stdout lines."""
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={root}/tmp", "-Dspark.ui.enabled=false",
        "-cp", cp, "perfbench.Main"] + args
    out_path = os.path.join(root, "stdout.txt")
    with open(out_path, "w") as out, open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=root, stdout=out, stderr=err)
        timer = threading.Timer(RUN_TIMEOUT_S, p.kill)
        timer.start()
        try:
            p.wait()
        finally:
            timer.cancel()
    with open(out_path) as fh:
        lines = [l.rstrip("\n") for l in fh if l.strip()]
    return p.returncode, lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=40,
                    help="accepted for a uniform interface; each workload does a fixed amount of work")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = classpath()
    for p in (DATA, EXPECTED):
        if not os.path.exists(p):
            fail(f"missing benchmark input {p}")
    root = os.path.join(OUT, "work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    log = os.path.join(OUT, "logs", f"{args.workload}-{args.seed}-{args.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    try:
        rc, lines = run_jvm(cp, [
            "--workload", args.workload, "--seed", str(args.seed), "--trace", str(args.trace),
            "--data", DATA, "--root", root, "--expected", EXPECTED], root, log)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    result = None
    if rc == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if result is None:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"run failed (exit {rc}); log in {log}")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
