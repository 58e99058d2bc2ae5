#!/usr/bin/env python3
"""Regenerate perfbench/expected/catalog.txt, the catalog workloads' gate.

    python3 perfbench/make_expected.py

Runs every query of the catalog workload once on the
benchmark data and records its row count and content fingerprint. Each
result that has DuckDB oracle SQL (graft.SparkEntry.oracleSql) is also
compared row by row with DuckDB through tools/diffcheck.py; the file is
written only when every such comparison passes. Run it when a query's
output is meant to change, and commit the new file with that change.
"""
import os
import shutil
import subprocess
import sys

import run

OUT = os.path.join(run.OUT, "expected")


def main():
    cp = run.classpath()
    root = os.path.join(run.OUT, "work", f"expect-{os.getpid()}")
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT)
    os.makedirs(os.path.join(root, "tmp"))
    log = os.path.join(run.OUT, "logs", "expect.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    try:
        rc, _ = run.run_jvm(cp, ["--expect", OUT, "--data", run.DATA, "--root", root],
                               root, log)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    if rc != 0:
        run.fail(f"expect run failed (exit {rc}); log in {log}")
    diff = subprocess.run([sys.executable, os.path.join(run.REPO, "tools", "diffcheck.py"),
                           run.DATA, OUT], capture_output=True, text=True)
    print(diff.stdout, end="")
    passed = {l.split()[1] for l in diff.stdout.splitlines() if l.startswith("PASS ")}
    if diff.returncode != 0 or "FAIL " in diff.stdout:
        run.fail("the DuckDB oracle disagrees with a catalog result; expected file not written")
    with open(os.path.join(OUT, "expected.txt")) as fh:
        rows = [l.split() for l in fh if l.strip()]
    lines = ["# name rows fingerprint oracle",
             "# fingerprint: sum of xxhash64 over all columns of every row (Catalog.fingerprinted)",
             "# oracle: match = equal to DuckDB row for row; none = no oracle SQL for the query"]
    lines += [f"{n} {r} {f} {'match' if n in passed else 'none'}" for n, r, f in rows]
    with open(run.EXPECTED, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {run.EXPECTED}: {len(rows)} queries, {len(passed)} checked against DuckDB")


if __name__ == "__main__":
    main()
