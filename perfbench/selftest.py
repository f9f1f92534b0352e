#!/usr/bin/env python3
"""Self-test of the benchmark: run every workload briefly at sf0.001 and
check that an honest run reports no failed op while a run with a
deliberately perturbed output (``run.py --perturb``) counts failed ops.

    python3 perfbench/selftest.py

Run from the repository root; takes a few minutes (one Spark session per
run). Exit status 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("dashboard", "ingest")


def run(workload: str, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--sf", "0.001", *extra]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    problems = []
    for w in WORKLOADS:
        honest = run(w)
        if not (honest["correct"] and honest["failed"] == 0 and honest["attempted"] > 0):
            problems.append(f"{w}: honest run reported {honest['failed']} of {honest['attempted']} failed")
        perturbed = run(w, "--perturb")
        if perturbed["correct"] or perturbed["failed"] == 0:
            problems.append(f"{w}: perturbed output went unnoticed")
        print(f"{w}: honest {honest['failed']}/{honest['attempted']} failed, "
              f"perturbed {perturbed['failed']}/{perturbed['attempted']} failed", flush=True)
    for w in WORKLOADS:
        traced = run(w, "--trace", "1")
        m = traced["metrics"]
        if not traced["correct"] or m["trace.overhead_ms"]["value"] == 0.0 or m["self_ms.op"]["value"] <= 0:
            problems.append(f"{w}: traced run lacks a correct result, the tracing overhead or self times")
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAIL" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
