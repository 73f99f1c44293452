#!/usr/bin/env python3
"""Smoke tests of the benchmark itself, at tiny size (sf0.001 corpora, a
fleet of 4 modems, a few ticks):

  1. every workload, untraced and traced, prints every metric named in
     BENCHMARK.json and a passing output check;
  2. a corrupted expected digest is caught as a failed op;
  3. a store_cold op run twice on the same corpus path trips the
     isolation guard (exit code 3, no result line).

Usage: python3 perfbench/smoke_test.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["ingest_dashboard", "olap_warm", "store_cold"]


def run(*extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--seed", "7",
           "--seconds", "1", "--scale", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return p, result


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []

    def check(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in WORKLOADS:
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            p, res = run("--workload", w, "--trace", trace)
            names = {m["name"] for m in spec[key]}
            check(p.returncode == 0 and res is not None,
                  f"{w} trace={trace} exits 0 with a result")
            if res is None:
                print(p.stderr[-2000:])
                continue
            check(set(res["metrics"]) == names,
                  f"{w} trace={trace} prints exactly the {key} metrics")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{w} trace={trace} output check passes")
            check("output check: pass" in p.stdout,
                  f"{w} trace={trace} prints the output-check verdict")

    p, res = run("--workload", "olap_warm", "--trace", "0",
                 "--corrupt-expected", "q01_pricing_summary")
    check(res is not None and not res["correct"] and res["failed"] >= 1,
          "a corrupted expected digest counts as a failed op")

    p, res = run("--workload", "store_cold", "--trace", "0", "--reuse-cold-path")
    check(p.returncode == 3 and res is None and "isolation guard tripped" in p.stderr,
          "a store_cold op repeated on one corpus path trips the isolation guard")

    print(f"{len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
