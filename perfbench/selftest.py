#!/usr/bin/env python3
"""Self-test of the benchmark, at smoke sizes.

    python3 perfbench/selftest.py

Every workload run.py knows, the gated ones and kv_delta, must run with
--smoke, pass its checks and print a result line with every end-to-end
metric. Every workload run with --wrong-expectation (one expected value
corrupted) must fail its checks and exit non-zero.
"""
import json
import os
import subprocess
import sys

from run import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, *extra):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", "0", "--smoke", *extra],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [m["name"] for m in spec["end_to_end"]]
    bad = 0
    for w in WORKLOADS:
        rc, res, err = run(w)
        ok = rc == 0 and res and res["correct"] and res["failed"] == 0 and \
            list(res["metrics"]) == names and all(v["value"] > 0 for v in res["metrics"].values())
        print(f"{'PASS' if ok else 'FAIL'} {w} --smoke (rc {rc})", flush=True)
        if not ok:
            bad += 1
            print(err[-3000:])
        rc, res, err = run(w, "--wrong-expectation")
        ok = rc != 0 and res is not None and not res["correct"]
        print(f"{'PASS' if ok else 'FAIL'} {w} --smoke --wrong-expectation fails (rc {rc})", flush=True)
        bad += 0 if ok else 1
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
