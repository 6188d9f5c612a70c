#!/usr/bin/env python3
"""Runs workloads repeatedly and reports how steady each metric is.

    python3 perfbench/stability.py [--runs 20] [--seed 100] [--trace 0|1]
                                   [--workloads kv_snapshot,kv_delta,query_mix]

Run i of every workload uses seed + i, and the workloads are interleaved
(run i of each workload before run i + 1 of any), so slow drift of the
machine spreads over all of them. For each (workload, metric) it prints the
median, the quartiles and the quartile spread as a share of the median (the
figure the bounds in BENCHMARK.json are set from). It also splits the runs
into two sets, the first and the second half, and prints each set's median
and spread and the gap between the two medians, as two separate
comparisons of the same code would see them. Raw results
go to .bench_build/perfbench/stability-<time>.json. With --trace 1 the
end-to-end figures of the traced runs are reported, so that comparing them
with an untraced set gives the tracing overhead.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def quartiles(xs):
    """(median, q1, q3, (q3 - q1) / median) of a sample."""
    med = statistics.median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=20)
    ap.add_argument("--seed", type=int, default=100)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    results = {w: [] for w in workloads}
    for i in range(a.runs):
        for w in workloads:
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(a.seed + i), "--seconds", str(spec["run_seconds"]),
                 "--trace", str(a.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            r = json.loads(lines[-1]) if lines else {}
            r.update(rc=p.returncode, wall_s=wall, seed=a.seed + i)
            if a.trace and p.returncode == 0:
                # a traced run prints its per-layer metrics; its end-to-end
                # figures (to compare with untraced runs) are in the sidecar
                side = json.load(open(os.path.join(ROOT, ".bench_build", "perfbench",
                                                   "last-result.json")))
                r["metrics"] = {k: v for k, v in side["end_to_end"].items()}
            results[w].append(r)
            print(f"{w} seed {a.seed + i}: rc {p.returncode}, {wall:.1f} s, "
                  f"correct {r.get('correct')}, failed {r.get('failed')}/{r.get('attempted')}",
                  flush=True)
    out = os.path.join(ROOT, ".bench_build", "perfbench", f"stability-{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    json.dump(results, open(out, "w"), indent=1)

    print("\nThe runs are split into two sets, the first and the second half, as"
          "\ntwo separate comparisons would be; spread = (q3 - q1) / median.")
    print(f"\n{'workload':12} {'metric':34} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'bound':>6} {'set1 med':>12} {'spread1':>7} "
          f"{'set2 med':>12} {'spread2':>7} {'gap':>7}")
    for w, rs in results.items():
        ok = [r for r in rs if r.get("rc") == 0 and "metrics" in r]
        walls = [r["wall_s"] for r in rs]
        print(f"{w:12} {'(wall s per run)':34} {statistics.median(walls):12.4g}")
        if len(ok) < 4:
            print(f"{w:12} too few successful runs ({len(ok)})")
            continue
        shares = {r["failed"] / r["attempted"] for r in ok}
        print(f"{w:12} {'(failed share)':34} {sorted(shares)}")
        half = len(ok) // 2
        for name in ok[0]["metrics"]:
            xs = [r["metrics"][name]["value"] for r in ok]
            med, q1, q3, spread = quartiles(xs)
            med1, _, _, spread1 = quartiles(xs[:half])
            med2, _, _, spread2 = quartiles(xs[half:])
            gap = med2 / med1 - 1 if med1 else 0.0
            print(f"{w:12} {name:34} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:7.3f} "
                  f"{bounds.get(name, float('nan')):6.2f} {med1:12.5g} {spread1:7.3f} "
                  f"{med2:12.5g} {spread2:7.3f} {gap:+7.3f}")
    print(f"\nraw results: {out}")


if __name__ == "__main__":
    main()
