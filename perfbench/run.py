#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as one JSON line.

    python3 perfbench/run.py --workload kv_snapshot|kv_delta|query_mix \
        --seed N --seconds S --trace 0|1 [--smoke] [--wrong-expectation]

Run from the root of a checkout. The first run in a source tree compiles
the program and the harness with sbt and keeps the resolved classpath under
.bench_build/perfbench, keyed by a hash of the sources; later runs start
`java` on that classpath directly. Every input, data dir and Spark scratch
file lives under .bench_build/perfbench. The last stdout line is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The exit code is non-zero
when a check fails.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("kv_snapshot", "kv_delta", "query_mix")
# (iter group, scan group) scale factors of the generated query inputs
SCALES = {False: (0.01, 0.05), True: (0.002, 0.005)}
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def classpath():
    """The harness classpath, building it first if this tree is new."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, f"classpath-{source_hash()}.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(cp_file):
            log("building (sbt compile) ...")
            env = dict(os.environ)
            env.setdefault("COURSIER_MODE", "offline")
            env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                text=True, timeout=840)
            lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
            if p.returncode != 0 or not lines:
                sys.stderr.write(p.stdout)
                raise SystemExit("perfbench: build failed")
            with open(cp_file + ".tmp", "w") as fh:
                fh.write(lines[-1].strip())
            os.replace(cp_file + ".tmp", cp_file)
    with open(cp_file) as fh:
        return fh.read().strip()


def inputs(base, seed, smoke):
    """Writes the query inputs for this seed under `base`."""
    import gen
    iter_sf, scan_sf = SCALES[smoke]
    gen.generate(os.path.join(base, "iter"), seed, iter_sf)
    gen.generate(os.path.join(base, "scan"), seed + 1, scan_sf)
    return base


def declared(result, trace):
    """The metrics BENCHMARK.json declares, in its order. A per-layer metric
    a workload does not exercise reads 0; a missing end-to-end metric is an
    error."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    got = result["per_layer" if trace else "end_to_end"]
    out = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        v = got.get(m["name"])
        if v is None and not trace:
            raise SystemExit(f"perfbench: workload did not report {m['name']}")
        out[m["name"]] = {"value": v["value"] if v else 0.0, "unit": m["unit"]}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes, for the self-test")
    ap.add_argument("--wrong-expectation", action="store_true",
                    help="corrupt one expected value; the run must then fail")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no program sources (src/main/scala) next to perfbench/")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        raise SystemExit("perfbench: java and sbt are required")

    t0 = time.time()
    cp = classpath()
    work = os.path.join(BUILD, "runs", f"{a.workload}-seed{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    if a.workload == "query_mix":
        cmd += ["--inputs", inputs(os.path.join(work, "inputs"), a.seed, a.smoke)]
    if a.smoke:
        cmd.append("--smoke")
    if a.wrong_expectation:
        cmd.append("--wrong-expectation")
    log(f"classpath and inputs ready in {time.time() - t0:.1f} s")
    try:
        t0 = time.time()
        p = subprocess.run(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=JVM_TIMEOUT_S)
        if p.returncode != 0:
            raise SystemExit(f"perfbench: JVM exited with {p.returncode}")
        with open(os.path.join(work, "result.json")) as fh:
            res = json.load(fh)
        correct = res["correct"]
        log(f"JVM ran {time.time() - t0:.1f} s")
        t0 = time.time()
        if a.workload == "query_mix":
            for name, why in oracle.check(os.path.join(work, "outputs"),
                                          a.wrong_expectation).items():
                if why:
                    log(f"CHECK FAILED: {name}: {why}")
                    correct = False
            log(f"oracle comparison took {time.time() - t0:.1f} s")
        if a.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.jsonl"))
        with open(os.path.join(BUILD, "last-result.json"), "w") as fh:
            json.dump(res, fh)
        print(json.dumps({
            "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
            "metrics": declared(res, a.trace)}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
