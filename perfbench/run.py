#!/usr/bin/env python3
"""Benchmark entry point. From the repository root:

    python3 perfbench/run.py --workload medallion_batch --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark if needed (perfbench/build.py), runs one
workload in one JVM (perfbench.Main), and prints the result as the last line
of stdout: {"correct", "attempted", "failed", "metrics"}. --trace 0 reports
the end-to-end metrics of BENCHMARK.json, --trace 1 its per-layer metrics.
Exits non-zero, printing no result, if the build, a call or a check fails.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402

JVM_SECONDS = 170


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        flags = build.build()
    except Exception as e:  # missing sources, toolchain or a compile error
        fail(f"build failed: {e}")

    base = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    work = os.path.join(base, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    result = os.path.join(work, "result.json")
    spans = os.path.join(base, "spans", f"{a.workload}-seed{a.seed}.jsonl")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = build.java(work, *flags) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--result", result, "--spans", spans]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("interrupted", 3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        rc = proc.wait(timeout=JVM_SECONDS)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        rc = None
    out = open(result).read() if rc == 0 and os.path.exists(result) else None
    shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        fail(f"{a.workload} did not finish within {JVM_SECONDS} s", 3)
    if out is None:
        fail(f"{a.workload} failed (exit {rc})", 1)

    res = json.loads(out)
    key = "per_layer" if a.trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in spec[key]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want or not all(math.isfinite(v["value"]) for v in res["metrics"].values()):
        fail(f"result metrics do not match BENCHMARK.json {key}", 1)
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
