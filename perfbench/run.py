#!/usr/bin/env python3
"""Run one benchmark workload of the contour engine; see perfbench/README.md.

    python3 perfbench/run.py --workload isobands_coarse --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Builds the engine and harness from source (perfbench/build.py), runs the
workload in one fresh JVM at local[nproc], prints every metric with its unit
and sample count, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer ones.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT
JVM_TIMEOUT_S = 170

child = None


def stop_child(*_):
    if child is not None and child.poll() is None:
        child.kill()
        child.wait()
    sys.exit(1)


def run_jvm(classpath, flags, main, args, work):
    """Run one JVM to completion; returns (exit code, peak RSS in MB)."""
    global child
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java", *build.jvm_flags(work), *flags, "-cp", os.pathsep.join(map(str, classpath)), main, *args]
    child = subprocess.Popen(cmd, stdout=sys.stderr, cwd=ROOT)
    deadline = time.monotonic() + JVM_TIMEOUT_S
    while True:
        pid, status, usage = os.wait4(child.pid, os.WNOHANG)
        if pid:
            child.returncode = os.waitstatus_to_exitcode(status)
            return child.returncode, usage.ru_maxrss / 1024.0
        if time.monotonic() > deadline:
            print(f"[perfbench] JVM exceeded {JVM_TIMEOUT_S} s; killed", file=sys.stderr)
            child.kill()
            os.wait4(child.pid, 0)
            return 1, 0.0
        time.sleep(0.1)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload")
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=(0, 1))
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        p.error("--workload, --seed, --seconds and --trace are required")
    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    # these would move Spark's scratch space out of the checkout; every JVM
    # keeps it in its work directory instead (spark.local.dir)
    for var in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS"):
        os.environ.pop(var, None)

    try:
        bench = json.loads((ROOT / "BENCHMARK.json").read_text())
        classpath, flags = build.build()
    except (OSError, ValueError, build.BuildError) as e:
        print(f"[perfbench] cannot build: {e}", file=sys.stderr)
        return 2

    work = OUT / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        if a.selftest:
            code, _ = run_jvm(classpath, flags, "perfbench.SelfTest", [str(work)], work)
            return code
        result_path = OUT / f"result-{os.getpid()}.json"
        code, rss_mb = run_jvm(classpath, flags, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--out", str(result_path)], work)
        if code != 0 or not result_path.exists():
            print(f"[perfbench] run failed (exit {code})", file=sys.stderr)
            return 1
        result = json.loads(result_path.read_text())
        result_path.unlink()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = result["metrics"]
    if a.trace == 0:
        metrics["peak_rss_mb"] = {"value": rss_mb, "samples": 1}
    spec = bench["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in spec if m["name"] not in metrics]
    if missing:
        print(f"[perfbench] metrics missing from the run: {missing}", file=sys.stderr)
        return 1
    share = result["failed"] / result["attempted"]
    print(f"{a.workload} seed {a.seed} trace {a.trace}: correct={str(result['correct']).lower()} "
          f"attempted={result['attempted']} failed={result['failed']} failed_share={share:.4g}")
    for m in spec:
        v = metrics[m["name"]]
        print(f"  {m['name']:<36} {v['value']:>16.6g} {m['unit']:<6} n={v['samples']} "
              f"({m['better']} is better)")
    for name in sorted(set(metrics) - {m["name"] for m in spec}):
        print(f"  {name:<36} {metrics[name]['value']:>16.6g} {'':<6} n={metrics[name]['samples']} (not gated)")
    print(json.dumps({
        "correct": result["correct"], "attempted": result["attempted"], "failed": result["failed"],
        "metrics": {m["name"]: {"value": metrics[m["name"]]["value"], "unit": m["unit"]} for m in spec}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
