#!/usr/bin/env python3
"""Pipeline benchmark: one workload, one JSON result line.

    python3 pipebench/run.py --workload news_stream --seed 1 --seconds 10 --trace 0

Run from the checkout root. Builds the engine and the benchmark from
source on first use (see build.py), runs the workload in one JVM on
local[nproc], and prints as the last stdout line
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1 (spans are also written to .bench_build/traces/).
--smoke shrinks every input so a broken benchmark fails fast.
Workloads, metrics and the layer map are described in README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of build products
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("news_stream", "hourly_dag")
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()

    try:
        build.build()
    except build.BuildError as e:
        print("[pipebench] build failed: %s" % e, file=sys.stderr)
        return 2

    tag = "%s-seed%d-trace%d%s" % (a.workload, a.seed, a.trace, "-smoke" if a.smoke else "")
    work = os.path.join(build.OUT, "work", "%s-%d" % (tag, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    jvm = ["-XX:SharedArchiveFile=" + build.JSA] if os.path.isfile(build.JSA) else []
    cmd = build.java(tmp, ["--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", str(a.trace),
                           "--work", work,
                           "--trace-out", os.path.join(build.OUT, "traces", tag + ".jsonl")] +
                     (["--smoke"] if a.smoke else []), jvm)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("[pipebench] run exceeded %d s" % RUN_TIMEOUT_S, file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in out.splitlines():
        line = line.strip()
        if line.startswith("{"):
            try:
                result = json.loads(line)
            except ValueError:
                pass
    if proc.returncode != 0 or not result or set(result) != {
            "correct", "attempted", "failed", "metrics"}:
        print("[pipebench] workload exited %d without a result" % proc.returncode,
              file=sys.stderr)
        return 4
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
