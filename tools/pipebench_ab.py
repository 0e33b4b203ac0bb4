#!/usr/bin/env python3
"""Paired A/B of the pipeline benchmark between two checkouts.

    python3 tools/pipebench_ab.py --parent DIR --change DIR --pairs 10 \\
        --first-seed 11 --out records/pipeline_rNN.json

Each pair runs `pipebench/run.py --trace 0` once in each checkout on the
same seed, alternating which side runs first; the workloads interleave
pair by pair, so host drift hits both sides and both workloads alike.
Then one traced run (`--trace 1`) per side and workload records the
per-layer figures. Run length is BENCHMARK.json's `run_seconds`, read
from the change's checkout. Each checkout builds its own benchmark on
first use (pipebench/build.py).

The record holds, per workload and end-to-end metric: every pair's
values, each side's median and quartiles, the change's wins (ties count
for neither side) and whether the gain rule holds (wins >= 9/10 of the
pairs and a median gap wider than the parent's interquartile range).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "pipebench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    print("[ab] %s %s seed=%d trace=%d rc=%d %.0f s" % (
        os.path.basename(checkout.rstrip("/")), workload, seed, trace,
        p.returncode, time.time() - t0), file=sys.stderr)
    return res


def summary(values):
    q1, _, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "iqr": q3 - q1}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=11)
    ap.add_argument("--traced-seed", type=int, default=1)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(a.change, "BENCHMARK.json")))
    seconds = bench["run_seconds"]
    workloads = [w["name"] for w in bench["workloads"]]
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    sides = {"parent": a.parent, "change": a.change}

    runs = {w: {"parent": [], "change": []} for w in workloads}
    for i in range(a.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for w in workloads:
            for side in order:
                runs[w][side].append(run(sides[side], w, a.first_seed + i, seconds, 0))
    traced = {w: {} for w in workloads}
    for w in workloads:
        for side in ("parent", "change"):
            traced[w][side] = run(sides[side], w, a.traced_seed, seconds, 1)

    record = {"run_seconds": seconds, "pairs": a.pairs,
              "seeds": [a.first_seed, a.first_seed + a.pairs - 1],
              "order": "pair i runs parent first when i is even", "workloads": {}}
    for w in workloads:
        wl = {"runs": {s: [{"correct": r and r["correct"], "attempted": r and r["attempted"],
                            "failed": r and r["failed"]} for r in runs[w][s]] for s in sides},
              "end_to_end": {}}
        for m, spec in e2e.items():
            vals = {s: [r["metrics"][m]["value"] if r else None for r in runs[w][s]] for s in sides}
            pairs = [(p, c) for p, c in zip(vals["parent"], vals["change"])
                     if p is not None and c is not None]
            lower = spec["better"] == "lower"
            wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
            losses = sum(1 for p, c in pairs if (c > p if lower else c < p))
            entry = {"unit": spec["unit"], "better": spec["better"], "bound": spec["bound"],
                     "values": vals, "change_wins": wins, "change_losses": losses}
            if pairs:
                ps, cs = summary([p for p, _ in pairs]), summary([c for _, c in pairs])
                gap = (ps["median"] - cs["median"]) * (1 if lower else -1)
                entry.update({"parent": ps, "change": cs,
                              "median_change_pct": 100.0 * (cs["median"] / ps["median"] - 1),
                              "gain_rule_met": wins >= 0.9 * len(pairs) and gap > ps["iqr"],
                              "within_bound": -gap <= spec["bound"] * ps["median"]})
            wl["end_to_end"][m] = entry
        wl["traced"] = {s: (traced[w][s] or {}).get("metrics") for s in sides}
        wl["traced_seed"] = a.traced_seed
        record["workloads"][w] = wl
    with open(a.out, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
