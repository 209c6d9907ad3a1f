#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics across seeds.

    python3 perfbench/spread.py --workloads extract,query_mix --seeds 1-10

Runs perfbench/run.py once per (workload, seed) with --trace 0 and, per
workload and metric, prints the median, the quartiles (Python's
statistics.quantiles(values, n=4)) and the spread (q3 - q1) / median next
to the metric's bound from BENCHMARK.json. A spread under a third of the
bound is steady; over the bound, the metric cannot resolve a change of
that size. Exits 1 if any run failed or any spread exceeds its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]
    ok = True
    for w in a.workloads.split(","):
        values = {m["name"]: [] for m in spec["end_to_end"]}
        for s in seeds(a.seeds):
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(seconds), "--trace", "0"],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = r.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines else {}
            if r.returncode != 0 or not res.get("correct"):
                print(f"{w} seed {s}: run failed (exit {r.returncode})")
                ok = False
                continue
            for k in values:
                values[k].append(res["metrics"][k]["value"])
            print(f"{w} seed {s}: " + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()),
                  flush=True)
        for m in spec["end_to_end"]:
            v = values[m["name"]]
            if len(v) < 2:
                continue
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med
            flag = "steady" if spread < m["bound"] / 3 else (
                "within bound" if spread <= m["bound"] else "OVER BOUND")
            if spread > m["bound"]:
                ok = False
            print(f"  {w:10s} {m['name']:18s} median={med:<12.5g} q1={q1:<12.5g} q3={q3:<12.5g} "
                  f"spread={spread:.3f} bound={m['bound']} {flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
