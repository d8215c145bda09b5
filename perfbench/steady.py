#!/usr/bin/env python3
"""Steadiness check: do repeated runs of the same code agree?

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workloads a,b] [--first-seed 1]

Runs every workload --runs times per set, each run with its own seed, for
--sets sets (set k uses seeds first-seed + k*runs ...). For every end-to-end
metric of BENCHMARK.json it prints, per set, the median and the spread: the
distance between the first and third quartile (statistics.quantiles, n=4) as
a share of the median. It fails (exit 1) when a spread exceeds the metric's
bound, when a later set's median differs from the first set's, in either
direction, by more than the bound, or when a run fails or answers wrongly.
Run from the root of the source tree; each run goes through perfbench/run.py.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        return None
    return json.loads(lines[-1])


def main():
    spec = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    a = ap.parse_args()
    ok = True
    for wl in a.workloads.split(","):
        sets = []
        for k in range(a.sets):
            vals = {}
            for i in range(a.runs):
                seed = a.first_seed + k * a.runs + i
                r = run(wl, seed, spec["run_seconds"])
                if r is None or not r["correct"]:
                    print(f"{wl} seed {seed}: run failed or answered wrongly")
                    ok = False
                    continue
                for m, v in r["metrics"].items():
                    vals.setdefault(m, []).append(v["value"])
            sets.append(vals)
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds = []
            for k, vals in enumerate(sets):
                vs = vals.get(name, [])
                if len(vs) < 2:
                    print(f"{wl} {name} set {k}: too few runs")
                    ok = False
                    continue
                q = statistics.quantiles(vs, n=4)
                med = statistics.median(vs)
                spread = (q[2] - q[0]) / med if med else float("inf")
                meds.append(med)
                bad = spread > bound
                ok &= not bad
                print(f"{wl:15s} {name:14s} set {k} n={len(vs):2d} median={med:12.4f} "
                      f"spread={spread:.3f} bound={bound}{'  OVER' if bad else ''}")
            for k, med in enumerate(meds[1:], 1):
                diff = (med - meds[0]) / meds[0]
                bad = abs(diff) > bound
                ok &= not bad
                print(f"{wl:15s} {name:14s} set {k} vs set 0: {diff:+.3f}"
                      f"{'  OVER' if bad else ''}")
    print("steady" if ok else "NOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
