#!/usr/bin/env python3
"""Checks that the benchmark is steady on one workload.

Usage, from the repository root:
  python3 etlbench/steadiness.py --workload refresh [--runs 5] [--seconds 10]

Runs the workload in two interleaved sets of the same code (A, B, A, B, ...,
each run with its own seed), then prints, for every end-to-end metric in
BENCHMARK.json, each set's median and quartiles and the spread (quartile
distance over the median) of all runs together. The sets agree when B's
median is not worse than A's by more than the metric's bound and the
spread stays within the bound, for every metric alike. Each run's
host.steal_s (CPU time the hypervisor gave to other guests) is printed
so that a wide spread can be read against it.
"""
import argparse
import json
import re
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent


def one_run(workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=REPO, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"run failed (seed {seed}): {p.stderr[-2000:]}")
    result = json.loads(lines[-1])
    diag = dict(re.findall(r"(\S+)=(\S+)", " ".join(l for l in lines if l.startswith("# attempted"))))
    return result, float(diag.get("host.steal_s", "nan"))


def quartiles(xs):
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5, help="runs per set")
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--seed", type=int, default=1, help="first seed")
    a = ap.parse_args()
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    seconds = a.seconds or spec["run_seconds"]
    sets = {"A": [], "B": []}
    for i in range(a.runs):
        for k, name in enumerate("AB"):
            seed = a.seed + 2 * i + k
            r, steal = one_run(a.workload, seed, seconds)
            sets[name].append(r)
            vals = " ".join(f"{m}={v['value']:.3f}" for m, v in r["metrics"].items())
            print(f"{name} seed={seed} correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']} host.steal_s={steal:.2f} {vals}", flush=True)
    ok = True
    print(f"\n{'metric':<14} {'bound':>5}  {'A q1/med/q3':>28}  {'B q1/med/q3':>28}  "
          f"{'B/A':>6}  {'spread':>6}  verdict")
    for m in spec["end_to_end"]:
        n, bound = m["name"], m["bound"]
        va = [r["metrics"][n]["value"] for r in sets["A"]]
        vb = [r["metrics"][n]["value"] for r in sets["B"]]
        qa, qb = quartiles(va), quartiles(vb)
        q = quartiles(va + vb)
        spread = (q[2] - q[0]) / q[1]
        ratio = qb[1] / qa[1]
        worse = ratio - 1 if m["better"] == "lower" else 1 - ratio
        good = worse <= bound and spread <= bound
        ok &= good
        fmt = lambda t: "/".join(f"{x:.3f}" for x in t)
        print(f"{n:<14} {bound:>5}  {fmt(qa):>28}  {fmt(qb):>28}  {ratio:>6.3f}  "
              f"{spread:>6.3f}  {'ok' if good else 'NOT STEADY'}")
    fails = {r["failed"] / r["attempted"] for s in sets.values() for r in s}
    print(f"\nfailed share per run: {sorted(fails)}; "
          f"all correct: {all(r['correct'] for s in sets.values() for r in s)}")
    print("sets agree within the bounds" if ok and len(fails) == 1 else "sets DISAGREE")


if __name__ == "__main__":
    main()
