#!/usr/bin/env python3
"""Steadiness report: run two sets of runs of the same checkout and print,
per workload and end-to-end metric, each set's median and quartiles, the
spread (interquartile distance over the median) against the metric's
bound, and the second set's median against the first's, signed so that
positive is worse; the two agree when that difference, either way, is
within the bound.

    python3 mirrorbench/steadiness.py --runs 10 --seed 3000

Each run uses its own seed. The spread of setup_s is printed but not
gated: set-up is gated on its median only. Raw results are saved in
.bench_build/mirrorbench/steadiness.json.
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
SAVE = os.path.join(ROOT, ".bench_build", "mirrorbench", "steadiness.json")


def run(workload, seed, seconds):
    t0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(f"{workload} seed {seed}: run failed")
    result = json.loads(r.stdout.strip().splitlines()[-1])
    result["wall_s"] = time.time() - t0
    return result


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def report(spec, sets):
    ok = True
    for w in [w["name"] for w in spec["workloads"]]:
        print(f"\n{w}")
        print(f"  {'metric':<20} {'set':>3} {'q1':>11} {'median':>11} {'q3':>11} {'spread':>7} {'bound':>6}")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds = []
            for i, s in enumerate(sets):
                vals = [r["metrics"][name]["value"] for r in s[w]]
                q1, med, q3 = quartiles(vals)
                spread = (q3 - q1) / med
                meds.append(med)
                gated = name != "setup_s"
                fine = not gated or spread <= bound
                ok &= fine
                note = "" if fine else "SPREAD"
                print(f"  {name:<20} {i + 1:>3} {q1:>11.4g} {med:>11.4g} {q3:>11.4g} "
                      f"{spread:>7.3f} {bound:>6} {note if gated else '(spread not gated)'}")
            worse = (meds[1] - meds[0]) / meds[0] * (1 if m["better"] == "lower" else -1)
            agree = abs(worse) <= bound
            ok &= agree
            print(f"  {'':<20} second median worse by {worse:+.3f} "
                  f"{'agrees' if agree else 'DISAGREES'}")
        fails = sum(r["failed"] for s in sets for r in s[w])
        print(f"  failed operations over all runs: {fails}")
        walls = [r["wall_s"] for s in sets for r in s[w]]
        print(f"  wall time per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        ok &= fails == 0
    print("\nsteady" if ok else "\nNOT steady")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10, help="runs per workload and set; at least 2")
    ap.add_argument("--seed", type=int, default=1000, help="first seed")
    a = ap.parse_args()
    if a.runs < 2:
        ap.error("--runs must be at least 2")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sets = []
    for i in range(2):
        s = {}
        for w in [w["name"] for w in spec["workloads"]]:
            s[w] = []
            for j in range(a.runs):
                seed = a.seed + 100 * i + j
                s[w].append(run(w, seed, spec["run_seconds"]))
                print(f"set {i + 1} {w} seed {seed} done", file=sys.stderr)
        sets.append(s)
    os.makedirs(os.path.dirname(SAVE), exist_ok=True)
    with open(SAVE, "w") as fh:
        json.dump(sets, fh)
    sys.exit(0 if report(spec, sets) else 1)


if __name__ == "__main__":
    main()
