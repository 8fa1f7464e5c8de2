#!/usr/bin/env python3
"""Per-layer summary of a traced run, with self times and the tracing
overhead against an untraced run of the same workload and seed.

    python3 mirrorbench/summarize.py --workload browse --seed 1

Runs the workload twice (trace off, trace on), then prints every per-layer
metric, each span name's call count, total, median and self time (its
duration minus the part its child spans cover), and the overhead: the
traced run's timed read wall time over the untraced one's. One pair of
runs carries run-to-run noise of a few percent; repeat for a firmer
figure.
"""
import argparse
import collections
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TRACES = os.path.join(ROOT, ".bench_build", "mirrorbench", "traces")


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(f"run failed (trace {trace})")
    lines = r.stdout.strip().splitlines()
    info = next(json.loads(l)["info"] for l in lines if l.startswith('{"info"'))
    return info, json.loads(lines[-1])


def covered(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s >= end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    children = collections.defaultdict(list)
    for s in spans:
        children[s["parent"]].append((s["start_us"], s["end_us"]))
    out = collections.defaultdict(lambda: [0, 0.0, 0.0, []])
    for s in spans:
        d = (s["end_us"] - s["start_us"]) / 1000
        own = d - covered(children.get(s["id"], [])) / 1000
        o = out[s["name"]]
        o[0] += 1
        o[1] += d
        o[2] += own
        o[3].append(d)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    plain_info, plain = run(a.workload, a.seed, seconds, 0)
    traced_info, traced = run(a.workload, a.seed, seconds, 1)

    print(f"{a.workload}, seed {a.seed}, commit {traced_info['commit']}, nproc {traced_info['nproc']}")
    print(f"correct: untraced {plain['correct']} ({plain['failed']}/{plain['attempted']} failed), "
          f"traced {traced['correct']} ({traced['failed']}/{traced['attempted']} failed)\n")
    print(f"{'per-layer metric':<36} {'value':>14}  unit")
    for name, m in traced["metrics"].items():
        print(f"{name:<36} {m['value']:>14.4f}  {m['unit']}")

    path = os.path.join(TRACES, f"{a.workload}-seed{a.seed}.jsonl")
    with open(path) as fh:
        spans = [json.loads(l) for l in fh]
    timed = [s for s in spans if s["kind"] == "setup" or s["kind"] == "cycle" or s["kind"].startswith("read:")]
    print(f"\n{'span (set-up, cycles, timed reads)':<36} {'calls':>6} {'total ms':>10} "
          f"{'median ms':>10} {'self ms':>10}")
    for name, (n, total, own, ds) in sorted(self_times(timed).items(), key=lambda kv: -kv[1][2]):
        print(f"{name:<36} {n:>6} {total:>10.1f} {statistics.median(ds):>10.1f} {own:>10.1f}")

    overhead = traced_info["read_wall_s"] / plain_info["read_wall_s"] - 1
    print(f"\ntimed read wall: untraced {plain_info['read_wall_s']:.3f} s, "
          f"traced {traced_info['read_wall_s']:.3f} s, tracing overhead {overhead:+.1%}")
    print(f"spans recorded: {len(spans)}; written to {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    main()
