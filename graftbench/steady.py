#!/usr/bin/env python3
"""Steadiness of one workload: run it N times with different seeds and print,
per metric, the median, the quartiles and the spread (interquartile range as
a share of the median, from `statistics.quantiles(values, n=4)`), next to the
metric's bound in BENCHMARK.json. Also prints each run's failed share, which
must be the same in every run.

Usage (from the repo root):
    python3 graftbench/steady.py --workload <name> [--runs 10] [--first-seed 1]
        [--trace 0|1]

Each run measures BENCHMARK.json's run_seconds.
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


def summarize(runs, spec_metrics):
    rows = []
    for m in spec_metrics:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
        spread = (q3 - q1) / med if med else float("nan")
        rows.append({"name": m["name"], "unit": m["unit"], "median": med, "q1": q1, "q3": q3,
                     "spread": spread, "bound": m.get("bound"), "min": min(vals),
                     "max": max(vals)})
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = spec["run_seconds"]

    runs = []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        wall = time.time() - t0
        if p.returncode != 0:
            sys.exit(f"seed {seed}: run.py exited with {p.returncode}")
        r = json.loads(p.stdout.strip().splitlines()[-1])
        r["seed"], r["wall_s"] = seed, wall
        runs.append(r)
        print(f"seed {seed}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} wall={wall:.1f}s", flush=True)

    rows = summarize(runs, spec["per_layer"] if a.trace else spec["end_to_end"])
    print(f"\n{a.workload}, {len(runs)} runs, --seconds {seconds:g}, --trace {a.trace}")
    print(f"{'metric':40s} {'unit':>6s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'spread':>7s} {'bound':>6s}")
    for r in rows:
        bound = "" if r["bound"] is None else f"{r['bound']:.2f}"
        print(f"{r['name']:40s} {r['unit']:>6s} {r['median']:12.4g} {r['q1']:12.4g} "
              f"{r['q3']:12.4g} {r['spread']:7.3f} {bound:>6s}")
    shares = sorted({r["failed"] / r["attempted"] for r in runs})
    print(f"failed share per run: {shares}; all correct: {all(r['correct'] for r in runs)}; "
          f"wall per run: median {statistics.median(r['wall_s'] for r in runs):.1f}s, "
          f"max {max(r['wall_s'] for r in runs):.1f}s")


if __name__ == "__main__":
    main()
