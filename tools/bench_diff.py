#!/usr/bin/env python3
"""Per-query bench regression report: compare a fresh bench_out.json against
a previous round's snapshot (BENCH_r*.json or another bench_out.json).

Usage: python3 tools/bench_diff.py [old] [new] [--tol PCT]
  old  default BENCH_r05.json   (driver snapshot; JSON line is inside "tail")
  new  default bench_out.json   (what graft.Bench writes)

Exit 1 if any shared query slowed by more than --tol percent (default 50 —
wide because local[32] wall-clock jitters; the signal to act on is a query
that doubles, not one that wobbles 20%).
"""
import json
import re
import sys


def load_queries(path):
    with open(path) as f:
        raw = json.load(f)
    if isinstance(raw, dict) and "queries" in raw:
        return raw["queries"]
    # driver snapshot: the bench JSON line is embedded in the "tail" text
    for key in ("parsed", "tail"):
        v = raw.get(key)
        if isinstance(v, dict) and "queries" in v:
            return v["queries"]
        if isinstance(v, str):
            m = re.search(r'\{"metric".*?"sf":"[^"]*"\}', v)
            # a summary line (n_queries, queries_sha1) carries no times
            if m and "queries" in json.loads(m.group(0)):
                return json.loads(m.group(0))["queries"]
            # tail may be truncated mid-JSON: scrape the per-query pairs
            pairs = re.findall(r'"(q\d+_\w+)":([0-9][0-9.eE+-]*)', v)
            if pairs:
                return {k: float(x) for k, x in pairs}
    raise SystemExit(f"{path}: no bench queries found")


def main():
    import argparse
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("old", nargs="?", default="BENCH_r05.json")
    p.add_argument("new", nargs="?", default="bench_out.json")
    p.add_argument("--tol", type=float, default=50.0,
                   help="regression threshold in percent (default 50)")
    ns = p.parse_args()
    tol = ns.tol
    old, new = load_queries(ns.old), load_queries(ns.new)
    # failed queries are recorded as null — exclude from comparison, but report
    for q in sorted(k for k, v in new.items() if v is None):
        print(f"{q}: FAILED in new run (null timing)")
    old = {k: v for k, v in old.items() if v is not None}
    new = {k: v for k, v in new.items() if v is not None}

    regressions = []
    shared = sorted(set(old) & set(new))
    # Cohort-drift normalization: the shared queries are ~95 runs of code
    # that did NOT change — a control group. A real code regression is an
    # outlier AGAINST that cohort; when the whole box slows down (observed
    # x1.17..x1.30 within hours), every query's raw ratio inflates together
    # and the flagged set rotates randomly between runs. Scale the old
    # values by the cohort median ratio before applying the threshold.
    # Guard: with drift beyond x1.5 the run is too noisy to adjudicate at
    # all — refuse rather than normalize a possible global code slowdown
    # away.
    all_ratios = sorted(new[q] / old[q] for q in shared if old[q])
    cohort = all_ratios[len(all_ratios) // 2] if len(all_ratios) >= 10 else 1.0
    if cohort > 1.5:
        print(f"cohort drift x{cohort:.2f} exceeds 1.5 — run unusable for "
              f"regression adjudication; re-run in a quieter window")
        sys.exit(1)
    scale = max(1.0, cohort)
    print(f"{'query':34s} {'old':>7s} {'new':>7s} {'delta':>8s}")
    for q in shared:
        o, n = old[q], new[q]
        pct = (n - o) / o * 100 if o else 0.0
        adj = o * scale
        flag = (" <-- REGRESSION"
                if (n - adj) / adj * 100 > tol and n - adj > 0.15 else "")
        print(f"{q:34s} {o:7.2f} {n:7.2f} {pct:+7.1f}%{flag}")
        if flag:
            regressions.append((q, o, n, pct))
    for q in sorted(set(new) - set(old)):
        print(f"{q:34s} {'-':>7s} {new[q]:7.2f}     new")
    removed = sorted(set(old) - set(new))
    if len(removed) > len(shared):
        # subset run (gate's flagged-query re-measure): listing every
        # absent query as "removed" buries the signal — summarize instead
        print(f"(subset diff: {len(shared)} shared, "
              f"{len(removed)} old queries not in this run)")
    else:
        for q in removed:
            print(f"{q:34s} {old[q]:7.2f} {'-':>7s}     removed")
    print(f"\ntotals: old {sum(old.values()):.1f}s ({len(old)}q)  "
          f"new {sum(new.values()):.1f}s ({len(new)}q)")
    if len(all_ratios) >= 10:
        print(f"cohort drift: median x{cohort:.2f} over {len(all_ratios)} "
              f"shared queries (flag thresholds scaled by it)")
    if regressions:
        print(f"\n{len(regressions)} regression(s) over {tol:.0f}% + 0.15s:")
        for q, o, n, pct in regressions:
            print(f"  {q}: {o:.2f}s -> {n:.2f}s ({pct:+.0f}%)")
        # machine-scrapable line for tools/gate.sh's warm-rerun step
        print("REGRESSED: " + ",".join(q for q, *_ in regressions))
        sys.exit(1)
    print("no regressions")


if __name__ == "__main__":
    main()
