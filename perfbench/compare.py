#!/usr/bin/env python3
"""Compare two sets of benchmark runs, a parent and a change.

Usage (from the repository root):
  python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds run artifacts as written by `steady.py` or by
`run.py --artifact`, named `<workload>-seed<N>-trace<T>.json`. Runs of the
same workload and seed on both sides form a pair.

For every end-to-end metric of every workload it prints each side's median
and quartiles, the share of pairs the change won (ties count for neither),
and a verdict:
  improved      the change won at least 9/10 of the pairs and the medians
                differ by more than the parent's quartile distance; or, with
                a spread wider than the bound, every change run beat every
                parent run
  worse         the change's median is worse than the parent's by more than
                the metric's bound
  unresolved    a side's spread (quartile distance over median) is wider
                than the bound, so "no change" cannot be claimed
  within bound  otherwise
Then, from traced runs present on both sides, the per-layer medians that
moved by more than 5 %.
"""
import argparse
import glob
import json
import os
import re
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
MOVED = 0.05  # per-layer medians that changed by more than this are printed
NAME = re.compile(r"(?P<w>.+)-seed(?P<seed>-?\d+)-trace(?P<t>[01])\.json$")


def load(d):
    """{(workload, trace): {seed: artifact}}"""
    runs = {}
    for p in glob.glob(os.path.join(d, "*.json")):
        m = NAME.search(os.path.basename(p))
        if not m:
            continue
        with open(p) as f:
            runs.setdefault((m["w"], int(m["t"])), {})[int(m["seed"])] = json.load(f)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(base, chg, bound, higher, wins):
    b1, bm, b3 = quartiles(base)
    c1, cm, c3 = quartiles(chg)
    sign = 1 if higher else -1
    better = sign * (cm - bm) > 0
    worse_by = -sign * (cm - bm) / abs(bm) if bm else 0.0
    spread = max((b3 - b1) / abs(bm) if bm else 0.0, (c3 - c1) / abs(cm) if cm else 0.0)
    if better and wins >= 0.9 and abs(cm - bm) > (b3 - b1):
        return "improved"
    if worse_by > bound:
        return "worse"
    if spread > bound:
        all_better = (min(chg) > max(base)) if higher else (max(chg) < min(base))
        return "improved" if all_better else "unresolved"
    return "within bound"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("change")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    base, chg = load(args.base), load(args.change)
    order = [w["name"] for w in spec["workloads"]]
    worst_rank = {"worse": 3, "unresolved": 2, "within bound": 1, "improved": 0}

    for w in order:
        b, c = base.get((w, 0), {}), chg.get((w, 0), {})
        if not b or not c:
            continue
        seeds = sorted(set(b) & set(c))
        print(f"\n== {w}: {len(b)} parent runs, {len(c)} change runs, {len(seeds)} pairs")
        print(f"  {'metric':<18} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} "
              f"{'won':>5}  verdict")
        worst = None
        for name, m in e2e.items():
            bv = [r["metrics"][name]["value"] for r in b.values() if name in r["metrics"]]
            cv = [r["metrics"][name]["value"] for r in c.values() if name in r["metrics"]]
            if not bv or not cv:
                continue
            higher = m["better"] == "higher"
            pairs = [(b[s]["metrics"][name]["value"], c[s]["metrics"][name]["value"])
                     for s in seeds if name in b[s]["metrics"] and name in c[s]["metrics"]]
            won = sum(1 for x, y in pairs if (y > x if higher else y < x))
            share = won / len(pairs) if pairs else 0.0
            v = verdict(bv, cv, m["bound"], higher, share)
            if worst is None or worst_rank[v] > worst_rank[worst]:
                worst = v
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            print(f"  {name:<18} {fmt(quartiles(bv)):>30} {fmt(quartiles(cv)):>30} "
                  f"{share:>5.2f}  {v}")
        fb = sum(r["failed"] for r in b.values())
        fc = sum(r["failed"] for r in c.values())
        print(f"  row: {w}  worst verdict: {worst}  failed ops parent {fb} change {fc}")

        bt, ct = base.get((w, 1), {}), chg.get((w, 1), {})
        if bt and ct:
            print(f"  per-layer (traced medians, {len(bt)} vs {len(ct)} runs):")
            for m in spec["per_layer"]:
                n = m["name"]
                x = statistics.median(r["layers"].get(n, 0.0) for r in bt.values())
                y = statistics.median(r["layers"].get(n, 0.0) for r in ct.values())
                rel = (y - x) / abs(x) if x else (0.0 if y == 0 else float("inf"))
                if abs(rel) > MOVED:
                    print(f"    {n:<40} {x:>14.4g} -> {y:<14.4g} {rel:+.1%}")


if __name__ == "__main__":
    sys.exit(main())
