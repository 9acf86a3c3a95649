#!/usr/bin/env python3
"""Steadiness mode: run each workload repeatedly, one seed per run, and
print every end-to-end metric's spread against its bound.

The spread of a metric is the distance between the first and third
quartiles of its values (Python's `statistics.quantiles(values, n=4)`) as a
share of their median. A benchmark is steady when every spread, that of
`setup_s` included, stays within its metric's bound; the aim is a third of
it.

Usage (from the repository root):
  python3 perfbench/steady.py [--runs 10] [--workload W ...] [--trace]
                              [--out DIR]

Run N uses seed N (1 to `--runs`), so two sets pair up seed by seed in
`compare.py`.

Each run's artifact is kept in DIR (default `.bench_build/perfbench/steady`),
named `<workload>-seed<N>-trace<T>.json`, so `compare.py` can read a set.
With `--trace` every seed also runs traced, and the summary adds the tracing
overhead: traced minus untraced median of each end-to-end metric.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402


def spread(values):
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, float("nan")
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / abs(med)


def run_one(workload, seed, seconds, trace, out_dir):
    art = os.path.join(out_dir, f"{workload}-seed{seed}-trace{trace}.json")
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace),
                        "--artifact", art],
                       cwd=build.ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        return None, wall
    return json.loads(p.stdout.strip().splitlines()[-1]), wall


def main():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable; default: all)")
    ap.add_argument("--trace", action="store_true",
                    help="also run every seed traced and report the overhead")
    ap.add_argument("--out", default=os.path.join(build.OUT, "steady"))
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    build.build()

    steady = True
    for w in workloads:
        values, traced, walls, steals, failed, attempted = {}, {}, [], [], 0, 0
        for seed in range(1, args.runs + 1):
            for trace in ((0, 1) if args.trace else (0,)):
                res, wall = run_one(w, seed, spec["run_seconds"], trace, args.out)
                if res is None:
                    print(f"{w} seed {seed} trace {trace}: run failed")
                    steady = False
                    continue
                if trace:
                    art = os.path.join(args.out, f"{w}-seed{seed}-trace1.json")
                    with open(art) as f:
                        for k, v in json.load(f)["metrics"].items():
                            traced.setdefault(k, []).append(v["value"])
                    continue
                walls.append(wall)
                art = os.path.join(args.out, f"{w}-seed{seed}-trace0.json")
                with open(art) as f:
                    steals.append(json.load(f)["facts"].get("cpu_steal_s") or 0.0)
                failed += res["failed"]
                attempted += res["attempted"]
                for k, v in res["metrics"].items():
                    values.setdefault(k, []).append(v["value"])
        print(f"\n{w}: {len(walls)} runs, failed {failed}/{attempted} operations, "
              f"wall median {statistics.median(walls) if walls else 0:.1f}s, "
              f"cpu steal per run {[round(x, 1) for x in steals]}s")
        print(f"  {'metric':<18} {'median':>12} {'spread':>8} {'bound':>6}  verdict")
        for k in sorted(values):
            med, sp = spread(values[k])
            b = bounds.get(k, float("nan"))
            ok = sp <= b
            steady &= ok
            note = "ok" if sp <= b / 3 else ("within bound" if ok else "TOO WIDE")
            line = f"  {k:<18} {med:>12.4g} {sp:>8.3f} {b:>6}  {note}"
            if k in traced:
                line += f"  trace overhead {statistics.median(traced[k]) - med:+.4g}"
            print(line)
    print("\nSTEADY" if steady else "\nNOT STEADY")
    sys.exit(0 if steady else 1)


if __name__ == "__main__":
    main()
