#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                           [--artifact FILE]

Builds the engine and the benchmark from source on first use (see
build.py), then runs the workload in one JVM on `local[nproc]` with a
single closed-loop client. The last line is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: every end-to-end metric of
BENCHMARK.json with `--trace 0`, every per-layer metric with `--trace 1`
(0 for a layer the workload does not call). The full artifact (every sample, the checks, run facts,
spans) is written to `.bench_build/perfbench/artifacts/`.
"""
import argparse
import collections
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
ART_DIR = os.path.join(build.OUT, "artifacts")
RUNS_DIR = os.path.join(build.OUT, "runs")
JVM_TIMEOUT_S = 165


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_jvm(cmd, log_path):
    """Runs the JVM, kills it if it overruns, and always waits for it."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            return None


def cpu_steal_s():
    """CPU time the hypervisor gave to others (all cores, seconds); a run
    with much of it was measured on a contended host. None off Linux."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def check_shaping(art, work):
    """Each shaping pass must equal the DuckDB replay of the engine's q123
    oracle SQL on the same generated corpus. Runs untimed, after the JVM,
    and sets `recall`: the mean share of the oracle's rows a timed pass
    returned."""
    import duckdb
    con = duckdb.connect()
    docs = os.path.join(art["info"]["documents_dir"], "*.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    with open(os.path.join(work, "oracle.sql")) as f:
        rows = con.execute(f.read()).fetchall()
    want = collections.Counter("\t".join(str(v) for v in r[:4]) for r in rows)
    art["info"]["oracle_rows"] = sum(want.values())
    recalls = []
    for i, (path, timed) in enumerate(zip(art["info"]["pass_files"],
                                          art["info"]["pass_timed"])):
        with open(path) as f:
            got = collections.Counter(f.read().splitlines())
        art["attempted"] += 1
        if got != want:
            art["failed"] += 1
            art["problems"].append(f"shaping pass {i}: rows differ from the DuckDB oracle")
        if timed:
            recalls.append(sum((got & want).values()) / max(sum(want.values()), 1))
    if recalls:
        art["metrics"]["recall"] = {"value": sum(recalls) / len(recalls), "unit": "ratio"}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--artifact", help="artifact path (default under .bench_build)")
    args = ap.parse_args()

    spec = benchmark_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        sys.exit(f"unknown workload {args.workload}; one of {', '.join(names)}")
    try:
        build.build()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(RUNS_DIR, f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(ART_DIR, exist_ok=True)
    art_path = args.artifact or os.path.join(ART_DIR, f"{tag}.json")
    out = os.path.join(work, "result.json")
    t0 = time.time()
    steal0 = cpu_steal_s()
    cmd = build.java_command(
        ["--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(args.trace),
         "--work", work, "--out", out], work)
    rc = run_jvm(cmd, os.path.join(work, "jvm.log"))
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-6000:])
        sys.exit(f"benchmark JVM {'timed out' if rc is None else f'exited with {rc}'}")
    steal1 = cpu_steal_s()
    with open(out) as f:
        art = json.load(f)
    art["facts"]["cpu_steal_s"] = None if steal0 is None else steal1 - steal0
    if args.workload == "corpus-shaping":
        try:
            check_shaping(art, work)
        except Exception as e:  # a broken oracle run is a failed check
            art["attempted"] += 1
            art["failed"] += 1
            art["problems"].append(f"oracle check: {e}")
    art["correct"] = art["failed"] == 0 and art["attempted"] > 0
    art["failed_frac"] = art["failed"] / max(art["attempted"], 1)
    art["wall_s"] = time.time() - t0
    with open(art_path, "w") as f:
        json.dump(art, f, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)

    for p in art["problems"]:
        sys.stderr.write(f"check failed: {p}\n")
    metrics = {}
    if args.trace:
        for m in spec["per_layer"]:
            metrics[m["name"]] = {"value": art["layers"].get(m["name"], 0.0),
                                  "unit": m["unit"]}
    else:
        for m in spec["end_to_end"]:
            v = art["metrics"].get(m["name"], {}).get("value")
            if not isinstance(v, (int, float)):
                sys.exit(f"the run measured no {m['name']} (artifact: {art_path})")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": art["correct"], "attempted": art["attempted"],
                      "failed": art["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
