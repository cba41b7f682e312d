#!/usr/bin/env python3
"""Record one workload's committed artifact: untraced/traced run pairs,
each pair on one seed, and the tracing overhead between them.

Usage (from the repository root):

    python3 mrfbench/record.py --workload mrf_stream --seed 1

Runs PAIRS pairs on seeds seed, seed+1, ..., each run as long as
BENCHMARK.json's run_seconds. Writes mrfbench/results/<workload>.json
(host, end-to-end and per-layer metrics of the first pair, and the
tracing overhead as the median over the pairs with its range) and
mrfbench/results/<workload>-spans.json (every span of the first traced
run).
"""
import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ARTIFACTS = os.path.join(ROOT, ".bench_build", "artifacts")
PAIRS = 3


def cpu_model():
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        sys.exit(f"record: seed={seed} trace={trace} run failed")
    print(p.stdout.strip().splitlines()[-1])
    return json.load(open(os.path.join(ARTIFACTS, f"{workload}-seed{seed}-trace{trace}.json")))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = spec["run_seconds"]

    pairs = []
    for seed in range(args.seed, args.seed + PAIRS):
        pairs.append((seed, run(args.workload, seed, seconds, 0), run(args.workload, seed, seconds, 1)))
    overheads = [t["metrics"]["e2e_s"] - p["metrics"]["e2e_s"] for _, p, t in pairs]
    _, plain, traced = pairs[0]
    median = statistics.median(overheads)
    out = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": seconds,
        "host": {"nproc": plain["nproc"], "heap": plain["heap"], "cpu": cpu_model(),
                 "git_sha": plain["git_sha"]},
        "untraced": {k: plain[k] for k in (
            "metrics", "attempted", "failed", "failed_ratio", "errors", "e2e_spread",
            "interference_suspect", "cpu_steal_share", "loadavg_1m_before", "loadavg_1m_per_iteration",
            "jvm_start_s", "setup_cold_s", "iterations", "oracle_check_s")},
        "traced": {k: traced[k] for k in (
            "metrics", "attempted", "failed", "failed_ratio", "errors", "interference_suspect", "cpu_steal_share",
            "loadavg_1m_per_iteration", "iterations", "per_layer")},
        "pairs": [{"seed": seed, "untraced_e2e_s": p["metrics"]["e2e_s"],
                   "traced_e2e_s": t["metrics"]["e2e_s"],
                   "cpu_steal_share": [p["cpu_steal_share"], t["cpu_steal_share"]],
                   "interference_suspect": p["interference_suspect"] or t["interference_suspect"]}
                  for seed, p, t in pairs],
        "tracing_overhead": {
            "e2e_s": median, "min_s": min(overheads), "max_s": max(overheads),
            "share": median / statistics.median(p["metrics"]["e2e_s"] for _, p, _ in pairs),
            "definition": "median over the pairs of traced e2e_s minus untraced e2e_s, same seed"},
    }
    os.makedirs(os.path.join(BENCH, "results"), exist_ok=True)
    with open(os.path.join(BENCH, "results", f"{args.workload}.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.copyfile(os.path.join(ARTIFACTS, f"{args.workload}-seed{args.seed}-trace1-spans.json"),
                    os.path.join(BENCH, "results", f"{args.workload}-spans.json"))
    print(f"tracing overhead: {median:+.3f} s (range {min(overheads):+.3f} to "
          f"{max(overheads):+.3f}) over {len(pairs)} pairs")


if __name__ == "__main__":
    main()
