#!/usr/bin/env python3
"""Self-test of the benchmark, at tiny scale.

Usage (from the repository root):

    python3 mrfbench/selftest.py

For every workload it checks that:
  1. an untraced run prints every end_to_end metric of BENCHMARK.json
     by name with its unit, and a traced run every per_layer metric;
  2. the traced span files together cover every layer in layers.json;
  3. a deliberately wrong expectation (one flipped gold rate) is
     reported as a failure, not a pass.
Exits 1 if any check fails.
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ARTIFACTS = os.path.join(ROOT, ".bench_build", "artifacts")

problems = []


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        problems.append(what)


def run(workload, trace, extra=()):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "11",
           "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, lines, json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(p.stderr[-3000:])
        return p.returncode, lines, None


def main():
    argparse.ArgumentParser(description=__doc__.splitlines()[0]).parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    layers = json.load(open(os.path.join(BENCH, "layers.json")))["layers"]
    span_names = set()
    for w in [w["name"] for w in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, lines, res = run(w, trace)
            check(rc == 0 and res is not None, f"{w} trace={trace}: exits 0 with a result line")
            if res is None:
                continue
            check(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                  f"{w} trace={trace}: correct, {res['failed']}/{res['attempted']} failed")
            printed = {l.split()[1]: l.split()[3] for l in lines if l.startswith("metric ")}
            check(len(res["metrics"]) == len(spec[key]),
                  f"{w} trace={trace}: {len(res['metrics'])} metrics for {len(spec[key])} in BENCHMARK.json")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                check(got is not None and got["unit"] == m["unit"] and printed.get(m["name"]) == m["unit"]
                      and isinstance(got["value"], (int, float)),
                      f"{w} trace={trace}: {m['name']} printed with unit {m['unit']}")
            if trace == 0:
                for name, unit in (("heap_peak_mb", "MB"), ("failed_ratio", "ratio")):
                    check(printed.get(name) == unit, f"{w} trace=0: {name} printed with unit {unit}")
            if trace == 1:
                path = os.path.join(ARTIFACTS, f"{w}-seed11-trace1-spans.json")
                spans = json.load(open(path))["spans"] if os.path.exists(path) else []
                check(bool(spans), f"{w}: traced run wrote its spans")
                span_names |= {s["name"] for s in spans}
                span_names |= {"spark.stage:scan" for s in spans
                               if s["name"] == "spark.stage" and s.get("scan")}

    for layer, d in layers.items():
        want = d["span"] + (":scan" if d.get("attr") == "scan" else "")
        check(any(n.startswith(want) for n in span_names), f"trace covers {layer} ({want})")

    for w in ("mrf_stream", "mrf_fleet"):
        rc, _, res = run(w, 0, ["--flip-gold-rate"])
        check(rc == 0 and res is not None and not res["correct"] and res["failed"] >= 1,
              f"{w}: a flipped gold rate is reported as a failure")

    print(f"== {len(problems)} problem(s) ==")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
