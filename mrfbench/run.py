#!/usr/bin/env python3
"""Benchmark of the payer-MRF engine, end to end and layer by layer.

Usage (from the repository root):

    python3 mrfbench/run.py --workload mrf_stream --seed 1 --seconds 5 --trace 0

Workloads: mrf_stream, mrf_fleet and catalog (see mrfbench/README.md).
Every input is made from --seed before the JVM starts: the MRF files by
the harness, the catalog's tables by mrfbench/tables.py.

The first run in a checkout builds the engine and the harness from
source with sbt (offline). Each run starts one JVM sized to the host:
local[nproc], shuffle partitions = nproc, heap from MemTotal. It prints
every metric as "metric <name> <value> <unit>" and, as its last line,
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end_to_end ones of BENCHMARK.json, with
--trace 1 the per_layer ones (a layer the workload does not use reads
0); a traced run also writes every span to .bench_build/artifacts/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import tables

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
SOURCES = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "scala"),
           os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
CATALOG_SF = {"full": 0.02, "tiny": 0.005}
STEAL_SUSPECT = 0.05  # share of CPU time taken by other tenants during the run
RUN_LIMIT_S = 150  # JVM budget after the build; every run ends within 180 s
BUILD_LIMIT_S = 840

OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"mrfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def host():
    """nproc, and the JVM heap: half of MemTotal, 2-8 GB, the formula the
    test setup uses for SPARK_DRIVER_MEM."""
    cpus = len(os.sched_getaffinity(0))
    gb = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gb = min(8, max(2, int(int(line.split()[1]) / 2097152)))
    except OSError:
        pass
    return cpus, f"{gb}g"


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def cpu_steal():
    """(steal, total) CPU ticks so far: on a VM, steal is the time other
    tenants took from this one's CPUs."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks[:8])
    except (OSError, ValueError, IndexError):
        return 0, 0


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() or "unknown"


def fingerprint():
    h = hashlib.sha256()
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile once per checkout (again only when a source changes)."""
    for p in SOURCES:
        if not os.path.exists(p):
            fail(f"{os.path.relpath(p, ROOT)} is missing: run from a full checkout")
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "sbt", "classpath.txt")
    fp = fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "-Dsbt.offline=true -Xmx2g"),
                                f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"])
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                         BENCH, env, out, BUILD_LIMIT_S)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (exit {rc}); see {log}", 1)
    with open(stamp, "w") as f:
        f.write(fp)
    return open(cp_file).read().strip()


def run_bounded(cmd, cwd, env, out, limit_s):
    """Run `cmd` in its own process group; kill the group at the limit,
    or when this script is stopped, and wait for it."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def idle(workload, metric):
    """A layer this workload never calls: the catalog reads no MRF input,
    and the MRF workloads run no catalog query."""
    if metric == "jvm.gc_s":
        return False
    return (workload == "catalog") != metric.startswith("QueryCatalog.")


def catalog_oracle(result, work, sf_dir):
    """Compare every pass's results with the DuckDB oracle, normalized as
    tools/check_parity.py does. Returns (attempted, failed, errors, the
    seconds each query's check took)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_parity
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in check_parity.TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(work, "oracle_sql.json")))
    attempted = failed = 0
    errors = []
    check_s = {}
    for k in range(len(result["iterations"])):
        out = os.path.join(work, f"pass{k}")
        for name, sql in sorted(oracle.items()):
            attempted += 1
            t0 = time.monotonic()
            try:
                got = pd.read_parquet(os.path.join(out, name))
                exp = con.execute(sql.replace("{{OUT}}", out)).df()
                check_parity.driver_sort(got)
                check_parity.driver_sort(exp)
                g, x = check_parity.normalize(got), check_parity.normalize(exp)
                if list(g.columns) != list(x.columns) or len(g) != len(x) or not g.equals(x):
                    raise ValueError(f"{len(g)} rows vs oracle {len(x)}, or values differ")
            except Exception as e:  # a failed compare is a failed operation
                failed += 1
                errors.append(f"pass{k} {name}: {e}")
            check_s[name] = check_s.get(name, 0.0) + time.monotonic() - t0
    return attempted, failed, errors, check_s


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["mrf_stream", "mrf_fleet", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="tiny: small inputs, for the self-test")
    ap.add_argument("--flip-gold-rate", action="store_true",
                    help="corrupt one expected gold rate: the run must report a failure")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json is missing")
    spec = json.load(open(spec_path))
    cp = build()
    cpus, heap = host()

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    artifacts = os.path.join(BUILD, "artifacts")
    os.makedirs(artifacts, exist_ok=True)
    out_file = os.path.join(work, "result.json")
    if args.workload == "catalog":
        # fresh seeded tables for every run, a tenth of the measured scale
        # for the warm-up (its own directory: some caches are per path)
        sf = CATALOG_SF[args.scale]
        sf_dir, warm_dir = os.path.join(work, "tables"), os.path.join(work, "warm-tables")
        tables.generate(sf_dir, sf, args.seed)
        tables.generate(warm_dir, sf / 10, args.seed + 7)
    spans_file = os.path.join(artifacts, f"{tag}-spans.json")
    load_before = loadavg()
    steal0 = cpu_steal()
    launch_ms = int(time.time() * 1000)
    cmd = ["java"] + [x for o in OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")] + [
        f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "mrfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work, "--out", out_file, "--cpus", str(cpus),
        "--launch-ms", str(launch_ms), "--deadline-ms", str(launch_ms + (RUN_LIMIT_S - 30) * 1000),
        "--scale", args.scale, "--trace-out", spans_file]
    if args.flip_gold_rate:
        cmd.append("--flip-gold-rate")
    if args.workload == "catalog":
        cmd += ["--sf-dir", sf_dir, "--warm-dir", warm_dir]
    log = os.path.join(artifacts, f"{tag}-jvm.log")
    with open(log, "w") as out:
        rc = run_bounded(cmd, ROOT, os.environ.copy(), out, RUN_LIMIT_S)
    if rc != 0 or not os.path.exists(out_file):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        shutil.rmtree(work, ignore_errors=True)
        fail(f"the benchmark JVM failed (exit {rc}); see {log}", 1)
    result = json.load(open(out_file))
    steal1 = cpu_steal()
    steal_share = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

    attempted, failed = result["attempted"], result["failed"]
    errors = [e for it in result["iterations"] for e in it["errors"]]
    check_s = {}
    if args.workload == "catalog":
        a, f, errs, check_s = catalog_oracle(result, work, sf_dir)
        attempted, failed, errors = attempted + a, failed + f, errors + errs
    shutil.rmtree(work, ignore_errors=True)

    wanted = spec["end_to_end"] if args.trace == 0 else spec["per_layer"]
    source = result["metrics"] if args.trace == 0 else result["per_layer"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None and args.trace == 1 and idle(args.workload, m["name"]):
            v = 0.0
        if v is None:
            print(f"mrfbench: metric {m['name']} was not measured", file=sys.stderr)
            failed += 1
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for e in errors[:20]:
        print(f"mrfbench: FAILED {e}", file=sys.stderr)

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "git_sha": git_sha(), "nproc": cpus,
        "heap": heap, "loadavg_1m_before": load_before,
        "loadavg_1m_per_iteration": [it["loadavg_1m"] for it in result["iterations"]],
        "cpu_steal_share": steal_share,
        "interference_suspect": result["interference_suspect"] or steal_share > STEAL_SUSPECT,
        "e2e_spread": result["e2e_spread"], "attempted": attempted, "failed": failed,
        "failed_ratio": failed / max(1, attempted), "errors": errors,
        "metrics": result["metrics"], "per_layer": result["per_layer"],
        "heap_retained_mb": result["heap_retained_mb"],
        "jvm_start_s": result["jvm_start_s"], "setup_cold_s": result["setup_cold_s"],
        "iterations": result["iterations"], "oracle_check_s": check_s,
    }
    with open(os.path.join(artifacts, f"{tag}.json"), "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)

    for name, m in metrics.items():
        print(f"metric {name} {m['value']} {m['unit']}")
    # printed and recorded, but not gated in BENCHMARK.json: the heap
    # reading is too unsteady for a bound, and failed_ratio is 0 when all is well
    if args.trace == 0:
        print(f"metric heap_peak_mb {result['metrics']['heap_peak_mb']} MB")
    print(f"metric failed_ratio {failed / max(1, attempted)} ratio")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
