#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 10 --trace 0

Builds the engine if its sources changed (perfbench/build.py), derives the
seeded inputs (perfbench/gen.py), runs the closed-loop load generator
(perfbench/src/perfbench/PerfBench.scala) in one JVM, checks every query's
output against its DuckDB oracle (perfbench/check.py) and prints one JSON
line last: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones
(perfbench/layers.py). Scratch output goes to $CARGO_TARGET_DIR (default
.bench_build) under the checkout.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
DEADLINE_S = 165  # JVM wall-time limit, counted after the build step


def tail_percentile(samples):
    """Highest percentile with at least 10 samples above it: (value, pct).

    Below 20 samples that percentile would lie under the median, so the
    maximum (p100) is reported instead."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def end_to_end(out_dir, t_setup):
    qs = layers.jsonl(os.path.join(out_dir, "queries.jsonl"))
    passes = layers.jsonl(os.path.join(out_dir, "passes.jsonl"))
    setup = json.load(open(os.path.join(out_dir, "setup.json")))
    ms = [q["ms"] for q in qs]
    tail, pct = tail_percentile(ms)
    return {
        "pass_s": statistics.median(p["wall_ms"] / 1000 for p in passes),
        "query_p50_ms": statistics.median(ms),
        "query_tail_ms": tail,
        "setup_s": setup["first_timed_ms"] / 1000 - t_setup,
    }, pct, len(ms)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb", metavar="QUERY",
                    help="alter one result row of QUERY before the check (self-test)")
    ap.add_argument("--out", help="keep the run's files in this directory")
    a = ap.parse_args(argv)
    wl = WORKLOADS[a.workload]

    classes = build.ensure()
    t_setup = time.time()
    bdir = build.build_dir()
    data_dir = os.path.join(bdir, "inputs", f"sf{wl['sf']}-seed{a.seed}")
    out_dir = a.out or os.path.join(bdir, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(data_dir, ignore_errors=True)
    gen.write(a.seed, wl["sf"], data_dir)
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)

    cores = len(os.sched_getaffinity(0))
    # A fixed pass count per (workload, --seconds): the timed region then
    # covers the same passes of the JVM's warm-up in every run, whatever
    # the speed of the moment, and lasts about --seconds on a 4-core box.
    passes = max(1, int(a.seconds // wl["pass_s"]))
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = ["java", *JVM_OPENS, "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.PerfBench", wl["mode"], data_dir, out_dir,
           str(a.seed), str(passes), str(a.trace), str(cores), ",".join(wl["queries"])]
    log = open(os.path.join(out_dir, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=log, stderr=subprocess.STDOUT)
    # a terminated run takes its JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t_setup)))
    except subprocess.TimeoutExpired:
        raise SystemExit("run: the JVM did not finish in time")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    if rc != 0:
        with open(os.path.join(out_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise SystemExit(f"run: the JVM exited with code {rc}")

    t_jvm = time.time()
    checked = check.run(data_dir, out_dir, wl["mode"], a.perturb)
    timed = layers.jsonl(os.path.join(out_dir, "queries.jsonl"))
    bad = {q: why for q, why in checked.items() if why}
    bad_timed = [q for q in timed if not q["ok"]]
    attempted = len(checked) + len(timed)
    failed = len(bad) + len(bad_timed)
    for q, why in sorted(bad.items()):
        print(f"FAILED {q}: {why}", file=sys.stderr)
    for q in bad_timed:
        print(f"FAILED {q['query']} (pass {q['pass']}): {q['error']}", file=sys.stderr)

    e2e, pct, n = end_to_end(out_dir, t_setup)
    failed_frac = failed / attempted
    cache_peak = max((q["cached_bytes"] / layers.MB for q in timed), default=0.0)
    print(f"# phases: build {t_setup - T_PROCESS:.1f} s, inputs+JVM {t_jvm - t_setup:.1f} s, "
          f"output check {time.time() - t_jvm:.1f} s")
    print(f"# {a.workload} seed={a.seed}: {passes} timed passes, {n} samples; "
          f"query_tail_ms is p{pct:.1f} of {n}; failed_frac={failed_frac:.4f}; "
          f"cache_peak_mb={cache_peak:.3f}")
    if a.trace:
        values = layers.metrics(out_dir, cores, failed_frac)
        units = layers.UNITS
    else:
        values = e2e
        units = {"pass_s": "s", "query_p50_ms": "ms", "query_tail_ms": "ms", "setup_s": "s"}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}
    with open(os.path.join(out_dir, "result.json"), "w") as fh:
        json.dump(dict(result, tail_percentile=pct, samples=n, passes=passes,
                       failed_frac=failed_frac, cache_peak_mb=cache_peak), fh, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
