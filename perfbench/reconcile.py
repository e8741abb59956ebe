#!/usr/bin/env python3
"""Traced-run reconciliation, per-layer shares and tracing overhead.

    python3 perfbench/reconcile.py [--seed 1] [--repeat 2] [--json out.json]

For each workload, runs the benchmark untraced and traced `--repeat` times
each (alternating, same seed) and reports:
  * reconciliation: for every timed query sample of the traced runs, the sum
    of its layer spans (graft.init, operators.build, plans.plan, exec,
    cache.read, graft.release) against the sample's wall time; the check
    fails if any sample is off by more than TOLERANCE;
  * layer shares of the traced query wall time, and the pass's split into
    task compute (task run time / cores), Catalyst planning (the planning
    trackers' phases) and the rest, the driver-side per-job and per-query
    cost, also given per job;
  * tracing overhead: median traced pass_s / median untraced pass_s.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TOLERANCE = 0.03
LAYERS = ["graft.init", "operators.build", "plans.plan", "exec", "cache.read", "graft.release"]


def run(workload, seed, trace, seconds, out):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
                        "--out", out], cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        raise SystemExit(f"{workload} trace={trace}: run failed with code {r.returncode}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        raise SystemExit(f"{workload} trace={trace}: output check failed")
    passes = layers.jsonl(os.path.join(out, "passes.jsonl"))
    return statistics.median(p["wall_ms"] / 1000 for p in passes), res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument("--json")
    a = ap.parse_args()
    seconds = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"]
    cores = len(os.sched_getaffinity(0))
    report, ok = {"cores": cores, "seed": a.seed, "workloads": {}}, True
    for wl in WORKLOADS:
        plain, traced, recs, per_layer = [], [], [], []
        for i in range(a.repeat):
            base = os.path.join(build.build_dir(), "reconcile", f"{wl}-{i}")
            plain.append(run(wl, a.seed, 0, seconds, base + "-plain")[0])
            pass_s, res = run(wl, a.seed, 1, seconds, base + "-traced")
            traced.append(pass_s)
            per_layer.append({k: v["value"] for k, v in res["metrics"].items()})
            recs += layers.per_query(layers.load(base + "-traced"))
        devs = [abs(r["wall_ms"] - sum(r["layers"].values())) / r["wall_ms"] for r in recs]
        wall = sum(r["wall_ms"] for r in recs)
        shares = {k: sum(r["layers"].get(k, 0.0) for r in recs) / wall for k in LAYERS}
        shares["unattributed"] = 1 - sum(shares.values())
        worst = max(devs)
        ok &= worst <= TOLERANCE
        overhead = statistics.median(traced) / statistics.median(plain)
        pl = {k: statistics.median(p[k] for p in per_layer) for k in per_layer[0]}
        pass_ms = pl["trace.pass_s"] * 1000
        compute = pl["task.run_s"] * 1000 / cores / pass_ms
        planning = (pl["plans.analysis_ms"] + pl["plans.optimizer_ms"]
                    + pl["plans.planning_ms"]) / pass_ms
        split = {"task_compute": compute, "planning": planning,
                 "driver_rest": 1 - compute - planning,
                 "driver_rest_ms_per_job": (1 - compute - planning) * pass_ms / pl["sched.jobs"]}
        report["workloads"][wl] = {
            "samples": len(recs),
            "reconcile_max_dev": worst, "reconcile_median_dev": statistics.median(devs),
            "layer_shares": shares, "pass_split": split,
            "jobs_per_query": sum(r["jobs"] for r in recs) / len(recs),
            "untraced_pass_s": plain, "traced_pass_s": traced, "tracing_overhead": overhead,
            "per_layer": pl,
        }
        print(f"{wl}: {len(recs)} samples, span sum vs wall max dev {worst:.2%} "
              f"(median {statistics.median(devs):.2%}); tracing overhead {overhead:.3f}; shares "
              + ", ".join(f"{k} {v:.1%}" for k, v in shares.items()), flush=True)
        print(f"{wl}: pass split - task compute {compute:.1%}, planning {planning:.1%}, "
              f"driver rest {1 - compute - planning:.1%} "
              f"({split['driver_rest_ms_per_job']:.0f} ms per job)", flush=True)

    if a.json:
        with open(a.json, "w") as fh:
            json.dump(report, fh, indent=1)
    if not ok:
        raise SystemExit(f"reconciliation failed: a sample is off by more than {TOLERANCE:.0%}")


if __name__ == "__main__":
    main()
