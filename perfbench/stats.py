#!/usr/bin/env python3
"""Repeat the benchmark over seeds and summarise each metric.

    python3 perfbench/stats.py --workload tpch --seeds 1-10 [--trace 0] [--json out.json]

Runs perfbench/run.py once per seed (one process at a time) and prints, per
metric, the median, first and third quartile (statistics.quantiles, n=4)
and the spread (q3 - q1) / median next to the metric's bound in
BENCHMARK.json. `--repeat N` runs each seed N times instead (a baseline at
one seed).
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


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarise(runs):
    names = runs[0]["metrics"].keys()
    out = {}
    for k in names:
        vals = [r["metrics"][k]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[k] = {"unit": runs[0]["metrics"][k]["unit"], "median": med, "q1": q1, "q3": q3,
                  "spread": (q3 - q1) / med if med else 0.0, "values": vals}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--json")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs, walls = [], []
    for seed in seeds(a.seeds):
        for _ in range(a.repeat):
            t0 = time.time()
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", a.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)],
                               cwd=ROOT, stdout=subprocess.PIPE, text=True)
            walls.append(time.time() - t0)
            if r.returncode != 0:
                raise SystemExit(f"seed {seed}: run failed with code {r.returncode}")
            lines = r.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            res["seed"], res["note"] = seed, lines[-2] if len(lines) > 1 else ""
            runs.append(res)
            print(f"seed {seed}: {walls[-1]:.1f} s wall, correct={res['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
    summary = summarise(runs)
    for k, s in summary.items():
        b = bounds.get(k)
        print(f"{k:>16} median={s['median']:.4g} {s['unit']} q1={s['q1']:.4g} q3={s['q3']:.4g} "
              f"spread={s['spread']:.3f}" + (f" bound={b}" if b is not None else ""))
    print(f"run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s; "
          f"all correct: {all(r['correct'] for r in runs)}")
    if a.json:
        with open(a.json, "w") as fh:
            json.dump({"workload": a.workload, "seeds": a.seeds, "repeat": a.repeat,
                       "trace": a.trace, "summary": summary,
                       "run_wall_s": walls, "runs": runs}, fh, indent=1)


if __name__ == "__main__":
    main()
