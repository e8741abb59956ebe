#!/usr/bin/env python3
"""Self-test of the benchmark.

    python3 perfbench/selftest.py

For every workload (the ones in BENCHMARK.json and plan_only), one short
run (--seconds 1, one timed pass) must print a last line with
exactly the keys correct/attempted/failed/metrics, pass its output check,
and carry every end-to-end metric of BENCHMARK.json with its unit and a
positive value. Then the output check must catch a deliberately perturbed
result row: re-checking each workload's dumped outputs with one query's
first row altered fails exactly that query, and a full tpch run with
--perturb reports correct=false, failed=1 and failed_frac=1/attempted.
Exits non-zero on the first violation.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def run(workload, *extra):
    out = os.path.join(build.build_dir(), "selftest", workload + ("-perturbed" if extra else ""))
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "1", "--seconds", "1", "--trace", "0", "--out", out, *extra],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    assert r.returncode == 0, f"{workload}: run.py exited with {r.returncode}"
    last = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}, f"{workload}: keys {set(last)}"
    return last, out


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    want = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    outs = {}
    for wl in WORKLOADS:
        res, outs[wl] = run(wl)
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        assert got == want, f"{wl}: metrics {got} != {want}"
        assert all(v["value"] > 0 for v in res["metrics"].values()), f"{wl}: a zero metric"
        assert res["correct"] and res["failed"] == 0, f"{wl}: unexpected failures {res}"
        print(f"ok {wl}: {len(want)} end-to-end metrics with units, "
              f"{res['attempted']} queries attempted, 0 failed")

    for wl, out in outs.items():
        victim = WORKLOADS[wl]["queries"][0]
        data = os.path.join(build.build_dir(), "inputs", f"sf{WORKLOADS[wl]['sf']}-seed1")
        checked = check.run(data, out, WORKLOADS[wl]["mode"], perturb_query=victim)
        bad = sorted(q for q, why in checked.items() if why)
        assert bad == [victim], f"{wl}: perturbing {victim} failed {bad}"
        print(f"ok {wl}: the check catches a perturbed row of {victim}")

    victim = WORKLOADS["tpch"]["queries"][0]
    res, out = run("tpch", "--perturb", victim)
    detail = json.load(open(os.path.join(out, "result.json")))
    assert not res["correct"] and res["failed"] == 1, f"perturbed run: {res}"
    assert detail["failed_frac"] == 1 / res["attempted"], detail
    print(f"ok tpch: a perturbed {victim} counts as 1 failure, "
          f"failed_frac={detail['failed_frac']:.4f}")
    print("selftest passed")


if __name__ == "__main__":
    main()
