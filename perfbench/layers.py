"""Per-layer metrics of a traced run, from the JSON lines PerfBench writes.

Each metric is summed over one timed pass and reported as the median over
the run's timed passes (`cache_peak_mb` is the maximum over all samples).
Jobs belong to the span named by their job group; planning trackers of
executed queries belong to the span that was open when their analysis began.
"""
import json
import os
import statistics

MB = 1024 * 1024

# name -> unit, in the order BENCHMARK.json lists them
UNITS = {
    "graft.init_ms": "ms", "graft.release_ms": "ms",
    "operators.build_ms": "ms", "operators.build_jobs": "count", "operators.build_task_s": "s",
    "plans.plan_ms": "ms", "plans.analysis_ms": "ms", "plans.optimizer_ms": "ms",
    "plans.planning_ms": "ms", "plans.graft_rules_ms": "ms",
    "plans.exchanges": "count", "plans.reused_exchanges": "count",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.core_util": "ratio",
    "exec.ms": "ms", "exec.jobs": "count",
    "task.run_s": "s", "task.cpu_s": "s", "task.gc_ms": "ms",
    "sources.input_mb": "MB", "sources.input_rows": "count",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_ms": "ms",
    "shuffle.spill_mb": "MB",
    "cache.fills": "count", "cache.stored_mb": "MB", "cache_peak_mb": "MB",
    "jvm.gc_ms": "ms",
    "failed_frac": "ratio",
    "trace.pass_s": "s", "trace.gap_ms": "ms",
}

PHASES = {"analysis": "plans.analysis_ms", "optimization": "plans.optimizer_ms",
          "planning": "plans.planning_ms"}

SPAN_MS = {"graft.init": "graft.init_ms", "graft.release": "graft.release_ms",
           "operators.build": "operators.build_ms", "plans.plan": "plans.plan_ms",
           "exec": "exec.ms"}


def jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _dur_ms(s):
    return (s["end_ns"] - s["start_ns"]) / 1e6


def load(out_dir):
    return {k: jsonl(os.path.join(out_dir, k + ".jsonl"))
            for k in ("spans", "jobs", "qes", "queries", "passes")}


def _span_at(leaves, ms):
    """The leaf span whose [start, end] wall-clock window holds `ms`."""
    for s in leaves:
        if s["start_ms"] <= ms <= s["end_ms"]:
            return s
    return None


def _job_span(j, by_id, leaves):
    g = j["group"]
    return by_id.get(int(g[3:])) if g.startswith("pb:") else _span_at(leaves, j["submit_ms"])


def per_query(data):
    """One record per timed sample: wall ms, ms per layer span, jobs and
    task ms attributed to it."""
    spans = data["spans"]
    by_id = {s["id"]: s for s in spans}
    leaves = sorted((s for s in spans if s["parent"] >= 0), key=lambda s: s["start_ms"])
    recs = {}
    for s in spans:
        if s["parent"] < 0:
            recs[s["id"]] = {"pass": s["pass"], "query": s["query"], "wall_ms": _dur_ms(s),
                             "jobs": 0, "task_ms": 0.0, "layers": {}}
    for s in spans:
        if s["parent"] >= 0 and s["parent"] in recs:
            lay = recs[s["parent"]]["layers"]
            lay[s["name"]] = lay.get(s["name"], 0.0) + _dur_ms(s)
    for j in data["jobs"]:
        s = _job_span(j, by_id, leaves)
        if s is not None and s["parent"] in recs:
            recs[s["parent"]]["jobs"] += 1
            recs[s["parent"]]["task_ms"] += j["run_ms"]
    return list(recs.values())


def per_pass(data, cores, failed_frac):
    spans, passes = data["spans"], data["passes"]
    by_id = {s["id"]: s for s in spans}
    leaves = sorted((s for s in spans if s["parent"] >= 0), key=lambda s: s["start_ms"])
    acc = {p["pass"]: {k: 0.0 for k in UNITS} for p in passes}

    for s in spans:
        if s["name"] in SPAN_MS and s["pass"] in acc:
            acc[s["pass"]][SPAN_MS[s["name"]]] += _dur_ms(s)
    for r in per_query(data):
        if r["pass"] in acc:
            acc[r["pass"]]["trace.gap_ms"] += r["wall_ms"] - sum(r["layers"].values())

    for j in data["jobs"]:
        s = _job_span(j, by_id, leaves)
        if s is None or s["pass"] not in acc:
            continue
        a = acc[s["pass"]]
        if s["name"] == "operators.build":
            a["operators.build_jobs"] += 1
            a["operators.build_task_s"] += j["run_ms"] / 1000
        if s["name"] == "exec":
            a["exec.jobs"] += 1
        a["sched.jobs"] += 1
        a["sched.stages"] += j["stages"]
        a["sched.tasks"] += j["tasks"]
        a["task.run_s"] += j["run_ms"] / 1000
        a["task.cpu_s"] += j["cpu_ns"] / 1e9
        a["task.gc_ms"] += j["gc_ms"]
        a["sources.input_mb"] += j["input_bytes"] / MB
        a["sources.input_rows"] += j["input_rows"]
        a["shuffle.write_mb"] += j["shuffle_write_bytes"] / MB
        a["shuffle.read_mb"] += j["shuffle_read_bytes"] / MB
        a["shuffle.fetch_wait_ms"] += j["fetch_wait_ms"]
        a["shuffle.spill_mb"] += j["spill_bytes"] / MB

    for q in data["qes"]:
        starts = [v[0] for v in q["phases"].values()]
        s = _span_at(leaves, min(starts)) if starts else None
        if s is None or s["pass"] not in acc:
            continue
        a = acc[s["pass"]]
        for ph, (t0, t1) in q["phases"].items():
            if ph in PHASES:
                a[PHASES[ph]] += t1 - t0
        a["plans.exchanges"] += q["exchanges"]
        a["plans.reused_exchanges"] += q["reused_exchanges"]

    for r in data["queries"]:
        a = acc.get(r["pass"])
        if a is None:
            continue
        for ph, ms in r["df_phases_ms"].items():
            if ph in PHASES:
                a[PHASES[ph]] += ms
        a["plans.exchanges"] += r["exchanges"]
        a["plans.reused_exchanges"] += r["reused_exchanges"]
        a["plans.graft_rules_ms"] += r["graft_rules_ns"] / 1e6
        a["cache.fills"] += r["cached_rdds"]
        a["cache.stored_mb"] += r["cached_bytes"] / MB

    for p in passes:
        a = acc[p["pass"]]
        a["codegen.compiles"] = p["compiles"]
        a["codegen.compile_ms"] = p["compile_ms"]
        a["jvm.gc_ms"] = p["gc_ms"]
        a["trace.pass_s"] = p["wall_ms"] / 1000
        a["sched.core_util"] = a["task.run_s"] / (p["wall_ms"] / 1000 * cores)
        a["failed_frac"] = failed_frac
    return acc


def metrics(out_dir, cores, failed_frac):
    data = load(out_dir)
    acc = per_pass(data, cores, failed_frac)
    out = {k: statistics.median(a[k] for a in acc.values()) for k in UNITS}
    out["cache_peak_mb"] = max((r["cached_bytes"] / MB for r in data["queries"]), default=0.0)
    return out
