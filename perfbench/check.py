"""Output check: every query's result against its DuckDB oracle.

PerfBench dumps each query's output column names and, for exec workloads,
its collected rows as JSON to `check/<query>.json`. The oracle SQL
(`SparkEntry.oracleSql`) runs in DuckDB over the same input tables and the
two results must agree exactly, cell by cell and row by row (the oracles
carry a total ORDER BY), with columns matched by name. Queries without an
oracle entry must return at least one row. Plan-only workloads compare the
output column names only (or require them non-empty without an oracle).
"""
import datetime as dt
import json
import os
from decimal import Decimal

import duckdb

from gen import TABLES

EPOCH = dt.datetime(1970, 1, 1)


def _spark_cell(v):
    """Decode a cell of the JSON dump PerfBench writes."""
    if isinstance(v, dict):
        if "dec" in v:
            return Decimal(v["dec"])
        if "ts" in v:
            return ("ts", v["ts"])
        if "date" in v:
            return ("date", v["date"])
        if "bin" in v:
            return bytes.fromhex(v["bin"])
        if "map" in v:
            return {_key(_spark_cell(k)): _spark_cell(x) for k, x in v["map"]}
    if isinstance(v, list):
        return [_spark_cell(x) for x in v]
    return v


def _oracle_cell(v):
    """Bring a DuckDB value to the decoded dump's form."""
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return ("ts", (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, dt.date):
        return ("date", v.isoformat())
    if isinstance(v, (list, tuple)):
        return [_oracle_cell(x) for x in v]
    if isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            return {_key(_oracle_cell(k)): _oracle_cell(x) for k, x in zip(v["key"], v["value"])}
        return [_oracle_cell(x) for x in v.values()]
    return v


def _key(v):
    return json.dumps(v, default=str, sort_keys=True)


def _cell_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, list) or isinstance(b, list):
        return isinstance(a, list) and isinstance(b, list) and len(a) == len(b) \
            and all(_cell_eq(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) or isinstance(b, dict):
        return isinstance(a, dict) and isinstance(b, dict) and a.keys() == b.keys() \
            and all(_cell_eq(a[k], b[k]) for k in a)
    if isinstance(a, float) and a != a:
        return isinstance(b, float) and b != b
    if isinstance(a, bool) or isinstance(b, bool):
        return type(a) is type(b) and a == b
    if isinstance(a, (Decimal, float)) and isinstance(b, (Decimal, float)) \
            and type(a) is not type(b):
        return float(a) == float(b)
    return a == b


def compare(want_cols, want_rows, got_cols, got_rows):
    """None if the results agree, else a one-line reason."""
    if sorted(want_cols) != sorted(got_cols):
        return f"columns oracle={want_cols} spark={got_cols}"
    if len(want_rows) != len(got_rows):
        return f"rows oracle={len(want_rows)} spark={len(got_rows)}"
    at = [got_cols.index(c) for c in want_cols]
    for i, (w, g) in enumerate(zip(want_rows, got_rows)):
        for c, j, a in zip(want_cols, at, w):
            if not _cell_eq(_oracle_cell(a), g[j]):
                return f"row {i} col {c}: oracle={a!r} spark={g[j]!r}"
    return None


def perturb(rows):
    """Change the first cell of the first row (used by the self-test)."""
    v = rows[0][0]
    if isinstance(v, bool):
        new = not v
    elif isinstance(v, (int, float, Decimal)):
        new = v + 1
    elif isinstance(v, str):
        new = v + "~"
    else:
        new = "~"
    return [[new] + rows[0][1:]] + rows[1:]


def run(data_dir, out_dir, mode, perturb_query=None):
    """Check the dumps of one run: {query: reason or None}."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    results = {}
    for line in open(os.path.join(out_dir, "check.jsonl")):
        rec = json.loads(line)
        q = rec["query"]
        if rec["ok"] is not True:
            results[q] = "exception: " + rec.get("error", "")
            continue
        try:
            with open(os.path.join(out_dir, "check", q + ".json")) as fh:
                got = json.load(fh)
            cols = got["columns"]
            if mode == "plan":
                if q == perturb_query:
                    cols = cols[1:] + [cols[0] + "~"]
                if q in oracle:
                    want = con.sql(oracle[q]).columns
                    ok = sorted(want) == sorted(cols)
                    results[q] = None if ok else f"columns oracle={want} spark={cols}"
                else:
                    results[q] = None if cols else "empty schema"
                continue
            rows = [[_spark_cell(v) for v in r] for r in got["rows"]]
            if q == perturb_query:
                rows = perturb(rows)
            if q in oracle:
                rel = con.sql(oracle[q])
                results[q] = compare(rel.columns, rel.fetchall(), cols, rows)
            else:
                results[q] = None if rows else "no rows (rows-only check)"
        except Exception as e:  # an oracle or read error is a failed check
            results[q] = f"check error: {type(e).__name__}: {e}"
    con.close()
    return results
