"""Seeded input generator for the benchmark.

Writes the ten fixture tables the engine reads (`region` ... `embeddings`)
as parquet files with the fixture's exact schema and value distributions:
independent uniform keys and measures, a 30-word document vocabulary with 5 %
planted ` dup` near-duplicates, and unit-norm 64-dimensional embeddings.
Row counts follow the fixture's scale rules at scale factor `sf`; the same
(seed, sf) always yields byte-identical tables.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]

US_PER_DAY = 86_400_000_000


def _days(rng, n, lo, hi):
    """Uniform whole days in [lo, hi] as naive microsecond timestamps."""
    base = int((dt.datetime(*lo) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    span = (dt.datetime(*hi) - dt.datetime(*lo)).days
    return pa.array(base + rng.integers(0, span + 1, n) * US_PER_DAY, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist(),
                    pa.string())


def sizes(sf):
    return {
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "users": max(1, round(15_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def tables(seed, sf):
    """Build every table in memory: {name: pyarrow.Table}."""
    n = sizes(sf)
    # one independent stream per table, so a table's rows do not depend on
    # the sizes of the tables generated before it
    rngs = {t: np.random.default_rng([seed, i]) for i, t in enumerate(TABLES)}
    out = {}
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))

    out["region"] = pa.table({"r_regionkey": i32(range(5)),
                              "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({"n_nationkey": i32(range(25)),
                              "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
                              "n_regionkey": i32([k % 5 for k in range(25)])})

    r, c = rngs["customer"], n["customer"]
    out["customer"] = pa.table({
        "c_custkey": i64(range(c)),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(c)]),
        "c_nationkey": i32(r.integers(0, 25, c)),
        "c_acctbal": _money(r, c, -999.99, 9999.99),
        "c_mktsegment": _pick(r, SEGMENTS, c)})

    r, s = rngs["supplier"], n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": i64(range(s)),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(s)]),
        "s_nationkey": i32(r.integers(0, 25, s)),
        "s_acctbal": _money(r, s, -999.99, 9999.99)})

    r, p = rngs["part"], n["part"]
    adj, noun = r.integers(0, 8, p), r.integers(0, 8, p)
    out["part"] = pa.table({
        "p_partkey": i64(range(p)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, p)]),
        "p_type": _pick(r, PART_TYPES, p),
        "p_size": i32(r.integers(1, 51, p)),
        "p_retailprice": pa.array([round(900 + (k % 1000) / 10, 1) for k in range(p)])})

    r, o = rngs["orders"], n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": i64(range(o)),
        "o_custkey": i64(r.integers(0, c, o)),
        "o_orderstatus": _pick(r, ["F", "O", "P"], o),
        "o_totalprice": _money(r, o, 1000.0, 500_000.0),
        "o_orderdate": _days(r, o, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": _pick(r, PRIORITIES, o)})

    r, m = rngs["lineitem"], n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": i64(r.integers(0, o, m)),
        "l_partkey": i64(r.integers(0, p, m)),
        "l_suppkey": i64(r.integers(0, s, m)),
        "l_linenumber": i32(r.integers(1, 8, m)),
        "l_quantity": pa.array(r.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": _money(r, m, 900.0, 105_000.0),
        "l_discount": pa.array(np.round(r.integers(0, 11, m) / 100, 2)),
        "l_tax": pa.array(np.round(r.integers(0, 9, m) / 100, 2)),
        "l_returnflag": _pick(r, ["A", "N", "R"], m),
        "l_linestatus": _pick(r, ["F", "O"], m),
        "l_shipdate": _days(r, m, (1995, 1, 2), (2001, 11, 4))})

    r, e = rngs["events"], n["events"]
    t0 = int((dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    out["events"] = pa.table({
        "event_id": i64(range(e)),
        "ts": pa.array(t0 + np.sort(r.integers(0, 30 * US_PER_DAY, e)), pa.timestamp("us")),
        "user_id": i64(r.integers(0, n["users"], e)),
        "event_type": _pick(r, EVENT_TYPES, e),
        "value": pa.array(np.round(r.exponential(50.0, e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, e)])})

    r, d = rngs["documents"], n["documents"]
    lens = r.integers(10, 101, d)
    texts = [" ".join(VOCAB[w] for w in r.integers(0, len(VOCAB), k)) for k in lens]
    dups = r.choice(d, d // 20, replace=False)
    originals = sorted(set(range(d)) - set(dups.tolist()))
    for k, src in zip(dups, r.choice(originals, len(dups))):
        texts[k] = texts[src] + " dup"
    out["documents"] = pa.table({
        "doc_id": i64(range(d)),
        "text": pa.array(texts),
        "lang": _pick(r, LANGS, d, LANG_P),
        "source": pa.array([f"src{k % 20}" for k in range(d)]),
        "n_chars": i64([len(t) for t in texts])})

    r, v = rngs["embeddings"], n["embeddings"]
    x = r.standard_normal((v, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": i64(range(v)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": i32(r.integers(0, 10, v))})
    return out


def write(seed, sf, out_dir):
    """Write every table to `out_dir/<name>.parquet`; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
