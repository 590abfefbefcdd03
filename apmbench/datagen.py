"""Seeded input tables for the batch_mix workload.

Writes the ten parquet tables `graft.SparkEntry.queries` read (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the schemas and value distributions of the program's
sf0.01 test data: the same column types (timestamps in microseconds),
the same categorical domains and comparable ranges. The seed fixes every
value, so one seed always yields byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Event-time span of `events`. The test data spans 30 days; one day keeps
# the DuckDB oracles of the dense-bucket APM queries fast enough to check
# on every run.
EVENT_DAYS = 1

# Row counts at the sf0.01 scale.
SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "lineitem": 60000, "events": 10000, "documents": 500,
         "embeddings": 500, "users": 150}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ["join", "hash", "row", "batch", "scan", "customer", "column", "filter",
         "small", "slow", "merge", "order", "vector", "line", "data", "table",
         "agg", "value", "key", "stream", "window", "spark", "a", "group",
         "part", "big", "sort", "query", "fast", "the"]


def _days(rng, lo, hi, n):
    """Midnight timestamps drawn uniformly from [lo, hi] (numpy datetime64)."""
    lo_d = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - lo_d).astype(int)
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    """Returns {name: pyarrow.Table} for `seed`."""
    rng = np.random.default_rng(seed)
    s = SIZES
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    n = s["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": list(rng.choice(SEGMENTS, n))})
    n = s["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = s["part"]
    keys = np.arange(n, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, n),
                                             rng.choice(NOUNS, n))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": list(rng.choice(PART_TYPES, n)),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})
    n = s["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, s["customer"], n).astype(np.int64),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": list(rng.choice(PRIORITIES, n))})
    n = s["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, s["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, s["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, s["supplier"], n).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": list(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": list(rng.choice(["F", "O"], n)),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n)})
    n = s["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = EVENT_DAYS * 86400 * 1000000
    offsets = np.sort(rng.integers(0, span_us, n))
    types = rng.choice(EVENT_TYPES, n)
    values = rng.exponential(50.0, n)
    # A seeded incident: one service runs slow for a few hours, so the
    # alert queries have alerts to report.
    slow_type = rng.choice([t for t in EVENT_TYPES if t != "error"])
    slow_from = rng.integers(0, span_us // 2)
    slow = (types == slow_type) & (offsets >= slow_from) & (offsets < slow_from + span_us // 6)
    values[slow] += 200.0
    out["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": start + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, s["users"], n).astype(np.int64),
        "event_type": list(types),
        "value": np.maximum(np.round(values, 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = s["documents"]
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one word replaced
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(WORDS, int(rng.integers(8, 100))))
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": list(rng.choice(LANGS, n, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n = s["embeddings"]
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32))})
    return out


def write(seed, out_dir):
    """Writes the tables for `seed` under `out_dir` unless already there."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()
