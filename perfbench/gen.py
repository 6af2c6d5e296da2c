#!/usr/bin/env python3
"""Seeded generator for graft's star-schema input tables.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each (one row group per file).
Schemas, row counts and per-column distributions follow the sf0.001, sf0.01
and sf0.1 tables graft's Verify and dev/check.py run on; README.md records
how each was compared (`compare_inputs.py` repeats the comparison). The
same (sf, seed) always gives the same files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "es", "de", "fr"]
# shares of the sf0.1 documents (2059 en, 753 zh, 744 es, 742 fr, 702 de of
# 5000); every language is written with the same English vocabulary
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
EMB_DIM = 64

DAY_US = 86_400_000_000


def _epoch_us(date):
    return int(np.datetime64(date, "us").astype(np.int64))


def _days(rng, n, start, end):
    """Midnight timestamps (µs) uniform over [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * DAY_US


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def build(name, sf, rng):
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    if name == "region":
        return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                         "r_name": REGIONS})
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    if name == "customer":
        return pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    if name == "supplier":
        return pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    if name == "part":
        keys = np.arange(n_part)
        adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
        noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
        return pa.table({
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#",
                                   rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})
    if name == "orders":
        return pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _ts(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    if name == "lineitem":
        n = 4 * n_ord
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, n, 900.0, 105_000.0),
            # uniform, rounded to cents: the end values get half weight
            "l_discount": np.round(rng.uniform(0.0, 0.10, n), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _ts(_days(rng, n, "1995-01-02", "2001-11-04"))})
    if name == "events":
        n = max(1, int(1_000_000 * sf))
        t0 = _epoch_us("2024-01-01")
        ts = np.sort(rng.integers(t0, t0 + 30 * DAY_US, n))
        return pa.table({
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n),
                                pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    if name == "documents":
        n = max(500, int(50_000 * sf))
        texts = [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), k)])
                 for k in rng.integers(10, 100, n)]
        # 5% near-duplicates: another document's text plus " dup"
        for i in np.sort(rng.choice(n, n // 20, replace=False)):
            j = int(rng.integers(0, n - 1))
            texts[i] = texts[j + (j >= i)] + " dup"
        return pa.table({
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    if name == "embeddings":
        # unit vectors in uniformly random directions; labels carry no
        # cluster structure
        n = max(500, int(20_000 * sf))
        v = rng.normal(0.0, 1.0, (n, EMB_DIM))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        return pa.table({
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32())})
    raise ValueError(f"unknown table {name}")


def generate(out, sf, seed, tables=TABLES):
    os.makedirs(out, exist_ok=True)
    for i, name in enumerate(TABLES):
        if name not in tables:
            continue
        # one independent stream per table: asking for a subset of the
        # tables yields the same files as generating all of them
        rng = np.random.default_rng([seed, i])
        t = build(name, sf, rng)
        tmp = os.path.join(out, f".{name}.parquet.tmp")
        pq.write_table(t, tmp, row_group_size=max(1, t.num_rows))
        os.replace(tmp, os.path.join(out, f"{name}.parquet"))

