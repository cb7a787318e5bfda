"""Seeded generator for the analytic tables the queries and the dedup
operators read: region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings (one parquet file, one row
group each, the same schemas and value domains as the test data the
query catalog is written against).

The same (seed, scale) gives byte-identical files.

Usage: python3 perfbench/gen_tables.py <out_dir> <seed> <scale> [table ...]
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "small", "large", "old", "new", "hot", "cold"]
PART_NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]
WORDS = ["row", "the", "query", "stream", "fast", "spark", "line", "small",
         "customer", "group", "value", "hash", "batch", "sort", "data", "big",
         "filter", "dup", "key", "agg", "scan", "slow", "table", "part", "a",
         "merge", "window", "order", "column", "join", "vector"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

EPOCH_1995 = dt.datetime(1995, 1, 1)
EPOCH_2024 = dt.datetime(2024, 1, 1)


def _days(base, offsets):
    us = (np.datetime64(base, "us") + offsets.astype("timedelta64[D]"))
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def sizes(scale):
    return {
        "customer": max(10, int(150_000 * scale)),
        "supplier": max(5, int(10_000 * scale)),
        "part": max(10, int(200_000 * scale)),
        "orders": max(10, int(1_500_000 * scale)),
        "lineitem": max(10, int(6_000_000 * scale)),
        "events": max(10, int(1_000_000 * scale)),
        "documents": 5000 if scale >= 0.1 else 500,
        "embeddings": 2000 if scale >= 0.1 else 500,
    }


def table(name, seed, scale):
    """One table. Each table draws from its own stream of the seed, so
    generating a subset gives the same files as generating them all."""
    rng = np.random.default_rng([seed, TABLES.index(name)])
    n = sizes(scale)
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS})
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    if name == "customer":
        k = n["customer"]
        return pa.table({
            "c_custkey": pa.array(np.arange(k), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, k),
            "c_mktsegment": rng.choice(SEGMENTS, k)})
    if name == "supplier":
        k = n["supplier"]
        return pa.table({
            "s_suppkey": pa.array(np.arange(k), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, k)})
    if name == "part":
        k = n["part"]
        names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
        return pa.table({
            "p_partkey": pa.array(np.arange(k), pa.int64()),
            "p_name": rng.choice(names, k),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
            "p_type": rng.choice(PART_TYPES, k),
            "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 2)})
    if name == "orders":
        k = n["orders"]
        return pa.table({
            "o_orderkey": pa.array(np.arange(k), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], k),
            "o_totalprice": _money(rng, 1000.0, 500000.0, k),
            "o_orderdate": _days(EPOCH_1995, rng.integers(0, 2404, k)),
            "o_orderpriority": rng.choice(PRIORITIES, k)})
    if name == "lineitem":
        k = n["lineitem"]
        qty = rng.integers(1, 51, k).astype(np.float64)
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, k), 2),
            "l_discount": rng.integers(0, 11, k) / 100.0,
            "l_tax": rng.integers(0, 9, k) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], k),
            "l_linestatus": rng.choice(["F", "O"], k),
            "l_shipdate": _days(EPOCH_1995 + dt.timedelta(days=1), rng.integers(0, 2500, k))})
    if name == "events":
        k = n["events"]
        offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, k))
        return pa.table({
            "event_id": pa.array(np.arange(k), pa.int64()),
            "ts": pa.array(np.datetime64(EPOCH_2024, "us") + offs.astype("timedelta64[us]"),
                           type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, k), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, k),
            "value": np.round(rng.exponential(50.0, k) + 0.01, 2),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]})
    if name == "documents":
        k = n["documents"]
        texts = [" ".join(rng.choice(WORDS, int(w))) for w in rng.integers(10, 100, k)]
        return pa.table({
            "doc_id": pa.array(np.arange(k), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, k),
            "source": [f"src{i % 20}" for i in range(k)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    if name == "embeddings":
        k = n["embeddings"]
        emb = rng.normal(0.0, 0.125, (k, 64)).astype(np.float32)
        return pa.table({
            "vec_id": pa.array(np.arange(k), pa.int64()),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, k), pa.int32())})
    raise ValueError(name)


def write(out_dir, seed, scale, only=None):
    os.makedirs(out_dir, exist_ok=True)
    for name in only or TABLES:
        t = table(name, seed, scale)
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(t, tmp, row_group_size=max(t.num_rows, 1))
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]), sys.argv[4:] or None)
