"""Seeded input generator for the benchmark.

Writes the ten-table schema the query corpus reads (one parquet file per
table, the same column names and physical types as the TPC-H-shaped test
data: int32/int64 keys, doubles for money, timestamp[us] dates, float32
embedding lists). Every value comes from a numpy PCG64 stream derived from
(seed, table), so the same seed always gives byte-identical tables and the
row counts depend only on the scale, never on the seed.

Usage: python3 gen.py <out_dir> <seed> <sf> <docs> <vecs>
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
DIM = 64
EPOCH = datetime.datetime(1970, 1, 1)


def rng(seed, table):
    return np.random.Generator(
        np.random.PCG64(np.random.SeedSequence([seed, TABLES.index(table)])))


def micros(day0, days):
    """Midnight-aligned timestamps, `days` after `day0`, as epoch µs."""
    base = (day0 - EPOCH).days
    return (base + days.astype(np.int64)) * 86_400_000_000


def money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def ts_col(us):
    return pa.array(us, type=pa.timestamp("us"))


def tables(seed, sf, n_docs, n_vecs):
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_evt = max(1_000, int(100_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    r = rng(seed, "customer")
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), i32),
        "c_acctbal": money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]})

    r = rng(seed, "supplier")
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), i32),
        "s_acctbal": money(r, -999.99, 9999.99, n_supp)})

    r = rng(seed, "part")
    keys = np.arange(n_part)
    yield "part", pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": [f"{COLORS[c]} {NOUNS[n]}" for c, n in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 2)})

    r = rng(seed, "orders")
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": ts_col(micros(datetime.datetime(1995, 1, 1),
                                     r.integers(0, 2404, n_ord))),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})

    r = rng(seed, "lineitem")
    # 1..7 lines per order in a seeded order but a fixed multiset, so the
    # lineitem row count depends on the scale only
    lines = r.permutation(np.resize(np.arange(1, 8), n_ord))
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(okey, i64),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, i32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(r, 900.0, 105000.0, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": ts_col(micros(datetime.datetime(1995, 1, 2),
                                    r.integers(0, 2498, n_li)))})

    r = rng(seed, "events")
    t0 = (datetime.datetime(2024, 1, 1) - EPOCH).days * 86_400_000_000
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": ts_col(t0 + np.cumsum(r.integers(1, 60_000_000, n_evt))),
        "user_id": pa.array(r.integers(0, 2000, n_evt), i64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_evt)],
        "value": money(r, 0.0, 200.0, n_evt),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)]})

    # Documents: random word strings; ~5% are an earlier document plus a
    # trailing " dup" (near duplicates) and ~1% exact copies, so every
    # dedup operator has real work and real matches.
    r = rng(seed, "documents")
    texts = []
    for i in range(n_docs):
        u = r.random()
        if i > 10 and u < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        elif i > 10 and u < 0.06:
            texts.append(texts[int(r.integers(0, i))])
        else:
            n = int(r.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[r.integers(0, 30, n)]))
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": np.array(LANGS)[r.integers(0, len(LANGS), n_docs)],
        "source": [f"src{s}" for s in r.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    # Embeddings: unit vectors around ten label centroids; ~5% are a small
    # perturbation of an earlier vector (semantic near duplicates).
    r = rng(seed, "embeddings")
    centers = r.normal(0, 1, (10, DIM))
    labels = r.integers(0, 10, n_vecs)
    vecs = centers[labels] * 0.35 + r.normal(0, 1, (n_vecs, DIM))
    for i in range(10, n_vecs):
        if r.random() < 0.05:
            j = int(r.integers(0, i))
            vecs[i] = vecs[j] + r.normal(0, 0.01, DIM)
            labels[i] = labels[j]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


def generate(out_dir, seed, sf, n_docs, n_vecs):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf, n_docs, n_vecs):
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]),
             int(sys.argv[4]), int(sys.argv[5]))
