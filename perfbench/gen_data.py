#!/usr/bin/env python3
"""Deterministic synthetic tables for the benchmark.

Writes the ten tables the engine's queries read (a TPC-H-like star
schema, an `events` stream, `documents` and `embeddings`) as one
single-row-group parquet file each, with the same schemas, row counts and
value distributions as the fixture tables the repo's tests and tools use.

The data seed is fixed (DATA_SEED): the benchmark's --seed picks the
operation stream, never the data, so the expected output digests in
expected.json stay valid for every stream seed.

Usage: python3 gen_data.py <out_dir> <scale>   (scale is 0.1 or 0.001)
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
GENERATOR_VERSION = "1"

# rows per table at each scale the benchmark uses
ROWS = {
    "0.1": dict(customer=15000, supplier=1000, part=20000, orders=150000,
                lineitem=600000, events=100000, documents=5000,
                embeddings=2000),
    "0.001": dict(customer=150, supplier=10, part=200, orders=1500,
                  lineitem=6000, events=1000, documents=500,
                  embeddings=500),
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days_from(epoch, days):
    return epoch + days.astype("int64") * DAY_US


def write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def generate(out_dir, scale):
    rows = ROWS[scale]
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out_dir, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS, s)}))
    write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}))

    n = rows["customer"]
    write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n), s)}))

    n = rows["supplier"]
    write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n), f64)}))

    n = rows["part"]
    keys = np.arange(n)
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    write(out_dir, "part", pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": pa.array(rng.choice(names, n), s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)],
                            s),
        "p_type": pa.array(rng.choice(PART_TYPES, n), s),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 2),
                                  f64)}))

    n = rows["orders"]
    write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(rng.integers(0, rows["customer"], n), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n), s),
        "o_totalprice": pa.array(money(rng, 1000, 500000, n), f64),
        "o_orderdate": pa.array(
            days_from(EPOCH_1995, rng.integers(0, 2405, n)), ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n), s)}))

    n = rows["lineitem"]
    write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, rows["orders"], n), i64),
        "l_partkey": pa.array(rng.integers(0, rows["part"], n), i64),
        "l_suppkey": pa.array(rng.integers(0, rows["supplier"], n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64"),
                               f64),
        "l_extendedprice": pa.array(money(rng, 900, 105000, n), f64),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n), s),
        "l_shipdate": pa.array(
            days_from(EPOCH_1995, rng.integers(1, 2500, n)), ts)}))

    n = rows["events"]
    gaps = rng.exponential(26e6, n).astype("int64")
    write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n), i64),
        "ts": pa.array(EPOCH_2024 + np.cumsum(gaps), ts),
        "user_id": pa.array(rng.integers(0, 1500, n), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n), s),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          s)}))

    # word soup of 10..100 words; 5% of documents are an exact copy of
    # another document plus a trailing "dup" token (near-duplicates)
    n = rows["documents"]
    texts = [" ".join(rng.choice(WORDS, k)) for k in rng.integers(10, 101, n)]
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)}))

    # unit-norm 64-d vectors, ten random labels
    n = rows["embeddings"]
    vecs = rng.standard_normal((n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.array(list(vecs.astype("float32")),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), i32)}))


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[2] not in ROWS:
        sys.exit(f"usage: gen_data.py <out_dir> <{'|'.join(ROWS)}>")
    generate(sys.argv[1], sys.argv[2])
