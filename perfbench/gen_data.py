"""Deterministic generator of the benchmark's base tables.

Writes the retail star schema the engine's queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as one parquet file per table, at the row counts of scale
factor 0.1 (orders 150k rows, lineitem 600k rows). The base tables are
fixed: the same on every run and every seed. The workload seed only
chooses keys, predicates and batch contents on top of them.

    python3 perfbench/gen_data.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
VERSION = "1"  # bump when the generated data changes

WORDS = ("a the data table query row column key value group agg sort "
         "filter join scan hash stream window merge batch order line part "
         "customer vector spark fast slow small big index file log").split()
LANGS = ["de", "en", "es", "fr", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PART_ADJ = ["large", "hot", "small", "cold", "shiny", "dull", "red", "blue"]
PART_NOUN = ["ring", "bolt", "gear", "pipe", "valve", "screw", "nut", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def money(rng, lo, hi, n):
    """Two-decimal money values (exactly what the engine's decimal sums expect)."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def tables(rng):
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    n = 15_000
    out["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": money(rng, -999.99, 9999.99, n),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)]})
    n = 1_000
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": money(rng, -999.99, 9999.99, n)})
    n = 20_000
    out["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2)})
    n = 150_000
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, 15_000, n).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": money(rng, 1000, 500000, n),
        "o_orderdate": pa.array(EPOCH_1995 + rng.integers(0, 2404, n) * DAY_US,
                                pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)]})
    n = 600_000
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, 150_000, n).astype(np.int64),
        "l_partkey": rng.integers(0, 20_000, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 1_000, n).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(rng, 900, 100000, n),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": pa.array(EPOCH_1995 + rng.integers(1, 2500, n) * DAY_US,
                               pa.timestamp("us"))})
    n = 100_000
    gaps = rng.integers(1, 60_000_000, n).cumsum()
    out["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(EPOCH_2024 + gaps, pa.timestamp("us")),
        "user_id": rng.integers(0, 2_000, n).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": money(rng, 0, 200, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = 5_000
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k))
             for k in rng.integers(8, 60, n)]
    for i in rng.integers(0, n, 8):  # a few exact duplicates for dedup
        texts[int(i)] = texts[int(i) // 2]
    out["documents"] = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n, dim = 2_000, 64
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] + rng.normal(0, 0.8, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    return out


def generate(out_dir):
    """Write every table into out_dir (atomically: a temp dir, then rename)."""
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, t in tables(np.random.default_rng(BASE_SEED)).items():
        pq.write_table(t, os.path.join(tmp, name + ".parquet"))
    with open(os.path.join(tmp, "VERSION"), "w") as f:
        f.write(VERSION)
    os.rename(tmp, out_dir)


if __name__ == "__main__":
    generate(sys.argv[1])
