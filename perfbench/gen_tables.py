"""Seeded star-schema tables for the benchmark (TPC-H-ish plus events,
documents and embeddings), in the column names, types and value ranges
the engine's declared queries read. One parquet file (one row group)
per table, like the fixture corpus the engine is tested on.

    python3 perfbench/gen_tables.py <out_dir> <seed>

The same seed writes identical files.
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table: the corpus scale the engine's correctness gate runs at
SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "lineitem": 60000, "events": 10000, "documents": 500,
         "embeddings": 500}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_WORDS = (["blue", "old", "small", "new", "large", "hot", "cold", "red"],
              ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EPOCH = dt.datetime(1995, 1, 1)
DAY_US = 86_400_000_000


def _ts(days):
    base = np.datetime64(EPOCH, "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def tables(seed):
    rng = np.random.default_rng(seed)
    n = SIZES
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, c)]})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s), 2)})
    p = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(p), pa.int64()),
        "p_name": [f"{PART_WORDS[0][a]} {PART_WORDS[1][b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2)})
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, o), 2),
        "o_orderdate": _ts(rng.integers(0, 2404, o)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, o)]})
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _ts(rng.integers(1, 2499, li))})
    e = n["events"]
    offs = np.sort(rng.integers(0, 30 * DAY_US, e))
    out["events"] = pa.table({
        "event_id": pa.array(range(e), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") +
                       offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(e // 66, 10), e), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(40.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), k)])
             for k in rng.integers(10, 101, d)]
    # a few exact and near duplicates, as a crawled corpus has
    for i in rng.choice(d, d // 50, replace=False):
        j = int(rng.integers(0, d))
        texts[i] = texts[j] if i % 2 else texts[j] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(range(d), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), d)],
        "source": [f"src{k}" for k in rng.integers(0, 20, d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.6 + rng.normal(0, 1, (m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
