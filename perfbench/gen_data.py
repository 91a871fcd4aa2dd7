"""Seeded generator for the benchmark's input tables.

Writes the ten tables the queries read (the TPC-H-style star schema plus
`events`, `documents` and `embeddings`), with the same column names, types
and value domains as the repository's synthetic test data. Each table is one
parquet file with a single row group, as in that data. The same seed and
scale factor give byte-identical files.

Usage: python3 gen_data.py <out_dir> <seed> <scale_factor>
"""
import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line table data agg value key stream window spark a "
         "group part big sort query fast the").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
US = 1_000_000


def sizes(sf):
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
        "users": max(15, int(15_000 * sf)),
    }


def ts_us(year, month, day):
    epoch = dt.datetime(1970, 1, 1)
    return int((dt.datetime(year, month, day) - epoch).total_seconds()) * US


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, start, span_days, n):
    return (ts_us(*start) + rng.integers(0, span_days, n) * 86_400 * US)


def timestamps(values):
    return pa.array(values, type=pa.timestamp("us"))


def tables(seed, sf):
    n = sizes(sf)
    rng = np.random.default_rng(seed)
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
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)]})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2)})
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, o)],
        "o_totalprice": money(rng, 1000.0, 500_000.0, o),
        "o_orderdate": timestamps(days(rng, (1995, 1, 1), 2405, o)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, o)]})
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, li), 2),
        "l_discount": np.round(rng.integers(0, 11, li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, li) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, li)],
        "l_shipdate": timestamps(days(rng, (1995, 1, 2), 2499, li))})
    e = n["events"]
    ts = np.sort(rng.integers(0, 30 * 86_400 * US, e)) + ts_us(2024, 1, 1)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": timestamps(ts),
        "user_id": pa.array(rng.integers(0, n["users"], e), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": money(rng, 0.01, 500.0, e),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = []
    for i in range(d):
        if texts and rng.random() < 0.05:
            # a near-duplicate of an earlier document, as in the test data
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    m = n["embeddings"]
    vecs = rng.standard_normal((m, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32())})
    return out


def main():
    out_dir, seed, sf = sys.argv[1], int(sys.argv[2]), float(sys.argv[3])
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))


if __name__ == "__main__":
    main()
