"""Deterministic generator for the query engine's ten input tables.

Writes one parquet file per table (the layout `graft.Tables` reads)
with the shapes and value domains the registered queries expect: a
TPC-H-like star schema, an `events` stream, a `documents` corpus with
5% near-duplicates, and unit-norm 64-dim `embeddings` in ten weak
clusters. The data set is fixed for a given scale factor: the query
workloads' expected digests (queries.json) are taken over it. A run's
seed does not change it, nor the query sweep's fixed list and order.

Usage: python3 gen_tables.py <out_dir> <scale_factor>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "zh", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def days(base, n):
    return (base + n.astype("timedelta64[D]")).astype("datetime64[us]")


def gen(out_dir, sf):
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = max(100, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}))
    write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))

    ck = np.arange(n_cust, dtype=np.int64)
    write(out_dir, "customer", pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}))

    sk = np.arange(n_supp, dtype=np.int64)
    write(out_dir, "supplier", pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))

    pk = np.arange(n_part, dtype=np.int64)
    retail = np.round(900.0 + (pk % 1000) * 0.1, 2)
    write(out_dir, "part", pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail}))

    ok = np.arange(n_ord, dtype=np.int64)
    odate = days(EPOCH_1995, rng.integers(0, 2405, n_ord))
    write(out_dir, "orders", pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": odate,
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}))

    # ~4 lines per order, 1-7 line numbers, a few orders without lines
    n_li = 4 * n_ord
    lok = np.sort(rng.integers(0, n_ord, n_li))
    starts = np.r_[0, np.flatnonzero(np.diff(lok)) + 1]
    run_id = np.repeat(np.arange(len(starts)), np.diff(np.r_[starts, n_li]))
    linenum = (np.arange(n_li) - starts[run_id]) % 7 + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lpk = rng.integers(0, n_part, n_li)
    write(out_dir, "lineitem", pa.table({
        "l_orderkey": lok,
        "l_partkey": lpk,
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": days(np.datetime64("1995-01-02", "us"),
                           rng.integers(0, 2498, n_li))}))

    ts = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_evt))
    write(out_dir, "events", pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") +
                       ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, max(150, n_evt // 67), n_evt),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]}))

    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), n)])
             for n in rng.integers(10, 101, n_doc)]
    # 5% of documents are an earlier copy of a later one plus " dup"
    n_dup = n_doc // 20
    src_idx = rng.choice(np.arange(n_doc // 2, n_doc), n_dup, replace=False)
    dst_idx = rng.choice(np.arange(0, n_doc // 2), n_dup, replace=False)
    for s, d in zip(src_idx, dst_idx):
        texts[d] = texts[s] + " dup"
    write(out_dir, "documents", pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.02, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.125, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write(out_dir, "embeddings", pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}))


if __name__ == "__main__":
    gen(sys.argv[1], float(sys.argv[2]))
