"""Seeded generator of the star-schema tables the declared queries read.

Writes region, nation, customer, supplier, part, orders, lineitem,
events, documents and embeddings as one snappy parquet file each, with
the column names, types and value domains the query catalogue expects
(TPC-H-like keys and dates, a 30-word document vocabulary, 64-float
embeddings in 10 labels). sf 0.01 gives 60,000 lineitem rows.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PTYPES = ["SMALL", "MEDIUM", "PROMO", "ECONOMY", "STANDARD", "LARGE"]
ADJ = ["large", "red", "hot", "cold", "old", "new", "small", "blue"]
NOUN = ["anvil", "plate", "gizmo", "ring", "widget", "gear", "bolt", "rod"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "de", "fr", "es", "it"]
DAY_US = 86_400_000_000


def ts(us):
    return pa.array(us, pa.timestamp("us"))


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def generate(out, seed, sf):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_evt = int(1_500_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(int(50_000 * sf), 200), max(int(20_000 * sf), 200)

    write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                          "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})

    # dates 1995-01-01 .. 2001-08-01 at day granularity
    day0 = int(np.datetime64("1995-01-01", "us").astype(np.int64))
    odays = rng.integers(0, 2404, n_ord)
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": ts(day0 + odays * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})

    lines = rng.integers(1, 8, n_ord)  # 1..7 lines per order, mean 4
    l_ord = np.repeat(np.arange(n_ord), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(l_ord)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write(out, "lineitem", {
        "l_orderkey": pa.array(l_ord, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": ts(day0 + (odays[l_ord] + rng.integers(1, 122, n_li)) * DAY_US)})

    ev0 = int(np.datetime64("2024-01-01", "us").astype(np.int64))
    write(out, "events", {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": ts(ev0 + np.sort(rng.integers(0, 30 * DAY_US, n_evt))),
        "user_id": pa.array(rng.integers(0, max(n_evt // 66, 10), n_evt), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)]})

    # documents: word salad over the vocabulary, with planted near-dups
    # (a copy of an earlier document with one word swapped)
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(10, 90))))
        texts.append(" ".join(words))
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=[0.8, 0.05, 0.05, 0.05, 0.05]),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    centers = rng.normal(0.0, 0.1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = (centers[labels] + rng.normal(0.0, 0.05, (n_emb, 64))).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
