#!/usr/bin/env python3
"""Deterministic sf0.1-shaped input tables for the benchmark.

Writes the ten tables the engine's pipelines read (TPC-H-like star schema,
an `events` stream table, a `documents` text corpus and an `embeddings`
table) as single-row-group parquet files, with the same column names,
types and value ranges as the engine's sf0.1 test data:

    python3 perfbench/gen_data.py <out_dir>

The content depends only on DATA_SEED, never on the benchmark's --seed
(which only reorders pipelines), so every run checks the same outputs.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
N_CUSTOMER, N_SUPPLIER, N_PART = 15_000, 1_000, 20_000
N_ORDERS, N_LINEITEM, N_EVENTS = 150_000, 600_000, 100_000
N_DOCS, N_NEAR_DUPS, N_EXACT_DUPS, N_EMB, EMB_DIM = 5_000, 250, 8, 2_000, 64

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "valve"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS, LANG_P = ["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14]


def days(start, n):
    return (np.datetime64(start, "us") + n.astype("timedelta64[D]")).astype("datetime64[us]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(rng):
    yield "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    yield "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    yield "customer", {
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER)}
    yield "supplier", {
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, N_SUPPLIER)}
    yield "part", {
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(PART_TYPES, N_PART),
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) / 10, 1)}
    yield "orders", {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "P", "F"], N_ORDERS),
        "o_totalprice": money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": days("1995-01-01", rng.integers(0, 2404, N_ORDERS)),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS)}
    yield "lineitem", {
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM).astype(np.int64),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 100000.0, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
        "l_linestatus": rng.choice(["O", "F"], N_LINEITEM),
        "l_shipdate": days("1995-01-02", rng.integers(0, 2498, N_LINEITEM))}
    ts_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, N_EVENTS))
    yield "events", {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, N_EVENTS).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS).clip(0, 560), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]}
    # documents: random word strings, then N_NEAR_DUPS copies of an earlier
    # document with " dup" appended and N_EXACT_DUPS verbatim copies
    texts = [" ".join(rng.choice(VOCAB, n)) for n in rng.integers(10, 101, N_DOCS)]
    for i in rng.choice(np.arange(100, N_DOCS), N_NEAR_DUPS + N_EXACT_DUPS, replace=False)[:N_NEAR_DUPS]:
        texts[i] = texts[rng.integers(0, N_DOCS)].removesuffix(" dup") + " dup"
    exact = rng.choice(np.arange(N_DOCS), 2 * N_EXACT_DUPS, replace=False)
    for a, b in zip(exact[:N_EXACT_DUPS], exact[N_EXACT_DUPS:]):
        texts[b] = texts[a]
    yield "documents", {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    # embeddings: unit vectors scattered around one centre per label
    labels = rng.integers(0, 10, N_EMB)
    centres = rng.normal(0, 1, (10, EMB_DIM))
    vecs = centres[labels] + rng.normal(0, 1.5, (N_EMB, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", {
        "vec_id": np.arange(N_EMB, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)}


def main(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    for name, cols in tables(rng):
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=len(table) + 1, compression="snappy")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: gen_data.py <out_dir>")
    main(sys.argv[1])
