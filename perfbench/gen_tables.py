#!/usr/bin/env python3
"""Write the catalog workload's ten tables (TESTDATA schema, ~sf0.01 sizes).

    python3 perfbench/gen_tables.py <out_dir>

The tables are a fixed function of this file (numpy seed 20240101), not of
the benchmark's --seed: catalog_counts.json stores every query's DuckDB row
count over exactly these tables. Regenerate the counts with
oracle_counts.py whenever this file changes.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 1500, 100, 2000, 15000
N_EVENTS, N_USERS, N_DOCS, N_VECS, DIM = 10000, 150, 500, 500, 64
VOCAB = ("the a fast slow big small data query table row column join merge sort "
         "hash scan filter group agg window stream batch spark key value order "
         "line part customer vector").split()
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]


def ts(days_since_epoch_us):
    return pa.array(days_since_epoch_us, type=pa.timestamp("us"))


def main(out):
    rng = np.random.default_rng(20240101)
    os.makedirs(out, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    write("customer", {
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": money(-999, 9999, N_CUSTOMER),
        "c_mktsegment": rng.choice(segs, N_CUSTOMER)})
    write("supplier", {
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": money(-999, 9999, N_SUPPLIER)})
    adjs = "small red blue hot cold green big shiny".split()
    nouns = "ring widget bolt gear gizmo nut spring valve".split()
    write("part", {
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_name": [f"{rng.choice(adjs)} {rng.choice(nouns)}" for _ in range(N_PART)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"], N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2000, N_PART), 0)})
    day_us = 86400 * 10**6
    d0 = (np.datetime64("1995-01-01") - np.datetime64("1970-01-01")).astype(np.int64) * day_us
    order_days = rng.integers(0, 2404, N_ORDERS)
    write("orders", {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": money(1000, 400000, N_ORDERS),
        "o_orderdate": ts(d0 + order_days * day_us),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"], N_ORDERS)})
    lines = rng.integers(1, 8, N_ORDERS)
    okeys = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines)
    n_li = len(okeys)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype(float)
    write("lineitem", {
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, N_PART, n_li),
        "l_suppkey": rng.integers(0, N_SUPPLIER, n_li),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": ts(d0 + (np.repeat(order_days, lines) + rng.integers(1, 122, n_li)) * day_us)})
    e0 = (np.datetime64("2024-01-01") - np.datetime64("1970-01-01")).astype(np.int64) * day_us
    write("events", {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": ts(np.sort(e0 + rng.integers(0, 30 * day_us, N_EVENTS))),
        "user_id": rng.integers(0, N_USERS, N_EVENTS),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], N_EVENTS),
        "value": np.round(rng.uniform(0.01, 490.02, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})
    texts = [" ".join(rng.choice(VOCAB, rng.integers(8, 80))) for _ in range(N_DOCS)]
    # a few planted near-duplicates so the dedup family has pairs to find
    for i in range(0, N_DOCS, 25):
        src = texts[(i * 7 + 3) % N_DOCS].split()
        src[len(src) // 2] = rng.choice(VOCAB)
        texts[i] = " ".join(src)
    write("documents", {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(0, 1, (10, DIM))
    vecs = (centers[labels] + rng.normal(0, 0.6, (N_VECS, DIM))) / 8.0
    write("embeddings", {
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    open(os.path.join(out, "_DONE"), "w").close()


if __name__ == "__main__":
    main(sys.argv[1])
