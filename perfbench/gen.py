#!/usr/bin/env python3
"""Seeded generator of the benchmark's input tables.

Writes the ten tables the engine reads (region nation customer supplier
part orders lineitem events documents embeddings), one parquet file each,
with the column names and physical types of the engine's corpus, at the
TPC-H-style scale factor SF (customer = 150000 * SF rows).

The same --seed gives the same files. The tables follow the draws of the
repository's deterministic test corpus (TESTDATA.md): with --seed 42 every
table but `embeddings` equals that corpus at sf0.01 value for value (one
event timestamp of 10 000 is 1 us off), and `embeddings` has its shape
(500 unit-length random 64-d vectors, each with one of 10 labels). With --pipeline the corpus and the event log then take the
batch_pipeline shape: planted exact and near duplicates among documents
and embeddings, Zipf-skewed users, and a share of out-of-order and late
events.

Usage: python3 perfbench/gen.py --seed N --out DIR [--pipeline]
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.01
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("the a spark query table join group filter window data order customer "
         "part line fast slow big small hash sort merge scan agg stream batch "
         "vector key value row column").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PTYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
DOC_DUP_SHARE = 0.05     # documents of the base corpus that repeat another + " dup"

# batch_pipeline shape (stated shares)
EXACT_DUP_SHARE = 0.05   # documents / embeddings copied verbatim
NEAR_DUP_SHARE = 0.05    # documents with one word changed, vectors jittered
ZIPF_S = 1.2             # user_id skew of the event log
OUT_OF_ORDER_SHARE = 0.03  # events whose ts moves back by up to 10 minutes
LATE_SHARE = 0.01          # events whose ts moves back by 1 to 6 hours


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def ts_col(base, micros):
    return pa.array(np.datetime64(base, "us") + micros.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def gen(seed, out, pipeline):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = int(150000 * SF)
    n_supp = int(10000 * SF)
    n_part = int(200000 * SF)
    n_ord = n_cust * 10
    n_line = n_ord * 4
    n_ev = int(1000000 * SF)
    n_users = int(15000 * SF)
    n_doc = 500
    n_vec = 500

    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    write(out, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0})
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": money(rng, 1000, 500000, n_ord),
        "o_orderdate": ts_col("1995-01-01", rng.integers(0, 2405, n_ord) * 86400 * 1000000),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    # lineitem: every column drawn on its own, as in the test corpus
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(float),
        "l_extendedprice": money(rng, 900, 105000, n_line),
        "l_discount": money(rng, 0, 0.1, n_line),
        "l_tax": money(rng, 0, 0.08, n_line),
        "l_returnflag": rng.choice(["R", "A", "N"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": ts_col("1995-01-01", rng.integers(1, 2500, n_line) * 86400 * 1000000)})

    # events: ts grows with event_id over 30 days
    tus = (np.sort(rng.uniform(0, 30 * 86400, n_ev)) * 1e6).astype(np.int64)
    users = rng.integers(0, n_users, n_ev)
    etypes = rng.choice(EVENT_TYPES, n_ev)
    values = np.round(rng.exponential(50.0, n_ev), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]

    # documents: bag-of-words texts, a share of which repeat another + " dup"
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100))) for _ in range(n_doc)]
    n_dup = int(n_doc * DOC_DUP_SHARE)
    for t, s in zip(rng.choice(n_doc, n_dup, replace=False), rng.integers(0, n_doc, n_dup)):
        texts[t] = texts[s] + " dup"
    langs = rng.choice(LANGS, n_doc)

    # embeddings: unit-length random 64-d vectors, labels drawn apart from
    # them (the test corpus's per-label centroids are as near 0 as noise)
    labels = rng.integers(0, 10, n_vec)
    vecs = rng.normal(0.0, 1.0, (n_vec, 64))

    if pipeline:
        users = (rng.zipf(ZIPF_S, n_ev) - 1) % n_users
        ooo = rng.random(n_ev) < OUT_OF_ORDER_SHARE
        tus[ooo] -= rng.integers(1, 600 * 1000000, int(ooo.sum()))
        late = rng.random(n_ev) < LATE_SHARE
        tus[late] -= rng.integers(3600 * 1000000, 6 * 3600 * 1000000, int(late.sum()))
        tus = np.maximum(tus, 0)
        n_exact = int(n_doc * EXACT_DUP_SHARE)
        n_near = int(n_doc * NEAR_DUP_SHARE)
        tgt = rng.choice(np.arange(1, n_doc), n_exact + n_near, replace=False)
        for j, t in enumerate(tgt):
            src = texts[int(rng.integers(0, t))].split(" ")
            if j >= n_exact:
                src[int(rng.integers(0, len(src)))] = "dup"
            texts[t] = " ".join(src)
        tgt = rng.choice(np.arange(1, n_vec), n_exact + n_near, replace=False)
        for j, t in enumerate(tgt):
            s = int(rng.integers(0, t))
            labels[t] = labels[s]
            vecs[t] = vecs[s] + (0 if j < n_exact else rng.normal(0.0, 0.02, 64))

    write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ts_col("2024-01-01", tus),
        "user_id": pa.array(users, pa.int64()),
        "event_type": etypes,
        "value": values,
        "props": props})
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--pipeline", action="store_true")
    a = ap.parse_args()
    gen(a.seed, a.out, a.pipeline)


if __name__ == "__main__":
    main()
