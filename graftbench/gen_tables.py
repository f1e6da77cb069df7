"""Seeded generator for the ten sf0.1 tables the analytics surface reads.

Same table names, column names, parquet types and row counts as the
TPC-H-ish testdata at sf0.1 (FIXTURES.md), with the same value domains:
fixed region/nation dimensions, uniform keys and prices, one row group per
table, `events.props` as `{"k": <0..99>}`, documents as space-joined word
soup over a 30-word vocabulary with 5% "dup" near-copies, and unit-norm
64-dim float embeddings. Only the draws differ with the seed.

Usage: python3 gen_tables.py <outDir> <seed>
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER, N_SUPPLIER, N_PART = 15000, 1000, 20000
N_ORDERS, N_LINEITEM, N_EVENTS = 150000, 600000, 100000
N_DOCS, N_EMB, EMB_DIM = 5000, 2000, 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _day_ts(start, days):
    base = np.datetime64(start, "us")
    return base + days.astype("timedelta64[D]").astype("timedelta64[us]")


def generate(out, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    i32, i64 = pa.int32(), pa.int64()

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    ck = np.arange(N_CUSTOMER)
    _write(out, "customer", {
        "c_custkey": pa.array(ck, i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, N_CUSTOMER))})

    sk = np.arange(N_SUPPLIER)
    _write(out, "supplier", {
        "s_suppkey": pa.array(sk, i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPPLIER))})

    pk = np.arange(N_PART)
    _write(out, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(P_ADJ, N_PART), rng.choice(P_NOUN, N_PART))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]),
        "p_type": pa.array(rng.choice(P_TYPES, N_PART)),
        "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2))})

    ok = np.arange(N_ORDERS)
    span = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
    _write(out, "orders", {
        "o_orderkey": pa.array(ok, i64),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), i64),
        "o_orderstatus": pa.array(rng.choice(STATUSES, N_ORDERS)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, N_ORDERS)),
        "o_orderdate": pa.array(_day_ts("1995-01-01", rng.integers(0, span + 1, N_ORDERS)),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, N_ORDERS))})

    lo = rng.integers(0, N_ORDERS, N_LINEITEM)
    # line numbers 1..k within each order, in order-key order
    order = np.argsort(lo, kind="stable")
    lo = lo[order]
    first = np.r_[0, np.flatnonzero(np.diff(lo)) + 1]
    starts = np.repeat(first, np.diff(np.r_[first, N_LINEITEM]))
    linenumber = np.arange(N_LINEITEM) - starts + 1
    shuffle = rng.permutation(N_LINEITEM)
    lspan = (dt.date(2001, 11, 4) - dt.date(1995, 1, 2)).days
    _write(out, "lineitem", {
        "l_orderkey": pa.array(lo[shuffle], i64),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), i64),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), i64),
        "l_linenumber": pa.array(np.minimum(linenumber[shuffle], 7), i32),
        "l_quantity": pa.array(rng.integers(1, 51, N_LINEITEM).astype(float)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, N_LINEITEM)),
        "l_discount": pa.array(rng.integers(0, 11, N_LINEITEM) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, N_LINEITEM) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], N_LINEITEM)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], N_LINEITEM)),
        "l_shipdate": pa.array(_day_ts("1995-01-02", rng.integers(0, lspan + 1, N_LINEITEM)),
                               pa.timestamp("us"))})

    # events: ascending timestamps over 30 days, ids in time order
    us = np.sort(rng.integers(0, 30 * 86400 * 10**6, N_EVENTS))
    _write(out, "events", {
        "event_id": pa.array(np.arange(N_EVENTS), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, N_EVENTS), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENTS)),
        "value": pa.array(np.round(rng.exponential(60.0, N_EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)])})

    texts = []
    lens = rng.integers(10, 100, N_DOCS)
    for i in range(N_DOCS):
        if i >= 10 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)].removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, lens[i])))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(N_DOCS), i64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, N_DOCS, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    v = rng.standard_normal((N_EMB, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(N_EMB), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMB), i32)})


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
