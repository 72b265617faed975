"""Seeded input generator for the benchmark.

Writes the ten tables the program reads (`region` .. `embeddings`, one
parquet file each) into a directory, drawn from one seed. The shape
follows the project's fixture as described in FIXTURES.md: the same
schemas and parquet types, dense 0-based ids, uniform categorical
columns, `events` ordered in time over 30 days, documents made of a
small token vocabulary with a share of near-duplicates (a copy of
another document plus a `dup` token), and unit-norm 64-d embeddings.

Ids are a seeded permutation of the dense range and row order is
seeded, so two seeds give equal row counts, cardinalities and
duplicate structure but different key outputs.

`scale` multiplies the row counts of the base size (the fixture's
sf0.01).
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the key agg row scan slow fast table value part hash merge "
         "batch spark line sort window order data column join small "
         "customer query filter group big vector stream").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["small", "red", "blue", "hot", "old", "big", "green", "cold"]
NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

# Base row counts (the fixture's sf0.01).
BASE = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "users": 150,
        "documents": 500, "embeddings": 500}
DOC_DUP_SHARE = 0.05


def _days(rng, lo, hi, n):
    """n random midnight timestamps (ms) with dates in [lo, hi]."""
    span = (hi - lo).days
    base = np.datetime64(lo, "ms")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, table, rng):
    order = rng.permutation(table.num_rows)
    pq.write_table(table.take(pa.array(order)), os.path.join(out, f"{name}.parquet"))


def _star(rng, n):
    nc, ns, np_, no, nl = (n["customer"], n["supplier"], n["part"],
                           n["orders"], n["lineitem"])
    tabs = {}
    tabs["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tabs["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = rng.permutation(nc)
    tabs["customer"] = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    sk = rng.permutation(ns)
    tabs["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    pk = rng.permutation(np_)
    tabs["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(PTYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    tabs["orders"] = pa.table({
        "o_orderkey": pa.array(rng.permutation(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["P", "O", "F"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1),
                                      dt.date(2001, 8, 1), no), pa.timestamp("ms")),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    tabs["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(_days(rng, dt.date(1995, 1, 2),
                                     dt.date(2001, 11, 4), nl), pa.timestamp("ms"))})
    return tabs


def _events(rng, n, users):
    # distinct, time-ordered microsecond stamps over 30 days; event_id
    # is the arrival sequence number, so it follows ts
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.choice(span_us, n, replace=False))
    base = np.datetime64("2024-01-01T00:00:00", "us")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(base + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.permutation(users)[rng.integers(0, users, n)], pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def _documents(rng, n):
    lens = rng.integers(10, 100, n)
    texts = [" ".join(rng.choice(VOCAB, k)) for k in lens]
    # near-duplicates: a copy of an earlier-drawn document plus a token
    for i in rng.choice(n, int(n * DOC_DUP_SHARE), replace=False):
        texts[i] = texts[rng.integers(0, n)] + " dup"
    ids = rng.permutation(n)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(rng, n):
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(rng.permutation(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def generate(out, seed, scale=1.0):
    """Write all tables for `seed` into `out`; returns {table: rows}."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(round(v * scale))) for k, v in BASE.items()}
    os.makedirs(out, exist_ok=True)
    tabs = _star(rng, n)
    tabs["events"] = _events(rng, n["events"], n["users"])
    tabs["documents"] = _documents(rng, n["documents"])
    tabs["embeddings"] = _embeddings(rng, n["embeddings"])
    for name, t in tabs.items():
        _write(out, name, t, rng)
    return {name: t.num_rows for name, t in tabs.items()}
