"""Seeded generator for the parquet tables the query and streaming
workloads read: a TPC-H-ish star schema, the `events` stream table and
the `documents`/`embeddings` extension tables, with the schemas and value
domains FIXTURES.md §2 lists. `scale` 1.0 gives 60 000 lineitem rows and
10 000 events (the sf0.01 shape). Expected answers for these tables come
from the DuckDB oracle SQL the program declares (see check.py), or, for
the streams, from `expected_streams` below.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENTS_START_US = 1704067200 * 1000000  # 2024-01-01 00:00 UTC
EVENTS_SPAN_US = 30 * 24 * 3600 * 1000000


def _ts_us(values):
    return pa.array(values.astype("int64"), type=pa.timestamp("us"))


def tables(seed, scale=1.0):
    """{name: pyarrow.Table}"""
    r = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_events, n_docs, n_vecs = int(15000 * scale), int(10000 * scale), 500, 500
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[r.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array(["small", "red", "blue", "green", "large", "shiny", "old", "new"])
    noun = np.array(["ring", "widget", "bolt", "nut", "gear", "spring", "valve", "pipe"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, n_part)], " "),
                              noun[r.integers(0, 8, n_part)]),
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"])[
            r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    day_us = 86400 * 1000000
    base_ord = 852076800 * 1000000  # 1997-01-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts_us(base_ord + r.integers(0, 3 * 365, n_ord) * day_us),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            r.integers(0, 5, n_ord)]})
    n_li = 4 * n_ord
    base_ship = 946684800 * 1000000  # 2000-01-01
    qty = r.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(r.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n_li)],
        "l_shipdate": _ts_us(base_ship + r.integers(0, 600, n_li) * day_us)})
    ts = np.sort(EVENTS_START_US + r.integers(0, EVENTS_SPAN_US, n_events))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts_us(ts),
        "user_id": pa.array(r.integers(0, 150, n_events), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_events)],
        "value": np.round(r.exponential(60.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)]})
    texts = []
    for i in range(n_docs):
        if i % 25 == 24:  # planted near-duplicate of an earlier document
            toks = texts[i - 7].split(" ")
            toks[r.integers(0, len(toks))] = "dup"
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(WORDS[w] for w in r.integers(0, len(WORDS), r.integers(10, 110))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    centers = r.normal(0, 1, (10, 64))
    labels = r.integers(0, 10, n_vecs)
    vecs = centers[labels] + r.normal(0, 0.6, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write(seed, out_dir, scale=1.0):
    os.makedirs(out_dir, exist_ok=True)
    ts = tables(seed, scale)
    for name, tb in ts.items():
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"))
    return ts


def expected_streams(events):
    """out_rows of the four streams, from the batch semantics they are
    gated against: gap sessions (a gap of 10 minutes or more closes a
    session), click→purchase pairs of one user within 10 minutes, and one
    top-k row per 6-hour window holding events."""
    ts = events.column("ts").cast(pa.int64()).to_numpy()
    user = events.column("user_id").to_numpy()
    etype = np.array(events.column("event_type").to_pylist())
    gap = 10 * 60 * 1000000
    sessions = 0
    for u in np.unique(user):
        t = np.sort(ts[user == u])
        sessions += 1 + int(np.sum(np.diff(t) >= gap))
    pairs = 0
    for u in np.unique(user):
        c = np.sort(ts[(user == u) & (etype == "click")])
        p = np.sort(ts[(user == u) & (etype == "purchase")])
        lo = np.searchsorted(p, c, side="left")
        hi = np.searchsorted(p, c + gap, side="right")
        pairs += int(np.sum(hi - lo))
    windows = len(np.unique(ts // (6 * 3600 * 1000000)))
    return {"sessionize": sessions, "transform_sessions": sessions,
            "interval_join": pairs, "windowed_topk": windows}
