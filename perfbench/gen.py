"""Deterministic synthetic inputs for the benchmark.

The tables follow the physical schema of the engine's star-schema testdata
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings: one parquet file each, TIMESTAMP_NTZ micros for every
timestamp), with uniform value distributions of the same shape. Everything is
a pure function of (seed, scale): the same arguments write byte-identical
files.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("row the query stream value hash batch sort data big filter fast "
         "spark line small customer group key agg scan slow table part a "
         "merge window order column join vector").split()
ADJ = ["blue", "red", "small", "old", "new", "hot", "cold", "green"]
NOUN = ["bolt", "gear", "anvil", "widget", "ring", "rod", "plate", "nut"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
EPOCH = dt.datetime(1970, 1, 1)


def _us(d):
    return int((d - EPOCH).total_seconds() * 1_000_000)


def _days(rng, n, lo, hi):
    """n uniform midnight timestamps in [lo, hi], as TIMESTAMP_NTZ micros."""
    lo_d, hi_d = (lo - EPOCH).days, (hi - EPOCH).days
    d = rng.integers(lo_d, hi_d + 1, n).astype(np.int64)
    return pa.array(d * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, scale):
    """Return {name: pyarrow.Table} for the star schema at `scale`
    (1.0 = 6M lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 10)
    n_supp = max(int(10_000 * scale), 5)
    n_part = max(int(200_000 * scale), 10)
    n_ord = max(int(1_500_000 * scale), 10)
    n_li = max(int(6_000_000 * scale), 10)
    n_ev = max(int(1_000_000 * scale), 10)
    n_users = max(int(15_000 * scale), 5)
    n_doc = max(int(50_000 * scale), 10)
    n_emb = max(int(50_000 * scale), 10)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4))})
    out["events"] = events(rng, n_ev, n_users)
    out["documents"] = documents(rng, n_doc)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def events(rng, n, n_users, days=30):
    """n events over `days` days from 2024-01-01, ts ascending with event_id."""
    start = _us(dt.datetime(2024, 1, 1))
    ts = np.sort(rng.integers(0, days * 86_400_000_000, n)) + start
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents(rng, n):
    """Word-salad documents; about 5% are near-duplicates of an earlier
    document with a trailing `dup` marker."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    lang_p = [0.44, 0.14, 0.14, 0.14, 0.14]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n, p=lang_p)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def write_tables(seed, scale, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, scale).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
