"""Seeded synthetic star schema plus text corpus, as parquet files.

The tables and column types are those the engine's loaders
(`graft.core.Tables`) and queries read: a TPC-H-like star schema
(region, nation, customer, supplier, part, orders, lineitem), an
`events` stream table and the `documents` / `embeddings` corpus.
Values are uniform draws in the ranges the queries expect; about 5%
of documents are near-duplicates (an earlier document plus a marker
token) and a few are exact copies, so the dedup operators find pairs.

`scale` sizes the relational tables like a TPC-H scale factor
(lineitem = 6M x scale rows); `docs` and `vecs` size the corpus.
The same arguments give the same table contents.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400  # 1995-01-01 UTC, seconds
_EVENTS_START = 1_704_067_200  # 2024-01-01 UTC, seconds
_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _days(rng, start_s, ndays, n):
    d = rng.integers(0, ndays, n).astype(np.int64)
    return _ts(start_s * 1_000_000 + d * _DAY_US)


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, 30, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


def _embeddings(rng, n, dim=64, labels=10):
    centres = rng.normal(0, 1, (labels, dim))
    lab = rng.integers(0, labels, n).astype(np.int32)
    v = rng.normal(0, 1, (n, dim)) + 0.6 * centres[lab]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
        pa.array(v.reshape(-1)))
    return pa.table({"vec_id": pa.array(np.arange(n, dtype=np.int64)),
                     "embedding": emb, "label": pa.array(lab)})


TABLE_NAMES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]


def tables(seed, scale, docs, vecs):
    """Return {name: pyarrow.Table} for every fixture table."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_li, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    n_users = max(int(15_000 * scale), 10)
    i32, i64 = np.int32, np.int64
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=i32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"])})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=i32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=i64)),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(i32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(np.array(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
             "FURNITURE"]), n_cust))})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=i64)),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(i32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    adj = ["large", "hot", "blue", "old", "red", "new", "small", "cold"]
    noun = ["ring", "bolt", "plate", "rod", "anvil", "gear", "nut", "pipe"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=i64)),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in
                            rng.integers(0, 8, (n_part, 2))]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(np.array(
            ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]),
            n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(i32)),
        "p_retailprice": pa.array(
            900.0 + (np.arange(n_part) % 1000) / 10.0)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=i64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(i64)),
        "o_orderstatus": pa.array(rng.choice(np.array(["O", "F", "P"]),
                                             n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _days(rng, _EPOCH_1995, 2405, n_ord),
        "o_orderpriority": pa.array(rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
            n_ord))})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(i64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(i64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(i64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(i32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["N", "R", "A"]),
                                            n_li)),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n_li)),
        "l_shipdate": _days(rng, _EPOCH_1995 + 86_400, 2499, n_li)})
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)).astype(i64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=i64)),
        "ts": _ts(_EVENTS_START * 1_000_000 + ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(i64)),
        "event_type": pa.array(rng.choice(np.array(
            ["signup", "purchase", "view", "click", "error"]), n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_ev)])})
    t["documents"] = _documents(rng, docs)
    t["embeddings"] = _embeddings(rng, vecs)
    return t


def write(out_dir, seed, scale, docs, vecs):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, scale, docs, vecs).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
