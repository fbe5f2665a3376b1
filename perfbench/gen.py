"""Seeded synthetic inputs.

Writes the star-schema tables (region, nation, customer, supplier, part,
orders, lineitem), the `events` stream table and the `documents` /
`embeddings` corpora, one parquet file each, with the schemas, sizes per
scale factor and value ranges the registry queries are written against
(i94_etl derives its raw trips from `orders`). The rows of a table are
the same for every seed; the seed draws their order. Row order changes the
physical layout every scan, shuffle and sort sees while keeping each
query's work and answer fixed, so that runs with different seeds measure
the same work. The same (sf, seed) always gives the same bytes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = "large hot blue small red cold green dark".split()
NOUN = "ring bolt nut gear pipe valve plate spring".split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "es", "zh", "de", "fr"]
DIM = 64
N_LABELS = 10

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + d).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _table(name, sf, rng):
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(150, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    def pick(values, n, p=None):
        return np.array(values, dtype=object)[rng.choice(len(values), n, p=p)]

    if name == "region":
        return {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    if name == "nation":
        return {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}
    if name == "customer":
        return {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": pick(SEGMENTS, n_cust)}
    if name == "supplier":
        return {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}
    if name == "part":
        pk = np.arange(n_part, dtype=np.int64)
        return {
            "p_partkey": pk,
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pick(PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)}
    if name == "orders":
        return {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": pick(["O", "F", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": pick(PRIORITIES, n_ord)}
    if name == "lineitem":
        return {
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n_line),
            "l_linestatus": pick(["O", "F"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")}
    if name == "events":
        month_us = 30 * 86_400 * 1_000_000
        ts = np.sort(rng.integers(0, month_us, n_ev))
        return {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                           pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
            "event_type": pick(EVENT_TYPES, n_ev),
            "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 560.0), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    if name == "documents":
        texts = [" ".join(pick(WORDS, int(n))) for n in rng.integers(10, 101, n_docs)]
        for i in np.flatnonzero(rng.random(n_docs) < 0.05):
            texts[i] += " dup"
        for i in rng.choice(np.arange(n_docs // 2, n_docs), 8, replace=False):
            texts[i] = texts[int(rng.integers(0, n_docs // 2))]
        return {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": pick(LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    centers = rng.normal(0.0, 1.0, (N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n_vecs, dtype=np.int32)
    vecs = centers[labels] + rng.normal(0.0, 1.2, (n_vecs, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.field("element", pa.float32()))),
        "label": labels}


def generate(out_dir, sf, seed, tables=TABLES):
    """Writes `tables` for scale factor `sf` under `out_dir`, each in the
    row order `seed` draws. Each table has its own random streams, so a
    subset matches the same tables of a full set."""
    os.makedirs(out_dir, exist_ok=True)
    for name in tables:
        i = TABLES.index(name)
        t = pa.table(_table(name, sf, np.random.default_rng([0, i])))
        order = np.random.default_rng([seed, i]).permutation(t.num_rows)
        pq.write_table(t.take(order), os.path.join(out_dir, f"{name}.parquet"))
