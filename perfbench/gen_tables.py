"""Seeded input tables for the batch_gates workload.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each, with the column names and
types the SparkEntry gates and their DuckDB oracles read, at roughly a
hundredth of TPC-H scale. The same seed gives the same files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("row the query stream fast spark line small customer group value hash "
         "batch sort data big filter dup key agg scan slow table part a merge "
         "window order column join vector").split()
LANGS = ("en", "zh", "de", "es", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)


def _ts(base, offsets_s):
    return pa.array((np.datetime64(base, "us")
                     + (np.asarray(offsets_s) * 1_000_000).astype("timedelta64[us]")),
                    type=pa.timestamp("us"))


def _write(d, name, cols):
    pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"))


def documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.15:
            # a near-duplicate of an earlier document: a few words replaced
            words = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(words), size=max(1, len(words) // 12)):
                words[j] = WORDS[rng.integers(0, len(WORDS))]
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), size=rng.integers(10, 110))]
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def embeddings(rng, n, dim=64):
    centers = rng.normal(0.0, 0.2, size=(16, dim))
    vecs = centers[rng.integers(0, 16, size=n)] + rng.normal(0.0, 0.08, size=(n, dim))
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
    }


def generate(d, seed):
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_part, n_supp, n_ord, n_li, n_ev = 1500, 2000, 100, 5000, 20000, 6000
    _write(d, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(d, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    _write(d, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, size=n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"],
            size=n_cust).tolist())})
    _write(d, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, size=n_supp), 2))})
    adjs = ["small", "blue", "hot", "old", "new", "red", "big", "cold"]
    nouns = ["bolt", "gear", "anvil", "widget", "ring", "rod", "nut", "pipe"]
    _write(d, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{adjs[rng.integers(0, 8)]} {nouns[rng.integers(0, 8)]}"
                            for _ in range(n_part)]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, size=n_part)]),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"],
            size=n_part).tolist()),
        "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2))})
    _write(d, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], size=n_ord).tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, size=n_ord), 2)),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2400, size=n_ord) * 86400),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            size=n_ord).tolist())})
    _write(d, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, size=n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, size=n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, size=n_li).astype(float)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, size=n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n_li).tolist()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], size=n_li).tolist()),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2500, size=n_li) * 86400)})
    _write(d, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * 86400, size=n_ev))),
        "user_id": pa.array(rng.integers(0, 150, size=n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(
            ["click", "signup", "error", "view", "purchase"], size=n_ev).tolist()),
        "value": pa.array(np.round(rng.uniform(0.01, 490, size=n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)])})
    _write(d, "documents", documents(rng, 600))
    _write(d, "embeddings", embeddings(rng, 600))
