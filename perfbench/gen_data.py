#!/usr/bin/env python3
"""Writes the benchmark's input tables: a TPC-H-shaped star schema plus
the events / documents / embeddings side tables, in the column names,
types and value domains the graded queries read.

The tables depend only on the scale factor and a fixed generator seed,
never on the workload seed, so every query's output digest can be
pinned (`expected.json`). The workload seed only changes what the
harness does with the tables (op order, store key bands).

Usage: gen_data.py OUTDIR
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# TPC-H-style scale factor of every generated table
SF = 0.005
WORDS = ("a the data spark table query join sort hash key value row "
         "column batch stream window agg group order line part customer "
         "filter scan merge fast slow big small vector").split()
LANGS = ["en"] * 3 + ["es", "zh", "de", "fr"]


def ts_us(days):
    base = np.datetime64("1970-01-01T00:00:00", "us")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def day_offsets(rng, lo, hi, n):
    d0 = (np.datetime64(lo) - np.datetime64("1970-01-01")).astype(int)
    d1 = (np.datetime64(hi) - np.datetime64("1970-01-01")).astype(int)
    days = rng.integers(d0, d1 + 1, n)
    return days.astype("int64") * 86_400_000_000


def money(x):
    return np.round(x, 2)


def tables():
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_li = int(1_500_000 * SF), int(6_000_000 * SF)
    n_ev, n_doc = int(1_000_000 * SF), int(50_000 * SF)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng.uniform(-999.99, 9999.99, n_supp))})
    adj = np.array(["blue", "old", "red", "small", "new", "hot", "large", "cold"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"])
    ptype = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptype[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": money(900.0 + (pk % 1000) * 0.1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": ts_us(day_offsets(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": money(rng.uniform(900.0, 105000.0, n_li)),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ts_us(day_offsets(rng, "1995-01-02", "2001-11-04", n_li))})
    ev_t0 = (np.datetime64("2024-01-01") - np.datetime64("1970-01-01")).astype(int) * 86_400_000_000
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + ev_t0
    n_users = max(15, n_ev // 66)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])[
            rng.integers(0, 5, n_ev)],
        "value": money(rng.uniform(0.01, 490.0, n_ev)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(WORDS)
    lens = rng.integers(8, 80, n_doc)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_doc)
    centers = rng.normal(0.0, 0.1, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.1, (n_doc, 64))).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_doc), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(outdir):
    os.makedirs(outdir, exist_ok=True)
    for name, t in tables().items():
        pq.write_table(t, os.path.join(outdir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1])
