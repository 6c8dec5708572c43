#!/usr/bin/env python3
"""Seeded sf0.1-shaped table generator for the curation_batch workload.

A copy of tools/gen_sfn.py's generator with two changes: the numpy seed
is an argument (the benchmark's --seed), and region/nation are written
from their fixed TPC-H-shaped contents instead of being copied from a
test-data directory, so the benchmark needs no input outside its
checkout. Scale 1 is sf0.1-shaped (the row counts below); fractional
scales give smaller tables for warm-up.

Usage: python3 perfbench/gen_tables.py <seed> <scale> <out-dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def generate(seed, scale, out):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    def n(base):
        return max(int(base * scale), 1)

    n_cust, n_ord = n(15_000), n(150_000)
    n_part, n_supp = n(20_000), n(1_000)
    n_events, n_docs = n(100_000), n(5_000)
    n_vecs, n_users = n(2_000), n(1_500)

    def write(name, cols):
        pq.write_table(pa.table(cols), f"{out}/{name}.parquet")

    write("region", {
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })

    ck = np.arange(n_cust, dtype=np.int64)
    write("customer", {
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"], n_cust),
    })

    sk = np.arange(n_supp, dtype=np.int64)
    write("supplier", {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(0, 10000, n_supp), 2),
    })

    pk = np.arange(n_part, dtype=np.int64)
    adjectives = ["large", "hot", "blue", "small", "dark", "light", "cold", "red"]
    nouns = ["ring", "bolt", "case", "drum", "plate", "wire", "tube", "disk"]
    write("part", {
        "p_partkey": pk,
        "p_name": [f"{adjectives[i % 8]} {nouns[(i // 8) % 8]}" for i in pk],
        "p_brand": [f"Brand#{i}" for i in rng.integers(0, 25, n_part)],
        "p_type": rng.choice(
            ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })

    ok = np.arange(n_ord, dtype=np.int64)
    d0 = np.datetime64("1995-01-01")
    span_days = int((np.datetime64("2001-08-01") - d0) / np.timedelta64(1, "D"))
    odate_days = rng.integers(0, span_days + 1, n_ord)
    odate = d0 + odate_days.astype("timedelta64[D]")
    write("orders", {
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })

    lines_per = rng.integers(1, 8, n_ord)
    l_orderkey = np.repeat(ok, lines_per)
    n_li = len(l_orderkey)
    l_linenumber = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    ship_lag = rng.integers(1, 96, n_li)
    shipdate = (d0 + np.repeat(odate_days, lines_per).astype("timedelta64[D]")
                + ship_lag.astype("timedelta64[D]"))
    write("lineitem", {
        "l_orderkey": l_orderkey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": l_linenumber,
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": shipdate.astype("datetime64[us]"),
    })

    e0 = np.datetime64("2024-01-01T00:00:00", "us")
    steps_us = rng.exponential(30 * 86400e6 / n_events, n_events)
    ts = e0 + np.cumsum(steps_us).astype("timedelta64[us]")
    write("events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n_events),
        "value": np.round(rng.exponential(50.0, n_events).clip(0, 600), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    vocab = np.array([
        "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
        "filter", "group", "hash", "join", "key", "line", "merge", "order",
        "part", "query", "row", "scan", "slow", "small", "sort", "spark",
        "stream", "table", "the", "value", "vector", "window"])
    lengths = rng.integers(10, 101, n_docs)
    texts = [" ".join(rng.choice(vocab, k)) for k in lengths]
    # plant duplicates at the sf0.1 rate (8/5000)
    for i in rng.choice(n_docs, max(int(8 * scale), 1), replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))]
    langs = rng.choice(["en", "de", "es", "fr", "zh"], n_docs,
                       p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])
    write("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    v = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(v.tolist(), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
    return {"events": n_events, "documents": n_docs, "embeddings": n_vecs,
            "orders": n_ord, "lineitem": n_li}


if __name__ == "__main__":
    print(generate(int(sys.argv[1]), float(sys.argv[2]), sys.argv[3]))
