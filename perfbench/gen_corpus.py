#!/usr/bin/env python3
"""Write the catalog workloads' input corpus: the ten base tables the program's
fixtures read (`events`, `documents`, `embeddings` and the TPC-H-style star),
one single-row-group parquet file each, with the same schemas and value ranges
as the program's reference corpus.

The corpus is a fixed function of (--scale, --data-seed), so the output hashes
pinned in `pinned.json` stay valid; the benchmark's --seed does not touch it.

Usage: python3 perfbench/gen_corpus.py --out DIR [--scale 0.01] [--data-seed 42]
"""
import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def us(d):
    return int((d - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   row_group_size=1 << 30)


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", type=float, default=0.01)
    ap.add_argument("--data-seed", type=int, default=42)
    a = ap.parse_args()
    rng = np.random.default_rng(a.data_seed)
    sf = a.scale
    os.makedirs(a.out, exist_ok=True)

    n_ev, n_users = int(1_000_000 * sf), max(15, int(15_000 * sf))
    gaps = rng.exponential(30 * 86400 / n_ev, n_ev)
    ts = us(dt.datetime(2024, 1, 1)) + np.cumsum(gaps * 1e6).astype(np.int64)
    write(a.out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": pa.array(rng.choice(["click", "signup", "error", "view", "purchase"], n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })

    n_docs = max(500, int(50_000 * sf))
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 100)))))
    write(a.out, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    n_vec, dim = max(500, int(20_000 * sf)), 64
    labels = rng.integers(0, 10, n_vec).astype(np.int32)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] * 0.3 + rng.normal(0, 1, (n_vec, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write(a.out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })

    write(a.out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    write(a.out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_ord = int(1_500_000 * sf)
    write(a.out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust)),
    })
    adj = ["blue", "hot", "small", "old", "red", "new", "cold", "big"]
    noun = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "nut"]
    write(a.out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
    })
    write(a.out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_supp)),
    })
    day = 86400 * 1_000_000
    odate = us(dt.datetime(1995, 1, 1)) + rng.integers(0, 2404, n_ord) * day
    write(a.out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(money(rng, 1000, 500000, n_ord)),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)),
    })
    n_li = 4 * n_ord
    okey = rng.integers(0, n_ord, n_li, dtype=np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write(a.out, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_li)),
        "l_shipdate": pa.array(odate[okey] + rng.integers(1, 122, n_li) * day, pa.timestamp("us")),
    })


if __name__ == "__main__":
    main()
