"""Deterministic tables for the registry workload, in the corpus' schemas.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each (FIXTURES.md section 9
schemas), sized by a scale factor like the TPC-H-ish corpus the queries were
written for.  Documents are random word sequences from the corpus' small
vocabulary, as in the corpus; the dedup queries plant their own near
duplicates.  Embeddings sit around per-label centroids, so ANN probes have
structure to find.

Usage: python3 gen_registry.py <out_dir> <seed> [sf]
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("row the query stream fast spark line small customer group value "
         "hash batch sort data big filter dup key agg scan slow table part a "
         "merge window order column join vector").split()
DIM = 64


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "ms")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _documents(rng, n):
    texts = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100))))
             for _ in range(n)]
    langs = np.array(["en", "de", "es", "fr", "zh"])[
        rng.choice(5, n, p=[0.5, 0.125, 0.125, 0.125, 0.125])]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs.tolist()),
        "source": pa.array(["src%d" % s for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def generate(out_dir, seed, sf):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = {"customer": int(150000 * sf), "supplier": max(10, int(10000 * sf)),
         "part": int(200000 * sf), "orders": int(1500000 * sf),
         "lineitem": int(6000000 * sf), "events": int(1000000 * sf),
         "documents": int(50000 * sf), "embeddings": int(50000 * sf)}

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array(["NATION_%d" % i for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    c = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array(["Customer#%09d" % i for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, c), 2)),
        "c_mktsegment": pa.array(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, c)].tolist())})

    s = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": pa.array(["Supplier#%09d" % i for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, s), 2))})

    p = n["part"]
    adj = np.array(["small", "big", "red", "blue", "old", "new", "hot", "cold"])
    noun = np.array(["bolt", "gear", "widget", "ring", "rod", "anvil", "nut"])
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": pa.array([a + " " + b for a, b in zip(
            adj[rng.integers(0, len(adj), p)], noun[rng.integers(0, len(noun), p)])]),
        "p_brand": pa.array(["Brand#%d" % b for b in rng.integers(1, 26, p)]),
        "p_type": pa.array(np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                                     "MEDIUM", "PROMO"])[rng.integers(0, 6, p)].tolist()),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(p) % 1000) / 10.0, 2))})

    o = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, o)].tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, o), 2)),
        "o_orderdate": pa.array(_days(rng, o, "1995-01-01", 2404), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, o)].tolist())})

    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, p, li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s, li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, li)].tolist()),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, li)].tolist()),
        "l_shipdate": pa.array(_days(rng, li, "1995-01-02", 2498), pa.timestamp("us"))})

    e = n["events"]
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10 ** 6, e)).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, e // 67), e).astype(np.int64)),
        "event_type": pa.array(np.array(["click", "signup", "error", "view", "purchase"])[
            rng.integers(0, 5, e)].tolist()),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, e), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, e)])})

    _write(out_dir, "documents", _documents(rng, n["documents"]))

    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centroids = rng.normal(0, 0.12, (10, DIM))
    vecs = (centroids[labels] + rng.normal(0, 0.06, (m, DIM))).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})

    props = {"seed": seed, "sf": sf, "rows": n}
    with open(os.path.join(out_dir, "props.json"), "w") as f:
        json.dump(props, f, sort_keys=True)
    return props


if __name__ == "__main__":
    a = sys.argv[1:]
    print(json.dumps(generate(a[0], int(a[1]), float(a[2]) if len(a) > 2 else 0.005)))
