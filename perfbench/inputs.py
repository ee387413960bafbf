"""Synthetic input tables for the flow benchmark.

Writes the same table shapes the engine's queries read (a TPC-H-like
star plus `events`, `documents` and `embeddings`), one parquet file per
table, with pyarrow. The tables are a fixed function of GEN_SEED, never
of the run's `--seed`: the run seed only reorders rows and picks lookup
keys, so every result hash recorded in expected.json stays valid for
every run seed.

    python3 perfbench/inputs.py OUT_DIR
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 20240311

# rows per table; about a fifth of the sf0.1 reference tables
SIZES = {
    "customer": 3000,
    "supplier": 200,
    "part": 4000,
    "orders": 30000,
    "events": 20000,
    "documents": 1000,
    "embeddings": 600,
}
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
DAY_US = 86400 * 1000000
EPOCH_1995 = 788918400 * 1000000  # 1995-01-01T00:00:00Z in microseconds


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.04:
            # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 20 and r < 0.12:
            # near duplicate: an earlier document with one token replaced
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = "dup"
            texts.append(" ".join(toks))
        elif r > 0.985:
            # too short for the corpus quality gate
            texts.append(" ".join(rng.choice(WORDS, 3)))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    return {
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "zh", "es", "fr", "de"], n)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }


def generate(out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(GEN_SEED)
    n = SIZES
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
    })
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n["customer"], dtype="int64")),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n["customer"])]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype("int32")),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"],
            n["customer"])),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n["supplier"], dtype="int64")),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n["supplier"])]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype("int32")),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2)),
    })
    adj = ["red", "new", "hot", "small", "cold", "large", "blue", "old"]
    noun = ["bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pin"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n["part"], dtype="int64")),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in
                            zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n["part"])]),
        "p_type": pa.array(rng.choice(
            ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], n["part"])),
        "p_size": pa.array(rng.integers(1, 51, n["part"]).astype("int32")),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n["part"]) % 1000) / 10.0, 1)),
    })
    n_ord = n["orders"]
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n_ord).astype("int64")),
        "o_orderstatus": pa.array(rng.choice(["P", "O", "F"], n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _ts(EPOCH_1995 + order_day * DAY_US),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)),
    })
    lines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    l_no = np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32")
    n_li = len(l_ok)
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(out, "lineitem", {
        "l_orderkey": pa.array(l_ok),
        "l_partkey": pa.array(rng.integers(0, n["part"], n_li).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], n_li).astype("int64")),
        "l_linenumber": pa.array(l_no),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100.0, 2)),
        "l_returnflag": pa.array(rng.choice(["N", "R", "A"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts(EPOCH_1995 + (order_day[l_ok] + rng.integers(1, 122, n_li)) * DAY_US),
    })
    n_ev = n["events"]
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + 1704067200 * 1000000
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype="int64")),
        "ts": _ts(ev_us),
        "user_id": pa.array(rng.integers(0, 1500, n_ev).astype("int64")),
        "event_type": pa.array(rng.choice(["signup", "purchase", "view", "click", "error"], n_ev)),
        "value": pa.array(np.round(rng.exponential(60.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    _write(out, "documents", _documents(rng, n["documents"]))
    n_emb = n["embeddings"]
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.6, (n_emb, 64))).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype="int64")),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype("int32")),
    })


if __name__ == "__main__":
    generate(sys.argv[1])
