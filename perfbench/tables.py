"""Seeded generator of the tables the `query_mix` workload reads.

Same schemas and value domains as the relational corpus the queries are
written against (FIXTURES.md section B). Row counts are those of its
sf0.1 scale times ``SCALE``; at 0.2 that is about lineitem 120k, orders
30k, customer 3k, events 20k, documents 1k, embeddings 400. Only the
tables the query list reads are written.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NAMES = ("customer", "orders", "lineitem", "events", "documents", "embeddings")
SCALE = 0.2
ROWS = {name: int(n * SCALE) for name, n in
        {"customer": 15_000, "orders": 150_000, "events": 100_000, "documents": 5_000,
         "embeddings": 2_000}.items()}
N_PARTS, N_SUPPS = 20_000, 1_000
EMB_DIM = 64
VOCAB = (
    "a the data stream batch spark table row column key value join hash sort merge group "
    "agg filter scan query window order part line customer vector fast slow big small"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
DAY_US = 86_400 * 10**6
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, choices, n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)], type=pa.string())


def generate(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_ord = ROWS["customer"], ROWS["orders"]
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })

    orderdate = EPOCH_1995 + rng.integers(0, 2400, n_ord) * DAY_US
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ("O", "F"), n_ord),
        "o_totalprice": np.round(rng.uniform(1_000.0, 450_000.0, n_ord), 2),
        "o_orderdate": _ts(orderdate),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })

    lines_per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    n_li = len(okey)
    starts = np.cumsum(lines_per) - lines_per
    linenumber = (np.arange(n_li) - np.repeat(starts, lines_per) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, N_PARTS, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPS, n_li).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("O", "F"), n_li),
        "l_shipdate": _ts(np.repeat(orderdate, lines_per) + rng.integers(1, 122, n_li) * DAY_US),
    })

    n_ev = ROWS["events"]
    events = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_ev))),
        "user_id": rng.integers(0, 1_500, n_ev).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.uniform(0.0, 200.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })

    n_doc = ROWS["documents"]
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), int(k))]) for k in rng.integers(8, 90, n_doc)]
    documents = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_doc),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    n_emb = ROWS["embeddings"]
    vecs = rng.normal(0.0, 0.1, (n_emb, EMB_DIM)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem, "events": events,
            "documents": documents, "embeddings": embeddings}


def write(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
