"""Seeded corpus for the LLM-data operators: the star-schema tables plus
``events``, ``documents`` and ``embeddings``, with the column names and
types the operators in ``heapdumpstardiver_spark.queries`` read.

Row counts are fixed by the scale; the seed draws the values. Text is
drawn from a small vocabulary and a fixed share of documents are
near-duplicates of others (the original plus a trailing " dup"), so the
dedup, shingle and similarity operators have work to do.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump whenever the generated tables change for a given seed and scale
GENERATOR_VERSION = 1

VOCAB = (
    "a the join hash row batch scan column customer filter small slow merge order vector "
    "line table data agg value key stream window spark part group big sort query fast"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "hot", "old", "red", "small", "big", "green", "cold"]
NOUN = ["anvil", "plate", "ring", "rod", "widget", "gear", "pipe", "bolt"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    epoch_us = int(base.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    return pa.array(epoch_us + seconds.astype(np.int64) * 1_000_000, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate_corpus(out_dir: str, seed: int, scale: float) -> dict:
    """Write ``<table>.parquet`` files into *out_dir*; returns row counts.
    *scale* 0.01 gives the sizes of the repository's sf0.01 fixture."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), max(10, int(10_000 * scale)), int(200_000 * scale)
    n_orders, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_events, n_docs, n_vecs = int(1_000_000 * scale), int(50_000 * scale), int(50_000 * scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    price = np.round(900 + (np.arange(n_part) % 1000) / 10, 1)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price,
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000, 500_000, n_orders),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2404, n_orders) * 86400),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    partkey = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[partkey], 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2498, n_line) * 86400),
    })
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), np.sort(rng.integers(0, 30 * 86400, n_events))),
        "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": _money(rng, 0.01, 490.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(8, 90)))) for _ in range(n_docs)]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.6, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, n_vecs * 64 + 1, 64), pa.int32()), flat),
        "label": pa.array(labels, pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, table in t.items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
