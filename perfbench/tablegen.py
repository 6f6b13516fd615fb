"""Seeded star-schema tables for the ``query_mix`` workload.

Writes the ten tables the query registry reads (``region nation
customer supplier part orders lineitem events documents embeddings``)
as one single-row-group parquet file each, the layout
``graal_cdc_spark.sources.tables.reblock_sf_dir`` expects. Column names,
types and value domains follow the engine's test schema, so every
registered query and its DuckDB oracle twin run on them unchanged.
Row counts scale with ``sf`` (``sf=0.01`` gives 60k lineitems).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
COLORS = ["blue", "green", "red", "white", "black", "small", "large", "shiny"]
THINGS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _ts(days_from: str, days: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us")
    return pa.array(base + days.astype("timedelta64[D]").astype("timedelta64[us]"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> dict:
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.3:
            # near-duplicate of an earlier document: a few words swapped
            words = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), rng.integers(10, 90))]
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[k] for k in rng.integers(0, 5, n)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    centers = rng.normal(0, 1, (10, dim))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(0, 0.6, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }


def tables(seed: int, sf: float) -> dict[str, dict]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = max(50, int(50_000 * sf))
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    pick = lambda opts, n: pa.array([opts[k] for k in rng.integers(0, len(opts), n)])  # noqa: E731

    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    return {
        "region": {"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)},
        "nation": {
            "n_nationkey": i32(range(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32([i % 5 for i in range(25)]),
        },
        "customer": {
            "c_custkey": i64(range(n_cust)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pick(SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": i64(range(n_supp)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        },
        "part": {
            "p_partkey": i64(range(n_part)),
            "p_name": pa.array(
                [f"{COLORS[a]} {THINGS[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
            ),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
            "p_type": pick(PART_TYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
        },
        "orders": {
            "o_orderkey": i64(range(n_ord)),
            "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord)),
            "o_orderpriority": pick(PRIORITIES, n_ord),
        },
        "lineitem": {
            "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
            "l_partkey": i64(rng.integers(0, n_part, n_line)),
            "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_line), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pick(["A", "N", "R"], n_line),
            "l_linestatus": pick(["F", "O"], n_line),
            "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_line)),
        },
        "events": {
            "event_id": i64(range(n_ev)),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]")),
            "user_id": i64(rng.integers(0, max(2, n_ev // 66), n_ev)),
            "event_type": pick(EVENT_TYPES, n_ev),
            "value": pa.array(np.round(np.maximum(rng.exponential(50.0, n_ev), 0.01), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        },
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_doc),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables(seed, sf).items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, t.num_rows))
    return out_dir
