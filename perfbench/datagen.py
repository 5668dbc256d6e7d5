"""Seeded generator for the TPC-H-shaped parquet tables the engine loads.

Writes the ten tables ``sources/tpch.py`` reads (region … embeddings) with
the same column names and types as the reference test data, sized by a
scale factor: ``sf=0.01`` gives 1.5k customers, 15k orders, ~60k line
items and 10k events. The same ``(sf, seed)`` always writes the same rows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "the a key order sort table scan merge part window small hash join "
    "batch stream spark dup value fast slow row data column filter group "
    "query line agg customer big vector"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_US_PER_DAY = 86_400_000_000
CLUSTER_PULL = 0.55


def _ts(base: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    epoch_us = int(base.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return pa.array(epoch_us + offsets_us.astype(np.int64), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the tables under ``out_dir``; returns row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 20)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_orders = max(int(1_500_000 * sf), 100)
    n_events = max(int(1_000_000 * sf), 200)
    n_users = max(n_events // 67, 3)
    n_docs = max(int(50_000 * sf), 500)
    n_vecs = max(int(20_000 * sf), 500)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, len(_ADJ), n_part),
                            rng.integers(0, len(_NOUN), n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n_part) % 1000 * 0.1, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders).tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2),
        "o_orderdate": _ts(
            dt.datetime(1995, 1, 1),
            rng.integers(0, 2404, n_orders) * _US_PER_DAY,
        ),
        "o_orderpriority": rng.choice(_PRIORITIES, n_orders).tolist(),
    })
    lines_per_order = rng.integers(1, 8, n_orders)
    l_orderkey = np.repeat(np.arange(n_orders), lines_per_order)
    l_linenumber = np.concatenate([np.arange(1, k + 1) for k in lines_per_order])
    n_lines = len(l_orderkey)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), pa.int64()),
        "l_linenumber": pa.array(l_linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_lines), 2),
        "l_discount": np.round(rng.integers(0, 11, n_lines) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_lines) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_lines).tolist(),
        "l_shipdate": _ts(
            dt.datetime(1995, 1, 2),
            rng.integers(0, 2500, n_lines) * _US_PER_DAY,
        ),
    })
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        # distinct offsets keep each user's (ts, event_id) order unambiguous
        "ts": _ts(
            dt.datetime(2024, 1, 1),
            rng.choice(30 * _US_PER_DAY, n_events, replace=False),
        ),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_events).tolist(),
        "value": np.round(rng.uniform(0.01, 500.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.05:
            # near duplicate of an earlier document: ~10% of words replaced
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.choice(len(words), max(1, len(words) // 10), replace=False):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[w] for w in rng.integers(0, len(_WORDS), rng.integers(10, 100))]
        texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    # ten clusters, as real embedding sets have: a vector is its cluster's
    # unit centre scaled by CLUSTER_PULL plus unit-scale isotropic noise,
    # so two members of one cluster have cosine ~0.3 and strangers ~0
    centres = rng.standard_normal((10, 64))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs)
    vecs = CLUSTER_PULL * centres[labels] + rng.standard_normal((n_vecs, 64)) / 8.0
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_orders, "lineitem": n_lines, "events": n_events,
        "documents": n_docs, "embeddings": n_vecs,
    }
