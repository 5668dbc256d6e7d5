"""Pins for the r12 optimization internals (OPTIMIZATION_r12.md).

- the candidate dedup + verify-spread fusion (ONE pair-key exchange where
  r11 had dropDuplicates' exchange PLUS a round-robin respread).

Pagerank's co-partitioned superstep and the reliable-checkpoint knob are
pinned in test_graph_algos.py, the terminal durable CREATE's single write
action in test_writes.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"alpha beta gamma delta epsilon zeta doc{i % 7} eta theta")
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_jaccard_dedup_and_spread_share_one_exchange(spark, docs):
    """r12: the candidate-pair repartition is BY THE PAIR KEY at the
    configured parallelism — the same exchange dropDuplicates needs — so
    the plan carries no second round-robin exchange between dedup and the
    CPU-bound verify (ADVICE r11)."""
    from nicefox_graphdb_spark.operators import dedup as dd

    out = dd.jaccard_pairs(
        docs,
        "doc_id",
        dd.word_shingles(F.col("text"), 3),
        threshold=0.2,
        max_shingle_freq=None,
    )
    plan = _analyzed(out)
    # hash-partitioned repartition on the pair key present...
    assert "RepartitionByExpression [id_a" in plan, plan
    # ...and NO round-robin repartition left anywhere in the pipeline
    assert "Repartition " not in plan, plan
