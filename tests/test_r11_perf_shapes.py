"""Pins for the r11 optimization internals (OPTIMIZATION_r11.md).

Each test pins the STRUCTURE an optimization introduced, so a regression
is a test failure rather than a silent wall-clock cliff:
- the candidate verify re-spread (AQE coalesces 16-byte pairs to one task
  by byte size — the repartition must stay ahead of the CPU-bound verify);
- single-evaluation tokenization (one regex split per row in the fused
  text expressions).

The iterative-algorithm pins live in test_graph_algos.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"alpha beta gamma delta epsilon zeta doc{i % 7} eta theta") for i in range(60)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_jaccard_verify_is_respread(spark, docs):
    from nicefox_graphdb_spark.operators import dedup as dd

    out = dd.jaccard_pairs(
        docs, "doc_id", dd.word_shingles(F.col("text"), 3), threshold=0.2,
        max_shingle_freq=None,
    )
    # the round-robin re-spread of the candidate pairs must sit in the plan
    # (logical Repartition with shuffle=true) — without it the
    # array_intersect verify runs on ONE AQE-coalesced task (measured 3x
    # the gate wall-clock, r11)
    assert "Repartition" in _analyzed(out), _analyzed(out)


def test_minhash_verify_is_respread(spark, docs):
    from nicefox_graphdb_spark.operators import dedup as dd

    out = dd.minhash_lsh_pairs(
        docs, "doc_id", dd.word_shingles(F.col("text"), 3), k=8, bands=4,
        threshold=0.2,
    )
    assert "Repartition" in _analyzed(out), _analyzed(out)


def test_text_stats_single_tokenization(spark, docs):
    from nicefox_graphdb_spark.operators import text as tx

    fused = docs.select(
        F.inline(
            F.array(
                tx.let_tokens(
                    F.col("text"),
                    lambda toks: F.struct(
                        F.size(toks).cast("long").alias("tc"),
                        tx.quality_score_of(toks).alias("q"),
                    ),
                )
            )
        )
    )
    # exactly ONE regex tokenizer split in the optimized plan — the fusion
    # exists to stop Catalyst re-running the split per consumer
    plan = _optimized(fused)
    assert plan.count("split(lower(") == 1, plan
    # and lang_id stays single-split through its let-binding
    lang = docs.select(tx.lang_id(F.col("text")).alias("l"))
    assert _optimized(lang).count("split(lower(") == 1


def test_quality_and_langid_match_unbound_forms(spark, docs):
    # the let-bound rewrites must be value-identical to the naive forms
    from nicefox_graphdb_spark.operators import text as tx
    from nicefox_graphdb_spark.operators.text import (
        EN_STOPWORDS,
        tokens,
    )

    toks = tokens(F.col("text"))
    hits = F.size(F.filter(toks, lambda t: t.isin(EN_STOPWORDS)))
    stop = F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
    meanlen = F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))
    naive = F.round(
        F.least(stop * 5.0, F.lit(1.0)) * 0.4
        + F.least(F.size(toks) / 100.0, F.lit(1.0)) * 0.3
        + F.least(meanlen / 8.0, F.lit(1.0)) * 0.3,
        4,
    )
    rows = docs.select(
        tx.quality_score(F.col("text")).alias("opt"), naive.alias("naive")
    ).collect()
    assert all(r["opt"] == r["naive"] for r in rows)
