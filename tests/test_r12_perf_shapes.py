"""Pins for the r12 optimization internals (OPTIMIZATION_r12.md).

- the candidate dedup + verify-spread fusion (ONE pair-key exchange where
  r11 had dropDuplicates' exchange PLUS a round-robin respread);
- the terminal durable CREATE's single write action.

Pagerank's co-partitioned superstep and the reliable-checkpoint knob are
pinned in test_graph_algos.py.
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


def test_terminal_durable_create_is_single_action(spark, tmp_path):
    """r12: a terminal single-node CREATE against the durable store skips
    the uuid-freezing checkpoint — the append write materializes the ids
    (one Spark job instead of two), and the stored ids are stable."""
    from nicefox_graphdb_spark import CypherEngine
    from nicefox_graphdb_spark.catalog import GraphCatalog

    eng = CypherEngine(
        spark, GraphCatalog(spark), data_path=str(tmp_path / "g"), n_buckets=8
    )
    eng.query("UNWIND range(0, 9) AS i CREATE (:Fc {k: i})")  # warm compile

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    j0 = jsc.dagScheduler().nextJobId()
    eng.query("UNWIND range(10, 19) AS i CREATE (:Fc {k: i})")
    n_jobs = jsc.dagScheduler().nextJobId() - j0
    assert n_jobs <= 2, f"terminal durable CREATE scheduled {n_jobs} jobs"
    # ids frozen in the table: two reads agree
    a = {r["id"]: r["k"] for r in eng.query(
        "MATCH (n:Fc) RETURN id(n) AS id, n.k AS k")}
    b = {r["id"]: r["k"] for r in eng.query(
        "MATCH (n:Fc) RETURN id(n) AS id, n.k AS k")}
    assert a == b and len(a) == 20


def test_nonterminal_create_still_freezes_ids(spark, tmp_path):
    """A CREATE whose binding is consumed by a later clause must keep the
    checkpoint: the returned ids must equal the stored ids."""
    from nicefox_graphdb_spark import CypherEngine
    from nicefox_graphdb_spark.catalog import GraphCatalog

    eng = CypherEngine(
        spark, GraphCatalog(spark), data_path=str(tmp_path / "g2"), n_buckets=8
    )
    returned = eng.query(
        "UNWIND range(0, 4) AS i CREATE (n:Fz {k: i}) "
        "RETURN id(n) AS id ORDER BY id"
    )
    stored = eng.query("MATCH (n:Fz) RETURN id(n) AS id ORDER BY id")
    assert [r["id"] for r in returned] == [r["id"] for r in stored]
