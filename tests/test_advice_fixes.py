"""Regression tests for round-2 semantic fixes (ADVICE.md r1):

- plain DELETE of a node with live relationships raises
  (reference src/executor.ts:10162)
- OPTIONAL MATCH WHERE can reference outer value variables

The MATCH fixes of that round (var-length edge property filters, the
LIMIT-bound cap, undirected self-loops, named-path elision) live in
test_read_core.py, the MERGE and CREATE ones in test_writes.py.
"""

import pytest

from nicefox_graphdb_spark import CypherEngine
from nicefox_graphdb_spark.catalog import GraphCatalog
from nicefox_graphdb_spark.graph_store import CypherRuntimeError


def test_delete_with_relationships_raises(g):
    g.query("CREATE (a:N {name: 'a'})-[:T]->(b:N {name: 'b'})")
    with pytest.raises(CypherRuntimeError, match="still has relationships"):
        g.query("MATCH (n:N {name: 'a'}) DELETE n")
    # DETACH DELETE removes node and incident edges
    g.query("MATCH (n:N {name: 'a'}) DETACH DELETE n")
    assert g.query("MATCH (n:N) RETURN count(*) AS c") == [{"c": 1}]
    assert g.query("MATCH ()-[r:T]->() RETURN count(*) AS c") == [{"c": 0}]
    # plain DELETE is fine once no edges reference the node
    g.query("MATCH (n:N {name: 'b'}) DELETE n")
    assert g.query("MATCH (n:N) RETURN count(*) AS c") == [{"c": 0}]


def test_optional_match_where_outer_value_var(g):
    g.query("CREATE (a:P {name: 'a1', x: 5})-[:L]->(b:Q {y: 10})")
    g.query("CREATE (a:P {name: 'a2', x: 50})-[:L]->(b:Q {y: 10})")
    rows = g.query(
        "MATCH (a:P) WITH a, a.x AS t "
        "OPTIONAL MATCH (a)-[:L]->(b:Q) WHERE b.y > t "
        "RETURN a.name AS name, b.y AS y ORDER BY name"
    )
    assert rows == [{"name": "a1", "y": 10}, {"name": "a2", "y": None}]


def test_labels_full_membership_after_set_label(g):
    g.query("CREATE (:Person {name: 'a'})")
    g.query("CREATE (:Person {name: 'b'})")
    g.query("MATCH (n:Person {name: 'a'}) SET n:Admin")
    rows = g.query(
        "MATCH (n:Person) RETURN n.name AS name, join(labels(n), '|') AS ls "
        "ORDER BY name"
    )
    assert rows == [
        {"name": "a", "ls": "Admin|Person"},
        {"name": "b", "ls": "Person"},
    ]
    # scanning the secondary label also reports full membership
    assert g.query("MATCH (n:Admin) RETURN join(labels(n), '|') AS ls") == [
        {"ls": "Admin|Person"}
    ]


# --- round-4 fixes (ADVICE.md r3) ---------------------------------------


def test_in_cross_category_null_subject_is_null(g):
    # null subject against a cross-category list must stay unknown
    rows = g.query(
        "UNWIND [null] AS x WITH toString(x) AS s RETURN s IN [1, 2] AS r"
    )
    assert rows == [{"r": None}]
    # decided subject stays false
    rows2 = g.query("RETURN 'a' IN [1, 2] AS r")
    assert rows2 == [{"r": False}]


def test_duration_in_mixed_case_renders_iso(g):
    rows = g.query(
        "RETURN CASE WHEN true THEN duration('PT1H') ELSE 'x' END AS r"
    )
    assert rows == [{"r": "PT1H"}]
    rows2 = g.query("RETURN [duration('P1D'), 'x'][0] AS r")
    assert rows2 == [{"r": "P1D"}]


# ---------------------------------------------------------------------------
# round-5 regressions (ADVICE.md r4)
# ---------------------------------------------------------------------------


def test_plan_cache_distinguishes_param_types(g):
    # 1 == True == 1.0 in Python; the frozen cache key must not collide
    assert g.query("RETURN $x AS x", {"x": 1}) == [{"x": 1}]
    assert g.query("RETURN $x AS x", {"x": True}) == [{"x": True}]
    assert g.query("RETURN $x AS x", {"x": 1.0}) == [{"x": 1.0}]
    assert g.query("RETURN $x AS x", {"x": False}) == [{"x": False}]


def test_tagged_cell_same_kind_ordering(g):
    # string < string is defined inside a heterogeneous list; only
    # CROSS-kind ordering is null (ADVICE r4 #3)
    rows = g.query("RETURN [x IN [1, 'a', 'b'] WHERE x < 'b'] AS r")
    assert rows == [{"r": ["a"]}]
    rows2 = g.query("RETURN [x IN [1, 2.5, 'a'] WHERE x < 2] AS r")
    assert rows2 == [{"r": [1]}]
    rows3 = g.query("RETURN [x IN [false, true, 'a'] WHERE x < true] AS r")
    assert rows3 == [{"r": [False]}]


def test_tagged_cell_arithmetic_keeps_integer_flavor(g):
    rows = g.query("RETURN [x IN [1, 'a'] | x + 1] AS r")
    assert rows == [{"r": [2, "a1"]}]
    rows2 = g.query("RETURN [x IN [3, 2.5] | x * 2] AS r")
    assert rows2 == [{"r": [6, 5.0]}]


def test_zoned_subday_arithmetic_in_fallback_hour(g):
    # the later (EST) 01:30 plus PT1H must advance the instant by exactly
    # 3600 s — the wall-clock round trip would remap it to the earlier
    # (EDT) 01:30 and return the same instant (ADVICE r4 #4)
    rows = g.query(
        "WITH datetime('2021-11-07T01:30:00-05:00[America/New_York]') AS dt "
        "RETURN (dt + duration('PT1H')).epochSeconds - dt.epochSeconds AS diff"
    )
    assert rows == [{"diff": 3600}]
    # calendar components still compose in wall-clock time
    rows2 = g.query(
        "WITH datetime('2021-11-06T12:00:00[America/New_York]') AS dt "
        "RETURN toString(dt + duration('P1D')) AS s"
    )
    assert rows2 == [{"s": "2021-11-07T12:00:00-05:00[America/New_York]"}]


# -- round-6 ADVICE fixes -------------------------------------------------


def test_snapshot_includes_unlabeled_nodes(g, tmp_path):
    """ADVICE r6 #1: the "" sentinel table (unlabeled nodes) must be part
    of a snapshot; restore must not lose data."""
    from nicefox_graphdb_spark.sources.snapshot import (
        load_snapshot,
        snapshot_graph,
    )

    g.query("CREATE (:Person {name: 'labeled'})")
    g.query("CREATE ({name: 'bare'})")
    res = snapshot_graph(g.catalog, str(tmp_path / "bk"))
    assert res.success, res.error
    cat2 = load_snapshot(g.spark, str(tmp_path / "bk"))
    from nicefox_graphdb_spark import CypherEngine

    g2 = CypherEngine(g.spark, cat2)
    rows = g2.query("MATCH (n) RETURN n.name AS name ORDER BY name")
    assert rows == [{"name": "bare"}, {"name": "labeled"}]
    rows_bare = g2.query(
        "MATCH (n) WHERE size(labels(n)) = 0 RETURN n.name AS name"
    )
    assert rows_bare == [{"name": "bare"}]


# -- round-8 fixes (ADVICE.md r7) -------------------------------------------


def test_node_tables_containing_probes_membership(g):
    g.query("CREATE (:PA {k: 1})")
    g.query("CREATE (:PB {k: 2})")
    g.query("CREATE ({k: 3})")  # unlabeled sentinel table
    spark = g.spark
    got = g.store.node_tables_containing(
        g.store.catalog.node("PA").df.select("_id")
    )
    assert got == ["PA"]
    # unlabeled ids resolve to the "" sentinel
    got2 = g.store.node_tables_containing(
        g.store.catalog.node("").df.select("_id")
    )
    assert got2 == [""]
    # empty id set touches nothing
    empty = spark.createDataFrame([], "id string")
    assert g.store.node_tables_containing(empty) == []


def test_untyped_set_skips_uninvolved_label_tables(spark, tmp_path):
    """ADVICE r7: SET through an untyped scan must not rewrite buckets of
    label tables that hold none of the updated ids (durable store)."""
    import os

    from nicefox_graphdb_spark.durable_store import node_key

    eng = CypherEngine(
        spark, GraphCatalog(spark), data_path=str(tmp_path / "g")
    )
    eng.query("CREATE (:UA {k: 1, v: 0})")
    eng.query("CREATE (:UB {k: 2, v: 0})")
    store = eng.store.tables
    files_before = sorted(store.manifest["tables"][node_key("UB")]["files"])
    # untyped match narrowed to the UA node — UB's table must be untouched
    eng.query("MATCH (n) WHERE n.k = 1 SET n.v = 9")
    files_after = sorted(store.manifest["tables"][node_key("UB")]["files"])
    assert files_before == files_after
    assert eng.query("MATCH (n) RETURN n.k AS k, n.v AS v ORDER BY k") == [
        {"k": 1, "v": 9},
        {"k": 2, "v": 0},
    ]


def test_run_to_memory_timeout_stops_query(spark, tmp_path):
    """ADVICE r7: a run that exceeds its timeout must STOP the streaming
    query before deleting the checkpoint, and raise instead of returning a
    partial table."""
    from nicefox_graphdb_spark import streaming as st
    from tests.conftest import SF_DIR

    d = st.stage_events_as_stream_source(spark, SF_DIR, n_chunks=2)
    stream = st.event_stream_from_dir(spark, d, max_files_per_trigger=1)
    with pytest.raises(TimeoutError):
        st.run_to_memory(
            st.hourly_rollup(stream), output_mode="complete", timeout=0.001
        )
    assert spark.streams.active == []
