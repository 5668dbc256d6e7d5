"""Write-clause tests (CREATE / MERGE / SET / REMOVE / DELETE) on a mutable
graph, modeled on the reference's CRUD suites (test/cypherqueries.test.ts)."""

import pytest

from conftest import jobs_during
from nicefox_graphdb_spark import CypherEngine
from nicefox_graphdb_spark.catalog import GraphCatalog


@pytest.fixture(params=["mem", "durable"])
def wengine(spark, request, tmp_path):
    """Fresh empty mutable graph per test — every write test runs twice:
    against the in-memory copy-on-write store and against the durable
    bucketed-parquet store (durable_store.py)."""
    if request.param == "durable":
        return CypherEngine(
            spark, GraphCatalog(spark), data_path=str(tmp_path / "g")
        )
    return CypherEngine(spark, GraphCatalog(spark), mutable=True)


def test_create_and_return(wengine):
    rows = wengine.query(
        "CREATE (n:Person {name: 'Alice', age: 30}) RETURN n.name AS name, n.age AS age"
    )
    assert rows == [{"name": "Alice", "age": 30}]
    assert wengine.query("MATCH (n:Person) RETURN count(*) AS c") == [{"c": 1}]


def test_create_relationship(wengine):
    wengine.query(
        "CREATE (a:Person {name: 'A'})-[:KNOWS {since: 2020}]->(b:Person {name: 'B'})"
    )
    rows = wengine.query(
        "MATCH (a:Person)-[r:KNOWS]->(b:Person) "
        "RETURN a.name AS a, r.since AS since, b.name AS b"
    )
    assert rows == [{"a": "A", "since": 2020, "b": "B"}]


def test_unwind_create_batch(wengine):
    wengine.query(
        "UNWIND $batch AS row CREATE (n:Item {name: row.name, price: row.price})",
        {"batch": [{"name": "x", "price": 1}, {"name": "y", "price": 2}]},
    )
    rows = wengine.query(
        "MATCH (n:Item) RETURN n.name AS name, n.price AS price ORDER BY name"
    )
    assert rows == [{"name": "x", "price": 1}, {"name": "y", "price": 2}]


def test_create_after_match(wengine):
    wengine.query("CREATE (:User {name: 'u1'})")
    wengine.query("CREATE (:User {name: 'u2'})")
    wengine.query(
        "MATCH (u:User) CREATE (u)-[:OWNS]->(i:Thing {owner: u.name})"
    )
    rows = wengine.query(
        "MATCH (u:User)-[:OWNS]->(i:Thing) RETURN u.name AS u, i.owner AS o ORDER BY u"
    )
    assert rows == [{"u": "u1", "o": "u1"}, {"u": "u2", "o": "u2"}]


def test_set_property(wengine):
    wengine.query("CREATE (:P {name: 'n', cnt: 1})")
    wengine.query("MATCH (n:P) SET n.cnt = n.cnt + 1, n.extra = 'e'")
    rows = wengine.query("MATCH (n:P) RETURN n.cnt AS cnt, n.extra AS extra")
    assert rows == [{"cnt": 2, "extra": "e"}]


def test_set_plus_equals(wengine):
    wengine.query("CREATE (:P {name: 'n', keep: 'k'})")
    wengine.query("MATCH (n:P) SET n += {added: 1}")
    rows = wengine.query(
        "MATCH (n:P) RETURN n.name AS name, n.keep AS keep, n.added AS added"
    )
    assert rows == [{"name": "n", "keep": "k", "added": 1}]


def test_set_replace(wengine):
    wengine.query("CREATE (:P {name: 'n', old: 'x'})")
    wengine.query("MATCH (n:P) SET n = {fresh: 'y'}")
    rows = wengine.query(
        "MATCH (n:P) RETURN n.fresh AS fresh, n.old AS old, n.name AS name"
    )
    assert rows == [{"fresh": "y", "old": None, "name": None}]


def test_set_label(wengine):
    wengine.query("CREATE (:P {name: 'n'})")
    wengine.query("MATCH (n:P) SET n:Q")
    assert wengine.query("MATCH (n:Q) RETURN count(*) AS c") == [{"c": 1}]


def test_remove_prop_and_label(wengine):
    wengine.query("CREATE (:P {name: 'n', junk: 1})")
    wengine.query("MATCH (n:P) SET n:Tmp")
    wengine.query("MATCH (n:P) REMOVE n.junk, n:Tmp")
    assert wengine.query("MATCH (n:P) RETURN n.junk AS j") == [{"j": None}]
    assert wengine.query("MATCH (n:Tmp) RETURN count(*) AS c") == [{"c": 0}]


def test_delete_and_detach(wengine):
    wengine.query("CREATE (a:P {name: 'a'})-[:L]->(b:P {name: 'b'})")
    with_edges = wengine.query("MATCH (:P)-[r:L]->(:P) RETURN count(*) AS c")
    assert with_edges == [{"c": 1}]
    wengine.query("MATCH (n:P {name: 'a'}) DETACH DELETE n")
    assert wengine.query("MATCH (n:P) RETURN count(*) AS c") == [{"c": 1}]
    assert wengine.query("MATCH (:P)-[r:L]->() RETURN count(*) AS c") == [{"c": 0}]


def test_merge_creates_then_matches(wengine):
    wengine.query("MERGE (n:City {name: 'Berlin'})")
    wengine.query("MERGE (n:City {name: 'Berlin'})")
    assert wengine.query("MATCH (n:City) RETURN count(*) AS c") == [{"c": 1}]


def test_merge_on_create_on_match(wengine):
    wengine.query(
        "MERGE (n:C {k: 'x'}) ON CREATE SET n.created = 1 ON MATCH SET n.matched = 1"
    )
    rows = wengine.query("MATCH (n:C) RETURN n.created AS c, n.matched AS m")
    assert rows == [{"c": 1, "m": None}]
    wengine.query(
        "MERGE (n:C {k: 'x'}) ON CREATE SET n.created = 2 ON MATCH SET n.matched = 9"
    )
    rows = wengine.query("MATCH (n:C) RETURN n.created AS c, n.matched AS m")
    assert rows == [{"c": 1, "m": 9}]


def test_merge_relationship(wengine):
    wengine.query("CREATE (:U {name: 'a'})")
    wengine.query("CREATE (:V {name: 'b'})")
    for _ in range(2):
        wengine.query(
            "MATCH (a:U {name: 'a'}), (b:V {name: 'b'}) MERGE (a)-[:LIKES]->(b)"
        )
    assert wengine.query("MATCH (:U)-[r:LIKES]->(:V) RETURN count(*) AS c") == [
        {"c": 1}
    ]


def test_unwind_merge_dedup(wengine):
    wengine.query(
        "UNWIND ['a', 'b', 'a'] AS nm MERGE (n:Tag {name: nm})"
    )
    rows = wengine.query("MATCH (n:Tag) RETURN n.name AS name ORDER BY name")
    assert rows == [{"name": "a"}, {"name": "b"}]


def test_write_on_immutable_engine_fails(spark):
    eng = CypherEngine(spark, GraphCatalog(spark), mutable=False)
    with pytest.raises(Exception, match="mutable"):
        eng.query("CREATE (n:X {a: 1})")


def test_invalid_property_type_rejected(wengine):
    import pytest as _pytest

    with _pytest.raises(Exception, match="InvalidPropertyType"):
        wengine.query("CREATE (n:P {bad: {nested: 1}})")
    with _pytest.raises(Exception, match="InvalidPropertyType"):
        wengine.query("CREATE (n:P {bad: [[1, 2], [3]]})")
    wengine.query("CREATE (n:P {ok: [1, 2, 3]})")  # flat list is storable
    with _pytest.raises(Exception, match="InvalidPropertyType"):
        wengine.query("MATCH (n:P) SET n.bad = {a: 1}")


def test_label_predicate_sees_set_label(wengine):
    """n:Lbl must consult runtime multi-label membership, not just the scan
    label (reference normalizes the full label set before predicate checks,
    src/executor.ts:10494-10504)."""
    wengine.query("UNWIND [1, 2, 3] AS i CREATE (:Acct {id: i})")
    wengine.query("MATCH (a:Acct) WHERE a.id >= 2 SET a:Vip")
    wengine.query("MATCH (a:Acct) WHERE a.id = 2 REMOVE a:Vip")
    assert wengine.query("MATCH (a:Acct) WHERE a:Vip RETURN a.id AS id") == [
        {"id": 3}
    ]
    # inside an expression (CASE), not only as a WHERE predicate
    assert wengine.query(
        "MATCH (a:Acct) RETURN sum(CASE WHEN a:Vip THEN 1 ELSE 0 END) AS v"
    ) == [{"v": 1}]
    # statically-true case stays constant-folded (scan label itself)
    assert wengine.query("MATCH (a:Acct) WHERE a:Acct RETURN count(*) AS c") == [
        {"c": 3}
    ]
    # conjunction form n:A:B
    assert wengine.query(
        "MATCH (a:Acct) WHERE a:Acct:Vip RETURN a.id AS id"
    ) == [{"id": 3}]


# --- correlated MERGE with an unbound endpoint (round-4) -----------------
# reference per-row merge interpreters, src/executor.ts:6835-7121


def test_merge_rel_unbound_endpoint_creates_per_row(wengine):
    wengine.query("CREATE (:A {name: 'a1', k: 1})")
    wengine.query("CREATE (:A {name: 'a2', k: 1})")
    wengine.query("MATCH (a:A) MERGE (a)-[:R]->(b:B {k: a.k})")
    # full-pattern semantics: each a gets its own b even with equal keys
    assert wengine.query("MATCH (b:B) RETURN count(*) AS c") == [{"c": 2}]
    # idempotent on re-run
    wengine.query("MATCH (a:A) MERGE (a)-[:R]->(b:B {k: a.k})")
    assert wengine.query("MATCH (b:B) RETURN count(*) AS c") == [{"c": 2}]
    assert wengine.query(
        "MATCH (:A)-[r:R]->(:B) RETURN count(*) AS c"
    ) == [{"c": 2}]


def test_merge_rel_unbound_on_create_on_match(wengine):
    wengine.query("CREATE (:U {name: 'u'})")
    wengine.query(
        "MATCH (u:U) MERGE (u)-[r:OWNS]->(t:T {k: 1}) "
        "ON CREATE SET r.new = true, t.src = u.name"
    )
    assert wengine.query(
        "MATCH (:U)-[r:OWNS]->(t:T) RETURN r.new AS n, t.src AS s"
    ) == [{"n": True, "s": "u"}]
    wengine.query(
        "MATCH (u:U) MERGE (u)-[r:OWNS]->(t:T {k: 1}) "
        "ON MATCH SET r.matched = true"
    )
    rows = wengine.query(
        "MATCH (:U)-[r:OWNS]->(:T) RETURN r.new AS n, r.matched AS m"
    )
    assert rows == [{"n": True, "m": True}]


def test_merge_rel_unbound_incoming_direction(wengine):
    wengine.query("CREATE (:V {name: 'v'})")
    wengine.query("MATCH (v:V) MERGE (v)<-[:IN]-(w:W {tag: v.name})")
    assert wengine.query(
        "MATCH (w:W)-[:IN]->(v:V) RETURN w.tag AS t, v.name AS n"
    ) == [{"t": "v", "n": "v"}]
    wengine.query("MATCH (v:V) MERGE (v)<-[:IN]-(w:W {tag: v.name})")
    assert wengine.query("MATCH (w:W) RETURN count(*) AS c") == [{"c": 1}]


def test_merge_rel_unbound_null_key_raises(wengine):
    from nicefox_graphdb_spark.graph_store import CypherRuntimeError

    wengine.query("CREATE (:A2 {name: 'x'})")
    with pytest.raises(CypherRuntimeError, match="null property"):
        wengine.query("MATCH (a:A2) MERGE (a)-[:R]->(b:B2 {k: a.nope})")


def test_merge_rel_unbound_existing_node_not_reused(wengine):
    # Neo4j: MERGE matches the WHOLE pattern; a propertied node without the
    # edge is not reused — a fresh node + edge is created
    wengine.query("CREATE (:Tgt {k: 5})")
    wengine.query("CREATE (:Src {name: 's'})")
    wengine.query("MATCH (s:Src) MERGE (s)-[:E]->(t:Tgt {k: 5})")
    assert wengine.query("MATCH (t:Tgt) RETURN count(*) AS c") == [{"c": 2}]
    assert wengine.query(
        "MATCH (:Src)-[:E]->(:Tgt) RETURN count(*) AS c"
    ) == [{"c": 1}]


def test_merge_rel_unbound_rel_props_in_key(wengine):
    wengine.query("CREATE (:P4 {name: 'p'})")
    wengine.query("MATCH (p:P4) MERGE (p)-[:L {w: 1}]->(q:Q4 {k: 1})")
    # different rel props → different full pattern → new node+edge
    wengine.query("MATCH (p:P4) MERGE (p)-[:L {w: 2}]->(q:Q4 {k: 1})")
    assert wengine.query("MATCH (:P4)-[l:L]->(:Q4) RETURN count(*) AS c") == [
        {"c": 2}
    ]
    # same rel props → match
    wengine.query("MATCH (p:P4) MERGE (p)-[:L {w: 1}]->(q:Q4 {k: 1})")
    assert wengine.query("MATCH (:P4)-[l:L]->(:Q4) RETURN count(*) AS c") == [
        {"c": 2}
    ]


def test_set_replace_map_with_id_key(wengine):
    """Regression: a replacement map whose key collides with the internal
    update-join alias (a property literally named `id`) used to raise
    AMBIGUOUS_REFERENCE on both stores."""
    wengine.query("CREATE (n:RK {id: 1, x: 2})")
    rows = wengine.query(
        "MATCH (n:RK) SET n = {id: 7, v: 5} "
        "RETURN keys(n) AS ks, n.id AS id, n.v AS v, n.x AS x"
    )
    assert rows == [{"ks": ["id", "v"], "id": 7, "v": 5, "x": None}]


def test_set_replace_map_null_value_removes_key(wengine):
    wengine.query("CREATE (n:RN {id: 1, x: 2})")
    rows = wengine.query(
        "MATCH (n:RN) SET n = {id: 1, w: null, v: 5} RETURN keys(n) AS ks"
    )
    assert rows == [{"ks": ["id", "v"]}]


def test_create_rel_null_endpoint_raises(wengine):
    """Reference parity: CREATE through a null-bound endpoint errors
    (src/executor.ts:2258-2302 'Cannot resolve source node ID'), it does
    not silently create nothing."""
    from nicefox_graphdb_spark.graph_store import CypherRuntimeError

    wengine.query("CREATE (:NE {id: 1})")
    with pytest.raises(CypherRuntimeError, match="null endpoint"):
        wengine.query(
            "MATCH (a:NE) OPTIONAL MATCH (a)-[:R]->(b) "
            "CREATE (b)-[:S]->(a) RETURN 1 AS one"
        )
    # and nothing was half-written (query-scoped atomicity)
    assert wengine.query("MATCH ()-[r:S]->() RETURN count(r) AS c") == [{"c": 0}]


def test_merge_rel_null_endpoint_skips(wengine):
    """Reference parity: MERGE through a null-bound endpoint silently skips
    that row (src/executor.ts:7135-7138 'return'), unlike CREATE."""
    wengine.query("CREATE (:NM {id: 1})")
    wengine.query(
        "MATCH (a:NM) OPTIONAL MATCH (a)-[:R]->(b) MERGE (b)-[:S]->(a)"
    )
    assert wengine.query("MATCH ()-[r:S]->() RETURN count(r) AS c") == [{"c": 0}]


@pytest.mark.parametrize(
    "pattern",
    [
        "(a)-[:X]->(b:BX)",
        "(a)-[:X2]->(b)",
        "(a)-[:X3]->(b:BY)-[:X4]->(c:CY)",
    ],
)
def test_merge_rel_null_endpoint_creates_nothing(wengine, pattern):
    """A null bound endpoint merges nothing and binds nothing, whatever
    the far side of the pattern: no orphan node, no edge, no error."""
    wengine.query("CREATE (:NA {id: 1})")
    rows = wengine.query(
        f"OPTIONAL MATCH (a:NA {{id: 999}}) MERGE {pattern} RETURN count(*) AS c"
    )
    assert rows == [{"c": 0}]
    assert wengine.query("MATCH (n) RETURN count(n) AS c") == [{"c": 1}]
    assert wengine.query("MATCH ()-[r]->() RETURN count(r) AS c") == [{"c": 0}]


def test_merge_rel_rel_props_read_bound_node(wengine):
    """Both endpoints bound, relationship properties read a binding value:
    the key is computed per row, and a rerun matches instead of creating."""
    wengine.query("CREATE (:RA {id: 1}), (:RA {id: 2})")
    q = (
        "MATCH (a:RA {id: 1}), (b:RA {id: 2}) "
        "MERGE (a)-[r:T {w: a.id}]->(b) RETURN r.w AS w"
    )
    assert wengine.query(q) == [{"w": 1}]
    assert wengine.query(q) == [{"w": 1}]
    assert wengine.query("MATCH ()-[r:T]->() RETURN count(r) AS c") == [{"c": 1}]


def test_merge_rel_rel_props_read_unwound_value(wengine):
    wengine.query("CREATE (:RB {id: 1}), (:RB {id: 2})")
    rows = wengine.query(
        "MATCH (a:RB {id: 1}), (b:RB {id: 2}) UNWIND [1, 2, 2] AS x "
        "MERGE (a)-[r:T2 {w: x}]->(b) RETURN r.w AS w ORDER BY w"
    )
    # one row per input row; the two x = 2 rows bind the same edge
    assert rows == [{"w": 1}, {"w": 2}, {"w": 2}]
    assert wengine.query(
        "MATCH (:RB {id: 1})-[r:T2]->(:RB {id: 2}) RETURN r.w AS w ORDER BY w"
    ) == [{"w": 1}, {"w": 2}]


def test_set_replace_map_on_edge_persists(wengine):
    """Regression: SET r = {...} nulled unmentioned props on the in-flight
    binding but the store kept them — a re-read saw stale keys."""
    wengine.query("CREATE (:EA {id: 1})-[:R {w: 1, z: 2}]->(:EB {id: 2})")
    wengine.query("MATCH (:EA)-[r:R]->(:EB) SET r = {v: 9}")
    rows = wengine.query(
        "MATCH (:EA)-[r:R]->(:EB) RETURN keys(r) AS ks, r.v AS v, r.w AS w"
    )
    assert rows == [{"ks": ["v"], "v": 9, "w": None}]


def test_multi_row_set_last_wins(wengine):
    """Reference parity: one UPDATE per binding row in row order — the last
    row's value sticks (dropDuplicates used to keep an arbitrary one)."""
    wengine.query("CREATE (:MR {id: 1})")
    wengine.query("UNWIND [1, 2, 3] AS x MATCH (n:MR) SET n.v = x")
    assert wengine.query("MATCH (n:MR) RETURN n.v AS v") == [{"v": 3}]
    wengine.query(
        "UNWIND [30, 10, 20] AS x WITH x ORDER BY x MATCH (n:MR) SET n.v = x"
    )
    assert wengine.query("MATCH (n:MR) RETURN n.v AS v") == [{"v": 30}]


def test_internal_name_collisions(wengine):
    """Adversarial identifiers: user names that used to collide with
    internal placeholder / temp column names."""
    assert wengine.query(
        "WITH 5 AS __agg0 UNWIND [1, 2] AS x RETURN min(x) AS m, __agg0"
    ) == [{"m": 1, "__agg0": 5}]
    wengine.query("CREATE (n:ZSS {v: 1}) SET n.`__set_seq` = 9")
    assert wengine.query("MATCH (n:ZSS) RETURN n.`__set_seq` AS s") == [
        {"s": 9}
    ]


def test_reserved_structural_prop_names(wengine):
    import pytest as _pt

    from nicefox_graphdb_spark.cypher.expressions import CypherCompileError

    with _pt.raises(CypherCompileError, match="reserved"):
        wengine.query("CREATE (n:ZR {`_id`: 7})")
    with _pt.raises(CypherCompileError, match="reserved"):
        wengine.query("CREATE (n:ZR {ok: 1}) SET n.`_src` = 2")


@pytest.fixture()
def dengine(spark, tmp_path):
    """Durable-store engine only — job-count guards pin the durable write
    path's Spark-job budget (the driver-probe elimination, round-9)."""
    return CypherEngine(spark, GraphCatalog(spark), data_path=str(tmp_path / "g"))


def test_merge_job_budget_keyless(spark, dengine):
    """Round-9 (VERDICT r8 #2): uncorrelated/keyless MERGE must not issue
    isEmpty() driver-probe jobs — emptiness decisions ride the created-set
    checkpoint via observe. Bounds are the measured post-fix job counts;
    a reintroduced probe shows up as +1/+2 and trips the guard."""
    dengine.query("CREATE (:Person {name: 'A'}), (:Person {name: 'B'})")
    n_create = jobs_during(
        spark,
        lambda: dengine.query(
            "MATCH (p:Person) MERGE (s:Singleton) RETURN count(*) AS c"
        ),
    )
    assert n_create <= 9, n_create
    n_match = jobs_during(
        spark,
        lambda: dengine.query(
            "MATCH (p:Person) MERGE (s:Singleton) RETURN count(*) AS c"
        ),
    )
    assert n_match <= 6, n_match
    assert dengine.query("MATCH (s:Singleton) RETURN count(*) AS c") == [{"c": 1}]


def test_merge_job_budget_standalone_chain(spark, dengine):
    n_create = jobs_during(
        spark,
        lambda: dengine.query("MERGE (a:City {k: 1})-[:IN]->(b:Country {k: 2})"),
    )
    assert n_create <= 12, n_create
    n_match = jobs_during(
        spark,
        lambda: dengine.query("MERGE (a:City {k: 1})-[:IN]->(b:Country {k: 2})"),
    )
    assert n_match <= 4, n_match
    assert dengine.query(
        "MATCH (:City)-[:IN]->(:Country) RETURN count(*) AS c"
    ) == [{"c": 1}]


# Relationship MERGE budgets: each bound is the job count measured with the
# single-hop compilers that preceded the chain path, plus 2.


def test_merge_job_budget_both_bound(spark, dengine):
    """The benchmark's keyed edge upsert (perfbench write_mix merge_rel)."""
    dengine.query(
        "UNWIND range(0, 199) AS i CREATE (:Acct {id: i, bal: i % 1000})"
    )
    dengine.query(
        "MATCH (a:Acct) WITH a, (a.id * 7 + 3) % 200 AS j "
        "MATCH (b:Acct) WHERE b.id = j CREATE (a)-[:PAYS {amt: a.id % 100}]->(b)"
    )
    q = (
        "MATCH (a:Acct {id: $a}), (b:Acct {id: $b}) "
        "MERGE (a)-[r:PAYS]->(b) ON CREATE SET r.amt = $amt"
    )
    n_create = jobs_during(
        spark,
        lambda: dengine.query(q, {"a": 5, "b": 6, "amt": 7}),
    )
    # ON CREATE SET r.amt folds into the created relationship rows: no
    # separate rewrite (measured 8 jobs + 2)
    assert n_create <= 10, n_create
    n_match = jobs_during(
        spark,
        lambda: dengine.query(q, {"a": 5, "b": 6, "amt": 8}),
    )
    assert n_match <= 10, n_match
    # ON CREATE ran once: the match kept the first amount
    assert dengine.query(
        "MATCH (:Acct {id: 5})-[r:PAYS]->(:Acct {id: 6}) RETURN r.amt AS amt"
    ) == [{"amt": 7}]


@pytest.mark.parametrize(
    "name, merge, budgets, check, expected",
    [
        (
            "one-unbound",
            "MERGE (a)-[:HAS]->(w:Wallet {acct: a.id})",
            (9, 9),
            "MATCH (:Acct)-[:HAS]->(w:Wallet) RETURN count(*) AS c, sum(w.acct) AS s",
            # one wallet per account: acct ids 1..20 sum to 210
            {"c": 20, "s": 210},
        ),
        (
            "both-unbound",
            "MERGE (s:Seg {m: a.id % 3})-[:COVERS]->(z:Zone)",
            (10, 10),
            "MATCH (s:Seg)-[:COVERS]->(:Zone) RETURN count(*) AS c, sum(s.m) AS s",
            # one Seg per distinct id % 3 (0, 1, 2)
            {"c": 3, "s": 3},
        ),
        (
            "both-unbound-uncorrelated",
            "MERGE (x:Hub {h: 1})-[:L]->(y:Spoke {s: 2})",
            (10, 10),
            "MATCH (:Hub)-[:L]->(y:Spoke) RETURN count(*) AS c, sum(y.s) AS s",
            # one chain for all rows
            {"c": 1, "s": 2},
        ),
        (
            "on-create-on-match",
            "MERGE (a)-[:OWNS]->(t:T {k: a.id}) "
            "ON CREATE SET t.c = 1 ON MATCH SET t.m = 2",
            (18, 20),
            "MATCH (:Acct)-[:OWNS]->(t:T) RETURN count(*) AS c, "
            "sum(t.c) + sum(t.m) AS s",
            # 20 created (t.c = 1), then 20 matched (t.m = 2)
            {"c": 20, "s": 60},
        ),
    ],
)
def test_merge_job_budget_correlated(
    spark, dengine, name, merge, budgets, check, expected
):
    """Relationship MERGE under 20 bound rows, first run (creates) and
    rerun (matches), with the final graph computed by hand."""
    dengine.query("UNWIND range(1, 20) AS i CREATE (:Acct {id: i})")
    # first run (creates), then the rerun (matches)
    counts = [
        jobs_during(spark, lambda: dengine.query(f"MATCH (a:Acct) {merge}"))
        for _ in range(2)
    ]
    assert all(n <= b for n, b in zip(counts, budgets)), counts
    assert dengine.query(check) == [expected]


def test_merge_rel_on_create_folds_only_self_contained_items(wengine):
    """ON CREATE items reading only the created element fold into its
    appended rows; an item reading another variable runs as a rewrite,
    and an element another item reads is not folded, so every item sees
    the values the items before it set."""
    wengine.query("CREATE (:P {id: 1}), (:P {id: 2}), (:P {id: 3})")
    wengine.query(
        "MATCH (a:P {id: 1}), (b:P {id: 2}) "
        "MERGE (a)-[r:L]->(c:Q {k: 5}) "
        "ON CREATE SET r.w = $w, c.z = c.k * 2, a.seen = b.id",
        {"w": 4},
    )
    assert wengine.query(
        "MATCH (a:P {id: 1})-[r:L]->(c:Q) RETURN r.w AS w, c.z AS z, a.seen AS s"
    ) == [{"w": 4, "z": 10, "s": 2}]
    wengine.query(
        "MATCH (a:P {id: 1}), (b:P {id: 3}) MERGE (a)-[r:L]->(b) "
        "ON CREATE SET r.w = 7, b.got = r.w"
    )
    assert wengine.query(
        "MATCH (:P {id: 1})-[r:L]->(b:P) RETURN r.w AS w, b.got AS g"
    ) == [{"w": 7, "g": 7}]


def test_merge_keyless_zero_input_creates_nothing(wengine):
    """Zero input rows → MERGE executes zero times; the decision is data
    (a limit-1 seed), not a driver probe — nothing may be created."""
    wengine.query("CREATE (:Person {name: 'A'})")
    rows = wengine.query(
        "MATCH (p:Person) WHERE p.name = 'ZZZ' MERGE (s:Solo) "
        "RETURN count(*) AS c"
    )
    assert rows == [{"c": 0}]
    assert wengine.query("MATCH (s:Solo) RETURN count(*) AS c") == [{"c": 0}]


def test_merge_multihop_zero_input_creates_nothing(wengine):
    wengine.query("CREATE (:Person {name: 'A'})")
    rows = wengine.query(
        "MATCH (p:Person) WHERE p.name = 'ZZZ' "
        "MERGE (x:Hub {h: 1})-[:L]->(y:Spoke {s: 1}) RETURN count(*) AS c"
    )
    assert rows == [{"c": 0}]
    assert wengine.query(
        "MATCH (:Hub)-[:L]->(:Spoke) RETURN count(*) AS c"
    ) == [{"c": 0}]


def test_merge_multihop_uncorrelated_under_rows(wengine):
    """Non-empty input: the chain is created ONCE globally and binds to
    every row (the limit-1 seed path, round-9)."""
    wengine.query("CREATE (:Person {name: 'A'}), (:Person {name: 'B'})")
    rows = wengine.query(
        "MATCH (p:Person) MERGE (x:Hub {h: 1})-[:L]->(y:Spoke {s: 1}) "
        "RETURN count(*) AS c"
    )
    assert rows == [{"c": 2}]
    assert wengine.query(
        "MATCH (:Hub)-[:L]->(:Spoke) RETURN count(*) AS c"
    ) == [{"c": 1}]
    # second run matches, still one chain; ON MATCH visible
    rows = wengine.query(
        "MATCH (p:Person) MERGE (x:Hub {h: 1})-[:L]->(y:Spoke {s: 1}) "
        "ON MATCH SET x.seen = true RETURN count(*) AS c"
    )
    assert rows == [{"c": 2}]
    assert wengine.query(
        "MATCH (x:Hub) WHERE x.seen RETURN count(*) AS c"
    ) == [{"c": 1}]


def test_merge_rel_one_unbound_zero_input(wengine):
    """Zero input rows, relationship type never created: zero executions,
    nothing created, variables still bound downstream (round-9)."""
    wengine.query("CREATE (:Person {name: 'A'})")
    rows = wengine.query(
        "MATCH (p:Person) WHERE p.name = 'ZZZ' "
        "MERGE (p)-[r:OWNS]->(c:Car {plate: p.name}) "
        "RETURN count(r) AS c"
    )
    assert rows == [{"c": 0}]
    assert wengine.query("MATCH (c:Car) RETURN count(*) AS c") == [{"c": 0}]


def test_merge_rel_both_unbound_zero_input(wengine):
    wengine.query("CREATE (:Person {name: 'A'})")
    rows = wengine.query(
        "MATCH (p:Person) WHERE p.name = 'ZZZ' "
        "MERGE (a:Org {k: p.name})-[r:AT]->(b:Site {k: p.name}) "
        "RETURN count(r) AS c"
    )
    assert rows == [{"c": 0}]
    assert wengine.query("MATCH (n:Org) RETURN count(*) AS c") == [{"c": 0}]
    assert wengine.query("MATCH (n:Site) RETURN count(*) AS c") == [{"c": 0}]


@pytest.mark.parametrize(
    "pattern", ["(a)-[:N1]->(b:B)-[:N2]->(c:C)", "(a)-[:N3]->(b)"]
)
def test_merge_chain_zero_input_unknown_type(wengine, pattern):
    """Zero input rows through the chain path with a relationship type
    that was never created: zero rows out, every pattern variable still
    bound, nothing created."""
    wengine.query("CREATE (:Acct {id: 1})")
    rows = wengine.query(
        f"MATCH (a:Acct) WHERE a.id > 1000 MERGE {pattern} "
        "RETURN count(*) AS c, count(b) AS cb"
    )
    assert rows == [{"c": 0, "cb": 0}]
    assert wengine.query("MATCH (n) RETURN count(n) AS c") == [{"c": 1}]


def test_set_last_write_wins_requires_order_by(wengine):
    """Known-divergence pin (COVERAGE.md): multi-row SET of one entity
    honors a surviving WITH...ORDER BY deterministically; WITHOUT an
    ORDER BY the winner is unspecified (physical row order) — the test
    asserts only that SOME input value won, not which."""
    wengine.query("CREATE (:Counter {name: 'c'})")
    # explicit ORDER BY: the last row in the established order wins
    wengine.query(
        "MATCH (n:Counter) UNWIND [3, 1, 2] AS x "
        "WITH n, x ORDER BY x SET n.v = x"
    )
    assert wengine.query("MATCH (n:Counter) RETURN n.v AS v") == [{"v": 3}]
    # no ORDER BY: unspecified winner, but it must be one of the inputs
    wengine.query("MATCH (n:Counter) UNWIND [10, 20, 30] AS x SET n.v = x")
    got = wengine.query("MATCH (n:Counter) RETURN n.v AS v")[0]["v"]
    assert got in (10, 20, 30)


def test_collect_distinct_entity_branch_dedups_by_identity(wengine):
    """Round-9 (ADVICE r8): collect(DISTINCT coalesce/CASE with entity
    arms) dedups by the BRANCHED ENTITY IDENTITY, like plain
    collect(DISTINCT n) — two prop-identical but distinct nodes stay two
    list elements."""
    wengine.query("CREATE (:P {name: 'x'}), (:P {name: 'x'}), (:P {name: 'y'})")
    for q in (
        "MATCH (p:P) OPTIONAL MATCH (q:Q) "
        "RETURN collect(DISTINCT coalesce(q, p)) AS l",
        "MATCH (p:P) RETURN collect(DISTINCT CASE WHEN true THEN p ELSE null END) AS l",
        "MATCH (p:P) RETURN collect(DISTINCT coalesce(null, p)) AS l",
    ):
        lst = wengine.query(q)[0]["l"]
        assert sorted(d["name"] for d in lst) == ["x", "x", "y"], q


def test_uncorrelated_multihop_merge_zero_input_rows(g):
    """ADVICE r6 #2: MERGE runs per input row — a preceding MATCH with
    zero rows must create NOTHING and return zero rows."""
    g.query("CREATE (:Seed {k: 1})")
    rows = g.query(
        "MATCH (s:Nope) MERGE (a:A)-[:X]->(b:B)-[:Y]->(c:C) RETURN a, b, c"
    )
    assert rows == []
    assert g.query("MATCH (n:A) RETURN count(*) AS c") == [{"c": 0}]
    assert g.query("MATCH ()-[r:X]->() RETURN count(*) AS c") == [{"c": 0}]
    # sanity: with one input row the same MERGE creates the chain once
    g.query("MATCH (s:Seed) MERGE (a:A)-[:X]->(b:B)-[:Y]->(c:C)")
    assert g.query("MATCH (n:A) RETURN count(*) AS c") == [{"c": 1}]


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


def test_write_only_result_is_single_partition(spark, tmp_path):
    from nicefox_graphdb_spark import CypherEngine
    from nicefox_graphdb_spark.catalog import GraphCatalog

    eng = CypherEngine(spark, GraphCatalog(spark), mutable=True)
    df = eng.dataframe("CREATE (:P {x: 1})")
    # the write-only empty result must stay <=1 partition: at 32 empty
    # partitions its collect was a 32-task no-op job per statement (r11)
    assert df.rdd.getNumPartitions() <= 1
    assert df.count() == 0


@pytest.mark.parametrize("clause", ["CREATE", "MERGE"])
def test_rel_from_untyped_binding_keys_by_node_label(wengine, clause):
    """A node bound by an untyped scan keys a new relationship under its
    own label, not the catalog's first label: the labeled match finds it."""
    wengine.query("CREATE (:Acct {name: 'acct'}), (:Person {name: 'x'})")
    wengine.query(f"MATCH (n) WHERE n.name = 'x' {clause} (n)-[:R]->(m:M)")
    count = "MATCH {} RETURN count(*) AS c"
    assert wengine.query(count.format("(p:Person)-[:R]->(m)")) == [{"c": 1}]
    assert wengine.query(count.format("(p)-[:R]->(m)")) == [{"c": 1}]
    assert wengine.query(count.format("(a:Acct)-[:R]->(m)")) == [{"c": 0}]
    # rows of two labels split into one table per endpoint label pair
    wengine.query(f"MATCH (n) WHERE n.name IN ['x', 'acct'] {clause} (n)-[:S]->(:M)")
    assert wengine.query(
        "MATCH (a)-[:S]->(:M) RETURN labels(a) AS l ORDER BY l"
    ) == [{"l": ["Acct"]}, {"l": ["Person"]}]
    assert wengine.query(count.format("(:Acct)-[:S]->(:M)")) == [{"c": 1}]


@pytest.mark.parametrize("clause", ["CREATE", "MERGE"])
def test_rel_from_branched_unlabeled_node_is_written(wengine, clause):
    """coalesce() over an unlabeled node binds an entity whose per-row
    label is the unlabeled sentinel: its relationship is written under it
    (not dropped, and no null-key MERGE error)."""
    wengine.query(
        f"CREATE (a), (b:B) WITH coalesce(a, b) AS n {clause} (n)-[:R]->(:M)"
    )
    assert wengine.query(
        "MATCH (x)-[:R]->(:M) RETURN labels(x) AS l, count(*) AS c"
    ) == [{"l": [], "c": 1}]
    # a labeled winner keys under its label
    wengine.query("CREATE (:K {k: 1})")
    wengine.query(
        "MATCH (k:K) OPTIONAL MATCH (a:Nope) "
        f"WITH coalesce(a, k) AS n {clause} (n)-[:S]->(:M)"
    )
    assert wengine.query("MATCH (:K)-[:S]->(:M) RETURN count(*) AS c") == [{"c": 1}]


@pytest.mark.parametrize("clause", ["CREATE", "MERGE"])
def test_rel_from_unwound_multi_label_node_keys_by_primary_label(
    wengine, clause
):
    """UNWIND nodes(p) over a statically multi-label node keys its new
    relationship under the primary label, each element under its own."""
    wengine.query("CREATE (:A:B {k: 1})-[:T]->(:C {k: 2})")
    wengine.query(
        f"MATCH p = (a:A:B)-[:T]->(c:C) UNWIND nodes(p) AS n {clause} (n)-[:R]->(:M)"
    )
    count = "MATCH {} RETURN count(*) AS c"
    assert wengine.query(count.format("()-[:R]->(:M)")) == [{"c": 2}]
    assert wengine.query(count.format("(:A)-[:R]->(:M)")) == [{"c": 1}]
    assert wengine.query(count.format("(:C)-[:R]->(:M)")) == [{"c": 1}]


def test_first_relationship_type_write_job_budget(spark, tmp_path):
    """The first CREATE of a relationship type on a durable store (the
    benchmark's seeding statement) registers the new table with zero files:
    one Spark write, not an empty-table write before it (measured 4 jobs;
    6 when the empty table was written). A reopened store reads every row."""
    path = str(tmp_path / "g")
    eng = CypherEngine(spark, GraphCatalog(spark), data_path=path)
    eng.query(
        "UNWIND range(0, 1999) AS i CREATE (:Acct {id: i, bal: i % 1000, tier: 'base'})"
    )
    n = jobs_during(spark, lambda: eng.query(
        "MATCH (a:Acct) WITH a, (a.id * 7 + 3) % 2000 AS j "
        "MATCH (b:Acct) WHERE b.id = j CREATE (a)-[:PAYS {amt: a.id % 100}]->(b)"
    ))
    assert n <= 4, n
    reopened = CypherEngine(spark, GraphCatalog(spark), data_path=path)
    assert reopened.query("MATCH (a:Acct) RETURN count(*) AS n") == [{"n": 2000}]
    assert reopened.query(
        "MATCH (:Acct)-[r:PAYS]->(:Acct) RETURN count(*) AS m, sum(r.amt) AS amt"
    ) == [{"m": 2000, "amt": sum(i % 100 for i in range(2000))}]
