"""End-to-end read-path tests over the sf0.001 graph projection.

Mirrors the reference's test/cypherqueries.test.ts style: real queries with
pinned expected results (deterministic — testdata is seeded)."""

import pytest


def q(engine, cypher, params=None):
    return engine.query(cypher, params)


def test_flagship_one_hop_agg(engine):
    rows = q(
        engine,
        "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.mktsegment = 'BUILDING' "
        "RETURN c.name AS name, count(o) AS orders ORDER BY orders DESC, name LIMIT 3",
    )
    assert rows == [
        {"name": "Customer#000000014", "orders": 15},
        {"name": "Customer#000000092", "orders": 15},
        {"name": "Customer#000000029", "orders": 14},
    ]


def test_param_inlining(engine):
    rows = q(
        engine,
        "MATCH (c:Customer) WHERE c.mktsegment = $seg RETURN count(*) AS cnt",
        {"seg": "BUILDING"},
    )
    assert rows == [{"cnt": 34}]


def test_optional_match_preserves_rows(engine):
    rows = q(
        engine,
        "MATCH (r:Region) OPTIONAL MATCH (r)<-[:IN_REGION]-(n:Nation {name: 'NATION_0'}) "
        "RETURN r.name AS region, n.name AS nation ORDER BY region",
    )
    assert len(rows) == 5
    assert sum(1 for r in rows if r["nation"] is None) == 4


def test_collect_and_size(engine):
    rows = q(
        engine,
        "MATCH (n:Nation)-[:IN_REGION]->(r:Region) WITH r, collect(n.name) AS names "
        "RETURN r.name AS region, size(names) AS n ORDER BY region",
    )
    assert all(r["n"] == 5 for r in rows) and len(rows) == 5


def test_distinct(engine):
    rows = q(
        engine,
        "MATCH (c:Customer)-[:IN_NATION]->(n:Nation) RETURN DISTINCT n.name AS nation",
    )
    assert len(rows) == len({r["nation"] for r in rows})


def test_union_all_vs_union(engine):
    all_rows = q(
        engine,
        "MATCH (r:Region) RETURN r.name AS name UNION ALL MATCH (r:Region) RETURN r.name AS name",
    )
    assert len(all_rows) == 10
    dedup = q(
        engine,
        "MATCH (r:Region) RETURN r.name AS name UNION MATCH (r:Region) RETURN r.name AS name",
    )
    assert len(dedup) == 5


def test_var_length_chain(engine):
    rows = q(
        engine,
        "MATCH (e:Event {event_id: 0})-[:NEXT*1..3]->(f:Event) "
        "RETURN f.event_id AS eid ORDER BY eid",
    )
    assert [r["eid"] for r in rows] == [6, 8, 88]


def test_var_length_counts_by_depth(engine):
    one = q(engine, "MATCH (e:Event)-[:NEXT*1..1]->(f) RETURN count(*) AS c")[0]["c"]
    two = q(engine, "MATCH (e:Event)-[:NEXT*1..2]->(f) RETURN count(*) AS c")[0]["c"]
    assert two > one


def test_anti_pattern_predicate(engine):
    rows = q(
        engine,
        "MATCH (c:Customer) WHERE NOT (c)-[:PLACED]->(:Order) RETURN count(*) AS loners",
    )
    assert rows == [{"loners": 0}]


def test_pattern_comprehension(engine):
    rows = q(
        engine,
        "MATCH (r:Region) RETURN r.name AS region, "
        "size([(n:Nation)-[:IN_REGION]->(r) | n.name]) AS n ORDER BY region",
    )
    assert all(r["n"] == 5 for r in rows)


def test_theta_join(engine):
    rows = q(
        engine,
        "MATCH (c1:Customer)-[:IN_NATION]->(n:Nation)<-[:IN_NATION]-(c2:Customer) "
        "WHERE c1.custkey < c2.custkey RETURN count(*) AS pairs",
    )
    assert rows == [{"pairs": 447}]


def test_with_where_as_having(engine):
    rows = q(
        engine,
        "MATCH (c:Customer)-[:PLACED]->(o:Order) WITH c, count(o) AS cnt "
        "WHERE cnt > 12 RETURN count(*) AS big",
    )
    assert rows == [{"big": 34}]


def test_skip_limit(engine):
    rows = q(
        engine,
        "MATCH (n:Nation) RETURN n.name AS name ORDER BY name SKIP 2 LIMIT 2",
    )
    assert [r["name"] for r in rows] == ["NATION_10", "NATION_11"]


def test_call_procedures(engine):
    labels = {r["label"] for r in q(engine, "CALL db.labels()")}
    assert {"Customer", "Order", "Part", "Region"} <= labels
    types = {r["relationshipType"] for r in q(engine, "CALL db.relationshipTypes()")}
    assert {"PLACED", "CONTAINS", "NEXT"} <= types


def test_whole_node_return_is_property_struct(engine):
    rows = q(engine, "MATCH (r:Region {name: 'ASIA'}) RETURN r")
    assert rows[0]["r"]["name"] == "ASIA"


def test_edge_property_access(engine):
    rows = q(
        engine,
        "MATCH (o:Order)-[ct:CONTAINS]->(p:Part) WHERE ct.quantity > 49 "
        "RETURN count(*) AS cnt",
    )
    assert rows[0]["cnt"] > 0


def test_undirected(engine):
    rows = q(engine, "MATCH (n:Nation)-[:IN_REGION]-(x) RETURN count(*) AS cnt")
    assert rows == [{"cnt": 25}]


def test_named_path_length(engine):
    rows = q(
        engine,
        "MATCH p = (e:Event {event_id: 0})-[:NEXT*1..2]->(f:Event) "
        "RETURN length(p) AS len ORDER BY len",
    )
    assert [r["len"] for r in rows] == [1, 2]


def test_order_null_handling(engine):
    rows = q(
        engine,
        "MATCH (r:Region) OPTIONAL MATCH (r)<-[:IN_REGION]-(n:Nation {name: 'NATION_3'}) "
        "RETURN r.name AS region, n.name AS nation ORDER BY nation ASC, region ASC",
    )
    # Cypher: nulls last on ASC
    assert rows[0]["nation"] == "NATION_3"
    assert rows[-1]["nation"] is None


def test_shortest_path_single(engine):
    rows = engine.query(
        "MATCH p = shortestPath((e:Event {event_id: 0})-[:NEXT*1..3]->(f:Event)) "
        "RETURN f.event_id AS dst, length(p) AS len ORDER BY len"
    )
    assert [r["len"] for r in rows] == [1, 2, 3]


def test_all_shortest_paths(engine):
    rows = engine.query(
        "MATCH allShortestPaths((e:Event {event_id: 0})-[:NEXT*1..2]->(f:Event)) "
        "RETURN count(*) AS c"
    )
    assert rows == [{"c": 2}]


def test_var_length_limit_bound(engine):
    # LIMIT without ORDER BY on a bare var-length expansion: early-stop
    # path must still return exactly `limit` rows
    rows = engine.query(
        "MATCH (e:Event {event_id: 0})-[:NEXT*1..5]->(f) "
        "RETURN f.event_id AS id LIMIT 2"
    )
    assert len(rows) == 2


class TestEntityCoalesce:
    """coalesce(b, c) over bound entities stays entity-valued (reference
    src/translator.ts:548,688): rendering, property access, labels/type,
    MATCH reuse, and SET all see the per-row winner."""

    def test_render_and_props(self, spark):
        from nicefox_graphdb_spark import CypherEngine

        e = CypherEngine(spark, None, mutable=True)
        e.query("CREATE (:CA {id: 1, nm: 'a'})-[:CR {w: 7}]->(:CB {id: 2})")
        assert e.query(
            "OPTIONAL MATCH (x:Nope) MATCH (a:CA) RETURN coalesce(x, a) AS y"
        ) == [{"y": {"id": 1, "nm": "a"}}]
        assert e.query(
            "OPTIONAL MATCH (x:Nope) MATCH (a:CA) "
            "WITH coalesce(x, a) AS y RETURN y.id AS id, y.nm AS nm"
        ) == [{"id": 1, "nm": "a"}]
        assert e.query(
            "MATCH (a:CA), (b:CB) RETURN coalesce(a, b).id AS id"
        ) == [{"id": 1}]
        assert e.query(
            "MATCH (a:CA), (b:CB) RETURN coalesce(null, b).id AS id"
        ) == [{"id": 2}]

    def test_labels_type_match_reuse_set(self, spark):
        from nicefox_graphdb_spark import CypherEngine

        e = CypherEngine(spark, None, mutable=True)
        e.query("CREATE (:CA {id: 1})-[:CR {w: 7}]->(:CB {id: 2})")
        assert e.query(
            "MATCH (a:CA), (b:CB) WITH coalesce(null, b, a) AS y "
            "RETURN labels(y) AS l"
        ) == [{"l": ["B".replace("B", "CB")]}]
        assert e.query(
            "MATCH ()-[r:CR]->() OPTIONAL MATCH ()-[s:Nope]->() "
            "WITH coalesce(s, r) AS y RETURN y.w AS w, type(y) AS ty"
        ) == [{"w": 7, "ty": "CR"}]
        assert e.query(
            "OPTIONAL MATCH (x:Nope) MATCH (a:CA) WITH coalesce(x, a) AS y "
            "MATCH (y)-[:CR]->(t) RETURN t.id AS tid"
        ) == [{"tid": 2}]
        e.query("MATCH (a:CA), (b:CB) WITH coalesce(a, b) AS y SET y.seen = 1")
        assert e.query("MATCH (a:CA) RETURN a.seen AS s") == [{"s": 1}]

    def test_all_null_and_scalars_unaffected(self, spark):
        from nicefox_graphdb_spark import CypherEngine

        e = CypherEngine(spark, None, mutable=True)
        e.query("CREATE (:CA {id: 1})")
        assert e.query("OPTIONAL MATCH (x:Nope) RETURN coalesce(x, x) AS y") == [
            {"y": None}
        ]
        assert e.query("MATCH (a:CA) RETURN coalesce(a.id, 99) AS v") == [
            {"v": 1}
        ]
        assert e.query("RETURN coalesce(null, 5) AS v") == [{"v": 5}]

    def test_range_zero_step_errors(self, spark):
        import pytest as _pt

        from nicefox_graphdb_spark import CypherEngine
        from nicefox_graphdb_spark.cypher.expressions import CypherCompileError

        e = CypherEngine(spark, None, mutable=True)
        with _pt.raises(CypherCompileError, match="step cannot be 0"):
            e.query("RETURN range(1, 5, 0) AS r")


class TestCaseSensitivity:
    """Cypher names are case-sensitive. Spark's default case-INsensitive
    column resolution silently merged binding columns differing only by
    case: RETURN 1 AS a, 2 AS A read the second column for both, and
    min(x)/max(x) in one RETURN collapsed to whichever compiled last
    (their placeholder columns differed only by the alias's case)."""

    def test_aliases_differing_by_case(self, spark):
        from nicefox_graphdb_spark import CypherEngine

        e = CypherEngine(spark, None, mutable=True)
        assert e.query("RETURN 1 AS a, 2 AS A") == [{"a": 1, "A": 2}]

    def test_min_max_same_arg(self, spark):
        from nicefox_graphdb_spark import CypherEngine

        e = CypherEngine(spark, None, mutable=True)
        assert e.query(
            "UNWIND [1, 2] AS x RETURN min(x) AS m, max(x) AS M"
        ) == [{"m": 1, "M": 2}]
        assert e.query(
            "UNWIND [1, 2] AS x RETURN max(x) AS M, min(x) AS m"
        ) == [{"M": 2, "m": 1}]

    def test_properties_differing_by_case(self, spark):
        from nicefox_graphdb_spark import CypherEngine

        e = CypherEngine(spark, None, mutable=True)
        e.query("CREATE (:CSP {Name: 'up', name: 'low'})")
        assert e.query(
            "MATCH (n:CSP) RETURN n.Name AS u, n.name AS l"
        ) == [{"u": "up", "l": "low"}]


def test_string_subscript_typed_error(spark):
    import pytest as _pt

    from nicefox_graphdb_spark import CypherEngine
    from nicefox_graphdb_spark.cypher.expressions import CypherCompileError

    e = CypherEngine(spark, None, mutable=True)
    with _pt.raises(CypherCompileError, match="list or map"):
        e.query("RETURN 'abc'[0] AS c")


class TestEntityCase:
    """CASE expressions whose arms are bound entities stay entity-valued,
    like coalesce (reference evaluates CASE arms to whatever they hold)."""

    def test_case_picks_entity(self, spark):
        from nicefox_graphdb_spark import CypherEngine

        e = CypherEngine(spark, None, mutable=True)
        e.query("CREATE (:KA {id: 1, nm: 'a'}), (:KB {id: 2, nm: 'b'})")
        assert e.query(
            "MATCH (a:KA), (b:KB) "
            "RETURN CASE WHEN a.id = 1 THEN a ELSE b END AS y"
        ) == [{"y": {"id": 1, "nm": "a"}}]
        assert e.query(
            "MATCH (a:KA), (b:KB) WITH CASE WHEN a.id = 2 THEN a ELSE b END "
            "AS y RETURN y.nm AS nm, labels(y) AS l"
        ) == [{"nm": "b", "l": ["KB"]}]
        assert e.query(
            "MATCH (a:KA), (b:KB) WITH CASE a.id WHEN 1 THEN b ELSE null END "
            "AS y RETURN y.id AS id"
        ) == [{"id": 2}]
        # missing ELSE → null entity
        assert e.query(
            "MATCH (a:KA) WITH CASE WHEN a.id = 9 THEN a END AS y RETURN y"
        ) == [{"y": None}]

    def test_entity_group_key(self, spark):
        from nicefox_graphdb_spark import CypherEngine

        e = CypherEngine(spark, None, mutable=True)
        e.query("CREATE (:KC {id: 1})")
        assert e.query(
            "OPTIONAL MATCH (x:Nope) MATCH (a:KC) WITH coalesce(x, a) AS y "
            "RETURN y, count(*) AS c"
        ) == [{"y": {"id": 1}, "c": 1}]

    def test_scalar_case_unaffected(self, spark):
        from nicefox_graphdb_spark import CypherEngine

        e = CypherEngine(spark, None, mutable=True)
        assert e.query(
            "RETURN CASE WHEN 1 = 1 THEN 'one' ELSE 'other' END AS s"
        ) == [{"s": "one"}]


class TestCorrelatedPropertyMap:
    """Inline property-map values that reference a variable bound earlier
    in the statement filter through the join to the bound rows, the same
    rows as the equivalent WHERE. Graph: accounts 1 'a', 2 'b', 3 'c';
    payments 1->2 (10), 2->3 (20), 1->3 (20)."""

    @pytest.fixture(scope="class")
    def accts(self, spark):
        from nicefox_graphdb_spark import CypherEngine

        e = CypherEngine(spark, None, mutable=True)
        e.query(
            "CREATE (a:Acct {id: 1, name: 'a'}), (b:Acct {id: 2, name: 'b'}), "
            "(c:Acct {id: 3, name: 'c'}), (a)-[:PAYS {amt: 10}]->(b), "
            "(b)-[:PAYS {amt: 20}]->(c), (a)-[:PAYS {amt: 20}]->(c)"
        )
        return e

    def test_unwind_bound_node_scan(self, accts):
        assert accts.query(
            "UNWIND [1, 2, 2, 9] AS j MATCH (b:Acct {id: j}) "
            "RETURN b.id AS id ORDER BY id"
        ) == [{"id": 1}, {"id": 2}, {"id": 2}]

    def test_with_bound_node_scan(self, accts):
        assert accts.query(
            "WITH 2 AS j MATCH (b:Acct {id: j}) RETURN b.id AS id"
        ) == [{"id": 2}]

    def test_mixed_constant_and_bound_entries(self, accts):
        assert accts.query(
            "UNWIND [1, 2] AS j MATCH (b:Acct {id: j, name: 'b'}) "
            "RETURN b.id AS id"
        ) == [{"id": 2}]

    def test_hop_endpoint_and_relationship(self, accts):
        assert accts.query(
            "UNWIND [2, 3] AS j MATCH (a:Acct {id: 1})-[:PAYS]->(b:Acct {id: j}) "
            "RETURN j, b.name AS name ORDER BY j"
        ) == [{"j": 2, "name": "b"}, {"j": 3, "name": "c"}]
        assert accts.query(
            "UNWIND [20] AS w MATCH (a:Acct)-[r:PAYS {amt: w}]->(b:Acct) "
            "RETURN a.id AS a, b.id AS b ORDER BY a"
        ) == [{"a": 1, "b": 3}, {"a": 2, "b": 3}]
        # a later pattern element referencing an earlier one, also when
        # the element's constant entries would otherwise make it the anchor
        assert accts.query(
            "MATCH (a:Acct)-[r:PAYS]->(b:Acct {id: a.id + 1}) "
            "RETURN a.id AS a, r.amt AS amt ORDER BY a"
        ) == [{"a": 1, "amt": 10}, {"a": 2, "amt": 20}]
        assert accts.query(
            "MATCH (a:Acct)-[r:PAYS]->(b:Acct {id: a.id + 1, name: 'c'}) "
            "RETURN a.id AS a, r.amt AS amt"
        ) == [{"a": 2, "amt": 20}]

    def test_optional_match(self, accts):
        assert accts.query(
            "UNWIND [1, 9] AS j OPTIONAL MATCH (b:Acct {id: j}) "
            "RETURN j, b.id AS id ORDER BY j"
        ) == [{"j": 1, "id": 1}, {"j": 9, "id": None}]
        assert accts.query(
            "UNWIND [1, 9] AS j "
            "OPTIONAL MATCH (a:Acct {id: 1})-[:PAYS]->(b:Acct {id: j + 1}) "
            "RETURN j, b.id AS id ORDER BY j"
        ) == [{"j": 1, "id": 2}, {"j": 9, "id": None}]

    def test_var_length_endpoint(self, accts):
        # 1->3 and 1->2->3
        assert accts.query(
            "WITH 3 AS j MATCH (a:Acct {id: 1})-[:PAYS*1..2]->(b:Acct {id: j}) "
            "RETURN count(*) AS paths"
        ) == [{"paths": 2}]
