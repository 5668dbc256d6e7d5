"""The two hop paths of a breadth-first loop return the same rows.

``superstep.frontier_supersteps`` expands a frontier on the driver (one
pruned edge scan per hop) while the rows its loop holds stay within the
loop's bound (``graph_algos.SSSP_FRONTIER_ROWS``,
``var_length.FRONTIER_PATHS``), and with a join per hop past it. Each
test forces one path or the other by setting both bounds to 0 (every hop
joins) or to a large value (every hop of these graphs stays on the
driver), counts the hops each
path took, and compares the rows: SSSP (``graph_algos``) and the Cypher
var-length BFS (``var_length``), including runs that hand a frontier
from the driver to the join path mid-run."""

import random

import pytest

from nicefox_graphdb_spark.operators import graph_algos as ga
from nicefox_graphdb_spark.operators import superstep
from nicefox_graphdb_spark.operators import var_length as vl

JOIN, DRIVER = 0, 10**9


@pytest.fixture()
def hops(monkeypatch):
    """Counts of the hops each path ran (``driver``: pruned scans,
    ``join``: joined supersteps); ``set(rows)`` sets both bounds and
    resets the counts."""
    taken = {"driver": 0, "join": 0, "overflow": 0}
    scan, steps = superstep.pruned_scan, superstep.supersteps

    def counted_scan(*a):
        taken["driver"] += 1
        rows = scan(*a)
        taken["overflow"] += rows is None
        return rows

    def counted_steps(*a, **k):
        for out in steps(*a, **k):
            taken["join"] += 1
            yield out

    def set_rows(rows):
        monkeypatch.setattr(ga, "SSSP_FRONTIER_ROWS", rows)
        monkeypatch.setattr(vl, "FRONTIER_PATHS", rows)
        taken.update(driver=0, join=0, overflow=0)

    monkeypatch.setattr(superstep, "pruned_scan", counted_scan)
    monkeypatch.setattr(superstep, "supersteps", counted_steps)
    taken["set"] = set_rows
    return taken


def _rows(df) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _random_edges(seed: int) -> list:
    rnd = random.Random(seed)
    ids = [f"v{i}" for i in range(10)] + [None]
    pairs = [(rnd.choice(ids), rnd.choice(ids)) for _ in range(25)]
    # a self-loop, a duplicate edge and a two-cycle in every graph
    return pairs + [("v1", "v1"), ("v2", "v3"), ("v2", "v3"), ("v3", "v2")]


@pytest.mark.parametrize("seed", range(4))
def test_sssp_paths_agree_on_random_graphs(spark, hops, seed):
    edges = spark.createDataFrame(_random_edges(seed), "src string, dst string")
    # a duplicate source, a NULL source and one with no out-edge
    sources = spark.createDataFrame(
        [("v1",), ("v2",), ("v2",), (None,), ("v9",)], "start string"
    )
    hops["set"](JOIN)
    joined = _rows(ga.shortest_path_lengths(edges, sources, max_hops=4))
    assert hops["driver"] == 0 and hops["join"] > 0
    hops["set"](DRIVER)
    assert _rows(ga.shortest_path_lengths(edges, sources, max_hops=4)) == joined
    assert hops["join"] == 0 and hops["driver"] > 0
    # the five seeds fit, no frontier past them does: the run starts on
    # the driver and hands over to the join path after hop 1
    hops["set"](5)
    assert _rows(ga.shortest_path_lengths(edges, sources, max_hops=4)) == joined
    assert hops["driver"] == 1 and hops["join"] > 0


def test_sssp_null_endpoints_are_never_settled(spark, hops):
    # a NULL id reached at a hop comes back again at every later hop that
    # reaches it (the anti-join never matches NULL), on both paths
    edges = spark.createDataFrame(
        [("a", None), ("a", "b"), ("b", None), ("b", "c"), (None, "a")],
        "src string, dst string",
    )
    sources = spark.createDataFrame([("a",)], "start string")
    want = [
        ("a", "a", 0), ("a", "b", 1), ("a", "c", 2), ("a", None, 1), ("a", None, 2),
    ]
    for rows in (JOIN, DRIVER):
        hops["set"](rows)
        got = _rows(ga.shortest_path_lengths(edges, sources, max_hops=5))
        assert got == sorted(want, key=repr)


def _vl_edges(spark):
    # a 3-cycle with a self-loop, a parallel edge and a tail with a
    # back edge: paths revisit nodes, never an edge
    pairs = [
        ("a", "b"), ("b", "c"), ("c", "a"), ("a", "a"), ("b", "c"),
        ("c", "d"), ("d", "b"),
    ]
    return spark.createDataFrame(
        [(s, d, f"e{i}") for i, (s, d) in enumerate(pairs)],
        "__from string, __to string, __eid string",
    )


@pytest.mark.parametrize(
    "min_hops,max_hops,max_rows",
    [(1, 3, None), (2, 3, None), (1, 6, None), (1, 6, 5), (3, 6, 4)],
)
def test_var_length_expand_paths_agree(spark, hops, min_hops, max_hops, max_rows):
    edges = _vl_edges(spark)
    seeds = spark.createDataFrame([("a",), ("d",), ("a",), ("zz",)], "id string")

    def run():
        return _rows(vl.var_length_expand(edges, min_hops, max_hops, seeds, max_rows))

    hops["set"](JOIN)
    joined = run()
    assert hops["driver"] == 0
    hops["set"](DRIVER)
    assert run() == joined
    assert hops["join"] == 0
    hops["set"](4)  # the seeds fit, a later frontier does not
    assert run() == joined
    assert hops["driver"] >= 1 and hops["join"] >= 1
    assert joined
    for start, end, eids, nodes, n in joined:
        assert len(set(eids)) == len(eids) == len(nodes) == n  # no edge reused
        assert min_hops <= n <= max_hops and nodes[-1] == end


@pytest.fixture()
def framed(monkeypatch):
    """The row counts of the local frames a loop builds from its driver
    rows (the frontier it hands over to the join path)."""
    sizes: list = []
    build = superstep.local_frame

    def counted(spark, rows, schema):
        sizes.append(len(rows))
        return build(spark, rows, schema)

    monkeypatch.setattr(superstep, "local_frame", counted)
    return sizes


def _hub_edges(fan_in: int, fan_out: int) -> list:
    # s0..s{fan_in-1} -> h -> t0..t{fan_out-1}, and t0 -> s0 closes a cycle
    return (
        [(f"s{i}", "h") for i in range(fan_in)]
        + [("h", f"t{i}") for i in range(fan_out)]
        + [("t0", "s0")]
    )


@pytest.mark.parametrize(
    "fan_in,fan_out,starts,scan_overflows",
    [
        (1, 30, ["h"], True),  # the seed's own out-edges pass the bound
        (1, 30, ["s0"], True),  # the hub's out-edges pass it at hop 2
        (4, 3, ["s0", "s1", "s2", "s3"], False),  # 3 edges fit, 12 rows do not
        (4, 2, ["s0", "s1", "s2", "s3"], False),  # 8 rows fit, not on top of 8
    ],
)
def test_high_degree_hops_join_before_passing_the_bound(
    spark, hops, framed, fan_in, fan_out, starts, scan_overflows
):
    # a driver step whose edge rows or next frontier would pass the bound
    # stops one row past it and runs as a join from its own frontier; one
    # whose next frontier fits but would pass it together with the rows
    # held hands that frontier over
    sssp_edges = spark.createDataFrame(
        _hub_edges(fan_in, fan_out), "src string, dst string"
    )
    vl_edges = spark.createDataFrame(
        [(s, d, f"e{i}") for i, (s, d) in enumerate(_hub_edges(fan_in, fan_out))],
        "__from string, __to string, __eid string",
    )
    sources = spark.createDataFrame([(s,) for s in starts], "start string")

    def run():
        return (
            _rows(ga.shortest_path_lengths(sssp_edges, sources, max_hops=4)),
            _rows(vl.var_length_expand(vl_edges, 1, 4, sources)),
        )

    hops["set"](JOIN)
    joined = run()
    hops["set"](10)
    framed.clear()
    assert run() == joined
    assert hops["driver"] >= 2 and hops["join"] >= 2
    assert bool(hops["overflow"]) == scan_overflows
    # each loop handed over one frontier within the bound, never an
    # oversized one it stopped building
    assert len(framed) == 2 and max(framed) <= 10


@pytest.mark.parametrize(
    "ids",
    [
        {"a", "c", "zz"},  # joined and split in the JVM
        {"a", ""},  # an empty id goes through `isin`
        {"a", "b\x1fc"},  # so does one holding the separator
    ],
)
def test_pruned_scan_matches_exactly_its_ids(spark, ids):
    keys = ["a", "a", "b", "c", "", "b\x1fc", None]
    edges = spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)], "src string, n int"
    )
    want = sorted(i for i, k in enumerate(keys) if k in ids)
    assert sorted(r.n for r in superstep.pruned_scan(edges, "src", ids, 10)) == want
    # one row past the limit comes back as None, not as rows
    assert superstep.pruned_scan(edges, "src", ids, len(want) - 1) is None
    assert superstep.pruned_scan(edges, "src", set(), 0) == []


@pytest.fixture()
def cycle_graph(g):
    g.query(
        "CREATE (a:N {k: 1}), (b:N {k: 2}), (c:N {k: 3}), (d:N {k: 4}), "
        "(a)-[:R]->(b), (b)-[:R]->(c), (c)-[:R]->(a), (a)-[:R]->(a), "
        "(b)-[:R]->(c), (c)-[:R]->(d), (d)-[:R]->(b)"
    )
    return g


@pytest.mark.parametrize(
    "pattern",
    [
        "(s:N)-[:R*0..3]->(t)",
        "(s:N)-[:R*2..3]->(t)",
        "(s:N)-[:R*1..3]-(t)",
        "(s:N)<-[:R*..4]-(t)",
    ],
)
def test_cypher_var_length_paths_agree(cycle_graph, hops, pattern):
    q = (
        f"MATCH p = {pattern} WHERE s.k IN [1, 4] "
        "RETURN s.k AS s, t.k AS t, [x IN nodes(p) | x.k] AS ks"
    )
    got = {}
    for rows in (JOIN, DRIVER):
        hops["set"](rows)
        cycle_graph._plan_cache.clear()
        got[rows] = sorted(map(repr, cycle_graph.query(q)))
        used, unused = ("driver", "join") if rows else ("join", "driver")
        assert hops[unused] == 0 < hops[used]
    assert got[JOIN] == got[DRIVER] and got[JOIN]


def test_cypher_var_length_limit_on_both_paths(cycle_graph, hops):
    q = "MATCH (s:N {k: 1})-[:R*1..5]->(t) RETURN t.k AS t LIMIT 3"
    for rows in (JOIN, DRIVER):
        hops["set"](rows)
        cycle_graph._plan_cache.clear()
        assert len(cycle_graph.query(q)) == 3


def test_empty_seed_sets_on_both_paths(spark, hops):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    none = spark.createDataFrame([], "start string")
    vedges = _vl_edges(spark)
    for rows in (JOIN, DRIVER):
        hops["set"](rows)
        assert ga.shortest_path_lengths(edges, none, max_hops=3).collect() == []
        assert vl.var_length_expand(vedges, 1, 3, none).collect() == []


def test_where_on_the_start_node_prunes_the_seeds(cycle_graph, monkeypatch):
    # a WHERE conjunct that reads the start node alone prunes the rows
    # that seed the expansion; the rest of WHERE applies after it
    seeds = []
    scan = superstep.pruned_scan

    def first_ids(edges, key, ids, limit):
        seeds.append(len(ids))
        return scan(edges, key, ids, limit)

    monkeypatch.setattr(superstep, "pruned_scan", first_ids)
    q = (
        "MATCH (s:N)-[:R*1..2]->(t) WHERE %s "
        "RETURN s.k AS s, t.k AS t ORDER BY s, t"
    )
    pushed = cycle_graph.query(q % "s.k % 3 = 1 AND t.k > 1")
    assert seeds[0] == 2  # k = 1 and k = 4 of the four N nodes
    seeds.clear()
    # a function call is not pushed: every node seeds, same rows
    assert cycle_graph.query(q % "abs(s.k) % 3 = 1 AND t.k > 1") == pushed
    assert seeds[0] == 4
    assert {r["s"] for r in pushed} == {1, 4}
