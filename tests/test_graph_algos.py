"""Graph analytics tests on known small graphs, and pins on the superstep
driver every iterative loop runs on: one observed lineage cut per step,
copartitioned cuts that record hash partitioning without touching the
shared session's AQE, and the reliable-checkpoint cadence."""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from conftest import jobs_during
from nicefox_graphdb_spark.operators import graph_algos as ga
from nicefox_graphdb_spark.operators.superstep import cut


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture()
def join_hops(monkeypatch):
    """Every breadth-first hop joins: no frontier is small enough to stay
    on the driver."""
    monkeypatch.setattr(ga, "SSSP_FRONTIER_ROWS", 0)


@pytest.fixture()
def driver_hops(monkeypatch):
    """Every breadth-first hop of a test-sized graph runs on the driver."""
    monkeypatch.setattr(ga, "SSSP_FRONTIER_ROWS", 10**9)


@pytest.fixture(scope="module")
def chain_and_pair(spark):
    # components: {A,B,C} (path) and {D,E}
    return spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("D", "E")], "src string, dst string"
    )


def test_degrees(chain_and_pair):
    rows = {r["id"]: r for r in ga.degrees(chain_and_pair).collect()}
    assert rows["A"]["out_degree"] == 1 and rows["A"]["in_degree"] == 0
    assert rows["B"]["degree"] == 2
    assert rows["E"]["in_degree"] == 1


def test_connected_components(chain_and_pair):
    comps = {
        r["id"]: r["component"]
        for r in ga.connected_components(chain_and_pair).collect()
    }
    assert comps == {"A": "A", "B": "A", "C": "A", "D": "D", "E": "D"}


def test_connected_components_long_chain(spark):
    # 200-node path: pointer jumping must converge well inside 20 iters
    edges = spark.createDataFrame(
        [(f"N{i:03d}", f"N{i + 1:03d}") for i in range(199)],
        "src string, dst string",
    )
    comps = ga.connected_components(edges).collect()
    assert {r["component"] for r in comps} == {"N000"}
    assert len(comps) == 200


def test_pagerank_cycle_uniform(spark):
    # 3-cycle: symmetric → every rank exactly 1.0
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "A")], "src string, dst string"
    )
    ranks = {r["id"]: r["rank"] for r in ga.pagerank(edges, n_iter=10).collect()}
    assert all(abs(v - 1.0) < 1e-9 for v in ranks.values())


def test_pagerank_sum_preserved(chain_and_pair):
    total = (
        ga.pagerank(chain_and_pair, n_iter=10)
        .agg(F.sum("rank"))
        .collect()[0][0]
    )
    assert abs(total - 5.0) < 1e-6  # N vertices


def test_triangle_count(spark):
    # K3 plus a dangling edge: exactly one triangle
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("A", "C"), ("C", "D")],
        "src string, dst string",
    )
    assert ga.triangle_count(edges).collect()[0]["triangles"] == 1


def test_label_propagation_two_cliques(spark):
    tri1 = [("A", "B"), ("B", "C"), ("A", "C")]
    tri2 = [("X", "Y"), ("Y", "Z"), ("X", "Z")]
    edges = spark.createDataFrame(tri1 + tri2, "src string, dst string")
    labels = {r["id"]: r["label"] for r in ga.label_propagation(edges).collect()}
    assert len({labels["A"], labels["B"], labels["C"]}) == 1
    assert len({labels["X"], labels["Y"], labels["Z"]}) == 1
    assert labels["A"] != labels["X"]


def test_shortest_paths_chain(spark):
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "D")], "src string, dst string"
    )
    srcs = spark.createDataFrame([("A",)], "start string")
    dists = {
        r["id"]: r["dist"]
        for r in ga.shortest_path_lengths(edges, srcs, max_hops=5).collect()
    }
    assert dists == {"A": 0, "B": 1, "C": 2, "D": 3}


def test_shortest_paths_prefers_min(spark):
    # diamond: A->B->D and A->C->D plus direct A->D: dist(D)=1
    edges = spark.createDataFrame(
        [("A", "B"), ("A", "C"), ("B", "D"), ("C", "D"), ("A", "D")],
        "src string, dst string",
    )
    srcs = spark.createDataFrame([("A",)], "start string")
    dists = {
        r["id"]: r["dist"]
        for r in ga.shortest_path_lengths(edges, srcs).collect()
    }
    assert dists["D"] == 1


def test_triangle_count_k4_and_hub(spark):
    """K4 has 4 triangles; adding a hub connected to every vertex (skewed
    star) turns each K4 edge into one more triangle (6) → 10 total. The
    degree-ordered orientation must count each exactly once."""
    from nicefox_graphdb_spark.operators import graph_algos as ga

    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    hub = [("z", v) for v in "abcd"]
    edges = spark.createDataFrame(k4 + hub, ["src", "dst"])
    assert ga.triangle_count(edges).collect()[0]["triangles"] == 10


def test_triangle_count_random_vs_bruteforce(spark):
    """Seeded random graph: orientation count equals the brute-force
    canonical a<b<c join."""
    import random

    from nicefox_graphdb_spark.operators import graph_algos as ga

    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(30)]
    edges = {
        tuple(sorted(rng.sample(nodes, 2)))
        for _ in range(120)
    }
    df = spark.createDataFrame(sorted(edges), ["src", "dst"])
    got = ga.triangle_count(df).collect()[0]["triangles"]
    und = df.selectExpr("src AS a", "dst AS b")
    e2 = df.selectExpr("src AS b", "dst AS c")
    e3 = df.selectExpr("src AS a", "dst AS c")
    brute = und.join(e2, "b").join(e3, ["a", "c"]).count()
    assert got == brute and got > 0


def test_triangle_count_ignores_self_loops_and_duplicates(spark):
    from nicefox_graphdb_spark.operators import graph_algos as ga

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("a", "c"), ("a", "a")],
        ["src", "dst"],
    )
    assert ga.triangle_count(edges).collect()[0]["triangles"] == 1


def test_connected_components_multipartition_paths(spark, monkeypatch):
    """Force BOTH the multilevel-coalesce path and the star-phase fallback
    (tiny per-partition row budget) on a cross-partition graph, against an
    independent python union-find oracle."""
    import random

    rng = random.Random(7)
    n = 400
    edges = []
    # 20 chains of 20 nodes, shuffled so partitions cut across chains
    for c in range(20):
        ids = [f"V{c:02d}_{i:02d}" for i in range(20)]
        edges += list(zip(ids, ids[1:]))
    rng.shuffle(edges)

    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    expected = {}
    for u, v in edges:
        for x in (u, v):
            root = find(x)
            while parent[root] != root:
                root = parent[root]
            expected[x] = root

    df = spark.createDataFrame(edges, "src string, dst string").repartition(8)
    got = {
        r["id"]: r["component"] for r in ga.connected_components(df).collect()
    }
    assert got == expected and len(got) == n

    # star-phase fallback: budget so small every level refuses to coalesce
    monkeypatch.setattr(ga, "_CC_ROWS_PER_PART", 10)
    got2 = {
        r["id"]: r["component"]
        for r in ga.connected_components(df).collect()
    }
    assert got2 == expected


def test_pagerank_lineage_is_cut_per_superstep(spark):
    # every superstep is cut with the dangling mass riding the cut as an
    # Observation: the RETURNED frame's lineage must span at most one
    # superstep over a LogicalRDD checkpoint, not the whole iteration
    # history (a separate dangling-mass probe re-ran the uncut supersteps)
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(30)], "src string, dst string"
    )
    plan = _analyzed(ga.pagerank(edges, n_iter=4))
    assert "LogicalRDD" in plan
    assert plan.count("Join") <= 3, plan


@pytest.mark.usefixtures("join_hops")
def test_sssp_frontiers_are_materialized(spark):
    # per-hop cut with the frontier count riding it: the returned settled
    # set must be a union of materialized frontiers (LogicalRDDs) with NO
    # join left in its lineage (an isEmpty probe on a lazy frontier ran
    # each hop's join twice)
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(12)], "src string, dst string"
    )
    sources = spark.createDataFrame([("n0",)], "start string")
    plan = _analyzed(ga.shortest_path_lengths(edges, sources, max_hops=5))
    assert "LogicalRDD" in plan
    assert "Join" not in plan, plan


@pytest.mark.usefixtures("driver_hops")
def test_sssp_driver_frontiers_are_local(spark):
    # a frontier small enough to stay on the driver: every hop is one
    # pruned edge scan, and the settled set comes back as one
    # LocalRelation with no join (and no lineage) in its plan
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(12)], "src string, dst string"
    )
    sources = spark.createDataFrame([("n0",)], "start string")
    plan = _analyzed(ga.shortest_path_lengths(edges, sources, max_hops=5))
    assert plan.startswith("LocalRelation"), plan
    assert "Join" not in plan, plan


def test_cc_solved_path_results(spark):
    # two components + one self-loop-only vertex (the canonical edge cut
    # keeps self-loops precisely so this vertex stays in the vertex set)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("z", "z")],
        "src string, dst string",
    )
    got = {
        (r["id"], r["component"])
        for r in ga.connected_components(edges).collect()
    }
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"),
        ("x", "x"), ("y", "x"),
        ("z", "z"),
    }


def test_copartitioned_cut_records_hash_partitioning(spark):
    """A copartitioned cut must stamp the checkpointed RDD with the plan's
    hash partitioning (a plain localCheckpoint under AQE records
    UnknownPartitioning, and every downstream same-key join re-shuffles)."""
    df = spark.range(100).select(
        F.col("id").cast("string").alias("id"), F.lit(1.0).alias("rank")
    )
    ck, _ = cut(df.repartition(8, "id"), copartitioned=True)
    plan = _formatted(ck.where(F.col("rank") > 0))
    assert "hashpartitioning(id" in plan, plan
    # control: the AQE-wrapped checkpoint loses it
    plain = df.repartition(8, "id").localCheckpoint(eager=True)
    assert "UnknownPartitioning" in _formatted(plain.where(F.col("rank") > 0))


def test_copartitioned_join_has_no_join_side_exchange(spark):
    """Two frames cut with recorded hash partitioning on the join key must
    join (shuffle_hash) with ZERO exchange — the pagerank superstep shape."""
    edges = spark.range(1000).select(
        (F.col("id") % 100).cast("string").alias("src"),
        ((F.col("id") * 7) % 100).cast("string").alias("dst"),
    )
    state = spark.range(100).select(
        F.col("id").cast("string").alias("id"), F.lit(1.0).alias("rank")
    )
    e_ck, _ = cut(edges.repartition(8, "src"), copartitioned=True)
    s_ck, _ = cut(state.repartition(8, "id"), copartitioned=True)
    hs = s_ck.hint("shuffle_hash")
    joined = e_ck.join(hs, e_ck["src"] == hs["id"]).select("dst", "rank")
    plan = _formatted(joined)
    assert "ShuffledHashJoin" in plan, plan
    # no Exchange feeds the join: both sides read the recorded partitioning
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastExchange" not in plan, plan


def test_pagerank_matches_unpartitioned_reference(spark):
    """Co-partitioning + shuffle_hash must not change pagerank's results
    (rank rounded to 6 by the public API)."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
        "src string, dst string",
    )
    got = {
        r["id"]: r["rank"] for r in ga.pagerank(edges, n_iter=8).collect()
    }
    # hand-rolled reference power iteration (same damping/iterations)
    ranks = {v: 1.0 for v in "abcd"}
    out_deg = {"a": 2, "b": 1, "c": 1, "d": 1}
    adj = {"a": ["b", "c"], "b": ["c"], "c": ["a"], "d": ["a"]}
    for _ in range(8):
        incoming = {v: 0.0 for v in ranks}
        for u, vs in adj.items():
            for v in vs:
                incoming[v] += ranks[u] / out_deg[u]
        ranks = {v: 0.15 + 0.85 * incoming[v] for v in ranks}
    for v, r in ranks.items():
        assert got[v] == pytest.approx(r, abs=2e-6), (v, got[v], r)


def test_reliable_checkpoint_knob(spark, tmp_path, monkeypatch):
    """NICEFOX_RELIABLE_CHECKPOINT_EVERY_K routes every k-th iteration cut
    through the reliable checkpoint dir; results are unchanged."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")],
        "src string, dst string",
    )
    base = {r["id"]: r["rank"] for r in ga.pagerank(edges, n_iter=4).collect()}
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    monkeypatch.setenv("NICEFOX_RELIABLE_CHECKPOINT_EVERY_K", "2")
    durable = {
        r["id"]: r["rank"] for r in ga.pagerank(edges, n_iter=4).collect()
    }
    assert durable == base
    # the reliable checkpoints actually landed in the checkpoint dir
    ckpt_files = list((tmp_path / "ckpt").rglob("*"))
    assert ckpt_files, "no reliable checkpoint files written"


def test_cc_keeps_half_null_edge_endpoint(spark):
    # (a, NULL) connects nothing, but its non-NULL endpoint is still a
    # vertex of the derived vertex set: it comes back as its own component
    edges = spark.createDataFrame(
        [("a", None), ("b", "c"), (None, "d"), (None, None), ("c", None)],
        "src string, dst string",
    )
    got = {
        (r["id"], r["component"])
        for r in ga.connected_components(edges).collect()
    }
    assert got == {("a", "a"), ("b", "b"), ("c", "b"), ("d", "d")}


def test_label_propagation_stops_at_fixpoint(spark):
    # two disjoint triangles settle after one step; the step after it
    # changes no label, so a large max_iter runs no further supersteps
    tri = [("A", "B"), ("B", "C"), ("A", "C"), ("X", "Y"), ("Y", "Z"), ("X", "Z")]
    edges = spark.createDataFrame(tri, "src string, dst string")

    def run(max_iter):
        rows = []
        n = jobs_during(spark, lambda: rows.extend(
            sorted(ga.label_propagation(edges, max_iter=max_iter).collect())
        ))
        return rows, n

    few, few_jobs = run(3)
    many, many_jobs = run(10)
    assert many == few
    assert many_jobs == few_jobs, (few_jobs, many_jobs)


def test_pagerank_leaves_concurrent_plans_adaptive(spark):
    # the copartitioned cuts run in a clone of the session with AQE off:
    # another thread planning a join on the shared session meanwhile (an
    # HTTP server thread) must still get an adaptive plan
    import threading

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 1) % 40}") for i in range(40)],
        "src string, dst string",
    )
    left = spark.range(50).withColumnRenamed("id", "k")
    seen: set[str] = set()
    done = threading.Event()

    def plan_joins():
        while not done.is_set():
            joined = left.join(spark.range(50).withColumnRenamed("id", "k"), "k")
            plan = joined._jdf.queryExecution().executedPlan()
            seen.add(plan.getClass().getSimpleName())

    watcher = threading.Thread(target=plan_joins)
    watcher.start()
    try:
        ga.pagerank(edges, n_iter=6).collect()
    finally:
        done.set()
        watcher.join()
    assert seen == {"AdaptiveSparkPlanExec"}, seen
