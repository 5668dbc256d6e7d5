"""DurableGraph — durability, restart recovery, and merge pruning.

The reference persists every write to a SQLite file and recovers it on
reopen (src/db.ts:47-70, src/local.ts:22-45); these tests assert the same
contract for the bucketed-parquet store, plus the scale property the
reference never needed: a keyed MERGE rewrites only the touched buckets.
"""

import json
import os

import pytest

from nicefox_graphdb_spark import CypherEngine, GraphCatalog
from pyspark.sql import functions as F

from nicefox_graphdb_spark.commit_plane import LocalCommitPlane
from nicefox_graphdb_spark.durable_store import DurableTableStore, node_key


def _engine(spark, path):
    return CypherEngine(spark, GraphCatalog(spark), data_path=str(path))


def test_restart_recovers_nodes_edges_and_labels(spark, tmp_path):
    p = tmp_path / "g"
    e1 = _engine(spark, p)
    e1.query("CREATE (a:Person {name: 'A', age: 30})-[:KNOWS {since: 2020}]->(b:Person {name: 'B'})")
    e1.query("MATCH (n:Person {name: 'A'}) SET n:Admin")

    # a brand-new engine + catalog over the same path sees everything
    e2 = _engine(spark, p)
    rows = e2.query(
        "MATCH (a:Person)-[r:KNOWS]->(b:Person) "
        "RETURN a.name AS a, r.since AS s, b.name AS b"
    )
    assert rows == [{"a": "A", "s": 2020, "b": "B"}]
    # multi-label membership survives the restart (manifest flag)
    assert e2.query(
        "MATCH (n:Admin) RETURN join(labels(n), '|') AS ls"
    ) == [{"ls": "Admin|Person"}]


def test_restart_sees_updates_and_deletes(spark, tmp_path):
    p = tmp_path / "g"
    e1 = _engine(spark, p)
    e1.query("CREATE (:Item {name: 'x', price: 1})")
    e1.query("CREATE (:Item {name: 'y', price: 2})")
    e1.query("MATCH (n:Item {name: 'x'}) SET n.price = 99")
    e1.query("MATCH (n:Item {name: 'y'}) DELETE n")

    e2 = _engine(spark, p)
    assert e2.query(
        "MATCH (n:Item) RETURN n.name AS name, n.price AS price"
    ) == [{"name": "x", "price": 99}]


def test_merge_on_match_durable(spark, tmp_path):
    p = tmp_path / "g"
    e1 = _engine(spark, p)
    e1.query("MERGE (n:C {k: 1}) ON CREATE SET n.v = 'created'")
    e1.query("MERGE (n:C {k: 1}) ON MATCH SET n.v = 'matched'")
    e1.query("MERGE (n:C {k: 2}) ON CREATE SET n.v = 'created'")
    e2 = _engine(spark, p)
    assert e2.query(
        "MATCH (n:C) RETURN n.k AS k, n.v AS v ORDER BY k"
    ) == [{"k": 1, "v": "matched"}, {"k": 2, "v": "created"}]


def test_update_rewrites_only_touched_buckets(spark, tmp_path):
    """The 100 TB property: on a compacted (bucket-exclusive) table, a
    keyed SET must leave every untouched file byte-identical in the
    manifest (file skipping, Delta-style)."""
    p = tmp_path / "g"
    eng = _engine(spark, p)
    eng.query(
        "UNWIND range(0, 199) AS i CREATE (:N {k: i, v: 0})"
    )
    store = eng.store.tables
    key = node_key("N")
    # compact into the steady-state layout a 100 TB table would have:
    # one exclusive file per bucket
    store._compact_shared(key)
    store.commit()
    before = {e["name"]: e for e in store.manifest["tables"][key]["files"]}
    assert all(len(e["buckets"]) == 1 for e in before.values())
    # update exactly one node → its _id hashes to exactly one bucket
    eng.query("MATCH (n:N {k: 7}) SET n.v = 1")
    after = {e["name"]: e for e in store.manifest["tables"][key]["files"]}
    removed = set(before) - set(after)
    touched = {b for n in removed for b in before[n]["buckets"]}
    assert len(touched) == 1, f"expected 1 rewritten bucket, got {touched}"
    for n in set(before) & set(after):  # untouched files untouched
        assert before[n] == after[n]
    # every new file covers only the touched bucket
    for n in set(after) - set(before):
        assert set(after[n]["buckets"]) <= touched
    # and the data is correct
    assert eng.query(
        "MATCH (n:N) WHERE n.v = 1 RETURN n.k AS k"
    ) == [{"k": 7}]
    assert eng.query(
        "MATCH (n:N) WHERE n.v = 0 RETURN count(*) AS c"
    ) == [{"c": 199}]


def test_append_does_not_rewrite_existing_files(spark, tmp_path):
    p = tmp_path / "g"
    eng = _engine(spark, p)
    eng.query("CREATE (:A {k: 1})")
    store = eng.store.tables
    key = node_key("A")
    before = {e["name"] for e in store.manifest["tables"][key]["files"]}
    eng.query("CREATE (:A {k: 2})")
    after = {e["name"] for e in store.manifest["tables"][key]["files"]}
    assert before <= after  # old files still referenced, only added to


def test_small_write_lands_as_one_stats_tagged_file(spark, tmp_path):
    """A small append writes ONE file whose manifest entry carries the
    exact bucket set + row/byte stats (observe-collected, no extra scan)."""
    from pyspark.sql import types as T

    store = DurableTableStore(spark, str(tmp_path / "sw"), n_buckets=8)
    schema = T.StructType([T.StructField("_id", T.StringType())])
    store.create_table("nodes/S", {"kind": "node", "label": "S"}, schema)
    store.write(
        "nodes/S",
        # a JVM-derived checkpointed frame carries exact size stats —
        # Python-parallelized local relations report unknown size and
        # deliberately take the fan-out path
        append=spark.range(50)
        .select(F.concat(F.lit("id"), F.col("id")).alias("_id"))
        .localCheckpoint(eager=True),
    )
    files = store.manifest["tables"]["nodes/S"]["files"]
    assert len(files) == 1
    e = files[0]
    assert e["rows"] == 50 and e["bytes"] > 0
    # exact bucket tag: a pruned read on any bucket outside the set skips
    # the file entirely; inside the set it row-filters
    all_buckets = set(e["buckets"])
    assert all_buckets <= set(range(8))
    inside = store.read_table("nodes/S", [e["buckets"][0]]).count()
    assert 0 < inside < 50


def test_read_of_no_file_plans_no_python_scan(spark, tmp_path):
    # a read that matches no data file is an Arrow-built empty
    # LocalRelation, not a Python-RDD scan (Scan ExistingRDD) that runs a
    # Python-worker stage on every action over it
    from pyspark.sql import types as T

    store = DurableTableStore(spark, str(tmp_path / "nf"), n_buckets=8)
    schema = T.StructType([T.StructField("_id", T.StringType())])
    store.create_table("nodes/E", {"kind": "node", "label": "E"}, schema)
    store.commit()
    version = store.manifest["version"]
    for df in (store.read_table("nodes/E"), store.read_table_at("nodes/E", version)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
        assert df.collect() == [] and df.schema == schema


def test_bucket_compaction_bounds_file_count(spark, tmp_path):
    store = DurableTableStore(
        spark, str(tmp_path / "t"), n_buckets=1, compact_threshold=3
    )
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("_id", T.StringType())])
    store.create_table("nodes/X", {"kind": "node", "label": "X"}, schema)
    for i in range(10):
        store.write(
            "nodes/X", append=spark.createDataFrame([(f"id{i}",)], schema)
        )
        store.commit()
    files = store.manifest["tables"]["nodes/X"]["files"]
    assert len(files) <= 3 + 1  # compaction keeps the bucket bounded
    assert store.read_table("nodes/X").count() == 10


def test_shared_file_compaction_restores_exclusive_layout(spark, tmp_path):
    """Small appends accumulate shared (multi-bucket) files; crossing the
    threshold folds them back into bucket-exclusive files so pruned reads
    stay pruned at scale."""
    from pyspark.sql import types as T

    store = DurableTableStore(
        spark, str(tmp_path / "sh"), n_buckets=4, compact_threshold=2
    )
    schema = T.StructType([T.StructField("_id", T.StringType())])
    store.create_table("nodes/M", {"kind": "node", "label": "M"}, schema)
    for i in range(4):
        store.write(
            "nodes/M",
            append=spark.range(10)
            .select(
                F.concat(F.lit(f"m{i}-"), F.col("id")).alias("_id")
            )
            .localCheckpoint(eager=True),  # known-small → shared files
        )
        store.commit()
    files = store.manifest["tables"]["nodes/M"]["files"]
    shared = [e for e in files if len(e["buckets"]) != 1]
    assert len(shared) <= 2  # bounded by the threshold
    assert store.read_table("nodes/M").count() == 40


def test_adopt_bulk_table_then_mutate(spark, tmp_path):
    """A parquet-registered (bulk) table becomes durable on first write."""
    from pyspark.sql import Row

    cat = GraphCatalog(spark)
    cat.register_node(
        "Bulk", spark.createDataFrame([Row(_id="b1", v=1), Row(_id="b2", v=2)])
    )
    eng = CypherEngine(spark, cat, data_path=str(tmp_path / "g"))
    eng.query("MATCH (n:Bulk {v: 1}) SET n.v = 10")
    assert eng.query(
        "MATCH (n:Bulk) RETURN n.v AS v ORDER BY v"
    ) == [{"v": 2}, {"v": 10}]
    # recovery includes the adopted table
    e2 = CypherEngine(spark, GraphCatalog(spark), data_path=str(tmp_path / "g"))
    assert e2.query(
        "MATCH (n:Bulk) RETURN n.v AS v ORDER BY v"
    ) == [{"v": 2}, {"v": 10}]


def test_detach_delete_durable(spark, tmp_path):
    p = tmp_path / "g"
    e1 = _engine(spark, p)
    e1.query("CREATE (a:U {n: 'a'})-[:R]->(b:U {n: 'b'})")
    e1.query("MATCH (n:U {n: 'a'}) DETACH DELETE n")
    e2 = _engine(spark, p)
    assert e2.query("MATCH (n:U) RETURN n.n AS n") == [{"n": "b"}]
    assert e2.query("MATCH ()-[r:R]->() RETURN count(*) AS c") == [{"c": 0}]


def test_commit_is_atomic_versioned(spark, tmp_path):
    p = tmp_path / "g"
    eng = _engine(spark, p)
    eng.query("CREATE (:V {k: 1})")
    v1 = eng.store.tables.manifest["version"]
    eng.query("CREATE (:V {k: 2})")
    v2 = eng.store.tables.manifest["version"]
    assert v2 > v1
    mdir = p / "_manifest"
    current = (mdir / "CURRENT").read_text().strip()
    m = json.loads((mdir / current).read_text())
    assert m["version"] == v2
    # every referenced file exists on disk
    for key, t in m["tables"].items():
        for e in t["files"]:
            assert os.path.exists(p / "data" / key / e["name"])


def test_vacuum_removes_orphaned_files(spark, tmp_path):
    p = tmp_path / "g"
    eng = _engine(spark, p)
    eng.query("UNWIND range(0, 20) AS i CREATE (:W {k: i})")
    eng.query("MATCH (n:W) SET n.k = n.k + 100")  # rewrites all buckets
    removed = eng.store.tables.vacuum()
    assert removed > 0
    # table still fully readable after vacuum
    assert eng.query("MATCH (n:W) RETURN count(*) AS c") == [{"c": 21}]


def test_null_property_persists(spark, tmp_path):
    # parquet can't store void columns; all-null props persist as string
    p = tmp_path / "g"
    e1 = _engine(spark, p)
    e1.query("CREATE (:Z {a: 1, b: null})")
    e2 = _engine(spark, p)
    assert e2.query("MATCH (n:Z) RETURN n.a AS a, n.b AS b") == [
        {"a": 1, "b": None}
    ]


def test_replace_buckets_validates_before_mutating(spark, tmp_path):
    """Rows outside the touched set must raise BEFORE the in-memory bucket
    map changes — a caller that catches the error and later commits must
    not persist a half-updated manifest (ADVICE r4 #5)."""
    import copy

    from pyspark.sql import types as T

    store = DurableTableStore(spark, str(tmp_path / "rb"), n_buckets=4)
    schema = T.StructType([T.StructField("_id", T.StringType())])
    store.create_table("nodes/Y", {"kind": "node", "label": "Y"}, schema)
    ids = [f"id{i}" for i in range(20)]
    store.write("nodes/Y", append=spark.createDataFrame([(i,) for i in ids], schema))
    store.commit()
    before = copy.deepcopy(store.manifest["tables"]["nodes/Y"]["files"])
    # pick one real bucket, then feed write(replace=) the FULL table so
    # some rows hash outside the touched set
    touched = [before[0]["buckets"][0]]
    full = store.read_table("nodes/Y")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="outside touched"):
        store.write("nodes/Y", replace=full, touched=touched)
    assert store.manifest["tables"]["nodes/Y"]["files"] == before
    store.commit()  # committing after the failed call stays consistent
    reopened = DurableTableStore(spark, str(tmp_path / "rb"), n_buckets=4)
    assert sorted(
        r._id for r in reopened.read_table("nodes/Y").collect()
    ) == sorted(ids)


def test_hadoop_commit_plane_roundtrip(spark, tmp_path):
    """The same store logic through the Hadoop FileSystem commit plane
    (file:// scheme here; hdfs:// at deploy) — write, commit, reopen,
    recover, vacuum."""
    from pyspark.sql import types as T

    from nicefox_graphdb_spark.commit_plane import HadoopCommitPlane

    root = "file://" + str(tmp_path / "hfs")
    fs = HadoopCommitPlane(spark, root)
    store = DurableTableStore(spark, root, n_buckets=4, fs=fs)
    schema = T.StructType(
        [
            T.StructField("_id", T.StringType()),
            T.StructField("v", T.LongType()),
        ]
    )
    store.create_table("nodes/H", {"kind": "node", "label": "H"}, schema)
    store.write(
        "nodes/H",
        append=spark.createDataFrame([(f"h{i}", i) for i in range(10)], schema),
    )
    store.commit()
    # rewrite a touched subset, commit again
    touched = store.touched_buckets(
        spark.createDataFrame([("h1",), ("h2",)], "struct<_id:string>")
    )
    updated = store.read_table("nodes/H", touched).withColumn(
        "v", F.col("v") + 100
    )
    store.write("nodes/H", replace=updated, touched=touched)
    store.commit()
    # reopen through a fresh plane: recovery must see both commits
    reopened = DurableTableStore(
        spark, root, fs=HadoopCommitPlane(spark, root)
    )
    rows = {r._id: r.v for r in reopened.read_table("nodes/H").collect()}
    assert rows["h1"] == 101 and rows["h2"] == 102
    assert len(rows) == 10
    assert reopened.vacuum() >= 0  # old files drop cleanly via the plane


def test_query_atomicity_failing_clause_rolls_back_earlier_writes(
    spark, tmp_path
):
    """Reference semantics: all statements of one query run in a single
    transaction with rollback (src/executor.ts:446-456). A failing later
    clause must leave NO trace of the earlier clauses' writes — neither in
    the live catalog nor in the durable manifest."""
    from nicefox_graphdb_spark.cypher.compiler import CypherCompileError
    from nicefox_graphdb_spark.graph_store import CypherRuntimeError

    p = tmp_path / "g"
    eng = _engine(spark, p)
    eng.query("CREATE (:T {k: 0, q: null})")
    v_before = eng.store.tables.manifest["version"]
    # clause 1 CREATEs and executes; clause 3 MERGEs on a key that is null
    # AT RUNTIME (n.q types as string but holds null) → runtime error after
    # clause 1's write already staged
    with pytest.raises(CypherRuntimeError):
        eng.query(
            "CREATE (:T {k: 1}) WITH 1 AS one "
            "MATCH (n:T) MERGE (z:Zz {k: n.q})"
        )
    # in-memory state rolled back: the k=1 node is gone, no Zz label
    assert eng.query("MATCH (n:T) RETURN count(*) AS c") == [{"c": 1}]
    # durable state: no manifest version was published for the failed query
    assert eng.store.tables.manifest["version"] == v_before
    # a compile-time error after an executed clause rolls back the same way
    with pytest.raises(CypherCompileError):
        eng.query("CREATE (:T {k: 2}) WITH 1 AS one MERGE (x:T {k: null})")
    assert eng.query("MATCH (n:T) RETURN count(*) AS c") == [{"c": 1}]
    assert eng.store.tables.manifest["version"] == v_before
    # restart agrees
    e2 = _engine(spark, p)
    assert e2.query("MATCH (n:T) RETURN count(*) AS c") == [{"c": 1}]


def test_multi_write_query_publishes_one_manifest_version(spark, tmp_path):
    """One durable manifest version per query, however many write clauses
    it contains (the reference's one-transaction-per-query shape)."""
    p = tmp_path / "g"
    eng = _engine(spark, p)
    v0 = eng.store.tables.manifest["version"]
    eng.query(
        "CREATE (a:Q {k: 1}) CREATE (b:Q {k: 2}) "
        "WITH a, b SET a.v = 10 SET b.v = 20"
    )
    assert eng.store.tables.manifest["version"] == v0 + 1
    assert eng.query(
        "MATCH (n:Q) RETURN n.k AS k, n.v AS v ORDER BY k"
    ) == [{"k": 1, "v": 10}, {"k": 2, "v": 20}]


def test_mutable_store_query_atomicity(spark):
    """The in-memory store honors the same rollback contract."""
    from nicefox_graphdb_spark.cypher.compiler import CypherCompileError

    eng = CypherEngine(spark, GraphCatalog(spark), mutable=True)
    eng.query("CREATE (:T {k: 0})")
    with pytest.raises(CypherCompileError):
        eng.query("CREATE (:T {k: 1}) WITH 1 AS one MERGE (x:T {k: null})")
    assert eng.query("MATCH (n:T) RETURN count(*) AS c") == [{"c": 1}]


def test_pre_v2_manifest_loads(spark, tmp_path):
    """Back-compat: a manifest in the old bucket→files format (no stats)
    still reads; first rewrite upgrades the entries."""
    import json as _json
    import os as _os

    from pyspark.sql import types as T

    # write a table in the NEW store, then rewrite its manifest to the old
    # format on disk and reopen
    root = str(tmp_path / "old")
    store = DurableTableStore(spark, root, n_buckets=2)
    schema = T.StructType([T.StructField("_id", T.StringType())])
    store.create_table("nodes/O", {"kind": "node", "label": "O"}, schema)
    store.write(
        "nodes/O",
        append=spark.createDataFrame([(f"o{i}",) for i in range(6)], schema),
    )
    store._compact_shared("nodes/O")  # exclusive files → expressible in v1
    store.commit()
    mdir = _os.path.join(root, "_manifest")
    cur = open(_os.path.join(mdir, "CURRENT")).read().strip()
    m = _json.loads(open(_os.path.join(mdir, cur)).read())
    t = m["tables"]["nodes/O"]
    t["buckets"] = {}
    for e in t.pop("files"):
        t["buckets"].setdefault(str(e["buckets"][0]), []).append(e["name"])
    with open(_os.path.join(mdir, cur), "w") as f:
        f.write(_json.dumps(m))
    reopened = DurableTableStore(spark, root, n_buckets=2)
    assert reopened.read_table("nodes/O").count() == 6
    entries = reopened.manifest["tables"]["nodes/O"]["files"]
    assert all(len(e["buckets"]) == 1 for e in entries)


def test_load_falls_back_to_newest_version_when_current_missing(
    spark, tmp_path
):
    """Crash between manifest publish and CURRENT swing: reopen adopts the
    newest atomic manifest version."""
    import os as _os

    from pyspark.sql import types as T

    root = str(tmp_path / "crash")
    store = DurableTableStore(spark, root, n_buckets=2)
    schema = T.StructType([T.StructField("_id", T.StringType())])
    store.create_table("nodes/C", {"kind": "node", "label": "C"}, schema)
    store.write(
        "nodes/C", append=spark.createDataFrame([("c1",), ("c2",)], schema)
    )
    store.commit()
    _os.remove(_os.path.join(root, "_manifest", "CURRENT"))
    reopened = DurableTableStore(spark, root)
    assert reopened.read_table("nodes/C").count() == 2


def test_retention_bounds_files_and_time_travel_reads(spark, tmp_path):
    """VERDICT r6 ask #4: a SET/DELETE loop must leave manifest + data
    file counts bounded (auto-vacuum on the commit cadence) while
    time-travel to the retained window still reads consistently."""
    path = str(tmp_path / "g")
    eng = _engine(spark, path)
    store = eng.store.tables
    store.retain_versions = 4
    store.vacuum_every = 2
    eng.query("CREATE (:N {k: 1, v: 0})")
    for i in range(1, 13):
        eng.query(f"MATCH (n:N {{k: 1}}) SET n.v = {i}")
    mdir = os.path.join(path, "_manifest")
    manifests = [f for f in os.listdir(mdir) if f.endswith(".json")]
    # retained window only — never the full 13-version history
    assert len(manifests) <= store.retain_versions + store.vacuum_every
    ddir = os.path.join(path, "data", node_key("N"))
    files = [f for f in os.listdir(ddir) if f.endswith(".parquet")]
    # every retained version references at most 1 small file for this table
    assert len(files) <= store.retain_versions + store.vacuum_every
    # time travel: each retained version reads the value as-of then
    cur = store.manifest["version"]
    floor = cur - store.retain_versions + 1
    vals = {}
    for v in range(max(floor, 1), cur + 1):
        rows = store.read_table_at(node_key("N"), v).select("v").collect()
        vals[v] = rows[0]["v"] if rows else None
    # versions are montonically increasing SET values
    got = [vals[v] for v in sorted(vals)]
    assert got == sorted(got) and len(set(got)) == len(got)
    # versions older than the last retention run's floor are gone, loudly
    # (retention fires every vacuum_every commits, so the deletable
    # horizon lags the current version by at most that much)
    old = cur - store.retain_versions - store.vacuum_every
    if old >= 1:
        with pytest.raises(FileNotFoundError):
            store.read_table_at(node_key("N"), old)
    # current state survives a restart after vacuum
    eng2 = _engine(spark, path)
    assert eng2.query("MATCH (n:N) RETURN n.v AS v") == [{"v": 12}]


class _Crash(Exception):
    pass


class _FaultyPlane(LocalCommitPlane):
    """Local commit plane that raises at one step of write + commit."""

    def __init__(self):
        self.step = None

    def listdir(self, path):
        if self.step == "staged" and "_staging" in path:
            raise _Crash("after the staging write")
        return super().listdir(path)

    def move(self, src, dst):
        super().move(src, dst)
        if self.step == "moved":
            raise _Crash("after the first file move")

    def write_text_atomic(self, path, text):
        if self.step == "manifest" and path.endswith(".json"):
            raise _Crash("on the manifest write")
        if self.step == "swing" and path.endswith("CURRENT"):
            raise _Crash("between the manifest write and the CURRENT swing")
        super().write_text_atomic(path, text)


@pytest.mark.parametrize("step", ["staged", "moved", "manifest", "swing"])
def test_crash_at_each_write_and_commit_step(spark, tmp_path, step):
    """A crash at any step of a fused replace + append write or of its
    commit leaves the previous version live: the in-memory manifest is
    unchanged when the write raised, a reopen reads the prior rows, and
    vacuum() clears every orphan (data files and staging leftovers)."""
    import copy

    from pyspark.sql import types as T

    root = str(tmp_path / "crash")
    fs = _FaultyPlane()
    store = DurableTableStore(spark, root, n_buckets=4, fs=fs)
    schema = T.StructType(
        [T.StructField("_id", T.StringType()), T.StructField("v", T.LongType())]
    )
    store.create_table("nodes/F", {"kind": "node", "label": "F"}, schema)
    prior = [(f"f{i}", 0) for i in range(10)]
    store.write("nodes/F", append=spark.createDataFrame(prior, schema))
    store.commit()
    before = copy.deepcopy(store.manifest)
    touched = store.touched_buckets(spark.createDataFrame([("f1",)], "_id string"))
    fs.step = step
    with pytest.raises(_Crash):
        store.write(
            "nodes/F",
            replace=store.read_table("nodes/F", touched).withColumn(
                "v", F.lit(1).cast("long")
            ),
            touched=touched,
            append=spark.createDataFrame([("new", 2)], schema),
            est_bytes=4096,
        )
        assert step in ("manifest", "swing")  # the write itself got through
        store.commit()
    if step in ("staged", "moved"):
        assert store.manifest == before
    reopened = DurableTableStore(spark, root)
    assert reopened.manifest["version"] == before["version"]
    assert sorted(
        (r._id, r.v) for r in reopened.read_table("nodes/F").collect()
    ) == sorted(prior)
    reopened.vacuum()
    ddir = os.path.join(root, "data", "nodes/F")
    live = {e["name"] for e in reopened.manifest["tables"]["nodes/F"]["files"]}
    assert {f for f in os.listdir(ddir) if f.endswith(".parquet")} == live
    assert os.listdir(os.path.join(root, "_staging")) == []


def test_fanout_write_rejects_stray_rows(spark, tmp_path):
    """The rows-outside-touched check holds on the fan-out path too."""
    import copy

    from pyspark.sql import types as T

    store = DurableTableStore(spark, str(tmp_path / "fo"), n_buckets=4)
    store.small_write_bytes = 0  # every write fans out
    schema = T.StructType([T.StructField("_id", T.StringType())])
    store.create_table("nodes/Y", {"kind": "node", "label": "Y"}, schema)
    ids = [f"id{i}" for i in range(20)]
    store.write("nodes/Y", append=spark.createDataFrame([(i,) for i in ids], schema))
    store.commit()
    before = copy.deepcopy(store.manifest["tables"]["nodes/Y"]["files"])
    assert all(len(e["buckets"]) == 1 for e in before)  # fan-out layout
    touched = [before[0]["buckets"][0]]
    with pytest.raises(ValueError, match="outside touched"):
        store.write("nodes/Y", replace=store.read_table("nodes/Y"), touched=touched)
    assert store.manifest["tables"]["nodes/Y"]["files"] == before
    assert sorted(r._id for r in store.read_table("nodes/Y").collect()) == sorted(ids)


def test_fused_upsert_on_fanout_path(spark, tmp_path):
    """A terminal MERGE's created rows ride its ON MATCH rewrite as one
    write on the fan-out path: created and updated rows land in one
    manifest version, and a null key aborts with the manifest untouched."""
    from nicefox_graphdb_spark.graph_store import CypherRuntimeError

    eng = _engine(spark, tmp_path / "g")
    eng.query("UNWIND range(1, 5) AS i CREATE (:X {id: i, v: 0})")
    store = eng.store.tables
    store.small_write_bytes = 0
    v0 = store.manifest["version"]
    eng.query("UNWIND [2, 6] AS k MERGE (a:X {id: k}) ON MATCH SET a.v = 1")
    assert store.manifest["version"] == v0 + 1
    files = store.manifest["tables"][node_key("X")]["files"]
    assert all(len(e["buckets"]) == 1 for e in files)
    assert eng.query("MATCH (a:X) RETURN a.id AS id, a.v AS v ORDER BY id") == [
        {"id": 1, "v": 0}, {"id": 2, "v": 1}, {"id": 3, "v": 0},
        {"id": 4, "v": 0}, {"id": 5, "v": 0}, {"id": 6, "v": None},
    ]
    before = json.loads(json.dumps(store.manifest))
    with pytest.raises(CypherRuntimeError, match="null property value"):
        eng.query(
            "UNWIND [3, null] AS k MERGE (a:X {id: k}) ON MATCH SET a.v = 2"
        )
    assert store.manifest == before
    assert eng.query("MATCH (a:X) RETURN count(*) AS c, sum(a.v) AS s") == [
        {"c": 6, "s": 1}
    ]


@pytest.mark.parametrize("durable", [True, False])
def test_terminal_merge_on_match_targets_other_tables(spark, tmp_path, durable):
    """ON MATCH that sets another label and a relationship, never the
    merged label: the staged created rows are not consumed by those
    rewrites and still land when the window closes, in one version."""
    eng = (
        _engine(spark, tmp_path / "g") if durable
        else CypherEngine(spark, GraphCatalog(spark), mutable=True)
    )
    eng.query("CREATE (:Y {n: 1})-[:R]->(:Z), (:X {id: 1})")
    v0 = eng.store.tables.manifest["version"] if durable else None
    eng.query(
        "MATCH (b:Y)-[r:R]->(:Z) UNWIND [1, 2] AS k "
        "MERGE (a:X {id: k}) ON MATCH SET b.y = 1, r.w = 2"
    )
    if durable:
        assert eng.store.tables.manifest["version"] == v0 + 1
    assert eng.query("MATCH (a:X) RETURN a.id AS id ORDER BY id") == [
        {"id": 1}, {"id": 2}
    ]
    assert eng.query("MATCH (b:Y)-[r:R]->() RETURN b.y AS y, r.w AS w") == [
        {"y": 1, "w": 2}
    ]
