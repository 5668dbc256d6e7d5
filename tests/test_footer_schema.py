"""The footer schema a source load hands Spark must be the schema Spark
would infer, field by field, and reading with it must return the same
rows; a column it cannot map falls back to Spark's own inference. Loading
a source with it schedules no Spark job."""

import datetime as dt
import decimal
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import SF_DIR, jobs_during
from nicefox_graphdb_spark import CypherEngine
from nicefox_graphdb_spark.catalog import GraphCatalog
from nicefox_graphdb_spark.sources import (
    load_snapshot,
    load_tpch_graph,
    read_tables,
    snapshot_graph,
)
from nicefox_graphdb_spark.sources.footer import footer_schema, read_parquet

# every table of every scale factor beside the one the suite loads
TESTDATA_ROOT = os.path.dirname(SF_DIR)
TESTDATA = sorted(glob.glob(os.path.join(TESTDATA_ROOT, "sf*", "*.parquet")))


def _assert_parity(spark, path):
    schema = footer_schema(spark, path)
    inferred = spark.read.parquet(path)
    assert schema is not None, path
    assert list(schema.fields) == list(inferred.schema.fields), path
    got = spark.read.schema(schema).parquet(path).limit(5).collect()
    assert got == inferred.limit(5).collect(), path


@pytest.mark.skipif(not TESTDATA, reason="no driver testdata")
@pytest.mark.parametrize(
    "path", TESTDATA, ids=[os.path.relpath(p, TESTDATA_ROOT) for p in TESTDATA]
)
def test_footer_schema_matches_spark_on_testdata(spark, path):
    _assert_parity(spark, path)


def _arrow_table():
    ts = [dt.datetime(2024, 1, 2, 3, 4, 5, 678901), None]
    return pa.table({
        "i8": pa.array([1, None], pa.int8()),
        "i16": pa.array([1, 2], pa.int16()),
        "i32": pa.array([1, 2], pa.int32()),
        "f32": pa.array([1.5, None], pa.float32()),
        "flag": pa.array([True, None]),
        "dec": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(9, 2)),
        "day": pa.array([dt.date(2024, 1, 2), None]),
        "ntz": pa.array(ts, pa.timestamp("us")),
        "utc": pa.array(ts, pa.timestamp("ms", tz="UTC")),
        "nanos": pa.array(ts, pa.timestamp("ns")),
        "name": pa.array(["a", None]),
        "vec": pa.array([[1.0, 2.0], None], pa.list_(pa.float32())),
        "tags": pa.array([["a"], []], pa.list_(pa.string())),
    })


def test_footer_schema_maps_arrow_written_types(spark, tmp_path):
    # every type the mapping covers, written by pyarrow (no Spark row
    # metadata); nanosecond timestamps need the 2.6 format
    path = str(tmp_path / "types.parquet")
    pq.write_table(_arrow_table(), path, version="2.6")
    _assert_parity(spark, path)


@pytest.mark.parametrize("column,type_name", [
    (pa.array([dt.datetime(2024, 1, 2), None], pa.timestamp("us")), "timestamp"),
    (pa.array([1, 2**32 - 1], pa.uint32()), "long"),
    (pa.array([b"ab", None]), "binary"),
    (pa.array([{"k": "v"}, None], pa.map_(pa.string(), pa.string())), "map"),
], ids=["int96", "uint32", "binary", "map"])
def test_footer_schema_falls_back_on_unmapped_column(
    spark, tmp_path, column, type_name
):
    # the INT96 column is the timestamp pyarrow writes as deprecated INT96
    path = str(tmp_path / "unmapped.parquet")
    table = pa.table({"k": pa.array([1, 2], pa.int64()), "x": column})
    pq.write_table(table, path, use_deprecated_int96_timestamps=True)
    assert footer_schema(spark, path) is None
    df = read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert df.schema["x"].dataType.typeName() == type_name
    assert df.count() == 2


def _typed_catalog(spark):
    cat = GraphCatalog(spark)
    cat.register_node("P", spark.sql(
        "SELECT 'p1' AS _id, 1L AS k, 2.5D AS w, true AS ok, "
        "DATE'2024-01-02' AS d, TIMESTAMP'2024-01-02 03:04:05' AS t, "
        "TIMESTAMP_NTZ'2024-01-02 03:04:05' AS tn, array(1, 2) AS xs, "
        "map('a', 1) AS m, named_struct('x', 1, 'y', 'z') AS s, "
        "CAST(1.25 AS DECIMAL(9, 2)) AS dec"
    ))
    cat.register_node("Q", spark.sql("SELECT 'q1' AS _id"))
    cat.register_edge("R", "P", "Q", spark.sql(
        "SELECT 'r1' AS _id, 'p1' AS _src, 'q1' AS _dst, 3 AS n"
    ))
    return cat


def test_footer_schema_matches_spark_on_a_snapshot(spark, tmp_path):
    res = snapshot_graph(_typed_catalog(spark), str(tmp_path / "bk"))
    assert res.success, res.error
    tables = glob.glob(os.path.join(res.path, "*", "*.parquet"))
    assert len(tables) == 3
    for path in tables:
        _assert_parity(spark, path)


def test_footer_schema_matches_spark_on_a_durable_table_file(spark, tmp_path):
    eng = CypherEngine(spark, GraphCatalog(spark), data_path=str(tmp_path / "g"))
    eng.query(
        "CREATE (:P {k: 1, w: 2.5, tags: ['a'], at: datetime('2024-01-02T03:04:05Z')})"
        "-[:R {n: 3}]->(:Q {k: 2})"
    )
    files = glob.glob(str(tmp_path / "g" / "data" / "*" / "*" / "*.parquet"))
    assert len(files) == 3
    for path in files:
        _assert_parity(spark, path)


def test_source_loads_schedule_no_jobs(spark, tmp_path):
    assert jobs_during(spark, lambda: read_tables(spark, SF_DIR)) == 0
    cat = []
    assert jobs_during(spark, lambda: cat.append(load_tpch_graph(spark, SF_DIR))) == 0
    small = _typed_catalog(spark)
    assert snapshot_graph(small, str(tmp_path / "bk")).success
    loaded = []
    assert jobs_during(
        spark, lambda: loaded.append(load_snapshot(spark, str(tmp_path / "bk")))
    ) == 0
    # the loads read what was stored
    assert cat[0].node("Region").df.count() == 5
    got = loaded[0].node("P").df.collect()[0].asDict()
    want = small.node("P").df.collect()[0].asDict()
    assert got == want
