"""Parquet schemas read from a footer on the driver.

Spark infers a parquet path's schema with a Spark job: with schema merging
off it opens one footer, the first data file by path, and converts its
schema (about 70-100 ms a table on a warm 4-core session, against 13-31
ms when the reader is given the schema). ``footer_schema`` returns the
same schema from that footer with pyarrow and no job:

- Spark's own ``org.apache.spark.sql.parquet.row.metadata`` when the
  file carries it (every file Spark writes);
- otherwise the parquet schema mapped the way Spark's converter maps it,
  for the types source loads read: flat primitives, strings, decimals,
  dates, timestamps and lists of primitives. ``TIMESTAMP(NANOS)``
  becomes ``long`` under ``spark.sql.legacy.parquet.nanosAsLong``, and a
  zone-less ``TIMESTAMP`` becomes ``timestamp_ntz`` while
  ``spark.sql.parquet.inferTimestampNTZ.enabled`` is on.

Every field comes back nullable, as file sources read them. A path that
is not a local file or a flat directory of data files (summary files,
partition directories, a remote URI), an unreadable footer, or a column
of any other type (INT96, binary, unsigned, map, struct, ...) gives
``None``, and ``read_parquet`` lets Spark infer the schema as before.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def read_parquet(spark: SparkSession, path: str, footer=None) -> DataFrame:
    """``spark.read.parquet(path)`` with the footer's schema when
    ``footer_schema`` can map it, so the read schedules no Spark job."""
    schema = footer_schema(spark, path, footer)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def footer_schema(
    spark: SparkSession, path: str, footer=None
) -> T.StructType | None:
    """The schema ``spark.read.parquet(path)`` would infer, or None when
    only Spark can tell (see the module docstring). ``footer`` is the
    path's first data file as a ``pyarrow.parquet.ParquetFile`` when the
    caller has already opened it."""
    import pyarrow.parquet as pq

    if footer is None:
        data_file = _first_data_file(path)
        if data_file is None:
            return None
        try:
            footer = pq.ParquetFile(data_file)
        except Exception:  # noqa: BLE001 — not a footer we can read: Spark's turn
            return None
    raw = (footer.metadata.metadata or {}).get(SPARK_ROW_METADATA)
    if raw is not None:
        try:
            schema = T.StructType.fromJson(json.loads(raw))
        except Exception:  # noqa: BLE001 — a legacy schema string
            return None
        return _nullable(schema)
    conf = {
        name: spark.conf.get(key).lower() == "true"
        for name, key in (
            ("ntz", "spark.sql.parquet.inferTimestampNTZ.enabled"),
            ("nanos", "spark.sql.legacy.parquet.nanosAsLong"),
        )
    }
    parquet = footer.metadata.schema
    columns = {
        parquet.column(i).path: parquet.column(i)
        for i in range(footer.metadata.num_columns)
    }
    fields = []
    for fld in footer.schema_arrow:
        if fld.name in columns:
            dtype = _leaf_type(columns[fld.name], conf)
        else:
            dtype = _list_type(fld.type)
        if dtype is None:
            return None
        fields.append(T.StructField(fld.name, dtype, True))
    return T.StructType(fields)


def _first_data_file(path: str) -> str | None:
    """The file Spark reads the schema from: the path itself, or the first
    data file of a flat directory by name. Names starting with ``_`` or
    ``.`` are not data (``_SUCCESS``, ``.crc``); a summary file or a
    subdirectory means Spark reads summaries or discovers partitions."""
    if os.path.isfile(path):
        return path
    if not os.path.isdir(path):
        return None
    names = sorted(os.listdir(path))
    if any(n.startswith(("_metadata", "_common_metadata")) for n in names):
        return None
    data = [n for n in names if not n.startswith(("_", ".")) and not n.endswith("._COPYING_")]
    if not data or any(os.path.isdir(os.path.join(path, n)) for n in data):
        return None
    return os.path.join(path, data[0])


def _nullable(dtype: T.DataType) -> T.DataType:
    """Spark's ``asNullable``: every field, element and value nullable."""
    if isinstance(dtype, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
             for f in dtype.fields]
        )
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(_nullable(dtype.elementType), True)
    if isinstance(dtype, T.MapType):
        return T.MapType(_nullable(dtype.keyType), _nullable(dtype.valueType), True)
    return dtype


_INTS = {8: T.ByteType, 16: T.ShortType, 32: T.IntegerType, 64: T.LongType}
_PLAIN = {"BOOLEAN": T.BooleanType, "INT32": T.IntegerType, "INT64": T.LongType,
          "FLOAT": T.FloatType, "DOUBLE": T.DoubleType}


def _leaf_type(col, conf: dict) -> T.DataType | None:
    """Spark's type for a top-level primitive parquet column (pyarrow
    ``ColumnSchema``), from its physical and logical type."""
    phys = col.physical_type
    logical = json.loads(col.logical_type.to_json())
    kind = logical.get("Type", "None")
    if kind == "Decimal":
        return T.DecimalType(col.precision, col.scale)
    if kind == "Int":
        return _INTS[logical["bitWidth"]]() if logical["isSigned"] else None
    if phys == "INT64" and kind == "Timestamp":
        if logical["timeUnit"] == "nanoseconds":
            return T.LongType() if conf["nanos"] else None
        if logical["isAdjustedToUTC"] or not conf["ntz"]:
            return T.TimestampType()
        return T.TimestampNTZType()
    if kind == "Date" and phys == "INT32":
        return T.DateType()
    if kind == "String" and phys == "BYTE_ARRAY":
        return T.StringType()
    if kind != "None" or phys not in _PLAIN:
        return None
    return _PLAIN[phys]()


def _list_type(t) -> T.ArrayType | None:
    """Spark's type for a list-of-primitives column, from its arrow type;
    None for any other nested column."""
    import pyarrow as pa

    if not pa.types.is_list(t):
        return None
    elem = {
        pa.bool_(): T.BooleanType, pa.int8(): T.ByteType, pa.int16(): T.ShortType,
        pa.int32(): T.IntegerType, pa.int64(): T.LongType,
        pa.float32(): T.FloatType, pa.float64(): T.DoubleType,
        pa.string(): T.StringType,
    }.get(t.value_type)
    return None if elem is None else T.ArrayType(elem(), True)
