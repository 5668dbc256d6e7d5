"""Shared scan/parallelism helpers for the operator family.

The driver's testdata lands as ONE parquet file per table, so a raw scan is
ONE partition (`spark.sql.files.maxPartitionBytes` >> file size) and every
per-row-expensive expression chained onto it (tokenize, shingle, signature
folds) runs single-threaded while the rest of the cluster idles — the
"input skew: one huge unsplittable file" case of the optimization guide
(§2.5: "repartition immediately after the read").

At corpus scale a 100 TB table scans as tens of thousands of splits, far
more than the configured parallelism, so ``spread_scan`` is a structural
no-op there — the repartition only fires for under-parallelized inputs,
and what it shuffles is exactly the under-parallelized (small) input.

``local_frame`` builds every frame the package makes from driver-side
rows. ``spark.createDataFrame(rows, schema)`` plans a Python-RDD scan
(``Scan ExistingRDD``), so each action over it runs a Python-worker
stage: a 16-row frame cost 419 ms per collect that way against 37 ms as a
``LocalRelation`` built from Arrow batches (``LocalTableScan``, 4 cores).
A ``LocalRelation`` is also lineage-free: projections, filters and
limits over it fold into a new one on the driver, with no Spark job.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: T.StructType | str
) -> DataFrame:
    """``rows`` (tuples in ``schema``'s column order) as a ``LocalRelation``
    built from one Arrow table on the driver: no Python worker runs when
    an action reads it. ``schema`` is a ``StructType`` or a DDL string."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def shuffle_partitions(df: DataFrame) -> int:
    """The session's configured shuffle parallelism (cluster-sized conf;
    local default = core count)."""
    try:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return df.sparkSession.sparkContext.defaultParallelism


def spread_scan(df: DataFrame, n: int | None = None) -> DataFrame:
    """Round-robin repartition an under-parallelized input up to the
    session's shuffle parallelism; inputs already at least that wide pass
    through untouched (no shuffle at corpus scale).

    The width probe (``df.rdd.getNumPartitions()``) is only taken on
    non-adaptive plans: an exchange-bearing (AQE-wrapped) input would have
    its upstream shuffle stages EXECUTED by the probe — once for the probe
    and again for the real job (ADVICE r11). Such an input is already at
    the configured shuffle width anyway, so it passes through untouched."""
    n = n or shuffle_partitions(df)
    try:
        plan = df._jdf.queryExecution().executedPlan()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            return df
    except Exception:  # noqa: BLE001 — probe only; fall through to the RDD
        pass
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df
