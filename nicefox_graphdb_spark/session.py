"""SparkSession factory with scale-oriented defaults.

Tested on local[N]; the conf choices are the ones that matter on a real
multi-executor cluster: AQE (runtime re-planning, skew-join splitting,
partition coalescing), broadcast threshold for dimension tables, Arrow for
the few pandas-UDF code paths.

Codegen class cache: whole-stage codegen turns each stage into Java
source that Janino compiles, and Spark caches the compiled classes
JVM-wide keyed by that source (``spark.sql.codegen.cache.maxEntries``,
default 100). The engine's working set is far larger, measured in
distinct classes per JVM: one perfbench ``graph_analytics`` run ~280,
one ``statements`` run ~335, the 55-gate sweep
(``scripts/check_correctness.py``) 1,284, the default test tier 4,791.
At 100 entries the LRU evicted within one pass, so repeated queries and
iterative supersteps recompiled classes already compiled.
``CODEGEN_CACHE_ENTRIES`` (10,000) is over twice the largest. The conf is
static: it takes effect only when the JVM's first session is built, so a
session built without ``get_spark`` and handed to ``CypherEngine`` needs
it set on its own builder (or ``--conf`` at submit time).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries in Spark's JVM-wide cache of compiled codegen classes
# (spark.sql.codegen.cache.maxEntries; see the module docstring).
CODEGEN_CACHE_ENTRIES = 10_000


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles in this JVM so far: the count of Spark's
    CodegenMetrics compilation-time histogram, one per cache miss. A
    driver-side read through py4j; it schedules no Spark job."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def get_spark(
    app_name: str = "nicefox-graphdb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("NICEFOX_SHUFFLE_PARTITIONS", cpus)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Cypher variable / property / alias names are case-sensitive;
        # Spark's default case-insensitive resolution silently merged
        # binding columns differing only by case (RETURN 1 AS a, 2 AS A
        # both read the second column)
        .config("spark.sql.caseSensitive", "true")
        # AQE: runtime partition coalescing, skew-join handling, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Dimension tables (region/nation/supplier at any SF) broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Let the planner pick shuffled-hash join when its size conditions
        # hold instead of always sort-merge (optimization guide §3.1/§9):
        # SHJ skips both sort passes when one side is moderately small per
        # partition — the shape of this engine's key-set probes, verify
        # re-attaches and star-contraction joins. Planner POLICY, not a
        # local[32] tune: sizing still comes from stats/AQE at any scale,
        # and joins whose build side would not fit keep sort-merge via the
        # same size conditions. Interleaved A/B at sf0.1 (r11): never
        # slower, jaccard/CC window medians 8.38 s -> 6.64 s.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for pandas_udf / mapInPandas paths (dedup, multimodal).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Cypher semantics: malformed casts / out-of-range list access are
        # NULL, not errors (ANSI mode would throw)
        .config("spark.sql.ansi.enabled", "false")
        # size(null) is null in Cypher, not -1
        .config("spark.sql.legacy.sizeOfNull", "false")
        # driver testdata writes TIMESTAMP(NANOS) parquet; read as long and
        # convert to timestamp at load (sources/tpch.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # sized to the measured codegen working set (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("NICEFOX_DRIVER_MEM", "8g"))
    )
    return builder.getOrCreate()
