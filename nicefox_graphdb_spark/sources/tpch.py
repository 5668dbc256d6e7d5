"""Graph projection of the driver's TPC-H-ish parquet tables (FIXTURES.md F5).

Node ids are label-prefixed strings (``C5``, ``O17``…) so ids are globally
unique across labels — the composite-key equivalent of the reference's UUID
node ids (reference src/translator.ts:15235-15237). Natural keys stay around
as typed properties, so point lookups and theta-joins stay numeric and
pushdown-friendly (the reference acknowledges full-scan pain from JSON id
lookups in benchmark/OPTIMIZATION_LOG.md:46-58 — typed columns avoid it).

Projection:

| label    | table     | id        | properties                              |
|----------|-----------|-----------|-----------------------------------------|
| Region   | region    | R<key>    | regionkey, name                         |
| Nation   | nation    | N<key>    | nationkey, name                         |
| Customer | customer  | C<key>    | custkey, name, acctbal, mktsegment      |
| Supplier | supplier  | S<key>    | suppkey, name, acctbal                  |
| Part     | part      | P<key>    | partkey, name, brand, type, size, retailprice |
| Order    | orders    | O<key>    | orderkey, orderstatus, totalprice, orderdate, orderpriority |
| User     | events    | U<uid>    | user_id (distinct user_ids)             |
| Event    | events    | E<id>     | event_id, ts, event_type, value, props  |
| Document | documents | D<id>     | doc_id, text, lang, source, n_chars     |

| type        | endpoints          | edge id                     | properties |
|-------------|--------------------|-----------------------------|------------|
| PLACED      | Customer → Order   | PL<orderkey>                | —          |
| CONTAINS    | Order → Part       | CT<orderkey>_<linenumber>   | quantity, extendedprice, discount, tax, returnflag, linestatus, shipdate, linenumber, suppkey |
| SUPPLIED_BY | Part → Supplier    | SB<partkey>_<suppkey>       | — (distinct pairs) |
| IN_NATION   | Customer → Nation  | CN<custkey>                 | —          |
| IN_NATION   | Supplier → Nation  | SN<suppkey>                 | —          |
| IN_REGION   | Nation → Region    | NR<nationkey>               | —          |
| TRIGGERED   | User → Event       | TG<event_id>                | —          |
| NEXT        | Event → Event      | NX<event_id>                | per-user ts-ordered successor chain |

The NEXT chain gives a deterministic multi-hop traversal graph (for
var-length paths) whose oracle is a recursive CTE over LEAD(ts) — fully
SQL-expressible for the correctness gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nicefox_graphdb_spark.catalog import GraphCatalog
from nicefox_graphdb_spark.sources.footer import read_parquet

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def read_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read the driver parquet tables, normalizing TIMESTAMP(NANOS) columns
    (read as LongType via spark.sql.legacy.parquet.nanosAsLong) back to
    proper TimestampType. Each schema comes from the table's footer
    (``footer.read_parquet``), so the load schedules no Spark job."""
    import pyarrow.parquet as pq
    import pyarrow as pa

    # defensive: the caller's session may not come from get_spark()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    out: dict[str, DataFrame] = {}
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        footer = pq.ParquetFile(path)
        df = read_parquet(spark, path, footer)
        for fld in footer.schema_arrow:
            if isinstance(fld.type, pa.TimestampType) and fld.type.unit == "ns":
                # integer division: nanos exceed double precision (2^53)
                df = df.withColumn(
                    fld.name,
                    F.timestamp_micros(F.expr(f"`{fld.name}` div 1000")),
                )
        out[t] = df
    return out


def _pid(prefix: str, col) -> F.Column:
    return F.concat(F.lit(prefix), col.cast("string"))


def load_tpch_graph(spark: SparkSession, sf_dir: str) -> GraphCatalog:
    t = read_tables(spark, sf_dir)
    cat = GraphCatalog(spark)

    cat.register_node(
        "Region",
        t["region"].select(
            _pid("R", F.col("r_regionkey")).alias("_id"),
            F.col("r_regionkey").alias("regionkey"),
            F.col("r_name").alias("name"),
        ),
    )
    cat.register_node(
        "Nation",
        t["nation"].select(
            _pid("N", F.col("n_nationkey")).alias("_id"),
            F.col("n_nationkey").alias("nationkey"),
            F.col("n_name").alias("name"),
        ),
    )
    cat.register_node(
        "Customer",
        t["customer"].select(
            _pid("C", F.col("c_custkey")).alias("_id"),
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("acctbal"),
            F.col("c_mktsegment").alias("mktsegment"),
        ),
    )
    cat.register_node(
        "Supplier",
        t["supplier"].select(
            _pid("S", F.col("s_suppkey")).alias("_id"),
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            F.col("s_acctbal").alias("acctbal"),
        ),
    )
    cat.register_node(
        "Part",
        t["part"].select(
            _pid("P", F.col("p_partkey")).alias("_id"),
            F.col("p_partkey").alias("partkey"),
            F.col("p_name").alias("name"),
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").alias("size"),
            F.col("p_retailprice").alias("retailprice"),
        ),
    )
    cat.register_node(
        "Order",
        t["orders"].select(
            _pid("O", F.col("o_orderkey")).alias("_id"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderstatus").alias("orderstatus"),
            F.col("o_totalprice").alias("totalprice"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
        ),
    )
    cat.register_node(
        "User",
        t["events"]
        .select(F.col("user_id"))
        .distinct()
        .select(_pid("U", F.col("user_id")).alias("_id"), "user_id"),
    )
    cat.register_node(
        "Event",
        t["events"].select(
            _pid("E", F.col("event_id")).alias("_id"),
            F.col("event_id"),
            F.col("ts"),
            F.col("event_type"),
            F.col("value"),
            F.col("props"),
        ),
    )
    cat.register_node(
        "Document",
        t["documents"].select(
            _pid("D", F.col("doc_id")).alias("_id"),
            F.col("doc_id"),
            F.col("text"),
            F.col("lang"),
            F.col("source"),
            F.col("n_chars"),
        ),
    )

    cat.register_edge(
        "PLACED",
        "Customer",
        "Order",
        # _dstp_*: the Order node's columns ride on the edge row (same
        # physical source row) → hop joins skip the orders re-scan entirely
        t["orders"].select(
            _pid("PL", F.col("o_orderkey")).alias("_id"),
            _pid("C", F.col("o_custkey")).alias("_src"),
            _pid("O", F.col("o_orderkey")).alias("_dst"),
            F.col("o_orderkey").alias("_dstp_orderkey"),
            F.col("o_orderstatus").alias("_dstp_orderstatus"),
            F.col("o_totalprice").alias("_dstp_totalprice"),
            F.col("o_orderdate").alias("_dstp_orderdate"),
            F.col("o_orderpriority").alias("_dstp_orderpriority"),
        ),
    )
    cat.register_edge(
        "CONTAINS",
        "Order",
        "Part",
        t["lineitem"].select(
            F.concat(
                F.lit("CT"),
                F.col("l_orderkey").cast("string"),
                F.lit("_"),
                F.col("l_linenumber").cast("string"),
            ).alias("_id"),
            _pid("O", F.col("l_orderkey")).alias("_src"),
            _pid("P", F.col("l_partkey")).alias("_dst"),
            F.col("l_quantity").alias("quantity"),
            F.col("l_extendedprice").alias("extendedprice"),
            F.col("l_discount").alias("discount"),
            F.col("l_tax").alias("tax"),
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_linestatus").alias("linestatus"),
            F.col("l_shipdate").alias("shipdate"),
            F.col("l_linenumber").alias("linenumber"),
            F.col("l_suppkey").alias("suppkey"),
        ),
    )
    cat.register_edge(
        "SUPPLIED_BY",
        "Part",
        "Supplier",
        t["lineitem"]
        .select("l_partkey", "l_suppkey")
        .distinct()
        .select(
            F.concat(
                F.lit("SB"),
                F.col("l_partkey").cast("string"),
                F.lit("_"),
                F.col("l_suppkey").cast("string"),
            ).alias("_id"),
            _pid("P", F.col("l_partkey")).alias("_src"),
            _pid("S", F.col("l_suppkey")).alias("_dst"),
        ),
    )
    cat.register_edge(
        "IN_NATION",
        "Customer",
        "Nation",
        t["customer"].select(
            _pid("CN", F.col("c_custkey")).alias("_id"),
            _pid("C", F.col("c_custkey")).alias("_src"),
            _pid("N", F.col("c_nationkey")).alias("_dst"),
        ),
    )
    cat.register_edge(
        "IN_NATION",
        "Supplier",
        "Nation",
        t["supplier"].select(
            _pid("SN", F.col("s_suppkey")).alias("_id"),
            _pid("S", F.col("s_suppkey")).alias("_src"),
            _pid("N", F.col("s_nationkey")).alias("_dst"),
        ),
    )
    cat.register_edge(
        "IN_REGION",
        "Nation",
        "Region",
        t["nation"].select(
            _pid("NR", F.col("n_nationkey")).alias("_id"),
            _pid("N", F.col("n_nationkey")).alias("_src"),
            _pid("R", F.col("n_regionkey")).alias("_dst"),
        ),
    )
    cat.register_edge(
        "TRIGGERED",
        "User",
        "Event",
        t["events"].select(
            _pid("TG", F.col("event_id")).alias("_id"),
            _pid("U", F.col("user_id")).alias("_src"),
            _pid("E", F.col("event_id")).alias("_dst"),
            F.col("event_id").alias("_dstp_event_id"),
            F.col("ts").alias("_dstp_ts"),
            F.col("event_type").alias("_dstp_event_type"),
            F.col("value").alias("_dstp_value"),
            F.col("props").alias("_dstp_props"),
        ),
    )
    # Per-user successor chain, ordered by (ts, event_id) for determinism.
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    nxt = (
        t["events"]
        .select("event_id", "user_id", "ts")
        .withColumn("_next_id", F.lead("event_id").over(w))
        .where(F.col("_next_id").isNotNull())
    )
    cat.register_edge(
        "NEXT",
        "Event",
        "Event",
        nxt.select(
            _pid("NX", F.col("event_id")).alias("_id"),
            _pid("E", F.col("event_id")).alias("_src"),
            _pid("E", F.col("_next_id")).alias("_dst"),
        ),
    )
    return cat
