"""M8 source/sink contract queries (SURVEY.md §2.1): round trips
through NDJSON-gz (the reference's S3 block format (u)), CSV, and
parquet sinks.  Each query WRITES via the engine sink then READS back
via the engine source; the oracle reads the original parquet — so a
hash match proves the round trip is lossless.

Writes go under the engine's cache root (``tables.cache_path``:
gitignored, overwrite-mode, keyed by sf so concurrent sf runs don't
collide).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mo_etl_spark.registry import query
from mo_etl_spark.session import prepare
from mo_etl_spark.sources import (
    scan_csv,
    scan_jsonlines,
    sink_csv,
    sink_jsonlines,
    sink_parquet,
)
from mo_etl_spark.session import CACHE_ROOT
from mo_etl_spark.tables import cache_path, derived, load_table, table_tag

# perfbench/run.py imports this name to find the fixture cache
_CACHE = CACHE_ROOT


@query(
    "source_jsonlines_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(round(value*100) AS BIGINT) AS value_cents
    FROM events
    """,
    tags=("scan_jsonlines", "sink_jsonlines"),
)
def source_jsonlines_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> gzipped NDJSON -> read back.  Money lifted to integer
    cents BEFORE writing so the JSON round trip is exact by
    construction (doubles would round-trip too via shortest-repr, but
    ints make the oracle trivially safe)."""
    prepare(spark)
    path = cache_path(sf_dir, "events_ndjson")
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    sink_jsonlines(events, path, gzip=True)
    schema = "event_id BIGINT, user_id BIGINT, event_type STRING, value_cents BIGINT"
    return scan_jsonlines(spark, path, schema=schema)


@query(
    "source_csv_roundtrip",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_size,
           CAST(round(p_retailprice*100) AS BIGINT) AS price_cents
    FROM part
    """,
    tags=("scan_csv", "sink_csv"),
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part -> CSV with header -> read back with explicit schema (no
    inference scan — the 100 TB pattern)."""
    prepare(spark)
    path = cache_path(sf_dir, "part_csv")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_brand",
        "p_size",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
    )
    sink_csv(part, path)
    schema = "p_partkey BIGINT, p_name STRING, p_brand STRING, p_size INT, price_cents BIGINT"
    return scan_csv(spark, path, schema=schema)


@query(
    "sink_parquet_roundtrip",
    oracle="""
    SELECT n_name, count(*) AS n_suppliers,
           sum(CAST(round(s_acctbal*100) AS BIGINT)) AS total_cents
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n_name
    """,
    tags=("sink_parquet", "scan_parquet"),
)
def sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate -> parquet sink -> parquet scan (the engine's
    materialization path; lineage would be recorded by the caller à la
    ActiveData etl field (u))."""
    prepare(spark)
    from mo_etl_spark.functions.numeric import cents

    path = cache_path(sf_dir, "supplier_agg_parquet")
    supplier, nation = (
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )
    agg = (
        supplier.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(cents("s_acctbal")).alias("total_cents"),
        )
    )
    sink_parquet(agg, path)
    return spark.read.parquet(path)


@query(
    "source_sqlite_roundtrip",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation
    """,
    tags=("scan_sqlite", "sink_sqlite"),
)
def source_sqlite_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation -> SQLite file -> scan back (the jx-sqlite container
    mapping (u, jx_sqlite/container.py): dimension-sized data in an
    embedded store).  Ints surface as BIGINT after the pandas leg, so
    the oracle casts to match."""
    prepare(spark)
    from mo_etl_spark.sources import scan_sqlite, sink_sqlite

    os.makedirs(cache_path(sf_dir, "sqlite"), exist_ok=True)
    db = os.path.join(cache_path(sf_dir, "sqlite"), "dims.db")
    sink_sqlite(load_table(spark, sf_dir, "nation"), db, "nation")
    return scan_sqlite(spark, db, "nation")


@query(
    "source_partitioned_pruning",
    oracle="""
    SELECT user_id,
           count(*) AS n,
           sum(CAST(round(value*100) AS BIGINT)) AS total_cents
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
    tags=("sink_parquet", "scan_parquet", "partition_pruning"),
)
def source_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned sink + partition-pruned scan — the
    dominant 100 TB layout (ActiveData's rollover indexes / S3 key
    prefixes (u) are the same idea).  events is written partitioned by
    event_type; the read-back filter prunes to ONE directory before any
    IO (plan shows PartitionFilters, verified in tests/test_plans)."""
    prepare(spark)
    path = cache_path(sf_dir, "events_by_type")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    events.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).where(F.col("event_type") == "purchase")
    return back.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value_cents").alias("total_cents")
    )


@query(
    "sql_register_views",
    oracle="""
    SELECT n.n_name,
           count(DISTINCT c.c_custkey) AS n_customers,
           count(o.o_orderkey) AS n_orders
    FROM nation n
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY n.n_name
    """,
    tags=("register_views", "sql_surface"),
)
def sql_register_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry surface (SURVEY.md §2.1 register_views + §3.2
    user surface 3): all tables registered as temp views, then the
    query text goes straight to spark.sql — Spark IS the SQL parser,
    which is how the mo-sql-parsing capability is covered (§7.4)."""
    prepare(spark)
    from mo_etl_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name,
               count(DISTINCT c.c_custkey) AS n_customers,
               count(o.o_orderkey) AS n_orders
        FROM nation n
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY n.n_name
        """
    )


@query(
    "source_orc_roundtrip",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           sum(CAST(round(o_totalprice*100) AS BIGINT)) AS total_cents
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderstatus
    """,
    tags=("scan_orc", "sink_orc"),
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> ORC sink -> ORC scan -> filtered aggregate.  ORC is
    Spark's second native columnar format; the scan gets the same
    vectorized reader + pushdown treatment as parquet (the filter
    lands in the ORC reader as a search argument).  DuckDB reads no
    ORC, so the oracle aggregates the source table — a hash match
    proves the round trip lost nothing the aggregate can see."""
    prepare(spark)
    from mo_etl_spark.sources import scan_orc, sink_orc

    path = cache_path(sf_dir, "orders_orc")
    sink_orc(load_table(spark, sf_dir, "orders"), path)
    back = scan_orc(spark, path)
    return (
        back.where(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
        )
    )


@query(
    "source_file_metadata_lineage",
    oracle="""
    SELECT event_type, count(*) AS n,
           sum(CAST(round(value*100) AS BIGINT)) AS total_cents
    FROM events
    GROUP BY event_type
    """,
    tags=("sink_partitioned", "scan_parquet", "file_lineage", "metadata_columns"),
)
def source_file_metadata_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-provenance lineage via the hidden ``_metadata`` struct —
    the engine-native form of the reference's `etl` lineage field (u,
    ActiveData-ETL stamps every doc with its source S3 key).  events
    are written Hive-partitioned by event_type; the scan then derives
    each row's event_type FROM ITS FILE PATH (`_metadata.file_path`)
    rather than from the restored partition column.  The hash match
    against the raw table proves path-derived lineage is exactly the
    data — the invariant any blame/replay tooling rests on.  _metadata
    is populated per-file by the reader; requesting it adds no scan."""
    prepare(spark)
    path = cache_path(sf_dir, "events_by_type")
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    events.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).select(
        F.regexp_extract(F.col("_metadata.file_path"), r"event_type=([^/]+)/", 1).alias(
            "event_type"
        ),
        "value_cents",
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value_cents").alias("total_cents"),
    )


def _events_block_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize events as an 8-block gz-NDJSON store (write-once per
    sf; shared by the batch and streaming block-source queries)."""
    from mo_etl_spark.sources.blocks import write_block_store

    def build(path: str) -> None:
        events = load_table(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
            F.pmod("event_id", F.lit(8)).cast("long").alias("block_id"),
        )
        write_block_store(events, path)

    return derived(sf_dir, "events_blocks", "events", build)



@query(
    "source_python_datasource_blocks",
    oracle="""
    SELECT event_id % 8 AS block_id,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           sum(CAST(round(value*100) AS BIGINT)) AS total_cents
    FROM events
    GROUP BY event_id % 8
    """,
    tags=("source_s3", "python_datasource", "scan_jsonlines", "block_lineage"),
)
def source_python_datasource_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's S3 block source (u, ActiveData-ETL s3_bucket:
    gz NDJSON blocks addressed by etl id) rebuilt on the Spark 4
    Python Data Source API (sources/blocks.py).  events are sharded
    into 8 blocks (block_id = event_id % 8), materialized as
    `block_id=N/part-*.json.gz` dirs, then read back through the
    registered `ndjson_blocks` format: one InputPartition PER BLOCK,
    Arrow-batch parsing on executors, and the block id — which lives
    only in the path, like an S3 key — re-injected as a column (the
    `etl` lineage reconstruction).  The oracle derives the same blocks
    arithmetically from the source table, so the hash match proves
    sharding + gz NDJSON round trip + lineage injection are lossless."""
    prepare(spark)
    from mo_etl_spark.sources.blocks import register_block_source

    path = _events_block_store(spark, sf_dir)
    register_block_source(spark)
    back = spark.read.format("ndjson_blocks").load(path)
    return back.groupBy("block_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("value_cents").alias("total_cents"),
    )


@query(
    "source_xml_roundtrip",
    oracle="""
    SELECT p_brand, p_size, count(*) AS n, sum(price_cents) AS total_cents
    FROM (
        SELECT p_brand, p_size,
               CAST(round(p_retailprice*100) AS BIGINT) AS price_cents
        FROM part
    )
    GROUP BY p_brand, p_size
    """,
    tags=("scan_xml", "sink_xml"),
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part -> XML sink -> XML scan (explicit schema, no inference
    pass) -> aggregate.  Spark 4 ships the former spark-xml package as
    a native format — the document-markup interchange surface (the
    reference's world is JSON documents (u, mo_json); XML is the same
    doc-shape capability for feeds that arrive as markup).  Money is
    lifted to integer cents BEFORE the sink so text serialization is
    exact by construction.  DuckDB reads no XML, so the oracle
    aggregates the source table — a hash match proves losslessness."""
    prepare(spark)
    from mo_etl_spark.sources import scan_xml, sink_xml

    path = cache_path(sf_dir, "part_xml")
    part = load_table(spark, sf_dir, "part").select(
        "p_brand",
        "p_size",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
    )
    sink_xml(part, path, row_tag="part")
    back = scan_xml(
        spark,
        path,
        row_tag="part",
        schema="p_brand STRING, p_size INT, price_cents BIGINT",
    )
    return back.groupBy("p_brand", "p_size").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("price_cents").alias("total_cents"),
    )


@query(
    "source_text_jsonlines",
    oracle="""
    SELECT event_type, count(*) AS n, sum(value_cents) AS total_cents
    FROM (
        SELECT event_id, event_type,
               CAST(round(value*100) AS BIGINT) AS value_cents
        FROM events
    )
    GROUP BY event_type
    """,
    tags=("scan_jsonlines", "udf_free_parse"),
)
def source_text_jsonlines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDJSON through the raw-text path: spark.read.text ->
    from_json(schema) -> project — the inspect-before-parse shape for
    feeds with possibly-corrupt lines (bad lines become NULL structs,
    counted, never poisoning the scan).  Parsing is the JVM from_json
    expression inside whole-stage codegen; no Python touches a row."""
    prepare(spark)
    from mo_etl_spark.sources import scan_text_jsonlines, sink_jsonlines

    path = cache_path(sf_dir, "events_ndjson_text")
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    sink_jsonlines(events, path, gzip=False)
    back = scan_text_jsonlines(
        spark, path, "event_id BIGINT, event_type STRING, value_cents BIGINT"
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value_cents").alias("total_cents")
    )


@query(
    "bucketed_join_colocated",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_lines,
           sum(CAST(l_quantity AS BIGINT)) AS total_qty
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
    tags=("bucketed_tables", "join_inner", "zero_shuffle_join"),
)
def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed managed tables (SURVEY §2.1 bucketed_tables) as a
    CONTRACT query, not just a plan test: both sides written
    bucketBy(8, key).sortBy(key), so the SortMergeJoin reads buckets
    pairwise with ZERO Exchange — the 100 TB pattern for repeated
    large-x-large equi-joins (pay the shuffle once at write, reuse it
    every query).  The aggregate after the join keys on the join's
    partitioning, so only the final 5-row agg exchanges."""
    prepare(spark)
    import shutil

    tag = table_tag(sf_dir)
    t_o, t_l = f"bktq_orders_{tag}", f"bktq_lineitem_{tag}"

    # the MANAGED-table location follows the session's warehouse conf —
    # a driver-provided session may use its own warehouse AND a fresh
    # in-memory metastore, so both the freshness check and the cleanup
    # must use paths the CURRENT session would actually write to (a
    # stale location unknown to a fresh catalog would fail saveAsTable)
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def _fresh(t: str, src: str) -> bool:
        """Bucketed tables are the pay-the-shuffle-ONCE pattern — reuse
        the materialization across runs unless the source parquet is
        newer (testdata regeneration) or the table vanished."""
        loc = os.path.join(wh, t)
        return (
            spark.catalog.tableExists(t)
            and os.path.exists(loc)
            and os.path.getmtime(loc) >= os.path.getmtime(os.path.join(sf_dir, src))
        )

    if not (_fresh(t_o, "orders.parquet") and _fresh(t_l, "lineitem.parquet")):
        for t in (t_o, t_l):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
        # repartition on the bucket key first: a bucketed write does
        # not shuffle, so each upstream task otherwise writes a sliver
        # into every bucket (n_tasks x n_buckets files) and a
        # multi-file bucket loses its sorted-scan property (r7, same
        # fix as the pagerank tables)
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus"
        ).repartition(8, F.col("o_orderkey")).write.bucketBy(
            8, "o_orderkey"
        ).sortBy("o_orderkey").saveAsTable(t_o)
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity"
        ).repartition(8, F.col("l_orderkey")).write.bucketBy(
            8, "l_orderkey"
        ).sortBy("l_orderkey").saveAsTable(t_l)
    joined = spark.table(t_o).join(
        spark.table(t_l), F.col("l_orderkey") == F.col("o_orderkey")
    )
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
    )


@query(
    "source_schema_evolution",
    oracle="""
    WITH v1 AS (
      SELECT event_id, user_id,
             CAST(round(value*100) AS BIGINT) AS value_cents,
             CAST(NULL AS VARCHAR) AS channel
      FROM events WHERE event_id % 2 = 0
    ),
    v2 AS (
      SELECT event_id, user_id,
             CAST(round(value*100) AS BIGINT) AS value_cents,
             concat('ch', CAST(user_id % 4 AS VARCHAR)) AS channel
      FROM events WHERE event_id % 2 = 1
    ),
    unioned AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT coalesce(channel, 'legacy') AS channel,
           count(*) AS n, sum(value_cents) AS total_cents
    FROM unioned
    GROUP BY 1
    """,
    tags=("scan_parquet", "schema_evolution", "mergeSchema"),
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema EVOLUTION (jx-sqlite's new-key->new-column (u)
    at the storage layer): generation 1 files lack a column that
    generation 2 adds; a ``mergeSchema`` scan reconciles both under one
    superset schema, old rows reading NULL for the new column.  This is
    how a 100 TB lake absorbs producer upgrades without rewriting
    history (pair with partitioned layout so old directories stay
    untouched)."""
    prepare(spark)
    path = cache_path(sf_dir, "events_evolving")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.round(F.col("value") * 100).cast("long").alias("value_cents")
    )
    events.where(F.col("event_id") % 2 == 0).write.mode("overwrite").parquet(f"{path}/gen=1")
    events.where(F.col("event_id") % 2 == 1).withColumn(
        "channel", F.concat(F.lit("ch"), (F.col("user_id") % 4).cast("string"))
    ).write.mode("overwrite").parquet(f"{path}/gen=2")
    back = spark.read.option("mergeSchema", "true").parquet(f"{path}/gen=1", f"{path}/gen=2")
    return back.groupBy(
        F.coalesce("channel", F.lit("legacy")).alias("channel")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("value_cents").alias("total_cents"))


@query(
    "sink_range_sorted_layout",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           count(*) AS n,
           sum(CAST(round(o_totalprice*100) AS BIGINT)) AS total_cents
    FROM orders
    GROUP BY 1
    """,
    tags=("sink_parquet", "repartitionByRange", "sorted_layout"),
)
def sink_range_sorted_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioned, within-file-sorted parquet layout — the
    time-series lake staple: ``repartitionByRange(o_orderdate)`` +
    ``sortWithinPartitions`` gives each file a tight min/max band on
    the sort column, so parquet row-group statistics prune time-range
    scans file-by-file (the same read-pruning effect as Hive
    partitioning without the directory explosion of high-cardinality
    keys).  The scan back aggregates per month; a hash match proves
    the re-layout lost nothing."""
    prepare(spark)
    path = cache_path(sf_dir, "orders_range_sorted")
    orders = load_table(spark, sf_dir, "orders")
    (
        orders.repartitionByRange(8, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
    )


@query(
    "source_nested_parquet_roundtrip",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus,
           count(l.l_linenumber) AS n_lines,
           sum(CAST(l.l_quantity AS BIGINT)) AS total_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey < 2000
    GROUP BY 1, 2
    """,
    tags=("sink_parquet", "scan_parquet", "nested_schema", "deep_from"),
)
def source_nested_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED parquet round trip — the jx-sqlite snowflake document
    shape (u: fact + nested child arrays) at the STORAGE layer:
    orders with their lineitems folded into an array<struct> column
    are written as nested parquet (Dremel repetition/definition
    encoding, columnar even inside the array), scanned back, and
    unnested with explode — proving documents-with-children survive
    columnar IO byte-exactly.  The oracle computes the same aggregate
    from the FLAT tables, so the fold -> write -> scan -> unnest cycle
    must be lossless.  At 100 TB the nested layout co-locates each
    parent with its children (no join at read time) — the reference's
    denormalized-storage argument, kept Catalyst-visible."""
    prepare(spark)
    path = cache_path(sf_dir, "orders_nested")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 2000)
    folded = (
        li.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("l_linenumber", "l_quantity"))
            ).alias("lines")
        )
        .join(orders.select("o_orderkey", "o_orderstatus"), "o_orderkey")
    )
    folded.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    exploded = back.select(
        "o_orderkey", "o_orderstatus", F.explode("lines").alias("l")
    )
    return exploded.groupBy("o_orderkey", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l.l_quantity").cast("long")).alias("total_qty"),
    )


@query(
    "sink_dynamic_partition_overwrite",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           count(*) AS n,
           sum(CASE WHEN date_trunc('day', ts) = TIMESTAMP '2024-01-05'
                    THEN CAST(round(value*100) AS BIGINT) * 2
                    ELSE CAST(round(value*100) AS BIGINT) END) AS total_cents
    FROM events
    WHERE ts < TIMESTAMP '2024-01-11'
    GROUP BY 1
    """,
    tags=("sink_partitioned", "partition_overwrite", "incremental_etl", "scan_parquet"),
)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition overwrite (partitionOverwriteMode=dynamic) —
    the idempotent daily-backfill primitive: rewriting one day's
    corrected data replaces ONLY that day's directory, while static
    overwrite mode would wipe the whole table.  Ten days of events
    land partitioned by day; day 5 is then re-written with corrected
    (doubled) values through an overwrite of just that partition.
    The readback aggregate proves the other nine days survived
    untouched and day 5 carries the correction — the invariant every
    reprocessing pipeline rests on.  At 100 TB this is the difference
    between rewriting 1/N of the table and all of it."""
    prepare(spark)
    path = cache_path(sf_dir, "events_dyn_overwrite")
    events = load_table(spark, sf_dir, "events").where(
        F.col("ts") < F.lit("2024-01-11").cast("timestamp")
    )
    base = events.select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        F.date_trunc("day", "ts").cast("date").alias("day"),
    )
    # full load (static overwrite wipes any previous state)
    base.write.mode("overwrite").partitionBy("day").parquet(path)
    # corrected day-5 batch: dynamic mode replaces ONLY day=2024-01-05
    corrected = base.where(F.col("day") == F.lit("2024-01-05").cast("date")).select(
        "event_id", (F.col("value_cents") * 2).alias("value_cents"), "day"
    )
    (
        corrected.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    # day surfaces as timestamp: pandas maps DuckDB DATE to datetime64
    # but Spark DateType to datetime.date objects — the driver's
    # representation-exact hash would see those differ
    return back.groupBy(F.col("day").cast("timestamp").alias("day")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("value_cents").alias("total_cents")
    )


@query(
    "source_binary_files",
    oracle="""
    SELECT 'doc_' || lpad(CAST(doc_id AS VARCHAR), 5, '0') || '.bin' AS fname,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           text AS content
    FROM documents
    WHERE doc_id < 40
    """,
    tags=("scan_binary", "multimodal_col", "file_lineage"),
)
def source_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's ``binaryFile`` source — the multimodal INGEST leg
    (SURVEY.md §2.11): a directory of opaque media blobs becomes a
    DataFrame of (path, modificationTime, length, content: binary)
    with NO decode on the scan, which is exactly how 100 TB of
    images/audio enter the pipeline (decode happens later, Arrow-
    batched, per partition — llm_multimodal_*).  Here 40 per-doc .bin
    files are materialized once (write-once per sf, like the stream
    feed), scanned back with pathGlobFilter, and proven lossless by
    decoding the bytes against the source table.  UTF-8 text stands
    in for media bytes — the plumbing (schema, laziness, lineage via
    file name) is identical and the oracle can reproduce it."""
    prepare(spark)

    def build(root: str) -> None:
        os.makedirs(root, exist_ok=True)
        rows = (
            load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 40)
            .select("doc_id", "text")
            .collect()
        )
        for r in rows:
            with open(os.path.join(root, f"doc_{r['doc_id']:05d}.bin"), "wb") as fh:
                fh.write(r["text"].encode("utf-8"))
        with open(os.path.join(root, "_DONE"), "w") as fh:
            fh.write("ok")

    root = derived(sf_dir, "binfiles", "documents", build, done="_DONE")
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(root)
    )
    return bf.select(
        F.element_at(F.split("path", "/"), -1).alias("fname"),
        F.col("length").alias("n_bytes"),
        F.col("content").cast("string").alias("content"),
    )


@query(
    "sink_parquet_zstd",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n,
           sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("sink_parquet", "scan_parquet", "compression_codec"),
)
def sink_parquet_zstd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet with ZSTD compression — the 100 TB storage-cost lever
    (zstd typically halves snappy's footprint at similar scan speed,
    which at this scale is petabyte-months of storage and proportional
    scan IO).  Write orders zstd-compressed, scan back, aggregate; the
    unit test asserts the codec actually landed in the column-chunk
    metadata (a silently ignored option would still hash-match)."""
    prepare(spark)
    path = cache_path(sf_dir, "orders_zstd")
    (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(path)
    )
    from mo_etl_spark.functions.numeric import cents

    return (
        spark.read.parquet(path)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents("o_totalprice")).alias("total_cents"),
        )
    )


@query(
    "source_csv_corrupt_permissive",
    oracle="""
    SELECT 'main' AS route, count(*) AS n, count(*) AS n_valid_keys FROM nation
    UNION ALL
    SELECT 'quarantine' AS route, count(*) AS n, 0 AS n_valid_keys
    FROM nation WHERE n_nationkey % 5 = 0
    """,
    tags=("scan_csv", "dead_letter", "quarantine", "data_qa", "udf_free_parse"),
)
def source_csv_corrupt_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV PERMISSIVE-mode corrupt-record capture — the reader-level
    twin of the JSON dead-letter route (etl_dead_letter_routing): a
    feed with a malformed line planted after every fifth nation (a
    pipe-delimited row whose first token cannot cast to INT) is read
    with an explicit schema plus columnNameOfCorruptRecord, so bad
    rows surface as rows WITH THE RAW LINE PRESERVED instead of
    failing the job (FAILFAST) or vanishing (DROPMALFORMED).  The
    route split counts both streams; at scale the quarantine leg
    writes to its own partition for replay after the producer fix —
    no second pass over the good rows."""
    prepare(spark)

    def build(root: str) -> None:
        os.makedirs(root, exist_ok=True)
        rows = (
            load_table(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name")
            .orderBy("n_nationkey")
            .collect()
        )
        with open(os.path.join(root, "feed.csv"), "w") as fh:
            for r in rows:
                fh.write(f"{r['n_nationkey']},{r['n_name']}\n")
                if r["n_nationkey"] % 5 == 0:
                    fh.write(f"BROKEN|{r['n_nationkey']}\n")
        with open(os.path.join(root, "_DONE"), "w") as fh:
            fh.write("ok")

    root = derived(sf_dir, "csv_corrupt", "nation", build, done="_DONE")
    df = (
        spark.read.schema("k INT, name STRING, _corrupt STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(os.path.join(root, "feed.csv"))
    )
    # the aggregate references the parsed k column too — Spark forbids
    # plans touching ONLY the corrupt column (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    return (
        df.select(
            F.when(F.col("_corrupt").isNotNull(), "quarantine")
            .otherwise("main")
            .alias("route"),
            "k",
        )
        .groupBy("route")
        .agg(F.count(F.lit(1)).alias("n"), F.count("k").alias("n_valid_keys"))
    )
