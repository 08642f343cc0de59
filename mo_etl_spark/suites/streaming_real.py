"""REAL Structured Streaming contract queries (SURVEY.md §2.9).

Unlike suites/streaming_batch.py (batch-equivalent forms), these run an
actual ``readStream`` micro-batch pipeline with ``availableNow`` — the
bounded-backfill trigger — so source discovery, watermarking, state
store, checkpointing, and sinks all genuinely execute, yet the query
terminates and yields a static DataFrame the driver can hash-check
against a DuckDB oracle.

The streamed corpus is the events table re-materialized as a file-drop
feed (the reference's queue-of-S3-blocks shape (u, ActiveData-ETL
pulse + s3_bucket: workers consume blocks as they appear)).  Each
invocation uses a fresh checkpoint dir so the backfill reprocesses the
whole feed deterministically; a long-running deployment would keep the
checkpoint to get incremental exactly-once instead.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mo_etl_spark.functions.numeric import cents
from mo_etl_spark.registry import query
from mo_etl_spark.session import prepare
from mo_etl_spark.streaming import (
    append_tombstones,
    compact_batched,
    current_spec,
    file_stream_source,
    foreach_batch_etl,
    has_tombstones,
    idempotent_batch_write,
    idempotent_batch_write_to,
    maintain_batched,
    read_batched,
    read_batched_pruned,
    read_manifest_extra,
    read_tombstones,
    rebucket_transform,
    seed_batched,
    stamp_spec,
    txn_commit,
    txn_watermark,
)
from mo_etl_spark.session import CACHE_ROOT
from mo_etl_spark.tables import derived, load_table

_FEED_SCHEMA = "event_id BIGINT, user_id BIGINT, event_type STRING, ts TIMESTAMP, value_cents BIGINT"

#: state-store shuffle width for the availableNow backfills: each
#: micro-batch pays a per-partition state-file cost (provider open,
#: snapshot, commit), so 32 partitions at this feed volume is pure
#: overhead — measured 13.7 s -> 3.0 s on the stream-stream join by
#: narrowing to 8.  A production deployment sizes this to state
#: volume per key-range, not to the CPU count.
_STREAM_SHUFFLE = 8


def _stream_tuned(fn):
    """Run a streaming contract query under the narrowed state-store
    shuffle width (session.narrowed_shuffle), restoring the session's
    width afterwards (the returned DataFrame is a batch read of the
    sink — its execution is unaffected)."""
    import functools

    from mo_etl_spark.session import narrowed_shuffle

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        prepare(spark)
        with narrowed_shuffle(spark, _STREAM_SHUFFLE):
            return fn(spark, sf_dir)

    return wrapped




def _feed(spark: SparkSession, sf_dir: str) -> str:
    """Materialize events as the parquet file-drop feed.  Write-once
    per sf: the testdata is immutable, so a completed feed (_SUCCESS
    present) is reused — both stream queries then skip the rewrite."""
    return derived(
        sf_dir,
        "stream_feed",
        "events",
        lambda p: load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "ts", cents("value").alias("value_cents")
        ).write.mode("overwrite").parquet(p),
    )


def _write_partitioned(df: DataFrame, path: str, *cols: str) -> None:
    """Overwrite ``path`` with ``df`` partitioned by ``cols``, one
    writer task per partition value (so each value is one file)."""
    df.repartition(*(F.col(c) for c in cols)).write.mode("overwrite").partitionBy(
        *cols
    ).parquet(path)


def _empty_seed(spark: SparkSession, sf_dir: str, name: str, schema: str) -> str:
    """A cached empty table of ``schema``: a pure constant, so one
    parquet write ever, then a zero-copy manifest reference per run (a
    Spark write job per run is pure fixed cost, r7 job-budget work)."""
    return derived(
        sf_dir,
        name,
        None,
        lambda p: spark.createDataFrame([], schema).write.mode("overwrite").parquet(p),
    )


def _scratch(name: str) -> str:
    """Fresh run-scoped dir; sweeps the previous run's dirs of the same
    name so repeated invocations don't accumulate (the sink dir must
    outlive the query — its DataFrame is returned lazily)."""
    root = os.path.join(CACHE_ROOT, "stream_scratch")
    os.makedirs(root, exist_ok=True)
    for old in os.listdir(root):
        if old.startswith(f"{name}-"):
            shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    d = os.path.join(root, f"{name}-{uuid.uuid4().hex[:8]}")
    os.makedirs(d, exist_ok=True)
    return d


@query(
    "stream_real_watermark_daily",
    oracle="""
    SELECT epoch_ms(time_bucket(INTERVAL 1 DAY, ts)) AS win_start_ms,
           event_type,
           count(*) AS n,
           sum(CAST(round(value*100) AS BIGINT)) AS total_cents
    FROM events
    GROUP BY 1, 2
    """,
    tags=("stream_source", "watermark", "tumbling_window"),
)
@_stream_tuned
def stream_real_watermark_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream(parquet feed) -> withWatermark(1 hour) -> daily
    tumbling agg -> memory sink, availableNow; returns the materialized
    sink table.  Complete output mode so every window emits in the
    bounded backfill (the watermark bounds state on an unbounded run)."""
    prepare(spark)
    feed = _feed(spark, sf_dir)
    ckpt = _scratch("wm_daily_ckpt")
    qname = "stream_real_watermark_daily_sink"
    stream = file_stream_source(spark, feed, _FEED_SCHEMA)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value_cents").alias("total_cents"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(qname).select(
        (F.unix_micros(F.col("win.start")) / 1000).cast("long").alias("win_start_ms"),
        "event_type",
        "n",
        "total_cents",
    )


@query(
    "stream_real_foreachbatch_etl",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           sum(CAST(round(value*100) AS BIGINT)) AS total_cents,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
    tags=("foreachBatch_etl", "sink_parquet", "stream_source"),
)
@_stream_tuned
def stream_real_foreachbatch_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ActiveData block-ETL shape (u: transform(source_key, source,
    dest) per S3 block, lineage recorded in doc.etl) on Structured
    Streaming: readStream -> foreachBatch(transform -> per-batch
    parquet overwrite), then aggregate the sink.  The transform stamps
    an ``etl`` lineage struct (batch id + source feed); the contract
    aggregate is batch-split-invariant, so the oracle needs no
    streaming knowledge.  The sink is REPLAY-IDEMPOTENT (VERDICT r4
    item #1): each batch overwrites its own ``b<batch_id>`` subdir, so
    an at-least-once replay after a mid-batch crash rewrites identical
    files instead of double-appending."""
    prepare(spark)
    feed = _feed(spark, sf_dir)
    ckpt = _scratch("feb_ckpt")
    out = _scratch("feb_out")

    def transform(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return batch_df.withColumn(
            "etl",
            F.struct(
                F.lit(batch_id).alias("batch_id"), F.lit(feed).alias("source")
            ),
        )

    stream = file_stream_source(spark, feed, _FEED_SCHEMA)
    q = foreach_batch_etl(stream, transform, idempotent_batch_write_to(out), checkpoint=ckpt)
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    return (
        read_batched(spark, out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value_cents").alias("total_cents"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@query(
    "stream_real_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts))
                      OVER (PARTITION BY user_id ORDER BY ts) > 1800000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      FROM flagged
    )
    SELECT user_id, epoch_ms(min(ts)) AS session_start_ms, count(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_idx
    """,
    tags=("session_window", "stream_source", "watermark"),
)
@_stream_tuned
def stream_real_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINE streaming session windows: readStream(feed) ->
    withWatermark -> F.session_window(30 min) -> memory sink,
    availableNow.  Session-window streams forbid update mode (merges
    would strand stale rows); complete mode rewrites the final merged
    sessions each micro-batch, so the bounded backfill ends with
    exactly the batch sessionization — which is the oracle.  On an
    unbounded run the watermark is what bounds session state."""
    prepare(spark)
    feed = _feed(spark, sf_dir)
    ckpt = _scratch("session_ckpt")
    qname = "stream_real_session_window_sink"
    stream = file_stream_source(spark, feed, _FEED_SCHEMA)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    final = spark.table(qname)
    return final.select(
        "user_id",
        (F.unix_micros(F.col("win.start")) / 1000).cast("long").alias("session_start_ms"),
        "n_events",
    )


@query(
    "stream_real_stateful_count",
    oracle="""
    SELECT user_id, count(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
    tags=("stateful_custom", "applyInPandasWithState"),
)
@_stream_tuned
def stream_real_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming (streaming.stateful_count): per-user
    totals held in the state store, updated per micro-batch, emitted in
    update mode to a memory sink.  availableNow processes the whole
    feed, so the final row per user equals the batch count — keeping an
    arbitrary-stateful operator inside the hash-checked set."""
    prepare(spark)
    from mo_etl_spark.streaming import stateful_count

    feed = _feed(spark, sf_dir)
    ckpt = _scratch("stateful_ckpt")
    qname = "stream_real_stateful_count_sink"
    stream = file_stream_source(spark, feed, _FEED_SCHEMA)
    counted = stateful_count(stream, "user_id")
    q = (
        counted.writeStream.outputMode("update")
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    # update mode appends one row per (key, batch); the LAST total per
    # key is the final state - dedupe by max batch emission order
    sink = spark.table(qname)
    return sink.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


@query(
    "stream_real_sliding_hourly",
    oracle="""
    WITH grid AS (
      SELECT unnest(generate_series(TIMESTAMP '2023-12-31 23:15:00',
                                    TIMESTAMP '2024-01-31 00:00:00',
                                    INTERVAL 15 MINUTE)) AS win_start
    )
    SELECT epoch_ms(g.win_start) AS win_start_ms,
           count(e.event_id) AS n,
           sum(CAST(round(e.value*100) AS BIGINT)) AS total_cents
    FROM grid g JOIN events e
      ON e.ts >= g.win_start AND e.ts < g.win_start + INTERVAL 1 HOUR
    GROUP BY 1
    """,
    tags=("sliding_window", "stream_source", "watermark"),
)
@_stream_tuned
def stream_real_sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINE streaming sliding windows: readStream(feed) ->
    withWatermark -> 1-hour windows every 15 minutes (each event lands
    in 4 overlapping windows) -> memory sink, availableNow.  Completes
    the real-streaming matrix (tumbling/sliding/session/stateful/
    foreachBatch all have readStream forms).  Complete mode emits every
    window in the bounded backfill; on an unbounded run the watermark
    is what lets 4x state stay bounded."""
    prepare(spark)
    feed = _feed(spark, sf_dir)
    ckpt = _scratch("sliding_ckpt")
    qname = "stream_real_sliding_hourly_sink"
    stream = file_stream_source(spark, feed, _FEED_SCHEMA)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value_cents").alias("total_cents"),
        )
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(qname).select(
        (F.unix_micros(F.col("win.start")) / 1000).cast("long").alias("win_start_ms"),
        "n",
        "total_cents",
    )


@query(
    "stream_real_stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id,
           epoch_ms(p.ts) - epoch_ms(c.ts) AS lead_ms
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND epoch_ms(c.ts) BETWEEN epoch_ms(p.ts) - 600000 AND epoch_ms(p.ts)
    """,
    tags=("stream_stream_join", "stream_source", "watermark", "join_range"),
)
@_stream_tuned
def stream_real_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINE stream-stream INNER join (SURVEY.md §2.9 extension):
    the purchase stream joins the click stream on user_id within a
    10-minute event-time band.  BOTH sides carry watermarks and the
    join predicate bounds event-time distance, so Spark can expire
    join state — the thing that makes stream-stream joins viable on
    unbounded streams (state is O(watermark window), not O(stream)).
    availableNow backfill -> append-mode memory sink -> static result
    the DuckDB band-join oracle verifies row for row.

    Epoch-ms integers are compared (not raw timestamps) so µs-vs-ns
    storage precision cannot skew the band edges — matching
    join_range_clicks_before_purchase's convention.
    """
    prepare(spark)
    feed = _feed(spark, sf_dir)
    ckpt = _scratch("ssj_ckpt")
    qname = "stream_real_ssj_sink"

    purchases = (
        file_stream_source(spark, feed, _FEED_SCHEMA)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        file_stream_source(spark, feed, _FEED_SCHEMA)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """
            user_id = c_user_id
            AND unix_micros(c_ts) div 1000
                BETWEEN unix_micros(p_ts) div 1000 - 600000
                    AND unix_micros(p_ts) div 1000
            AND c_ts BETWEEN p_ts - INTERVAL 11 MINUTES
                         AND p_ts + INTERVAL 1 MINUTE
            """
            # the raw-timestamp envelope is a strict SUPERSET of the
            # ms-integer band (no result change) — it exists so Spark
            # can derive join-state watermark bounds from event-time
            # columns directly and evict state on an unbounded run
        ),
        "inner",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(qname).select(
        "purchase_id",
        "click_id",
        "user_id",
        (
            F.expr("unix_micros(p_ts) div 1000") - F.expr("unix_micros(c_ts) div 1000")
        ).alias("lead_ms"),
    )


def _has_protobuf() -> bool:
    """transformWithStateInPandas drives its state-server protocol over
    protobuf in the Python worker; the package is absent in this
    container (and installs are off-limits), so the query below is
    registered only where the dependency exists.  The capability itself
    is implemented (streaming.tws_user_stats) and covered by the
    applyInPandasWithState path (stream_real_stateful_count) meanwhile."""
    try:
        import google.protobuf.descriptor  # noqa: F401

        return True
    except Exception:
        return False


def _tws_user_stats_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 transformWithStateInPandas (streaming.tws_user_stats):
    the next-generation arbitrary-state API — typed ValueState on the
    RocksDB state store, update-mode emission per micro-batch.  The
    availableNow backfill replays the whole feed, so each key's
    final emission equals the batch aggregate; n_events is monotone per
    key, so max_by(n_events) selects exactly that final state row."""
    prepare(spark)
    from mo_etl_spark.streaming import tws_user_stats

    feed = _feed(spark, sf_dir)
    ckpt = _scratch("tws_ckpt")
    qname = "stream_real_tws_user_stats_sink"
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = file_stream_source(spark, feed, _FEED_SCHEMA)
        stats = tws_user_stats(stream, "user_id")
        q = (
            stats.writeStream.outputMode("update")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    shutil.rmtree(ckpt, ignore_errors=True)
    sink = spark.table(qname)
    return sink.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_cents", "n_events").alias("total_cents"),
        F.max_by("max_cents", "n_events").alias("max_cents"),
    )


if _has_protobuf():
    query(
        "stream_real_tws_user_stats",
        oracle="""
        SELECT user_id, count(*) AS n_events,
               sum(CAST(round(value*100) AS BIGINT)) AS total_cents,
               max(CAST(round(value*100) AS BIGINT)) AS max_cents
        FROM events
        GROUP BY user_id
        """,
        tags=("stateful_custom", "transformWithState", "stream_source"),
    )(_tws_user_stats_impl)


@query(
    "stream_real_dedup_within_watermark",
    oracle="""
    SELECT event_type, count(*) AS n, sum(value_cents) AS total_cents
    FROM (
      SELECT DISTINCT event_id, event_type,
             CAST(round(value*100) AS BIGINT) AS value_cents
      FROM events
    )
    GROUP BY event_type
    """,
    tags=("stateful_dedup", "watermark", "stream_source"),
)
@_stream_tuned
def stream_real_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark on a REAL stream: the feed is
    re-materialized with every fifth event delivered TWICE (the
    at-least-once queue shape (u, ActiveData-ETL pulse redelivery)),
    then deduplicated by event_id while streaming.  Unlike plain
    dropDuplicates, state for a key is dropped once the watermark
    passes it — the unbounded-runtime dedup the 100 TB pipeline needs
    (duplicates arrive close together; exact global dedup would hold
    every key forever).  Append mode + availableNow drains the feed;
    the oracle is the exact DISTINCT aggregate."""
    prepare(spark)

    def build(path: str) -> None:
        base = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "ts", cents("value").alias("value_cents")
        )
        redelivered = base.where(F.col("event_id") % 5 == 0)
        base.unionByName(redelivered).write.mode("overwrite").parquet(path)

    dup_feed = derived(sf_dir, "stream_feed_dups", "events", build)
    ckpt = _scratch("dedup_wm_ckpt")
    qname = "stream_real_dedup_within_watermark_sink"
    stream = file_stream_source(spark, dup_feed, _FEED_SCHEMA)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    return (
        spark.table(qname)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value_cents").alias("total_cents"))
    )


@query(
    "stream_real_python_source_blocks",
    oracle="""
    SELECT event_id % 8 AS block_id,
           count(*) AS n_events,
           sum(CAST(round(value*100) AS BIGINT)) AS total_cents
    FROM events
    GROUP BY event_id % 8
    """,
    tags=("source_queue", "python_datasource", "stream_source", "block_lineage"),
)
@_stream_tuned
def stream_real_python_source_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The block store consumed as a GENUINE STREAM through the Python
    Data Source streaming API (sources/blocks.BlockStreamReader) — the
    reference's queue-worker model (u, ActiveData-ETL pulse: workers
    drain a queue of S3 block keys) with Spark owning offsets,
    checkpointing, and exactly-once.  maxBlocksPerTrigger=3 rate-limits
    each microbatch, so the 8-block backlog drains as 3 genuine
    incremental batches (proven in the unit test via recentProgress)
    rather than one catch-up scan; per-block running aggregates land in
    a complete-mode memory sink.  The hash match against the batch
    oracle proves offset-ranged incremental consumption loses and
    duplicates nothing."""
    prepare(spark)
    from mo_etl_spark.sources.blocks import register_block_source
    from mo_etl_spark.suites.sources import _events_block_store

    path = _events_block_store(spark, sf_dir)
    register_block_source(spark)
    ckpt = _scratch("pyblocks_ckpt")
    qname = "stream_real_python_source_blocks_sink"
    stream = (
        spark.readStream.format("ndjson_blocks")
        .option("maxBlocksPerTrigger", "3")
        .load(path)
    )
    agg = stream.groupBy("block_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_cents").alias("total_cents"),
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(qname)


@query(
    "stream_real_append_closed_windows",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
    SELECT epoch_ms(time_bucket(INTERVAL 1 DAY, ts)) AS win_start_ms,
           event_type,
           count(*) AS n
    FROM events CROSS JOIN wm
    GROUP BY 1, 2, wm.w
    HAVING time_bucket(INTERVAL 1 DAY, min(ts)) + INTERVAL 1 DAY <= wm.w
    """,
    tags=("stream_source", "watermark", "tumbling_window", "append_mode"),
)
@_stream_tuned
def stream_real_append_closed_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode watermarked windows — the unbounded-run semantics
    the complete-mode backfills sidestep: a window row is emitted
    EXACTLY ONCE, only after the event-time watermark (max ts − 1 h)
    passes its end, and the state store drops it.  On the bounded
    feed this is deterministic: every daily window except the final
    (still-open) day emits; the oracle recomputes the same closed-set
    rule declaratively.  This is the sink contract an incremental
    downstream (foreachBatch upsert, Kafka topic) consumes — complete
    mode re-emits everything, append emits deltas."""
    prepare(spark)
    feed = _feed(spark, sf_dir)
    ckpt = _scratch("append_closed_ckpt")
    qname = "stream_real_append_closed_sink"
    stream = file_stream_source(spark, feed, _FEED_SCHEMA)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname).select(
        F.unix_millis(F.col("win.start")).alias("win_start_ms"),
        "event_type",
        "n",
    )


@query(
    "stream_real_stream_stream_left_join",
    oracle="""
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS click_id, user_id AS cu, ts AS c_ts
          FROM events WHERE event_type = 'click'),
    wm AS (SELECT least((SELECT max(p_ts) FROM p), (SELECT max(c_ts) FROM c))
                  - INTERVAL 1 HOUR AS w),
    matched AS (
        SELECT p.purchase_id, p.user_id, c.click_id,
               epoch_ms(p.p_ts) - epoch_ms(c.c_ts) AS lead_ms
        FROM p JOIN c
          ON p.user_id = c.cu
         AND epoch_ms(c.c_ts) BETWEEN epoch_ms(p.p_ts) - 600000 AND epoch_ms(p.p_ts)
    )
    SELECT purchase_id, user_id, click_id, lead_ms FROM matched
    UNION ALL
    SELECT p.purchase_id, p.user_id,
           CAST(NULL AS BIGINT) AS click_id, CAST(NULL AS BIGINT) AS lead_ms
    FROM p CROSS JOIN wm
    WHERE p.purchase_id NOT IN (SELECT purchase_id FROM matched)
      AND p.p_ts + INTERVAL 1 MINUTE < wm.w
    """,
    tags=("stream_stream_join", "join_left", "stream_source", "watermark", "join_range"),
)
@_stream_tuned
def stream_real_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — the attribution shape where
    purchases WITHOUT a qualifying click must still come out: matched
    pairs emit immediately; an unmatched purchase emits its
    null-extended row only once the GLOBAL watermark (min of both
    sides' max event time − 1 h) passes its last possible match time
    (p_ts + the band's upper bound), because until then a matching
    click could still arrive.  On the bounded backfill that rule is
    deterministic — the oracle recomputes it declaratively: every
    unmatched purchase except those in the final watermark-open tail
    emits.  State stays O(watermark window) exactly as in the inner
    join; the null-emission delay is the price of correctness on an
    unbounded run (verified here: the availableNow backfill flushes
    the eligible nulls)."""
    prepare(spark)
    feed = _feed(spark, sf_dir)
    ckpt = _scratch("ssj_louter_ckpt")
    qname = "stream_real_ssj_louter_sink"

    purchases = (
        file_stream_source(spark, feed, _FEED_SCHEMA)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        file_stream_source(spark, feed, _FEED_SCHEMA)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """
            user_id = c_user_id
            AND unix_micros(c_ts) div 1000
                BETWEEN unix_micros(p_ts) div 1000 - 600000
                    AND unix_micros(p_ts) div 1000
            AND c_ts BETWEEN p_ts - INTERVAL 11 MINUTES
                         AND p_ts + INTERVAL 1 MINUTE
            """
        ),
        "leftOuter",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(qname).select(
        "purchase_id",
        "user_id",
        "click_id",
        F.expr(
            "unix_micros(p_ts) div 1000 - unix_micros(c_ts) div 1000"
        ).alias("lead_ms"),
    )


@query(
    "stream_real_static_dim_join",
    oracle="""
    SELECT c.c_nationkey,
           count(*) AS n,
           sum(CAST(round(e.value*100) AS BIGINT)) AS total_cents
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1
    """,
    tags=("stream_static_join", "stream_source", "join_broadcast", "groupby"),
)
@_stream_tuned
def stream_real_static_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINE stream-static join — the streaming-enrichment staple
    (the reference's per-block transform joined reference data the
    same way (u, ActiveData-ETL transforms)): readStream(feed) joins
    the STATIC customer dimension on user_id, then aggregates revenue
    per nation in complete mode.  The static side is re-read per
    micro-batch by design (dimension updates between batches are
    picked up); broadcasting it keeps each micro-batch's join
    shuffle-free — at 100 TB/day the per-batch fact slice shuffles
    nothing and state is one row per nation."""
    prepare(spark)
    feed = _feed(spark, sf_dir)
    ckpt = _scratch("static_join_ckpt")
    qname = "stream_real_static_dim_join_sink"
    stream = file_stream_source(spark, feed, _FEED_SCHEMA)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    agg = (
        stream.join(F.broadcast(dim), "user_id")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value_cents").alias("total_cents"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(qname).select("c_nationkey", "n", "total_cents")


def _feed_multi(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    """The events feed split into ``n_files`` parquet files so
    maxFilesPerTrigger=1 yields a genuine multi-batch backfill
    (the single-file feed collapses to one batch).  Write-once per
    sf, mtime-invalidated like _feed."""
    return derived(
        sf_dir,
        "stream_feed_multi",
        "events",
        lambda p: load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "ts", cents("value").alias("value_cents")
        ).repartition(n_files).write.mode("overwrite").parquet(p),
    )


@query(
    "stream_real_update_mode_upsert",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           sum(CAST(round(value*100) AS BIGINT)) AS total_cents
    FROM events
    GROUP BY event_type
    """,
    tags=("update_mode", "foreachBatch_etl", "cdc_merge", "stream_source",
          "incremental_etl"),
)
@_stream_tuned
def stream_real_update_mode_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode driving a foreachBatch UPSERT — the
    running-aggregate serving pattern (a dashboard table that must
    converge to the batch truth while each micro-batch rewrites only
    the keys it touched): a 4-file feed consumed one file per trigger
    keeps a streaming groupBy whose update-mode output per batch is
    ONLY the changed keys; foreachBatch appends them stamped with
    batch_id, and the merge-on-read picks each key's latest version
    (max_by batch_id) — exactly the CDC-compaction read the engine
    already proves batch-side.  The final state hash-matches the
    whole-feed aggregate, proving batch-split invariance of the
    upsert chain.

    REPLAY SAFETY (VERDICT r4 item #1): this sink survives
    at-least-once replay WITHOUT per-batch overwrite — a replayed
    batch appends rows carrying the SAME batch_id and the SAME values
    (update-mode output is deterministic given the checkpointed
    offsets), and max_by(batch_id) collapses any such duplicates at
    read time.  Unit-proven in tests/test_streaming.py by appending a
    batch twice."""
    prepare(spark)
    feed = _feed_multi(spark, sf_dir)
    ckpt = _scratch("upd_ckpt")
    out = _scratch("upd_out")
    agg = (
        spark.readStream.schema(_FEED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(feed)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value_cents").alias("total_cents"))
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out)

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    versions = spark.read.parquet(out)
    return (
        versions.groupBy("event_type")
        .agg(F.max_by(F.struct("n", "total_cents"), "batch_id").alias("s"))
        .select("event_type", F.col("s.n").alias("n"), F.col("s.total_cents").alias("total_cents"))
    )


@query(
    "sink_es_bulk_format",
    oracle="""
    SELECT event_type,
           count(*) AS n_docs,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events
    GROUP BY event_type
    """,
    tags=("sink_es", "foreachBatch_etl", "stream_sink", "stream_source"),
)
@_stream_tuned
def sink_es_bulk_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executable Elasticsearch-sink analog (SURVEY.md §2.1 sink_es;
    VERDICT r1 item #7): readStream over the event feed ->
    foreachBatch bulk writer emitting the exact ES ``_bulk`` NDJSON
    wire format (action line + doc line per event, per-batch rollover
    dirs) -> parse the bulk files back -> aggregate.  The roundtrip
    aggregate equals a direct scan, which is what the oracle states —
    proving the sink is lossless and the wire format parseable.  A
    real ES deployment swaps the file write for a per-partition HTTP
    POST; serialization (JVM to_json), id routing, and rollover
    bounds are identical."""
    prepare(spark)
    from mo_etl_spark.sources.es_bulk import scan_es_bulk, sink_es_bulk_stream

    feed = _feed(spark, sf_dir)
    ckpt = _scratch("esb_ckpt")
    out = _scratch("esb_out")
    sdf = file_stream_source(spark, feed, _FEED_SCHEMA)
    q = sink_es_bulk_stream(
        sdf, out, index="events", id_col="event_id", checkpoint=ckpt
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    docs = scan_es_bulk(spark, os.path.join(out, "batch=*"), _FEED_SCHEMA)
    return docs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("value_cents").alias("total_cents"),
    )


def _incr_feed(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    """The daily-crawl feed for incremental dedup: 50 truncated
    near-dups of indexed docs (ids +20000) plus the 100 fresh docs
    400-500, split into ``n_files`` parquet files (pmod(doc_id, n) —
    deterministic membership; the FINAL pair set is invariant to the
    split, which is the theorem the query proves).  Write-once per sf,
    mtime-invalidated like _feed."""
    from mo_etl_spark.suites.llm import _incr_new_batch

    def build(path: str) -> None:
        new_batch = _incr_new_batch(load_table(spark, sf_dir, "documents"))
        for b in range(n_files):
            new_batch.where(F.pmod("doc_id", F.lit(n_files)) == b).coalesce(
                1
            ).write.mode("overwrite").parquet(os.path.join(path, f"b{b}"))

    return derived(
        sf_dir, "incr_dedup_feed", "documents", build, done=f"b{n_files - 1}/_SUCCESS"
    )


@query(
    "stream_real_incremental_dedup",
    oracle=None,  # set right below: shares the batch query's oracle twin
    tags=(
        "dedup_incremental",
        "dedup_minhash",
        "lsh_banding",
        "update_mode",
        "foreachBatch_etl",
        "stream_source",
        "incremental_etl",
    ),
)
@_stream_tuned
def stream_real_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-dedup pipeline run as a GENUINE STREAM (VERDICT
    r3 item #3): the persisted LSH band index (minhash_md5_band_index
    over the 400-doc base corpus) is probed AND upserted by a
    foreachBatch loop over a 4-file crawl feed consumed one file per
    trigger.  Per micro-batch: (1) probe — candidates from the new
    batch's bands against index ∪ batch bands, exact-Jaccard verified
    against the corpus-so-far; (2) upsert — the batch's bands append
    to the index and its docs to the arrived set, so LATER batches
    dedup against EARLIER ones without re-hashing anything.

    Batch-split invariance (why the oracle is the one-shot replay):
    every qualifying pair has >= 1 non-base doc; a pair lands exactly
    in the micro-batch of its LATER member — within-batch pairs via
    the batch's own bands in the probe union, cross-batch pairs via
    the upserted index — and never twice, because candidates always
    require one side in the CURRENT batch.  So the union of per-batch
    finds equals the one-shot incremental run, and the DuckDB oracle
    (shared verbatim with llm_dedup_incremental_minhash) hash-checks
    the whole streamed chain: signatures, banding, probe, upsert
    ordering, and verification.

    PROBE-KEYED STATE (VERDICT r5 item #1, now mechanized): the
    persisted index is PARTITIONED by ib = pmod(xxhash64(band, bk),
    n_ib) and the arrived corpus by db = pmod(doc_id, nb); each
    trigger's probe and verify carry static bucket ``IN`` filters
    (collected, bounded lists) that prune every per-batch scan at
    plan time — each day's trigger pays |batch| + matched buckets,
    never |corpus| (plan-pinned in tests/test_plans.py; per-trigger
    wall measured corpus-flat at 10× in SCALE_r06.json).
    streaming.maintain_batched bounds the per-trigger dir listing in
    the maintenance window, preserving the partition layout.

    REPLAY IDEMPOTENCE (VERDICT r4 item #1): foreachBatch is
    at-least-once — see _incr_dedup_apply_batch for how per-batch
    subdirectory overwrites plus exclude-own-batch state reads make a
    mid-batch-crash replay converge to the uninterrupted run
    (unit-proven in tests/test_streaming.py)."""
    prepare(spark)
    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") < 400).select("doc_id", "text")
    feed = _incr_feed(spark, sf_dir)
    ckpt = _scratch("incr_dedup_ckpt")
    idx_dir = _scratch("incr_dedup_index")
    arrived_dir = _scratch("incr_dedup_arrived")
    pairs_dir = _scratch("incr_dedup_pairs")
    group = _scratch("incr_dedup_txn")
    _incr_dedup_seed_dirs(
        spark, sf_dir, base, idx_dir, arrived_dir, pairs_dir,
        group_root=group,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _incr_dedup_apply_batch(
            spark, idx_dir, arrived_dir, pairs_dir, batch_df, batch_id,
            group_root=group,
        )

    q = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .format("parquet")
        .load(feed)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    # maintenance window (VERDICT r5 item #3): auto-compact the state
    # tables when their live-dir count crosses the threshold,
    # PRESERVING the probe-key partition layout — a no-op at this
    # feed's 4 triggers, the bounded-listing guarantee for a
    # long-lived deployment (24-trigger proof in tests/test_streaming).
    # rebucket= (r8): maintenance also owns SPEC growth — at the
    # production cap the toy corpus never trips it, so the layout (and
    # the oracle) are unchanged here; a deployment whose buckets
    # outgrow the cap gets the doubling for free on this same call
    from mo_etl_spark.operators import dedup as D

    # maintenance + the final read run TRANSACTIONALLY (r10): the
    # group watermark bounds which batches a fold may consume and
    # which dirs the result read unions — with the stream drained
    # every batch is committed, so the result is unchanged, and a
    # crashed-trigger deployment gets torn-window-free reads for free
    w = txn_watermark(group)
    maintain_batched(
        spark, idx_dir, partition_cols=["ib"], tombstone_col="id",
        rebucket=("ib", lambda n: D.band_bucket("band", "bk", n),
                  _INCR_IB, 1 << 20),
        max_batch=w,
    )
    maintain_batched(
        spark, arrived_dir, partition_cols=["db"], tombstone_col="doc_id",
        rebucket=("db", lambda n: F.pmod("doc_id", F.lit(n)),
                  _INCR_NB, 1 << 20),
        max_batch=w,
    )
    maintain_batched(spark, pairs_dir, max_batch=w)
    return read_batched(
        spark, pairs_dir, schema="id_a BIGINT, id_b BIGINT, jaccard DOUBLE",
        max_batch=w,
    ).select("id_a", "id_b", "jaccard")


@query(
    "stream_real_group_consumer",
    oracle=None,  # wired below: pairs via the shared incremental
    # oracle CTE, corpus/index summaries relationally
    tags=(
        "cross_table_txn",
        "change_data_feed",
        "dedup_incremental",
        "incremental_etl",
        "foreachBatch_etl",
        "stream_source",
    ),
)
@_stream_tuned
def stream_real_group_consumer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMED GROUP CONSUMER (r10 — round-11 lead #1 done early):
    a downstream serving tier mirrors ALL THREE dedup-trio tables
    (band index, arrived corpus, pairs), advanced per trigger from ONE
    consistent transaction vector.  The trio stream runs exactly as in
    stream_real_incremental_dedup (cross-table txn_commit per
    trigger); after each trigger's commit, the consumer advances each
    member's mirror with ``apply_group_feed_batched`` — the
    change-file group feed (diff_group_adjacent: batch-dir inserts in
    the txn window) with the group-time-travel snapshot diff as the
    sound fallback, cursors tracking the GROUP txn.  No member's
    mirror ever reflects a trigger another member's mirror lacks.
    The result summarizes all three mirrors — and the PAIRS mirror is
    the strong gate: its rows are the end-to-end streamed dedup
    output, which the oracle recomputes from first principles (md5
    signatures, banding, probe, exact-Jaccard verify), so one dropped
    or duplicated feed row on any member hash-misses."""
    prepare(spark)
    from mo_etl_spark.streaming import (
        apply_group_feed_batched,
        materialize_group_member,
        read_materialized_batched,
        read_mv_cursor,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") < 400).select("doc_id", "text")
    feed = _incr_feed(spark, sf_dir)
    ckpt = _scratch("group_consumer_ckpt")
    idx_dir = _scratch("group_consumer_index")
    arrived_dir = _scratch("group_consumer_arrived")
    pairs_dir = _scratch("group_consumer_pairs")
    group = _scratch("group_consumer_txn")
    _incr_dedup_seed_dirs(
        spark, sf_dir, base, idx_dir, arrived_dir, pairs_dir,
        group_root=group,
    )
    PAIRS_S = "id_a BIGINT, id_b BIGINT, jaccard DOUBLE"
    members = (
        ("index", _scratch("group_consumer_mv_idx"),
         ["id", "band", "bk"], _INCR_IDX_SCHEMA),
        ("arrived", _scratch("group_consumer_mv_arr"),
         ["doc_id"], _INCR_ARR_SCHEMA),
        ("pairs", _scratch("group_consumer_mv_pairs"),
         ["id_a", "id_b"], PAIRS_S),
    )
    for alias, mv, _k, sch in members:
        materialize_group_member(spark, group, mv, alias, -1, sch)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _incr_dedup_apply_batch(
            spark, idx_dir, arrived_dir, pairs_dir, batch_df, batch_id,
            group_root=group,
        )
        w = txn_watermark(group)
        for alias, mv, k, sch in members:
            apply_group_feed_batched(spark, group, mv, alias, k, w, sch)

    q = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .format("parquet")
        .load(feed)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    w = txn_watermark(group)
    for _alias, mv, _k, _sch in members:
        assert read_mv_cursor(mv) == w  # every mirror at the vector

    def summ(alias: str, mv: str, key: str, sch: str) -> DataFrame:
        return (
            read_materialized_batched(spark, mv, key, sch)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(key).cast("long").alias("checksum"),
            )
            .select(F.lit(alias).alias("tbl"), "n", "checksum")
        )

    return (
        summ("index", members[0][1], "id", _INCR_IDX_SCHEMA)
        .unionByName(
            summ("arrived", members[1][1], "doc_id", _INCR_ARR_SCHEMA)
        )
        .unionByName(
            read_materialized_batched(
                spark, members[2][1], "id_a", PAIRS_S
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                (F.sum("id_a") + F.sum("id_b")).cast("long").alias(
                    "checksum"
                ),
            )
            .select(F.lit("pairs").alias("tbl"), "n", "checksum")
        )
    )


def _wire_group_consumer_oracle() -> None:
    from mo_etl_spark.registry import QUERIES, QuerySpec
    from mo_etl_spark.suites.llm import _SQL_INCR_CORPUS

    pairs_sql = dedup_oracle(_SQL_INCR_CORPUS)
    sql = f"""
    WITH full_corpus AS ({_SQL_INCR_CORPUS}),
    pairs AS ({pairs_sql})
    SELECT 'index' AS tbl, 8 * count(*) AS n,
           CAST(8 * sum(doc_id) AS BIGINT) AS checksum FROM full_corpus
    UNION ALL
    SELECT 'arrived', count(*), CAST(sum(doc_id) AS BIGINT)
    FROM full_corpus
    UNION ALL
    SELECT 'pairs', count(*), CAST(sum(id_a) + sum(id_b) AS BIGINT)
    FROM pairs
    """
    spec = QUERIES["stream_real_group_consumer"]
    QUERIES["stream_real_group_consumer"] = QuerySpec(
        name=spec.name, fn=spec.fn, oracle=sql, tags=spec.tags
    )


@query(
    "stream_real_dedup_retract",
    oracle=None,  # wired below: the retained-corpus replay oracle,
    # shared verbatim with llm_dedup_incremental_retract
    tags=(
        "dedup_incremental",
        "dedup_incremental_retract",
        "dedup_minhash",
        "lsh_banding",
        "update_mode",
        "foreachBatch_etl",
        "stream_source",
        "incremental_etl",
    ),
)
@_stream_tuned
def stream_real_dedup_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRACTION on the streamed incremental dedup as a contract
    query (r7; VERDICT r6 what's-wrong #2): the full tombstone
    lifecycle — append, probe-time anti-join above the bucket-pruned
    state reads, compaction FOLD that physically drops the dead bands
    and resets the side table — run end to end and hash-checked.

    Same stream as stream_real_incremental_dedup, except every 37th
    base doc is tombstoned (streaming.append_tombstones on the index
    table) BEFORE the first trigger — including doc 0, whose truncated
    twin arrives in the feed, so retraction provably removes pairs.
    Each trigger's probe anti-joins the pending set above its static
    ib-IN pruning (plan shape unchanged); after the stream the
    maintenance fold (compact_batched tombstone_col=\"id\") rewrites
    the index without the dead rows and consumes the tombstones.  The
    oracle replays the one-shot incremental pipeline over the RETAINED
    corpus: a tombstoned doc contributes no bands, no candidates, no
    pairs — and batch-split invariance holds exactly as in the
    unretracted stream (pairs never involve tombstoned ids, so each
    surviving pair still lands in its later member's trigger)."""
    prepare(spark)
    from mo_etl_spark.streaming import append_tombstones, compact_batched

    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") < 400).select("doc_id", "text")
    feed = _incr_feed(spark, sf_dir)
    ckpt = _scratch("retract_dedup_ckpt")
    idx_dir = _scratch("retract_dedup_index")
    arrived_dir = _scratch("retract_dedup_arrived")
    pairs_dir = _scratch("retract_dedup_pairs")
    group = _scratch("retract_dedup_txn")
    _incr_dedup_seed_dirs(
        spark, sf_dir, base, idx_dir, arrived_dir, pairs_dir,
        group_root=group,
    )
    deleted = docs.where(
        (F.col("doc_id") < 400) & (F.pmod("doc_id", F.lit(37)) == 0)
    ).select("doc_id")
    # erasure covers BOTH tables: the index (stops matching — applied
    # at probe time from trigger 0) and the corpus (the TEXT itself
    # must leave disk — folded in the maintenance window below; probes
    # never look deleted docs up, so the fold can't change results)
    append_tombstones(deleted.withColumnRenamed("doc_id", "id"), idx_dir)
    append_tombstones(deleted, arrived_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _incr_dedup_apply_batch(
            spark, idx_dir, arrived_dir, pairs_dir, batch_df, batch_id,
            group_root=group,
        )

    q = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .format("parquet")
        .load(feed)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    # the FOLD, in the maintenance window: dead bands leave the index
    # physically, the tombstone side table resets for the next
    # generation (min_dirs=0: fold on every maintenance pass here —
    # the contract demonstrates the lifecycle, not the dir threshold).
    # max_batch: folds stay below the group's txn watermark (r10)
    w = txn_watermark(group)
    compact_batched(
        spark, idx_dir, min_dirs=0, partition_cols=["ib"],
        tombstone_col="id", max_batch=w,
    )
    compact_batched(
        spark, arrived_dir, min_dirs=0, partition_cols=["db"],
        tombstone_col="doc_id", max_batch=w,
    )
    maintain_batched(spark, pairs_dir, max_batch=w)
    return read_batched(
        spark, pairs_dir, schema="id_a BIGINT, id_b BIGINT, jaccard DOUBLE",
        max_batch=w,
    ).select("id_a", "id_b", "jaccard")


def _wire_retract_oracle() -> None:
    from mo_etl_spark.registry import QUERIES, QuerySpec
    from mo_etl_spark.suites.llm import _SQL_INCR_CORPUS_RETRACT

    spec = QUERIES["stream_real_dedup_retract"]
    QUERIES["stream_real_dedup_retract"] = QuerySpec(
        name=spec.name,
        fn=spec.fn,
        oracle=dedup_oracle(_SQL_INCR_CORPUS_RETRACT),
        tags=spec.tags,
    )


@query(
    "stream_real_dedup_rebucket",
    oracle=None,  # wired below: shares the one-shot incremental
    # replay oracle verbatim — layout evolution must be invisible
    tags=(
        "dedup_incremental",
        "dedup_minhash",
        "lsh_banding",
        "partition_spec_evolution",
        "update_mode",
        "foreachBatch_etl",
        "stream_source",
        "incremental_etl",
    ),
)
@_stream_tuned
def stream_real_dedup_rebucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE RE-BUCKETING of the streamed dedup state — PARTITION-SPEC
    EVOLUTION as a contract query (r8).

    Why it exists: the probe-key layouts (index by ``ib =
    pmod(xxhash64(band, bk), n_ib)``, corpus by ``db = pmod(doc_id,
    nb)``) keep per-trigger probes corpus-flat ONLY while per-bucket
    size stays bounded — with a bucket count fixed at table creation,
    every bucket grows linearly with the corpus and "matched buckets"
    silently becomes corpus-linear bytes per trigger.  The ANN index
    solved the same problem for its skew axis with adaptive hot-CELL
    re-splits (r7); this query proves the dedup state solves it for
    its growth axis: maintenance re-buckets the live table to a DOUBLED
    spec when the hottest bucket outgrows its cap
    (streaming.rebucket_transform), committing the new spec atomically
    with the rewritten rows (manifest ``extra.spec_n``), while writers
    stamp each batch dir with the spec its partition values were
    computed under and readers translate their bucket lists per dir
    (streaming.spec_values — exact under the doubling discipline, the
    Iceberg partition-evolution read shape).

    The run: both state tables are seeded DELIBERATELY UNDER-BUCKETED
    (n_ib = nb = 2 — the "creation-time guess was wrong" scenario);
    after trigger 1 commits, the maintenance window compacts with
    tight per-bucket caps, growing the index spec 2→32 and the corpus
    spec 2→8 mid-stream (at this corpus; the transform doubles until
    the hottest bucket fits); triggers 2-3 then write, probe, and
    verify against the re-bucketed state under the new specs.  The oracle is
    the ONE-SHOT incremental replay shared verbatim with
    stream_real_incremental_dedup: the final pair set must hash-equal
    it exactly, proving the spec change is pure layout — no pair
    gained, lost, or re-scored across the re-bucket boundary.  (Spec
    growth itself, mixed-spec windows, and per-scan pruning are pinned
    in tests/test_streaming.py + tests/test_plans.py.)"""
    prepare(spark)
    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") < 400).select("doc_id", "text")
    feed = _incr_feed(spark, sf_dir)
    ckpt = _scratch("rebucket_dedup_ckpt")
    idx_dir = _scratch("rebucket_dedup_index")
    arrived_dir = _scratch("rebucket_dedup_arrived")
    pairs_dir = _scratch("rebucket_dedup_pairs")
    group = _scratch("rebucket_dedup_txn")
    _incr_dedup_seed_dirs(
        spark, sf_dir, base, idx_dir, arrived_dir, pairs_dir, nb=2, n_ib=2,
        group_root=group,
    )
    from mo_etl_spark.operators import dedup as D

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _incr_dedup_apply_batch(
            spark,
            idx_dir,
            arrived_dir,
            pairs_dir,
            batch_df,
            batch_id,
            nb=2,
            n_ib=2,
            group_root=group,
        )
        if batch_id == 1:
            # the maintenance window, mid-stream: both tables outgrew
            # their creation-time spec — fold and re-bucket (the
            # transform measures the hottest bucket over the union it
            # is rewriting anyway and doubles until it fits the cap).
            # max_batch: the fold consumes only txn-committed batches
            w_mid = txn_watermark(group)
            compact_batched(
                spark,
                idx_dir,
                min_dirs=0,
                partition_cols=["ib"],
                tombstone_col="id",
                max_batch=w_mid,
                transform=rebucket_transform(
                    "ib",
                    lambda n: D.band_bucket("band", "bk", n),
                    current_spec(idx_dir, 2),
                    cap_rows=256,
                    prior_extra=read_manifest_extra(idx_dir),
                ),
            )
            compact_batched(
                spark,
                arrived_dir,
                min_dirs=0,
                partition_cols=["db"],
                tombstone_col="doc_id",
                max_batch=w_mid,
                transform=rebucket_transform(
                    "db",
                    lambda n: F.pmod("doc_id", F.lit(n)),
                    current_spec(arrived_dir, 2),
                    cap_rows=64,
                    prior_extra=read_manifest_extra(arrived_dir),
                ),
            )

    q = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .format("parquet")
        .load(feed)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    w = txn_watermark(group)
    maintain_batched(spark, pairs_dir, max_batch=w)
    return read_batched(
        spark, pairs_dir, schema="id_a BIGINT, id_b BIGINT, jaccard DOUBLE",
        max_batch=w,
    ).select("id_a", "id_b", "jaccard")


@query(
    "stream_state_time_travel",
    oracle="""
    SELECT 'gen1' AS snapshot, count(*) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum FROM orders
    UNION ALL
    SELECT 'gen2', count(*), CAST(sum(o_orderkey) AS BIGINT)
    FROM orders WHERE o_orderkey % 97 <> 0
    UNION ALL
    SELECT 'live_after_rollback', count(*), CAST(sum(o_orderkey) AS BIGINT)
    FROM orders
    """,
    tags=(
        "time_travel",
        "rollback",
        "index_compaction",
        "tombstone_lifecycle",
        "incremental_etl",
    ),
)
def stream_state_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL + ROLLBACK on a batched state table as a contract
    query (r8): build the table from three order batches, consolidate
    (gen 1), retract every 97th key and FOLD it physically (gen 2),
    then ROLL BACK to gen 1 — and prove all three states at once.
    The result is one row per snapshot: ``gen1`` read via the
    manifest log (all orders — the fold hadn't happened), ``gen2``
    (the retained set — dead keys physically gone), and the LIVE
    table after the rollback (all orders again: rollback commits
    FORWARD to the old base, restoring the rows a later fold dropped;
    their consumed tombstones do not re-apply).  The oracle recomputes
    every snapshot's count and key checksum straight from the orders
    table — the whole lifecycle (manifest log, vacuum-window read,
    fold, forward-commit rollback) must reproduce exact relational
    algebra or the hashes miss."""
    prepare(spark)
    from mo_etl_spark.streaming import (
        append_tombstones as _tomb,
        compact_batched as _compact,
        read_batched_at,
        rollback_batched,
    )

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    root = _scratch("time_travel_tbl")
    for b in range(3):
        idempotent_batch_write(
            orders.where(F.pmod("o_orderkey", F.lit(3)) == b).withColumn(
                "ob", F.pmod("o_orderkey", F.lit(4))
            ),
            root,
            b,
            partition_cols=["ob"],
        )
    _compact(
        spark, root, min_dirs=0, partition_cols=["ob"], gc_grace_sec=3600.0
    )  # gen 1: all orders
    _tomb(
        orders.where(F.pmod("o_orderkey", F.lit(97)) == 0), root
    )
    _compact(
        spark, root, min_dirs=0, partition_cols=["ob"],
        tombstone_col="o_orderkey", gc_grace_sec=3600.0,
    )  # gen 2: retraction folded
    rollback_batched(root, 1)
    schema = "o_orderkey BIGINT, ob BIGINT"

    def summ(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
        ).select(F.lit(name).alias("snapshot"), "n", "key_sum")

    return (
        summ(read_batched_at(spark, root, 1, schema), "gen1")
        .unionByName(summ(read_batched_at(spark, root, 2, schema), "gen2"))
        .unionByName(
            summ(
                read_batched(spark, root, partitioned=True, schema=schema),
                "live_after_rollback",
            )
        )
    )


@query(
    "stream_state_change_feed",
    oracle="""
    SELECT 'delete' AS _change, o_orderkey FROM orders
    WHERE o_orderkey % 97 = 0
    UNION ALL
    SELECT 'insert', o_orderkey + 10000000 FROM orders
    WHERE o_orderkey % 500 = 0
    """,
    tags=(
        "change_data_feed",
        "time_travel",
        "index_compaction",
        "tombstone_lifecycle",
        "cdc_merge",
        "incremental_etl",
    ),
)
def stream_state_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED between generations of a batched state table
    (r8 — the Delta CDF / Iceberg changelog twin, riding the manifest
    log): a downstream consumer catches up from generation N to N+1 by
    applying a keyed insert/delete delta instead of replaying the
    table.  The run: consolidate all orders (gen 1), then one
    lifecycle step — a batch of NEW keys (every 500th order key,
    offset by 10M) arrives AND every 97th key is retracted — folded
    into gen 2; ``diff_batched(1, 2)`` must emit exactly the retracted
    keys as deletes and the arrivals as inserts, nothing else (the
    ~15k unchanged keys are silent).  The oracle recomputes the delta
    straight from the orders table, so the whole chain — manifest-log
    snapshots, the fold, the keyed anti-joins — must reproduce exact
    set difference or the hashes miss."""
    prepare(spark)
    from mo_etl_spark.streaming import (
        append_tombstones as _tomb,
        compact_batched as _compact,
        diff_batched,
    )

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    root = _scratch("change_feed_tbl")
    for b in range(2):
        idempotent_batch_write(
            orders.where(F.pmod("o_orderkey", F.lit(2)) == b).withColumn(
                "ob", F.pmod("o_orderkey", F.lit(4))
            ),
            root,
            b,
            partition_cols=["ob"],
        )
    _compact(
        spark, root, min_dirs=0, partition_cols=["ob"], gc_grace_sec=3600.0
    )  # gen 1: all orders
    idempotent_batch_write(
        orders.where(F.pmod("o_orderkey", F.lit(500)) == 0)
        .select((F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"))
        .withColumn("ob", F.pmod("o_orderkey", F.lit(4))),
        root,
        2,
        partition_cols=["ob"],
    )
    _tomb(orders.where(F.pmod("o_orderkey", F.lit(97)) == 0), root)
    _compact(
        spark, root, min_dirs=0, partition_cols=["ob"],
        tombstone_col="o_orderkey", gc_grace_sec=3600.0,
    )  # gen 2: arrivals in, retractions folded
    return diff_batched(
        spark, root, 1, 2, ["o_orderkey"], "o_orderkey BIGINT, ob BIGINT"
    ).select("_change", "o_orderkey")


@query(
    "stream_state_change_feed_apply",
    oracle="""
    WITH final AS (
      SELECT o_orderkey FROM orders
      WHERE o_orderkey % 97 <> 0 AND o_orderkey % 89 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000 FROM orders WHERE o_orderkey % 500 = 0
      UNION ALL
      SELECT o_orderkey + 20000000 FROM orders WHERE o_orderkey % 300 = 0
    )
    SELECT 'mv_gen3' AS snapshot, count(*) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum FROM final
    UNION ALL
    SELECT 'direct_gen3', count(*), CAST(sum(o_orderkey) AS BIGINT) FROM final
    """,
    tags=(
        "change_data_feed",
        "cdc_merge",
        "incremental_etl",
        "time_travel",
        "tombstone_lifecycle",
        "index_compaction",
    ),
)
def stream_state_change_feed_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE-FEED CONSUMER loop (r9, VERDICT r8 item #2 — the
    Delta-CDF->MV maintenance pattern): a downstream materialized table
    is kept current by APPLYING the keyed feed generation-by-generation
    instead of re-reading snapshots.  The upstream lifecycle runs three
    generations: gen 1 consolidates all orders; gen 2 folds in a batch
    of NEW keys (every 500th, offset +10M) and retracts every 97th;
    gen 3 folds another arrival wave (every 300th, offset +20M) and
    retracts every 89th.  The consumer seeds its MV from the gen-1
    snapshot (materialize_snapshot), then advances 1->2 and 2->3 purely
    by diff_batched deltas (apply_change_feed: deletes anti-joined out,
    inserts unioned in — cost never scales with the number of
    intermediate batches; SCALE_r10 decomposes what DOES scale: the
    key-pruned snapshot diff is the sublinear floor and this merge
    mode's whole-MV rewrite is table-bound — the r10
    apply_change_feed_batched mode removes that rewrite).
    The result reports (count, key checksum) for BOTH the feed-built MV
    and the direct gen-3 snapshot read; the oracle recomputes the same
    two rows from relational algebra over orders, so a consumer that
    drops, duplicates, or mis-keys a single delta row hash-misses.
    Feeds ride partitioned=True reads — the partition column carries
    real values through the delta (ADVICE r8)."""
    prepare(spark)
    from mo_etl_spark.streaming import (
        append_tombstones as _tomb,
        apply_change_feed,
        compact_batched as _compact,
        materialize_snapshot,
        read_batched_at,
        read_materialized,
    )

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    root = _scratch("cdf_apply_tbl")
    mv_root = _scratch("cdf_apply_mv")
    schema = "o_orderkey BIGINT, ob BIGINT"
    for b in range(2):
        idempotent_batch_write(
            orders.where(F.pmod("o_orderkey", F.lit(2)) == b).withColumn(
                "ob", F.pmod("o_orderkey", F.lit(4))
            ),
            root,
            b,
            partition_cols=["ob"],
        )
    _compact(
        spark, root, min_dirs=0, partition_cols=["ob"], gc_grace_sec=3600.0
    )  # gen 1: all orders
    idempotent_batch_write(
        orders.where(F.pmod("o_orderkey", F.lit(500)) == 0)
        .select((F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"))
        .withColumn("ob", F.pmod("o_orderkey", F.lit(4))),
        root,
        2,
        partition_cols=["ob"],
    )
    _tomb(orders.where(F.pmod("o_orderkey", F.lit(97)) == 0), root)
    _compact(
        spark, root, min_dirs=0, partition_cols=["ob"],
        tombstone_col="o_orderkey", gc_grace_sec=3600.0,
    )  # gen 2
    idempotent_batch_write(
        orders.where(F.pmod("o_orderkey", F.lit(300)) == 0)
        .select((F.col("o_orderkey") + F.lit(20_000_000)).alias("o_orderkey"))
        .withColumn("ob", F.pmod("o_orderkey", F.lit(4))),
        root,
        3,
        partition_cols=["ob"],
    )
    _tomb(orders.where(F.pmod("o_orderkey", F.lit(89)) == 0), root)
    _compact(
        spark, root, min_dirs=0, partition_cols=["ob"],
        tombstone_col="o_orderkey", gc_grace_sec=3600.0,
    )  # gen 3
    # the consumer loop: seed at gen 1, then catch up delta-by-delta
    materialize_snapshot(spark, root, mv_root, 1, schema, partitioned=True)
    for g in (2, 3):
        apply_change_feed(
            spark, root, mv_root, g, ["o_orderkey"], schema, partitioned=True
        )

    def summ(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
        ).select(F.lit(name).alias("snapshot"), "n", "key_sum")

    return summ(read_materialized(spark, mv_root, schema), "mv_gen3").unionByName(
        summ(
            read_batched_at(spark, root, 3, schema, partitioned=True),
            "direct_gen3",
        )
    )


@query(
    "stream_real_change_feed_consumer",
    oracle="""
    WITH final AS (
      SELECT o_orderkey FROM orders
      WHERE o_orderkey % 97 <> 0 AND o_orderkey % 89 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000 FROM orders WHERE o_orderkey % 500 = 0
      UNION ALL
      SELECT o_orderkey + 20000000 FROM orders WHERE o_orderkey % 300 = 0
    )
    SELECT 'mv' AS snapshot, count(*) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum FROM final
    UNION ALL
    SELECT 'direct', count(*), CAST(sum(o_orderkey) AS BIGINT) FROM final
    """,
    tags=(
        "change_data_feed",
        "cdc_merge",
        "incremental_etl",
        "foreachBatch_etl",
        "stream_source",
        "tombstone_lifecycle",
        "index_compaction",
    ),
)
@_stream_tuned
def stream_real_change_feed_consumer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMED CDF->MV consumer (r10, VERDICT r9 item #3): the
    change-feed maintenance loop as a REAL foreachBatch stream, resumed
    off the MV's transactionally-committed generation cursor
    (streaming.read_mv_cursor) instead of discrete apply calls scanning
    MV dirs.  Per trigger, the sink (1) folds one arrival wave + its
    retraction batch into the upstream batched table (a new committed
    generation), then (2) runs streaming.change_feed_consumer's step:
    apply ``diff_batched(cursor, live)`` and advance the cursor in one
    fsync'd PUT.  The MV is seeded at generation 1; two triggers carry
    it 1->2->3 purely by keyed deltas — never a replay of intermediate
    batches; SCALE_r10 measures the per-trigger cost decomposition
    (key-pruned diff = the sublinear floor, delta-sized MV writes in
    the batched mode vs this merge mode's table-bound rewrite).  The wave's
    retraction is derived from the wave CONTENT (its key offset), so
    the result is invariant to file-discovery order and to foreachBatch
    replays (upstream writes idempotent per wave, feed application
    replay-idempotent through the cursor).  Result: (count, key
    checksum) for the feed-built MV and the direct live read — the
    oracle recomputes both rows relationally, so one dropped,
    duplicated, or mis-keyed delta row hash-misses."""
    prepare(spark)
    from mo_etl_spark.streaming import (
        append_tombstones as _tomb,
        change_feed_consumer,
        compact_batched as _compact,
        materialize_snapshot,
        read_materialized,
        read_mv_cursor,
    )

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    root = _scratch("cdf_consumer_tbl")
    mv_root = _scratch("cdf_consumer_mv")
    ckpt = _scratch("cdf_consumer_ckpt")
    feed = _scratch("cdf_consumer_feed")
    schema = "o_orderkey BIGINT, ob BIGINT"
    for b in range(2):
        idempotent_batch_write(
            orders.where(F.pmod("o_orderkey", F.lit(2)) == b).withColumn(
                "ob", F.pmod("o_orderkey", F.lit(4))
            ),
            root,
            b,
            partition_cols=["ob"],
        )
    _compact(
        spark, root, min_dirs=0, partition_cols=["ob"], gc_grace_sec=3600.0
    )  # gen 1: all orders
    materialize_snapshot(spark, root, mv_root, 1, schema, partitioned=True)
    # the feed: two arrival waves, one parquet file each
    orders.where(F.pmod("o_orderkey", F.lit(500)) == 0).select(
        (F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey")
    ).coalesce(1).write.parquet(os.path.join(feed, "wave_a"))
    orders.where(F.pmod("o_orderkey", F.lit(300)) == 0).select(
        (F.col("o_orderkey") + F.lit(20_000_000)).alias("o_orderkey")
    ).coalesce(1).write.parquet(os.path.join(feed, "wave_b"))
    consume = change_feed_consumer(
        spark, root, mv_root, ["o_orderkey"], schema, partitioned=True
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # wave identity from CONTENT (not batch id): replay- and
        # discovery-order-invariant
        mx = batch_df.agg(F.max("o_orderkey")).first()[0]
        if mx is None:
            return
        wave_a = mx < 20_000_000
        idempotent_batch_write(
            batch_df.withColumn("ob", F.pmod("o_orderkey", F.lit(4))),
            root,
            2 if wave_a else 3,
            partition_cols=["ob"],
        )
        _tomb(
            orders.where(
                F.pmod("o_orderkey", F.lit(97 if wave_a else 89)) == 0
            ),
            root,
        )
        _compact(
            spark, root, min_dirs=0, partition_cols=["ob"],
            tombstone_col="o_orderkey", gc_grace_sec=3600.0,
        )
        consume(batch_df, batch_id)  # the consumer's per-trigger step

    q = (
        spark.readStream.schema("o_orderkey BIGINT")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .format("parquet")
        .load(feed)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    # the cursor tracked the stream to the LIVE generation (== 3 on a
    # clean run; a foreachBatch replay would add a no-op generation,
    # so compare against the manifest, not a literal)
    from mo_etl_spark.streaming import _read_manifest as _rm

    assert read_mv_cursor(mv_root) == _rm(root)["gen"]

    def summ(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
        ).select(F.lit(name).alias("snapshot"), "n", "key_sum")

    return summ(read_materialized(spark, mv_root, schema), "mv").unionByName(
        summ(
            read_batched(spark, root, partitioned=True, schema=schema),
            "direct",
        )
    )


@query(
    "stream_state_snapshot_expiry",
    oracle="""
    SELECT 'gen1' AS snapshot, FALSE AS travelable,
           CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS key_sum
    UNION ALL
    SELECT 'gen2', TRUE, count(*) + (SELECT count(*) FROM orders WHERE o_orderkey % 400 = 0),
           CAST(sum(o_orderkey) + (SELECT sum(o_orderkey + 10000000) FROM orders WHERE o_orderkey % 400 = 0) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'gen3', TRUE,
           (SELECT count(*) FROM orders WHERE o_orderkey % 97 <> 0)
             + (SELECT count(*) FROM orders WHERE o_orderkey % 400 = 0),
           CAST((SELECT sum(o_orderkey) FROM orders WHERE o_orderkey % 97 <> 0)
             + (SELECT sum(o_orderkey + 10000000) FROM orders WHERE o_orderkey % 400 = 0) AS BIGINT)
    """,
    tags=(
        "time_travel",
        "snapshot_retention",
        "index_compaction",
        "tombstone_lifecycle",
        "incremental_etl",
    ),
)
def stream_state_snapshot_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETENTION-COUNT snapshot retention as a contract query (r9,
    VERDICT r8 item #4 — the Iceberg expire_snapshots lifecycle).
    Three generations are committed under gc_grace_sec=0 WITH
    keep_last_gens=3: the travel-depth GUARANTEE is what keeps gens 1–2
    readable at all (zero grace would otherwise vacuum each superseded
    base on the next pass).  Then ``expire_snapshots(keep_last_n=2)``
    deterministically vacuums exactly generation 1.  The result reports
    per-generation (travelable, count, key checksum): gen 1 must raise
    the NAMED SnapshotVacuumed (reported as travelable=false/null),
    gens 2–3 must reproduce exact relational algebra over orders — so
    a retention knob that over- or under-vacuums by one generation
    hash-misses, in either direction."""
    prepare(spark)
    from mo_etl_spark.streaming import (
        SnapshotVacuumed,
        append_tombstones as _tomb,
        compact_batched as _compact,
        expire_snapshots,
        read_batched_at,
    )

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    root = _scratch("snap_expiry_tbl")
    schema = "o_orderkey BIGINT, ob BIGINT"

    def compact():
        _compact(
            spark, root, min_dirs=0, partition_cols=["ob"],
            tombstone_col="o_orderkey", gc_grace_sec=0.0, keep_last_gens=3,
        )

    for b in range(2):
        idempotent_batch_write(
            orders.where(F.pmod("o_orderkey", F.lit(2)) == b).withColumn(
                "ob", F.pmod("o_orderkey", F.lit(4))
            ),
            root,
            b,
            partition_cols=["ob"],
        )
    compact()  # gen 1: all orders
    idempotent_batch_write(
        orders.where(F.pmod("o_orderkey", F.lit(400)) == 0)
        .select((F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"))
        .withColumn("ob", F.pmod("o_orderkey", F.lit(4))),
        root,
        2,
        partition_cols=["ob"],
    )
    compact()  # gen 2: + arrivals
    _tomb(orders.where(F.pmod("o_orderkey", F.lit(97)) == 0), root)
    compact()  # gen 3: retraction folded
    expire_snapshots(root, keep_last_n=2)

    def summ(gen: int) -> DataFrame:
        try:
            df = read_batched_at(spark, root, gen, schema, partitioned=True)
        except SnapshotVacuumed:
            return spark.createDataFrame(
                [(f"gen{gen}", False, None, None)],
                "snapshot STRING, travelable BOOLEAN, n BIGINT, key_sum BIGINT",
            )
        return df.agg(
            F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").alias("key_sum")
        ).select(
            F.lit(f"gen{gen}").alias("snapshot"),
            F.lit(True).alias("travelable"),
            "n",
            "key_sum",
        )

    return summ(1).unionByName(summ(2)).unionByName(summ(3))


def _wire_rebucket_oracle() -> None:
    from mo_etl_spark.registry import QUERIES, QuerySpec
    from mo_etl_spark.suites.llm import _SQL_INCR_CORPUS

    spec = QUERIES["stream_real_dedup_rebucket"]
    QUERIES["stream_real_dedup_rebucket"] = QuerySpec(
        name=spec.name,
        fn=spec.fn,
        oracle=dedup_oracle(_SQL_INCR_CORPUS),
        tags=spec.tags,
    )


#: probe-key bucket counts for the streamed dedup state (VERDICT r5
#: item #1).  At sf0.01/sf0.1 these are deliberately small (file-count
#: overhead dominates below ~GB); a production daily-crawl deployment
#: sizes them to the corpus (e.g. one db bucket per ~1 GB of docs,
#: n_ib in the thousands) so a batch's matched buckets stay a tiny
#: fraction of the persisted state — the scale harness runs with
#: large counts to demonstrate the flat-per-trigger shape.
_INCR_NB = 8  # arrived-corpus buckets: db = pmod(doc_id, nb)
_INCR_IB = 8  # band-index buckets: ib = pmod(xxhash64(band, bk), n_ib)

#: state-table schemas, passed to every per-trigger read_batched so
#: the probe never pays per-root parquet footer inference (~0.3 s per
#: read at any scale — pure fixed cost, r7 job-budget work)
_INCR_IDX_SCHEMA = "id BIGINT, band INT, bk STRING, ib BIGINT"
_INCR_ARR_SCHEMA = "doc_id BIGINT, text STRING, db BIGINT"


def _incr_dedup_seed_dirs(
    spark: SparkSession,
    sf_dir: str,
    base: DataFrame,
    idx_dir: str,
    arrived_dir: str,
    pairs_dir: str,
    k: int = 16,
    bands: int = 8,
    base_lt: int = 400,
    nb: int = _INCR_NB,
    n_ib: int = _INCR_IB,
    group_root: str | None = None,
) -> None:
    """Pre-stream state layout: every table is a DIRECTORY OF
    PER-BATCH SUBDIRS (``base`` + ``b0``, ``b1``, ...), read via
    streaming.read_batched.  Both state tables are PARTITIONED BY
    THEIR PROBE KEY (VERDICT r5 item #1) — the band index by
    ``ib = pmod(xxhash64(band, bk), n_ib)``, the arrived corpus by
    ``db = pmod(doc_id, nb)`` — so every later trigger's probe and
    verify read matched buckets, never the accumulated state.  The
    base snapshots are pure functions of the base corpus, so they
    live in the mtime-invalidated cache (params in the key) and are
    SEEDED AS GENERATION-0 via streaming.seed_batched (VERDICT r7
    item #6): the run table's manifest references the shared snapshot
    in place (the shallow-clone seed — zero copy, manifest-committed
    from trigger 0); the stream upserts into sibling subdirs and the
    first compaction consolidates locally without ever touching the
    shared snapshot.  pairs gets an empty seed the same way so
    first-batch reads see an empty table, not ENOENT."""
    from mo_etl_spark.operators import dedup as D

    idx_snap = derived(
        sf_dir,
        f"stream_base_band_index__k{k}_b{bands}_base{base_lt}_ib{n_ib}",
        "documents",
        lambda p: _write_partitioned(
            D.minhash_md5_band_index(base, k=k, bands=bands).withColumn(
                "ib", D.band_bucket("band", "bk", n_ib)
            ),
            p,
            "ib",
        ),
    )
    corp_snap = derived(
        sf_dir,
        f"stream_base_corpus__nb{nb}_base{base_lt}",
        "documents",
        lambda p: _write_partitioned(
            base.withColumn("db", F.pmod("doc_id", F.lit(nb))), p, "db"
        ),
    )
    # gen-0 commits each table's probe-key PARTITION SPEC atomically
    # with the snapshot it describes (r8 spec evolution: writers read
    # current_spec per trigger; maintenance may re-bucket online)
    for d, snap, spec in (
        (idx_dir, idx_snap, n_ib),
        (arrived_dir, corp_snap, nb),
    ):
        shutil.rmtree(d, ignore_errors=True)
        seed_batched(d, snap, extra={"spec_n": spec})
    shutil.rmtree(pairs_dir, ignore_errors=True)
    seed_batched(
        pairs_dir,
        _empty_seed(
            spark, sf_dir, "empty_pairs_seed", "id_a BIGINT, id_b BIGINT, jaccard DOUBLE"
        ),
    )
    # CROSS-TABLE TXN SEED (r10, VERDICT r9 item #1): the trio's gen-0
    # bases become visible to transactional readers in ONE commit —
    # watermark -1 (bases only, no batches)
    if group_root is not None:
        shutil.rmtree(group_root, ignore_errors=True)
        txn_commit(
            group_root,
            -1,
            {"index": idx_dir, "arrived": arrived_dir, "pairs": pairs_dir},
        )


def _incr_dedup_apply_batch(
    spark: SparkSession,
    idx_dir: str,
    arrived_dir: str,
    pairs_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    k: int = 16,
    bands: int = 8,
    verify_threshold: float = 0.8,
    nb: int = _INCR_NB,
    n_ib: int = _INCR_IB,
    plan_probe: dict | None = None,
    crash_point: str | None = None,
    group_root: str | None = None,
) -> None:
    """One micro-batch of the incremental-dedup upsert loop —
    REPLAY-IDEMPOTENT and PROBE-PRUNED (VERDICT r4 item #1 + r5 item
    #1).

    ``crash_point`` is a TEST HOOK (like ``plan_probe``): raise
    ``PlantedCrash`` after a named table write — ``"after_arrived"``,
    ``"after_index"``, ``"mid_pairs"`` (pairs written but its
    ``_SUCCESS`` marker torn off, a mid-write kill), or
    ``"before_txn"`` (ALL THREE tables written complete, the
    cross-table commit not yet made — the most deceptive torn window:
    everything on disk looks healthy) — so the cross-table model check
    can crash the trigger BETWEEN its state-table writes and assert
    the replay heals all three as a unit.

    ``group_root`` (r10, VERDICT r9 item #1) enables the CROSS-TABLE
    TRANSACTIONAL COMMIT: after all three per-table writes land, ONE
    ``txn_commit`` makes the batch visible across the trio.  A reader
    resolving ``txn_watermark(group_root)`` and passing it as
    ``max_batch=`` to the table reads sees no torn window at ANY
    point — not merely at quiescent ones — and group maintenance
    passing the watermark to compact_batched can never bake an
    uncommitted batch into a base.  The trigger's own intra-batch
    reads are WRITER reads (single-writer discipline: it must see its
    own just-written state), so they stay on the live manifests.

    Order of operations: the batch's state upserts land FIRST (its
    docs into ``arrived/b<id>`` partitioned by db, its bands into
    ``idx/b<id>`` partitioned by ib, both mode("overwrite")), then the
    probe/verify reads run against the updated state.  Replay safety
    follows from write-before-read: a replayed batch overwrites its
    own subdirs with identical deterministic content before any read,
    so the crashed attempt's partial files can never be seen — the
    corpus read INCLUDES the batch's own docs exactly once (they are
    part of the persisted state by the time it runs), and the index
    read excludes the batch's own bands (the probe unions them via
    ``new_banded`` instead).  Unit-proven by applying the same batch
    twice (tests/test_streaming.py).

    MATCHED-BUCKET READS (the 100-TB shape): the index probe prunes to
    the batch's own band buckets — a STATIC ``ib IN (...)`` filter
    over the ≤ min(bands × |batch|, n_ib) collected bucket values,
    pushed through the per-batch-dir union into every scan's
    PartitionFilters (plan-pinned in tests/test_plans.py).  The
    exact-Jaccard verify prunes the corpus the same way with the
    candidate pairs' ≤ 2·|cand| doc-id buckets.  Static pruning is
    used instead of the batch twin's DPP (dedup.minhash_md5_
    incremental_pairs corpus_bucket_col path) because the batched
    state is a union of per-batch roots and Spark's dynamic pruning
    does not reach through a Union — the cost shape is identical
    (|batch| + matched buckets, never |corpus|) and plan-time rather
    than heuristic.  Per-trigger wall time is corpus-flat, measured
    at 1×/10× corpus in SCALE_r06.json."""
    from mo_etl_spark.operators import dedup as D

    # JOB BUDGET (VERDICT r6 next-round #5): the r6 form paid eight
    # jobs per trigger plus per-root parquet footer inference on every
    # state read.  Cut, each A/B'd solo-warm at sf0.01+sf0.1:
    # - the batch's own ib bucket list comes FREE from the partition
    #   dirs its own index write just created (listdir, no Spark job);
    # - the batch checkpoint is dropped (the arrived write's job
    #   re-scans the micro-batch source once — cheaper than a
    #   materialization job);
    # - every read_batched passes the state schema, skipping footer
    #   inference (~0.3 s per read at ANY scale — the largest single
    #   fixed cost found);
    # - the pairs write coalesces to one task; the empty pairs seed is
    #   a cached file copy, not a per-run Spark write.
    # KEPT after measurement: the banding and candidate checkpoints —
    # making them lazy re-evaluates the probe join inside downstream
    # jobs, measured 1.3x WORSE at sf0.1 trigger sizes where the wall
    # is genuine banding/probe/verify compute, not scheduling.
    # Net: 6 jobs/trigger, quiet-host solo-warm 9.3 -> ~7.6 s at
    # sf0.1 (host-noise floor ~±2 s; pruning/replay semantics and the
    # SCALE corpus-flat rows unchanged).
    # band the batch ONCE per trigger: the checkpointed table feeds
    # the index upsert, the probe, and (via its write) the bucket
    # list; the batch itself is NOT checkpointed — its only other
    # consumer is the arrived write, whose job re-scans the
    # micro-batch source once (cheaper than a materialization job)
    banded = D.minhash_md5_band_index(batch_df, k=k, bands=bands).localCheckpoint(
        eager=True
    )
    # PARTITION-SPEC EVOLUTION (r8): the live bucket counts come from
    # the manifest, not the call site — maintenance may have
    # RE-BUCKETED the state online (rebucket_transform doubles the
    # spec when the hottest bucket outgrows its cap, keeping probes
    # corpus-flat without an upfront production-sized guess).  Each
    # batch dir is stamped with the spec its partition values were
    # computed under, so the spec-aware reads below prune a
    # mixed-spec table exactly (writer-in-flight-during-commit).
    nb_cur = current_spec(arrived_dir, nb)
    n_ib_cur = current_spec(idx_dir, n_ib)
    # 1. state upserts FIRST (idempotent per-batch overwrites,
    #    partitioned by probe key)
    idempotent_batch_write(
        batch_df.withColumn("db", F.pmod("doc_id", F.lit(nb_cur))),
        arrived_dir,
        batch_id,
        partition_cols=["db"],
    )
    stamp_spec(arrived_dir, batch_id, nb_cur)
    if crash_point == "after_arrived":
        raise PlantedCrash("after_arrived")
    idempotent_batch_write(
        banded.withColumn("ib", D.band_bucket("band", "bk", n_ib_cur)),
        idx_dir,
        batch_id,
        partition_cols=["ib"],
    )
    stamp_spec(idx_dir, batch_id, n_ib_cur)
    if crash_point == "after_index":
        raise PlantedCrash("after_index")
    # 2. probe: index scan statically pruned to the batch's band
    #    buckets — read off the partition dirs the write above just
    #    produced (mode-overwrite rewrites the whole b<id> dir, so a
    #    crashed attempt's partials can never leak into the list; an
    #    empty batch yields no dirs, same empty list as the old
    #    collect)
    bdir = os.path.join(idx_dir, f"b{batch_id}")
    ib_vals = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(bdir)
        if d.startswith("ib=")
    )
    index = read_batched_pruned(
        spark,
        idx_dir,
        "ib",
        ib_vals,
        n_ib_cur,
        _INCR_IDX_SCHEMA,
        exclude_batch=batch_id,
    ).select("id", "band", "bk")
    # RETRACTIONS (VERDICT r6 what's-wrong #2): pending tombstones
    # (streaming.append_tombstones on the index table) broadcast-anti-
    # join ABOVE the bucket-pruned scan — the static ib IN partition
    # filters are untouched (plan-pinned), so retraction never forces
    # the full-state read this layout exists to avoid.  The dir probe
    # keeps the common no-retractions trigger join-free; the next
    # maintain_batched(tombstone_col="id") pass folds the set
    # physically and resets it.
    if has_tombstones(idx_dir):
        index = index.join(
            F.broadcast(read_tombstones(spark, idx_dir, "id BIGINT").select("id")),
            "id",
            "left_anti",
        )
    cand_plan = D.minhash_md5_candidates(index, banded)
    if plan_probe is not None:  # test hook: the probe plan BEFORE the
        # checkpoint cut (tests/test_plans.py pins its bucket pruning)
        plan_probe["probe"] = cand_plan._jdf.queryExecution().toString()
    cand = cand_plan.localCheckpoint(eager=True)
    # 3. verify: corpus scan statically pruned to the candidates' doc
    #    buckets (≤ 2·|cand| values, ≤ nb — bounded collect off the
    #    checkpointed candidate set; the checkpoint is kept — at real
    #    trigger sizes re-evaluating the probe join inside the verify
    #    costs more than one materialization job, measured 1.3x wall
    #    at sf0.1)
    db_vals = sorted(
        r["v"]
        for r in cand.select(
            F.explode(
                F.array(
                    F.pmod("id_a", F.lit(nb_cur)), F.pmod("id_b", F.lit(nb_cur))
                )
            ).alias("v")
        )
        .distinct()
        .collect()
    )
    if db_vals:
        corpus = read_batched_pruned(
            spark, arrived_dir, "db", db_vals, nb_cur, _INCR_ARR_SCHEMA
        )
        pairs = D.jaccard_verify_candidates(
            cand, corpus, verify_threshold=verify_threshold
        )
    else:
        pairs = spark.createDataFrame([], "id_a BIGINT, id_b BIGINT, jaccard DOUBLE")
    if plan_probe is not None:
        plan_probe["verify"] = pairs._jdf.queryExecution().toString()
    # one output file: per-trigger pairs are batch-bounded (every pair
    # has one side in today's batch), so a 32-task tiny-file write is
    # pure commit overhead — a deployment with huge triggers would
    # raise this to a small constant, not remove it
    idempotent_batch_write(pairs.coalesce(1), pairs_dir, batch_id)
    if crash_point == "mid_pairs":
        # a kill mid-pairs-write: data landed but the marker didn't
        try:
            os.remove(os.path.join(pairs_dir, f"b{batch_id}", "_SUCCESS"))
        except OSError:
            pass
        raise PlantedCrash("mid_pairs")
    if crash_point == "before_txn":
        raise PlantedCrash("before_txn")
    # 4. THE cross-table commit: one atomic record makes this batch
    #    visible across all three tables at once (r10)
    if group_root is not None:
        txn_commit(
            group_root,
            batch_id,
            {"index": idx_dir, "arrived": arrived_dir, "pairs": pairs_dir},
        )


class PlantedCrash(RuntimeError):
    """Raised by _incr_dedup_apply_batch's ``crash_point`` test hook —
    simulates a trigger dying between its per-table state writes."""


# shared oracle twin: the streamed chain must hash-equal the one-shot
# batch incremental run (llm_dedup_incremental_minhash's oracle)
def _wire_incr_oracle() -> None:
    from mo_etl_spark.registry import QUERIES, QuerySpec
    from mo_etl_spark.suites.llm import _SQL_INCR_CORPUS

    spec = QUERIES["stream_real_incremental_dedup"]
    QUERIES["stream_real_incremental_dedup"] = QuerySpec(
        name=spec.name,
        fn=spec.fn,
        oracle=dedup_oracle(_SQL_INCR_CORPUS),
        tags=spec.tags,
    )


def dedup_oracle(corpus_sql: str) -> str:
    from mo_etl_spark.operators import dedup as D

    return D.minhash_md5_incremental_oracle_sql(
        corpus_sql, new_pred="id >= 400", k=16, bands=8, verify_threshold=0.8
    )


_wire_incr_oracle()
_wire_group_consumer_oracle()
_wire_retract_oracle()
_wire_rebucket_oracle()


# ---------------------------------------------------------------------------
# Streamed CDC-chunk incremental dedup (VERDICT r5 item #7): the
# chunk-hash index run under the same idempotent-sink + probe-keyed
# discipline as the minhash stream — crash-replayable AND
# bucket-pruned, closing the "batch-only, index not hash-partitioned"
# caveats in one shape.
# ---------------------------------------------------------------------------

#: chunk-hash index buckets — same production sizing rule as _INCR_IB
_CDC_HB = 8


def _cdc_bucket(n_hb: int):
    return F.pmod(F.xxhash64("chunk_hash"), F.lit(int(n_hb)))


def _incr_cdc_seed_dirs(
    spark: SparkSession,
    sf_dir: str,
    base: DataFrame,
    idx_dir: str,
    pairs_dir: str,
    base_lt: int = 400,
    n_hb: int = _CDC_HB,
) -> None:
    """Pre-stream CDC state: the base corpus's (doc_id, chunk_hash)
    index PARTITIONED by hb = pmod(xxhash64(chunk_hash), n_hb) — the
    probe key — cached per sf (boundary rule + bucket count in the
    key) and file-copied into the run dir's ``base`` subdir; pairs
    get an empty seed.  No arrived-docs table at all: chunk-hash
    dedup verifies by hash equality, so the index IS the state."""
    from mo_etl_spark.operators import text as X

    snap = derived(
        sf_dir,
        f"stream_base_cdc_index__b0_base{base_lt}_hb{n_hb}",
        "documents",
        lambda p: _write_partitioned(
            X.cdc_chunks(base).select("doc_id", "chunk_hash").withColumn(
                "hb", _cdc_bucket(n_hb)
            ),
            p,
            "hb",
        ),
    )
    shutil.rmtree(idx_dir, ignore_errors=True)
    # zero-copy gen-0 reference (r8) with the probe-key spec committed
    # atomically alongside it (spec evolution, same as the minhash
    # stream — maintenance may re-bucket the index online)
    seed_batched(idx_dir, snap, extra={"spec_n": n_hb})
    shutil.rmtree(pairs_dir, ignore_errors=True)
    seed_batched(
        pairs_dir,
        _empty_seed(
            spark,
            sf_dir,
            "empty_cdc_pairs_seed",
            "id_a BIGINT, id_b BIGINT, n_shared_chunks BIGINT",
        ),
    )


def _incr_cdc_apply_batch(
    spark: SparkSession,
    idx_dir: str,
    pairs_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    n_hb: int = _CDC_HB,
    plan_probe: dict | None = None,
) -> None:
    """One micro-batch of the streamed CDC-chunk dedup — the same two
    guarantees as _incr_dedup_apply_batch:

    - REPLAY-IDEMPOTENT: the batch is chunked once (checkpointed);
      its chunks overwrite ``idx/b<id>`` FIRST, then the probe reads
      run — a replayed batch rewrites identical state before any
      read, and the index probe excludes its own subdir (the batch's
      chunks join via the in-memory table instead);
    - MATCHED-BUCKET READS: the index scan carries a static
      ``hb IN (...)`` partition filter from the batch's own ≤
      min(|batch chunks|, n_hb) collected bucket values, pushed
      through the per-batch-dir union — per-trigger cost is
      |batch chunks| + matched hash buckets, never |index|.

    Pair completeness under ANY batch split: a pair lands exactly in
    the trigger of its LATER member, where the index holds ALL of the
    earlier doc's chunks and the batch all of the newer one's — so
    n_shared_chunks is complete and the per-batch union equals the
    one-shot run (the oracle hash-checks exactly this)."""
    from mo_etl_spark.operators import text as X

    chunks = (
        X.cdc_chunks(batch_df)
        .select("doc_id", "chunk_hash")
        .localCheckpoint(eager=True)
    )
    # live spec from the manifest (spec evolution, r8): maintenance
    # may have re-bucketed the index online; each batch is stamped
    # with the spec its hb values were computed under
    n_hb_cur = current_spec(idx_dir, n_hb)
    idempotent_batch_write(
        chunks.withColumn("hb", _cdc_bucket(n_hb_cur)),
        idx_dir,
        batch_id,
        partition_cols=["hb"],
    )
    stamp_spec(idx_dir, batch_id, n_hb_cur)
    # the batch's own hb bucket list comes free from the partition
    # dirs the write above just created (same r7 job-budget cut as the
    # minhash stream — listdir, no collect job)
    bdir = os.path.join(idx_dir, f"b{batch_id}")
    hb_vals = sorted(
        int(d.split("=", 1)[1]) for d in os.listdir(bdir) if d.startswith("hb=")
    )
    index = read_batched_pruned(
        spark,
        idx_dir,
        "hb",
        hb_vals,
        n_hb_cur,
        "doc_id BIGINT, chunk_hash STRING, hb BIGINT",
        exclude_batch=batch_id,
    ).select("doc_id", "chunk_hash")
    all_chunks = index.unionByName(chunks)
    pairs = (
        chunks.select(F.col("doc_id").alias("nid"), "chunk_hash")
        .join(
            all_chunks.select(F.col("doc_id").alias("oid"), "chunk_hash"),
            "chunk_hash",
        )
        .where(F.col("nid") != F.col("oid"))
        .groupBy(
            F.least("nid", "oid").alias("id_a"),
            F.greatest("nid", "oid").alias("id_b"),
        )
        .agg(F.countDistinct("chunk_hash").alias("n_shared_chunks"))
    )
    if plan_probe is not None:
        plan_probe["probe"] = pairs._jdf.queryExecution().toString()
    # one output file: per-trigger pairs are batch-bounded (r7
    # job-budget cut, same as the minhash stream)
    idempotent_batch_write(pairs.coalesce(1), pairs_dir, batch_id)


@query(
    "stream_real_incremental_cdc",
    oracle=None,  # wired below: shares llm_dedup_incremental_cdc's oracle
    tags=(
        "dedup_incremental",
        "cdc_chunking",
        "dedup_exact",
        "update_mode",
        "foreachBatch_etl",
        "stream_source",
        "incremental_etl",
    ),
)
@_stream_tuned
def stream_real_incremental_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC chunk-hash dedup pipeline as a GENUINE STREAM (VERDICT
    r5 item #7): the persisted chunk-hash index over the 400-doc base
    corpus is probed AND upserted by a foreachBatch loop over the
    4-file crawl feed, one file per trigger.  Per micro-batch: chunk
    the batch, upsert its (doc_id, chunk_hash) rows into the
    hb-partitioned index, probe matched hash buckets for shared
    chunks, append complete pairs.  Same replay-idempotence +
    probe-keyed-state mechanisms as stream_real_incremental_dedup
    (per-batch overwrite subdirs, write-before-read, static bucket
    pruning — plan-pinned in tests/test_plans.py); the DuckDB oracle
    is the batch twin's (llm_dedup_incremental_cdc), hash-checking
    that the streamed chain — chunking, upsert ordering, probe, pair
    counting — converges to the one-shot incremental run."""
    prepare(spark)
    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") < 400).select("doc_id", "text")
    feed = _incr_feed(spark, sf_dir)
    ckpt = _scratch("incr_cdc_ckpt")
    idx_dir = _scratch("incr_cdc_index")
    pairs_dir = _scratch("incr_cdc_pairs")
    _incr_cdc_seed_dirs(spark, sf_dir, base, idx_dir, pairs_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _incr_cdc_apply_batch(spark, idx_dir, pairs_dir, batch_df, batch_id)

    q = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .format("parquet")
        .load(feed)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    # maintenance window: same auto-compaction policy as the minhash
    # stream, preserving the hb partition layout
    maintain_batched(spark, idx_dir, partition_cols=["hb"])
    maintain_batched(spark, pairs_dir)
    return read_batched(
        spark,
        pairs_dir,
        schema="id_a BIGINT, id_b BIGINT, n_shared_chunks BIGINT",
    ).select("id_a", "id_b", "n_shared_chunks")


def _wire_cdc_oracle() -> None:
    from mo_etl_spark.registry import QUERIES, QuerySpec
    from mo_etl_spark.suites.llm import _SQL_INCR_CDC

    spec = QUERIES["stream_real_incremental_cdc"]
    QUERIES["stream_real_incremental_cdc"] = QuerySpec(
        name=spec.name,
        fn=spec.fn,
        oracle=_SQL_INCR_CDC,
        tags=spec.tags,
    )


_wire_cdc_oracle()


def _ivf_query_feed(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    """The serving feed: the 50 contract queries (vec_id < 50) split
    into ``n_files`` parquet files by pmod(vec_id, n) — per-query
    top-k is independent of batching, so the union of per-trigger
    results equals the one-shot run for ANY split (the invariance the
    query proves).  Write-once per sf, mtime-invalidated."""

    def build(path: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        qs = emb.where(F.col("vec_id") < 50).select("vec_id", "embedding")
        for b in range(n_files):
            qs.where(F.pmod("vec_id", F.lit(n_files)) == b).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(path, f"b{b}"))

    return derived(
        sf_dir, "ivf_query_feed", "embeddings", build, done=f"b{n_files - 1}/_SUCCESS"
    )


@query(
    "stream_real_ivf_serving",
    oracle=None,  # wired below: shares llm_sim_ivf_topk's oracle verbatim
    tags=(
        "sim_ivf",
        "index_persistence",
        "stream_source",
        "foreachBatch_etl",
    ),
)
@_stream_tuned
def stream_real_ivf_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN serving as a GENUINE STREAM: query batches arrive one file
    per trigger and each foreachBatch probes the PERSISTED IVF index
    (llm._ivf_vec_index — (c_id, vec, cell) partitioned by cell),
    appending its top-5 lists to the result sink.  Per-trigger cost is
    the batch's probed cells only — the index scan carries the same
    DPP partition filter as the batch query, and no raw corpus is read
    at any trigger.  Per-query top-k is batching-independent, so the
    union of the four triggers' outputs hash-equals the one-shot
    llm_sim_ivf_topk oracle — the streamed chain (feed split, probe,
    DPP serve, append) is verified end to end.

    The sink is REPLAY-IDEMPOTENT (VERDICT r4 item #1): per-query
    top-k depends only on the batch's queries and the immutable index,
    so overwriting the batch's own ``b<batch_id>`` subdir makes an
    at-least-once replay rewrite identical rows rather than
    double-append them."""
    from mo_etl_spark.operators import similarity as S
    from mo_etl_spark.suites.llm import _ivf_index_params, _ivf_vec_index

    prepare(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("vec")
    )
    idx_path = _ivf_vec_index(spark, sf_dir, 16)
    indexed = S.load_ann_index(
        spark, idx_path, _ivf_index_params(16), schema="c_id BIGINT, vec ARRAY<FLOAT>, cell INT, sub INT"
    )
    cell_subs = S.resolve_cell_subs(spark, idx_path)
    feed = _ivf_query_feed(spark, sf_dir)
    ckpt = _scratch("ivf_serve_ckpt")
    out_dir = _scratch("ivf_serve_out")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        q = batch_df.select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
        )
        # one output file per trigger: a top-5 list for a query batch
        # is a few hundred rows — multi-task tiny-file commits are
        # pure overhead (r7 job-budget discipline)
        idempotent_batch_write(
            S.ivf_topk(
                q, None, cents, k=5, nprobe=4,
                indexed_corpus=indexed, cell_subs=cell_subs,
            ).coalesce(1),
            out_dir,
            batch_id,
        )

    q = (
        spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .format("parquet")
        .load(feed)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    return read_batched(
        spark,
        out_dir,
        schema="q_id BIGINT, c_id BIGINT, cos_sim DOUBLE, rnk INT",
    ).select("q_id", "c_id", "cos_sim", "rnk")


def _wire_ivf_serving_oracle() -> None:
    from mo_etl_spark.registry import QUERIES, QuerySpec
    from mo_etl_spark.suites.llm import _SQL_IVF_ORACLE_HEAD

    spec = QUERIES["stream_real_ivf_serving"]
    QUERIES["stream_real_ivf_serving"] = QuerySpec(
        name=spec.name,
        fn=spec.fn,
        oracle=_SQL_IVF_ORACLE_HEAD,
        tags=spec.tags,
    )


_wire_ivf_serving_oracle()


def _with_ivf_sub(df: DataFrame, prov: int) -> DataFrame:
    """The provisional sub-split column of the streamed IVF index."""
    return df.withColumn(
        "sub", F.pmod(F.xxhash64(F.col("c_id")), F.lit(prov)).cast("int")
    )


def _ivf_base_snapshot(
    sf_dir: str,
    base: DataFrame,
    cents: DataFrame,
    cents_lt: int,
    base_lt: int,
    prov: int,
) -> str:
    """The base corpus's assigned IVF index, (cell, sub)-partitioned:
    a pure function of the base corpus, so one mtime-invalidated cache
    snapshot seeds every stream that starts from it."""
    from mo_etl_spark.operators import similarity as S

    return derived(
        sf_dir,
        f"stream_base_ivf_index__c{cents_lt}_base{base_lt}_sub{prov}",
        "embeddings",
        lambda p: _write_partitioned(
            _with_ivf_sub(S.ivf_cells(base, cents).join(base, "c_id"), prov),
            p,
            "cell",
            "sub",
        ),
    )


def _ivf_corpus_feed(
    spark: SparkSession, sf_dir: str, n_files: int = 4, base_lt: int = 256
) -> str:
    """The index-refresh feed: vectors ``vec_id >= base_lt`` split into
    ``n_files`` parquet files by pmod — the daily embedding drops the
    index-upsert stream consumes.  Write-once per sf,
    mtime-invalidated."""

    def build(path: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        arrivals = emb.where(F.col("vec_id") >= base_lt).select(
            "vec_id", "embedding"
        )
        for b in range(n_files):
            arrivals.where(F.pmod("vec_id", F.lit(n_files)) == b).coalesce(
                1
            ).write.mode("overwrite").parquet(os.path.join(path, f"b{b}"))

    return derived(
        sf_dir,
        f"ivf_corpus_feed_b{base_lt}",
        "embeddings",
        build,
        done=f"b{n_files - 1}/_SUCCESS",
    )


@query(
    "stream_real_ivf_index_upsert",
    oracle=None,  # wired below: shares llm_sim_ivf_topk's oracle
    tags=(
        "sim_ivf",
        "index_persistence",
        "incremental_etl",
        "update_mode",
        "foreachBatch_etl",
        "stream_source",
    ),
)
@_stream_tuned
def stream_real_ivf_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN INDEX MAINTENANCE as a stream (r6) — the other half of
    stream_real_ivf_serving: there queries arrive and the index is
    static; here NEW VECTORS arrive (the daily embedding refresh) and
    the persisted cell-partitioned index grows.  Per micro-batch:
    assign the batch to its IVF cells (one broadcast of the 16
    centroids — assignment is per-vector, so ANY batch split yields
    the identical final index) and upsert (c_id, vec, cell) into the
    batched index under the replay-idempotent per-batch-overwrite
    discipline, partitioned by the probe key ``cell``.

    HOT-CELL CAP (VERDICT r6 what's-wrong #1): every row the stream
    writes — seed base and per-batch upserts alike — carries a
    provisional ``sub = pmod(xxhash64(c_id), prov)`` and lands
    partitioned by (cell, sub), so even BEFORE any compaction a
    drifted refresh that parks a day's vectors in one centroid's cell
    yields ``prov`` bounded scoring tasks, not one straggler.
    Compaction re-splits adaptively against the whole accumulated
    table (ann_resplit_transform: ceil(size/cap_rows) subs per cell)
    and commits the (cell, n_subs) map atomically inside the batched
    table's manifest; serving expands each probed cell to
    ``max(map, prov)`` subs (cell_subs_with_floor), which covers both
    row populations in the live union.  Sub assignment is a pure
    function of c_id, so the layout stays replay-idempotent and the
    results split-invariant.

    After the backfill the full contract top-5 serve runs against
    base ∪ arrived with a STATIC probed-cell filter pushed through
    the per-batch-dir union (matched cells only — the same pruning
    shape as the dedup streams, plan-pinned in tests/test_plans.py).
    Because the final index equals the one-shot assignment of the
    whole corpus, the serve is value-identical to llm_sim_ivf_topk
    and shares its oracle verbatim — the streamed index build is
    hash-checked end to end."""
    prepare(spark)
    # prov sizes the BETWEEN-compactions task bound (a fresh cell's
    # worst task is arrivals_in_cell / prov until the next adaptive
    # re-split): a deployment picks ~expected per-interval arrivals
    # per hot cell / cap_rows.  At contract scale 2 suffices and each
    # extra sub multiplies partition-dir count (A/B'd: prov=4 cost
    # ~2 s/run in listing overhead for no tighter interim bound that
    # matters at this volume).  cap_rows is the compaction-time cap.
    prov, cap_rows = 2, 512
    from mo_etl_spark.operators import similarity as S

    idx_dir = _scratch("ivf_upsert_index")
    emb, cents = _grow_ivf_index(
        spark, sf_dir, idx_dir, _scratch("ivf_upsert_ckpt"), prov=prov
    )
    maintain_batched(
        spark,
        idx_dir,
        partition_cols=["cell", "sub"],
        transform=S.ann_resplit_transform(cap_rows),
    )
    queries = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    return _ivf_pruned_serve(spark, idx_dir, cents, queries, prov=prov)


def _grow_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    idx_dir: str,
    ckpt: str,
    base_lt: int = 256,
    cents_lt: int = 16,
    prov: int = 2,
    tombstones: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Seed the (cell, sub)-partitioned IVF index from the cached base
    snapshot (zero-copy gen-0 manifest reference) and GROW it through
    the vector feed's availableNow stream — the shared build phase of
    the stream_real_ivf_index_upsert / stream_real_ivf_retract
    contract queries.  ``tombstones`` (column ``c_id``) are appended
    BEFORE the first trigger, so retraction is live from trigger 0.
    Returns (embeddings table, centroid frame)."""
    from mo_etl_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") < base_lt).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec")
    )
    cents = emb.where(F.col("vec_id") < cents_lt).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("vec")
    )
    feed = _ivf_corpus_feed(spark, sf_dir, base_lt=base_lt)
    snap = _ivf_base_snapshot(sf_dir, base, cents, cents_lt, base_lt, prov)
    shutil.rmtree(idx_dir, ignore_errors=True)
    # layout id of the creation quantizer (r9): every dir assigned
    # under it is stamped, so a later re-quantization's serve knows
    # which dirs its probed-cell values are comparable with
    qid0 = S.quantizer_id(cents)
    seed_batched(idx_dir, snap, extra={"layout_id": qid0})
    if tombstones is not None:
        append_tombstones(tombstones.select("c_id"), idx_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # the batch projection appears twice in the write's plan (GEMM
        # assign + payload join) — both legs re-scan the trigger's one
        # parquet file, which is cheaper than the eager localCheckpoint
        # job this used to pay per trigger (guide §1.2: fewer jobs)
        b = batch_df.select(
            F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec")
        )
        idempotent_batch_write(
            _with_ivf_sub(S.ivf_cells(b, cents).join(b, "c_id"), prov),
            idx_dir,
            batch_id,
            partition_cols=["cell", "sub"],
        )
        from mo_etl_spark.streaming import stamp_layout

        stamp_layout(idx_dir, batch_id, qid0)

    feed_schema = spark.read.option("recursiveFileLookup", "true").parquet(
        feed
    ).schema
    q = (
        spark.readStream.schema(feed_schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .format("parquet")
        .load(feed)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    return emb, cents


def _ivf_pruned_serve(
    spark: SparkSession,
    idx_dir: str,
    cents: DataFrame,
    queries: DataFrame,
    nprobe: int = 4,
    prov: int = 2,
    max_batch: int | None = None,
) -> DataFrame:
    """The contract top-5 serve against a stream-grown index: STATIC
    probed-cell pruning pushed through the per-batch-dir union
    (matched cells only, plan-pinned), pending retraction keys
    broadcast-anti-joined ABOVE the pruned scans (partition filters
    untouched — the dedup streams' composition), sub expansion via the
    unified map reader at max(map, provisional floor).

    QUANTIZER-AWARE since r9: dirs are layout-stamped with the
    quantizer their cells were assigned under (stamp_layout /
    ann_requantize_transform's layout claim); only dirs matching the
    SERVING quantizer take the probed-cell path — an in-flight batch
    assigned under a quantizer a later re-train replaced has
    incomparable cell numbers, so its rows are scored by BRUTE FORCE
    (one trigger's worth — bounded) and merged into the global top-k.
    In the steady state every dir matches and the foreign leg is an
    empty literal; after a re-quantization the window closes at the
    next compaction, which re-assigns every retained row."""
    from mo_etl_spark.operators import similarity as S
    from mo_etl_spark.streaming import read_batched_layout_split

    # static probed-cell pruning: the query batch probes <= 16 cells;
    # the collected list prunes every per-batch index scan
    probed_cells = sorted(
        r["cell"]
        for r in S.brute_force_topk(
            queries, cents, k=nprobe, c_id="cent_id", exclude_self=False,
            n_q_blocks=4, n_c_blocks=1,
        )
        .select(F.col("cent_id").alias("cell"))
        .distinct()
        .collect()
    )
    schema = "c_id BIGINT, vec ARRAY<FLOAT>, cell BIGINT, sub INT"
    idx, foreign = read_batched_layout_split(
        spark, idx_dir, "cell", probed_cells, S.quantizer_id(cents), schema,
        max_batch=max_batch,
    )
    if has_tombstones(idx_dir):
        dead = F.broadcast(
            read_tombstones(spark, idx_dir, "c_id BIGINT").select("c_id")
        )
        idx = idx.join(dead, "c_id", "left_anti")
        foreign = foreign.join(dead, "c_id", "left_anti")
    # the ONE sub-map reader (r8): resolves the manifest-extra channel
    # — probed cells expand to max(map, provisional floor)
    cs = S.resolve_cell_subs(spark, idx_dir, cells=probed_cells, floor=prov)
    ranked = S.ivf_topk(
        queries, None, cents, k=5, nprobe=nprobe, indexed_corpus=idx, cell_subs=cs
    ).select("q_id", "c_id", "cos_sim")
    # foreign-layout leg: per-trigger bounded, exact by construction
    extra = S.brute_force_topk(
        queries,
        foreign.select("c_id", "vec"),
        k=5,
        n_q_blocks=2,
        n_c_blocks=1,
    ).select("q_id", "c_id", "cos_sim")
    merged = ranked.unionByName(extra)
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("c_id")
    )
    return (
        merged.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("q_id", "c_id", "cos_sim", "rnk")
    )


@query(
    "stream_real_ivf_retract",
    oracle=None,  # wired below: the retained-corpus IVF oracle
    tags=(
        "sim_ivf",
        "index_persistence",
        "incremental_etl",
        "tombstone_lifecycle",
        "update_mode",
        "foreachBatch_etl",
        "stream_source",
    ),
)
@_stream_tuned
def stream_real_ivf_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VECTOR RETRACTION from the stream-grown ANN index (r8) — the
    GDPR-for-embeddings lifecycle, composing the tombstone machinery
    with the (cell, sub)-partitioned index: every 41st vector is
    tombstoned BEFORE the first trigger (some live in the seed base,
    some arrive in the feed — retraction must hold for both), the
    index grows through the same availableNow upsert stream as
    stream_real_ivf_index_upsert, serving anti-joins the pending set
    ABOVE the probed-cell-pruned scans (partition filters untouched —
    the dedup streams' composition), and the maintenance fold
    physically drops the dead vectors WHILE ADAPTIVELY RE-SPLITTING
    hot cells in the same rewrite (compact_batched composes
    tombstone_col= with transform=ann_resplit_transform: the fold
    runs first, the re-split maps the retained rows, and the
    (cell, n_subs) map commits atomically with them).  The returned
    post-fold serve is hash-checked against the IVF oracle over the
    RETAINED corpus — a deleted vector contributes no cell rows and
    no neighbors; the quantizer itself is FROZEN (centroids are
    parameters, not corpus rows — deleting a vector never retrains
    the coarse quantizer, the production semantics).  Pre-fold
    (pending anti-join) and post-fold serves are pinned equal in
    tests/test_streaming.py."""
    prepare(spark)
    from mo_etl_spark.operators import similarity as S

    prov, cap_rows = 2, 512
    emb_all = load_table(spark, sf_dir, "embeddings")
    deleted = emb_all.where(F.pmod("vec_id", F.lit(41)) == 0).select(
        F.col("vec_id").alias("c_id")
    )
    idx_dir = _scratch("ivf_retract_index")
    emb, cents = _grow_ivf_index(
        spark, sf_dir, idx_dir, _scratch("ivf_retract_ckpt"),
        prov=prov, tombstones=deleted,
    )
    # the maintenance fold: retraction and hot-cell re-split in ONE
    # rewrite, map + rows committed atomically
    compact_batched(
        spark,
        idx_dir,
        min_dirs=0,
        partition_cols=["cell", "sub"],
        transform=S.ann_resplit_transform(cap_rows),
        tombstone_col="c_id",
    )
    queries = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    return _ivf_pruned_serve(spark, idx_dir, cents, queries, prov=prov)


def _wire_ivf_retract_oracle() -> None:
    from mo_etl_spark.registry import QUERIES, QuerySpec
    from mo_etl_spark.suites.llm import _SQL_COS_EC, _SQL_COSINE

    # the retained-corpus twin of _SQL_IVF_ORACLE_HEAD: deleted
    # vectors (vec_id % 41 = 0) contribute no cells and no candidates;
    # queries and the frozen quantizer (vec_id < 16) are unchanged
    sql = f"""
    WITH cents_ AS (
      SELECT vec_id AS cent_id, embedding FROM embeddings WHERE vec_id < 16
    ),
    retained AS (
      SELECT * FROM embeddings WHERE vec_id % 41 <> 0
    ),
    cells AS (
      SELECT c_id, cent_id AS cell FROM (
        SELECT ea.vec_id AS c_id, ec.cent_id,
               row_number() OVER (PARTITION BY ea.vec_id
                                  ORDER BY {_SQL_COS_EC} DESC, ec.cent_id) AS r
        FROM retained ea CROSS JOIN cents_ ec)
      WHERE r = 1
    ),
    probes AS (
      SELECT q_id, cent_id AS cell FROM (
        SELECT ea.vec_id AS q_id, ec.cent_id,
               row_number() OVER (PARTITION BY ea.vec_id
                                  ORDER BY {_SQL_COS_EC} DESC, ec.cent_id) AS r
        FROM embeddings ea CROSS JOIN cents_ ec
        WHERE ea.vec_id < 50)
      WHERE r <= 4
    ),
    cand AS (
      SELECT p.q_id, cl.c_id
      FROM probes p JOIN cells cl USING (cell)
      WHERE p.q_id <> cl.c_id
    )
    SELECT q_id, c_id, cos_sim, rnk FROM (
      SELECT cand.q_id, cand.c_id,
             {_SQL_COSINE} AS cos_sim,
             row_number() OVER (PARTITION BY cand.q_id
                                ORDER BY {_SQL_COSINE} DESC, cand.c_id) AS rnk
      FROM cand
      JOIN embeddings a ON a.vec_id = cand.q_id
      JOIN retained b ON b.vec_id = cand.c_id)
    WHERE rnk <= 5
    """
    spec = QUERIES["stream_real_ivf_retract"]
    QUERIES["stream_real_ivf_retract"] = QuerySpec(
        name=spec.name,
        fn=spec.fn,
        oracle=sql,
        tags=spec.tags,
    )


_wire_ivf_retract_oracle()


@query(
    "stream_real_ivf_requantize",
    oracle=None,  # wired below: full training replay + serve oracle
    tags=(
        "sim_ivf",
        "index_persistence",
        "quantizer_training",
        "kmeans",
        "incremental_etl",
        "partition_spec_evolution",
        "foreachBatch_etl",
        "stream_source",
    ),
)
@_stream_tuned
def stream_real_ivf_requantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTIZER RE-TRAINING as index maintenance (r9 — the ANN twin
    of the dedup spec evolution, round-10 lead #4 done early): the
    coarse quantizer is trained at creation and frozen, so a drifting
    embedding feed ends up with a few giant cells and probed-cell
    pruning saturates exactly like a frozen dedup bucket spec.  The
    index grows through the same availableNow upsert stream as
    stream_real_ivf_index_upsert (creation-time quantizer = the first
    16 vectors); the maintenance fold then runs
    ``ann_requantize_transform``: RETRAIN k=8 centroids on the whole
    accumulated corpus (kmeans_train — hash-seeded farthest-point
    init, one Lloyd's iteration, rounded updates: deterministic and
    SQL-replayable), reassign every row, re-split hot cells, and
    commit {centroids, cell_subs} atomically with the rewritten rows.
    Serving probes with ``quantizer_from_manifest`` — the quantizer
    can never be stale relative to the cells it describes.  The oracle
    replays TRAINING ITSELF in unrolled CTEs (seeding included) and
    then the full probed-cell serve over the retrained cells, so a
    drifted centroid, a mis-assigned row, or a stale quantizer at
    serve time all hash-miss."""
    prepare(spark)
    from mo_etl_spark.operators import similarity as S

    prov = 2
    idx_dir = _scratch("ivf_requant_index")
    emb, _cents0 = _grow_ivf_index(
        spark, sf_dir, idx_dir, _scratch("ivf_requant_ckpt"), prov=prov
    )
    compact_batched(
        spark,
        idx_dir,
        min_dirs=0,
        partition_cols=["cell", "sub"],
        transform=S.ann_requantize_transform(k=8, iters=1, cap_rows=512),
    )
    cents = S.quantizer_from_manifest(spark, idx_dir)
    assert cents is not None  # the requantize pass just committed it
    queries = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    return _ivf_pruned_serve(spark, idx_dir, cents, queries, prov=prov)


@query(
    "stream_real_ivf_auto_maintenance",
    oracle=None,  # wired below: shares the requantize training-replay
    # oracle — the auto policy's retrain branch runs the IDENTICAL
    # transform, so the served result must hash-equal it
    tags=(
        "stream_ann_serving",
        "stream_ann_index_upsert",
        "state_auto_maintenance",
        "ann_requantize",
        "index_compaction",
        "quantizer_seeding_kpp",
    ),
)
@_stream_tuned
def stream_real_ivf_auto_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTO ANN MAINTENANCE POLICY end to end (r10, VERDICT r9 item
    #6): the ``maintain_batched(ann=(cap_rows, retrain))`` knob —
    unit-tested in r9 but not exercised by any contract query — now
    drives the SAME index lifecycle as stream_real_ivf_requantize
    through the POLICY instead of an explicit transform.  The index
    grows through the availableNow upsert stream; the maintenance
    window then runs TWO auto passes: (1) ``ann=(512, (8, 1,
    1_000_000))`` — the hottest cell is under the drift cap, so the
    policy takes the RE-SPLIT branch (layout-preserving, results
    unchanged); (2) ``ann=(512, (8, 1, 1))`` — every cell now exceeds
    the cap, so the policy takes the RETRAIN branch:
    ann_requantize_transform with the identical (k=8, iters=1)
    parameters the explicit query uses.  Nobody named a transform;
    the measured drift did.  Serving probes with
    ``quantizer_from_manifest`` and must hash-equal the requantize
    oracle (training replay in unrolled CTEs), so a policy that takes
    the wrong branch, re-trains with different parameters, or serves a
    stale quantizer all hash-miss."""
    prepare(spark)
    from mo_etl_spark.operators import similarity as S

    prov = 2
    idx_dir = _scratch("ivf_automaint_index")
    emb, _cents0 = _grow_ivf_index(
        spark, sf_dir, idx_dir, _scratch("ivf_automaint_ckpt"), prov=prov
    )
    # pass 1: dir pressure triggers, drift cap NOT exceeded -> re-split
    maintain_batched(
        spark, idx_dir, max_dirs=1, partition_cols=["cell", "sub"],
        ann=(512, (8, 1, 1_000_000)),
    )
    assert S.quantizer_from_manifest(spark, idx_dir) is None  # no retrain
    # pass 2: drift cap exceeded -> the policy retrains the quantizer
    maintain_batched(
        spark, idx_dir, max_dirs=1, partition_cols=["cell", "sub"],
        ann=(512, (8, 1, 1)),
    )
    cents = S.quantizer_from_manifest(spark, idx_dir)
    assert cents is not None  # the auto retrain committed it
    queries = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    return _ivf_pruned_serve(spark, idx_dir, cents, queries, prov=prov)


def _wire_ivf_requantize_oracle() -> None:
    from mo_etl_spark.registry import QUERIES, QuerySpec
    from mo_etl_spark.suites.llm import _km_cos, _kpp_seed_ctes, _SQL_COSINE

    # training replay (the _kmeans_sql shape, k=8, one Lloyd's
    # iteration) over the FULL embeddings table — the streamed index's
    # accumulated corpus IS all embeddings (base vec_id<256 + feed
    # vec_id>=256) — then the probed-cell serve over retrained cells
    seed_ctes, c0 = _kpp_seed_ctes(8)
    parts = [
        "emb AS (SELECT vec_id, list_transform(range(1,65),"
        " i -> CAST(embedding[i] AS DOUBLE)) AS v FROM embeddings)",
        *seed_ctes,
        c0,
        f"a1 AS (SELECT vec_id, cell FROM ("
        f" SELECT e.vec_id, c.cent_id AS cell,"
        f" row_number() OVER (PARTITION BY e.vec_id"
        f" ORDER BY {_km_cos('e', 'c')} DESC, c.cent_id) AS r"
        f" FROM emb e CROSS JOIN c0 c) t WHERE r = 1)",
        "u1 AS (SELECT a.cell, d.i, round(avg(e.v[d.i]), 6) AS val"
        " FROM a1 a JOIN emb e USING (vec_id)"
        " CROSS JOIN (SELECT unnest(range(1,65)) AS i) d"
        " GROUP BY a.cell, d.i)",
        "c1 AS (SELECT cell AS cent_id, list(val ORDER BY i) AS v"
        " FROM u1 GROUP BY cell)",
        f"cells AS (SELECT vec_id AS c_id, cell FROM ("
        f" SELECT e.vec_id, c.cent_id AS cell,"
        f" row_number() OVER (PARTITION BY e.vec_id"
        f" ORDER BY {_km_cos('e', 'c')} DESC, c.cent_id) AS r"
        f" FROM emb e CROSS JOIN c1 c) t WHERE r = 1)",
        f"probes AS (SELECT vec_id AS q_id, cell FROM ("
        f" SELECT e.vec_id, c.cent_id AS cell,"
        f" row_number() OVER (PARTITION BY e.vec_id"
        f" ORDER BY {_km_cos('e', 'c')} DESC, c.cent_id) AS r"
        f" FROM emb e CROSS JOIN c1 c WHERE e.vec_id < 50) t WHERE r <= 4)",
        "cand AS (SELECT p.q_id, cl.c_id FROM probes p"
        " JOIN cells cl USING (cell) WHERE p.q_id <> cl.c_id)",
    ]
    sql = (
        "WITH "
        + ",\n".join(parts)
        + f"""
    SELECT q_id, c_id, cos_sim, rnk FROM (
      SELECT cand.q_id, cand.c_id,
             {_SQL_COSINE} AS cos_sim,
             row_number() OVER (PARTITION BY cand.q_id
                                ORDER BY {_SQL_COSINE} DESC, cand.c_id) AS rnk
      FROM cand
      JOIN embeddings a ON a.vec_id = cand.q_id
      JOIN embeddings b ON b.vec_id = cand.c_id)
    WHERE rnk <= 5
    """
    )
    # the auto-maintenance query's retrain branch runs the identical
    # transform, so both share the training-replay oracle (r10)
    for name in ("stream_real_ivf_requantize", "stream_real_ivf_auto_maintenance"):
        spec = QUERIES[name]
        QUERIES[name] = QuerySpec(
            name=spec.name, fn=spec.fn, oracle=sql, tags=spec.tags
        )


_wire_ivf_requantize_oracle()


def _wire_ivf_upsert_oracle() -> None:
    from mo_etl_spark.registry import QUERIES, QuerySpec
    from mo_etl_spark.suites.llm import _SQL_IVF_ORACLE_HEAD

    spec = QUERIES["stream_real_ivf_index_upsert"]
    QUERIES["stream_real_ivf_index_upsert"] = QuerySpec(
        name=spec.name,
        fn=spec.fn,
        oracle=_SQL_IVF_ORACLE_HEAD,
        tags=spec.tags,
    )


_wire_ivf_upsert_oracle()


#: cross-FAMILY group (r11, VERDICT r10 item #1): the vector corpus
#: (relational family, db-bucketed) and the serving IVF index (ANN
#: family, (cell, sub)-partitioned) advance under ONE txn_commit
_VEC_CORPUS_SCHEMA = "c_id BIGINT, vec ARRAY<FLOAT>, db BIGINT"
_VEC_NB = 8


def _vec_group_seed_dirs(
    spark: SparkSession,
    sf_dir: str,
    corpus_dir: str,
    idx_dir: str,
    group_root: str,
    base_lt: int = 256,
    cents_lt: int = 16,
    prov: int = 2,
    nb: int = _VEC_NB,
):
    """Seed the cross-family pair: the arrived-vector corpus
    (db-bucketed) and the IVF index ((cell, sub)-partitioned,
    layout-stamped with the creation quantizer) — both as zero-copy
    gen-0 references to cached base snapshots, made visible in ONE
    seed transaction (watermark -1).  Returns (embeddings table,
    centroid frame, creation layout id)."""
    from mo_etl_spark.operators import similarity as S
    from mo_etl_spark.streaming import seed_batched as _seed

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") < base_lt).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec")
    )
    cents = emb.where(F.col("vec_id") < cents_lt).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("vec")
    )
    corp_snap = derived(
        sf_dir,
        f"stream_base_vec_corpus__nb{nb}_base{base_lt}",
        "embeddings",
        lambda p: _write_partitioned(
            base.withColumn("db", F.pmod("c_id", F.lit(nb))), p, "db"
        ),
    )
    idx_snap = _ivf_base_snapshot(sf_dir, base, cents, cents_lt, base_lt, prov)
    qid0 = S.quantizer_id(cents)
    shutil.rmtree(corpus_dir, ignore_errors=True)
    shutil.rmtree(idx_dir, ignore_errors=True)
    _seed(corpus_dir, corp_snap, extra={"spec_n": nb})
    _seed(idx_dir, idx_snap, extra={"layout_id": qid0})
    shutil.rmtree(group_root, ignore_errors=True)
    txn_commit(group_root, -1, {"vectors": corpus_dir, "index": idx_dir})
    return emb, cents, qid0


def _vec_group_apply_batch(
    spark: SparkSession,
    corpus_dir: str,
    idx_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    cents: DataFrame,
    qid0: str,
    group_root: str,
    nb: int = _VEC_NB,
    prov: int = 2,
    crash_point: str | None = None,
) -> None:
    """One trigger of the CROSS-FAMILY transactional loop (r11,
    VERDICT r10 item #1): the embedding batch lands in the arrived
    corpus (db-bucketed) AND, cell-assigned under the creation
    quantizer, in the serving IVF index — two tables that share no
    write path — then ONE ``txn_commit`` makes both visible together.
    A transactional reader (serve at ``txn_watermark``) sees either
    both halves of a trigger or neither: an embedding can never be
    findable by the index but missing from the corpus, or vice versa.

    ``crash_point`` (the chaos-model hook, mirroring
    _incr_dedup_apply_batch's): ``"after_corpus"`` (corpus written,
    index missing — the cross-family torn window), ``"mid_index"``
    (index data landed, its _SUCCESS marker torn off), ``"before_txn"``
    (both complete, the commit not made — everything on disk looks
    healthy).  Replay-idempotent throughout: per-batch overwrites +
    the monotone txn pointer."""
    from mo_etl_spark.operators import similarity as S
    from mo_etl_spark.streaming import stamp_layout

    b = batch_df.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec")
    ).localCheckpoint(eager=True)
    idempotent_batch_write(
        b.withColumn("db", F.pmod("c_id", F.lit(nb))),
        corpus_dir,
        batch_id,
        partition_cols=["db"],
    )
    stamp_spec(corpus_dir, batch_id, nb)
    if crash_point == "after_corpus":
        raise PlantedCrash("after_corpus")
    idempotent_batch_write(
        _with_ivf_sub(S.ivf_cells(b, cents).join(b, "c_id"), prov),
        idx_dir,
        batch_id,
        partition_cols=["cell", "sub"],
    )
    stamp_layout(idx_dir, batch_id, qid0)
    if crash_point == "mid_index":
        try:
            os.remove(os.path.join(idx_dir, f"b{batch_id}", "_SUCCESS"))
        except OSError:
            pass
        raise PlantedCrash("mid_index")
    if crash_point == "before_txn":
        raise PlantedCrash("before_txn")
    txn_commit(
        group_root, batch_id, {"vectors": corpus_dir, "index": idx_dir}
    )


@query(
    "stream_real_txn_group_ann",
    oracle=None,  # wired below: the shared IVF serve oracle + corpus SQL
    tags=(
        "cross_table_txn",
        "sim_ivf",
        "index_persistence",
        "incremental_etl",
        "foreachBatch_etl",
        "stream_source",
    ),
)
@_stream_tuned
def stream_real_txn_group_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-FAMILY TRANSACTION GROUP (r11, VERDICT r10 item #1): the
    group protocol generalizes beyond tables that share a write path —
    embedding arrivals update the ARRIVED VECTOR CORPUS (relational
    family) and the SERVING IVF INDEX (ANN family) in one
    ``txn_commit`` per trigger, and every read happens AT THE GROUP
    WATERMARK.  The torn window this kills is cross-family: without
    the txn, a crash between the corpus and index writes leaves an
    embedding findable by similarity search but absent from the
    corpus (or arrived but unfindable) until the replay heals it.

    The query makes transactional visibility LOAD-BEARING: after the
    stream, a PHANTOM trigger (poison copies of the query vectors,
    cosine ~1.0 — guaranteed top-1 hits if visible) is written to BOTH
    tables but crashes ``before_txn``; index maintenance then folds AT
    the watermark (``max_batch`` — the phantom cannot be baked into
    the base); the layout-split pruned serve and the corpus summary
    both read ``max_batch=watermark``.  One leaked phantom row
    hash-misses the shared IVF oracle instantly.  The serve equals the
    one-shot IVF assignment of the whole corpus (the upsert query's
    exactness argument), and the corpus summary equals SQL over the
    full embeddings table."""
    prepare(spark)
    from mo_etl_spark.operators import similarity as S

    prov, cap_rows = 2, 512
    corpus_dir = _scratch("txn_ann_corpus")
    idx_dir = _scratch("txn_ann_index")
    group = _scratch("txn_ann_group")
    ckpt = _scratch("txn_ann_ckpt")
    emb, cents, qid0 = _vec_group_seed_dirs(
        spark, sf_dir, corpus_dir, idx_dir, group, prov=prov
    )
    feed = _ivf_corpus_feed(spark, sf_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _vec_group_apply_batch(
            spark, corpus_dir, idx_dir, batch_df, batch_id, cents, qid0,
            group, prov=prov,
        )

    feed_schema = spark.read.option("recursiveFileLookup", "true").parquet(
        feed
    ).schema
    q = (
        spark.readStream.schema(feed_schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .format("parquet")
        .load(feed)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    w = txn_watermark(group)
    assert w is not None and w >= 0
    # PHANTOM uncommitted trigger: poison vectors (copies of the query
    # embeddings under fresh ids) land COMPLETE in both tables, but
    # the crash before txn_commit leaves them invisible to every
    # transactional reader below
    poison = emb.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 90_000).alias("vec_id"), "embedding"
    )
    try:
        _vec_group_apply_batch(
            spark, corpus_dir, idx_dir, poison, w + 1, cents, qid0, group,
            prov=prov, crash_point="before_txn",
        )
    except PlantedCrash:
        pass
    assert txn_watermark(group) == w  # the phantom never committed
    # group maintenance AT the watermark: the fold consolidates the
    # committed batches and CANNOT bake the phantom (max_batch guard)
    maintain_batched(
        spark,
        idx_dir,
        max_dirs=2,
        partition_cols=["cell", "sub"],
        transform=S.ann_resplit_transform(cap_rows),
        max_batch=w,
    )
    queries = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    serve = _ivf_pruned_serve(
        spark, idx_dir, cents, queries, prov=prov, max_batch=w
    ).select(
        F.lit("serve").alias("part"), "q_id", "c_id", "cos_sim"
    )
    corpus = (
        read_batched(
            spark,
            corpus_dir,
            partitioned=True,
            schema=_VEC_CORPUS_SCHEMA,
            max_batch=w,
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("q_id"),
            F.sum("c_id").cast("long").alias("c_id"),
        )
        .select(
            F.lit("corpus").alias("part"),
            "q_id",
            "c_id",
            F.lit(0.0).alias("cos_sim"),
        )
    )
    return serve.unionByName(corpus)


def _wire_txn_group_ann_oracle() -> None:
    from mo_etl_spark.registry import QUERIES, QuerySpec
    from mo_etl_spark.suites.llm import _SQL_IVF_ORACLE_HEAD

    sql = f"""
    WITH serve AS ({_SQL_IVF_ORACLE_HEAD})
    SELECT 'serve' AS part, q_id, c_id, cos_sim FROM serve
    UNION ALL
    SELECT 'corpus', count(*), CAST(sum(vec_id) AS BIGINT), 0.0
    FROM embeddings
    """
    spec = QUERIES["stream_real_txn_group_ann"]
    QUERIES["stream_real_txn_group_ann"] = QuerySpec(
        name=spec.name, fn=spec.fn, oracle=sql, tags=spec.tags
    )


_wire_txn_group_ann_oracle()


@query(
    "stream_state_group_retention",
    oracle="""
    SELECT 'txn0' AS snapshot, FALSE AS travelable,
           CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS key_sum
    UNION ALL
    SELECT 'txn1', FALSE, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    UNION ALL
    SELECT 'txn2', TRUE, count(*), CAST(sum(o_orderkey) AS BIGINT)
    FROM orders WHERE o_orderkey % 4 < 3
    UNION ALL
    SELECT 'txn3', TRUE, (SELECT count(*) FROM orders),
           CAST((SELECT sum(o_orderkey) FROM orders) AS BIGINT)
    """,
    tags=(
        "cross_table_txn",
        "time_travel",
        "snapshot_retention",
        "index_compaction",
        "incremental_etl",
    ),
)
def stream_state_group_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-LEVEL RETENTION GUARANTEE as a contract query (r11,
    VERDICT r10 item #3): four transactions commit order slices, each
    followed by a ZERO-GRACE fold carrying ``keep_last_txns=(group,
    2)`` — without the pin, every fold would immediately vacuum the
    batch dirs and superseded bases the recent txn records reference
    (the group travel horizon collapsing to the live txn).  With it,
    the last TWO transactions' snapshots (base + unconsumed window
    batch dirs) survive every pass; a final
    ``expire_snapshots(keep_last_n=1, keep_last_txns=...)`` would
    vacuum them if the knob were ignored — so a retention
    implementation that over- or under-pins by one transaction
    hash-misses in either direction.  txns 0–1 (outside the window)
    report travelable=false via the NAMED SnapshotVacuumed; txns 2–3
    reproduce exact relational algebra over orders."""
    prepare(spark)
    from mo_etl_spark.streaming import (
        SnapshotVacuumed,
        compact_batched as _compact,
        expire_snapshots,
        read_group_at,
    )

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    root = _scratch("group_ret_tbl")
    group = _scratch("group_ret_txn")
    schema = "o_orderkey BIGINT"
    for t in range(4):
        idempotent_batch_write(
            orders.where(F.pmod("o_orderkey", F.lit(4)) == t), root, t
        )
        txn_commit(group, t, {"t": root})
        _compact(
            spark, root, min_dirs=0, gc_grace_sec=0.0,
            max_batch=txn_watermark(group),
            keep_last_txns=(group, 2),
        )
    expire_snapshots(
        root, keep_last_n=1, older_than_sec=0.0, keep_last_txns=(group, 2)
    )

    def summ(t: int) -> DataFrame:
        try:
            df = read_group_at(spark, group, t, "t", schema)
            df.first()  # force resolution: vacuumed raises here
        except SnapshotVacuumed:
            return spark.createDataFrame(
                [(f"txn{t}", False, None, None)],
                "snapshot STRING, travelable BOOLEAN, n BIGINT, key_sum BIGINT",
            )
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
        ).select(
            F.lit(f"txn{t}").alias("snapshot"),
            F.lit(True).alias("travelable"),
            "n",
            "key_sum",
        )

    return summ(0).unionByName(summ(1)).unionByName(summ(2)).unionByName(
        summ(3)
    )


@query(
    "stream_state_change_feed_rebucket",
    oracle="""
    WITH final AS (
      SELECT o_orderkey FROM orders
      WHERE o_orderkey % 97 <> 0 AND o_orderkey % 89 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000 FROM orders WHERE o_orderkey % 500 = 0
      UNION ALL
      SELECT o_orderkey + 20000000 FROM orders WHERE o_orderkey % 300 = 0
    )
    SELECT 'mv_gen3' AS snapshot, count(*) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum FROM final
    UNION ALL
    SELECT 'direct_gen3', count(*), CAST(sum(o_orderkey) AS BIGINT) FROM final
    """,
    tags=(
        "change_data_feed",
        "cdc_merge",
        "partition_spec_evolution",
        "incremental_etl",
        "index_compaction",
        "tombstone_lifecycle",
    ),
)
def stream_state_change_feed_rebucket(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TRANSFORM-WINDOW change-file consumer as a contract query (r11,
    VERDICT r10 item #4 driver-gated): same upstream lifecycle as
    stream_state_change_feed_apply, except generation 3 is a
    SPEC-DOUBLING REBUCKET fold that emits its change file
    (``change_feed=True``) while folding a retraction and consuming an
    arrival batch in the same pass.  The delta-proportional batched-MV
    consumer crosses the whole (1, 3] window on the change-file fast
    path — the query ASSERTS the fast path is available (a regression
    that poisons the transform window errors instead of silently
    paying the snapshot diff) — and the MV's key set must equal the
    direct snapshot's exactly: moved rows (bucket changed, key-only
    contract) emit nothing, retractions delete, arrivals insert."""
    prepare(spark)
    from mo_etl_spark.streaming import (
        append_tombstones as _tomb,
        apply_change_feed_batched,
        compact_batched as _compact,
        current_spec as _spec,
        diff_batched_adjacent,
        materialize_snapshot_batched,
        read_batched_at,
        read_materialized_batched,
        rebucket_transform as _rb,
        read_manifest_extra as _extra,
        stamp_spec as _stamp,
    )

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    root = _scratch("cdf_rb_tbl")
    mv_root = _scratch("cdf_rb_mv")
    schema = "o_orderkey BIGINT, ob BIGINT"
    for b in range(2):
        idempotent_batch_write(
            orders.where(F.pmod("o_orderkey", F.lit(2)) == b).withColumn(
                "ob", F.pmod("o_orderkey", F.lit(4))
            ),
            root, b, partition_cols=["ob"],
        )
        _stamp(root, b, 4)
    _compact(
        spark, root, min_dirs=0, partition_cols=["ob"], gc_grace_sec=3600.0
    )  # gen 1: all orders, spec 4, plain
    idempotent_batch_write(
        orders.where(F.pmod("o_orderkey", F.lit(500)) == 0)
        .select((F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"))
        .withColumn("ob", F.pmod("o_orderkey", F.lit(4))),
        root, 2, partition_cols=["ob"],
    )
    _stamp(root, 2, 4)
    _tomb(orders.where(F.pmod("o_orderkey", F.lit(97)) == 0), root)
    _compact(
        spark, root, min_dirs=0, partition_cols=["ob"],
        tombstone_col="o_orderkey", gc_grace_sec=3600.0,
    )  # gen 2: plain
    idempotent_batch_write(
        orders.where(F.pmod("o_orderkey", F.lit(300)) == 0)
        .select((F.col("o_orderkey") + F.lit(20_000_000)).alias("o_orderkey"))
        .withColumn("ob", F.pmod("o_orderkey", F.lit(4))),
        root, 3, partition_cols=["ob"],
    )
    _stamp(root, 3, 4)
    _tomb(orders.where(F.pmod("o_orderkey", F.lit(89)) == 0), root)
    _compact(
        spark, root, min_dirs=0, partition_cols=["ob"],
        tombstone_col="o_orderkey", gc_grace_sec=3600.0,
        change_feed=True,
        transform=_rb(
            "ob", lambda n: F.pmod("o_orderkey", F.lit(n)),
            # cap sized RELATIVE to the table so the fold doubles the
            # spec (1-2×) at every sf — a fixed cap either never grows
            # at sf0.001 (plan audit runs there) or explodes the
            # partition-dir count at sf0.1
            _spec(root, 4),
            cap_rows=max(64, orders.count() // 8),
            prior_extra=_extra(root),
        ),
    )  # gen 3: spec-doubling REBUCKET with its change file
    assert _spec(root, 4) > 4  # the spec actually grew
    # the transform window must serve the fast path (load-bearing)
    assert diff_batched_adjacent(
        spark, root, 1, 3, ["o_orderkey"], schema
    ) is not None
    materialize_snapshot_batched(
        spark, root, mv_root, 1, partitioned=True, schema=schema
    )
    assert apply_change_feed_batched(
        spark, root, mv_root, 3, "o_orderkey", schema, partitioned=True,
        change_files=True,
    ) == 3

    def summ(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
        ).select(F.lit(name).alias("snapshot"), "n", "key_sum")

    return summ(
        read_materialized_batched(spark, mv_root, "o_orderkey", schema),
        "mv_gen3",
    ).unionByName(
        summ(
            read_batched_at(spark, root, 3, schema, partitioned=True),
            "direct_gen3",
        )
    )


@query(
    "stream_state_group_mirror_retract",
    oracle="""
    WITH bands(band) AS (VALUES (0), (1)),
    final AS (
      SELECT o_orderkey AS k, band FROM orders, bands
      WHERE NOT (band = 0 AND o_orderkey % 7 = 0)
      UNION ALL
      SELECT o_orderkey + 10000000, band FROM orders, bands
      WHERE o_orderkey % 400 = 0
    )
    SELECT 'mv' AS snapshot, CAST(band AS BIGINT) AS band,
           count(*) AS n, CAST(sum(k) AS BIGINT) AS key_sum
    FROM final GROUP BY band
    UNION ALL
    SELECT 'direct', CAST(band AS BIGINT), count(*), CAST(sum(k) AS BIGINT)
    FROM final GROUP BY band
    """,
    tags=(
        "change_data_feed",
        "cross_table_txn",
        "tombstone_lifecycle",
        "cdc_merge",
        "incremental_etl",
    ),
)
def stream_state_group_mirror_retract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COMPOSITE-KEY DELETES THROUGH A GROUP MIRROR as a contract
    query (r11 — driver-gating the path ADVICE r10 called 'latent
    today only because the shipped group-consumer query is
    append-only'): a (o_orderkey, band)-keyed member loses ONE band of
    every 7th key to an in-window change-file transform fold; the
    group-feed consumer applies the composite delete as a pending
    mirror tombstone, and ``read_materialized_batched`` anti-joins on
    the FULL composite key — the band-1 twin of every retracted
    (k, 0) row must survive (the pre-fix single-column anti-join
    erased both bands, so a regression hash-misses on band 1's count
    and sum).  The window's feed is ASSERTED to ride the mixed
    change-file fast path, and the mirror is compared against the
    direct group-travel read at the same transaction."""
    prepare(spark)
    from mo_etl_spark.streaming import (
        apply_group_feed_batched,
        compact_batched as _compact,
        diff_group_adjacent,
        has_tombstones,
        materialize_group_member,
        read_group_at,
        read_materialized_batched,
    )

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    both = orders.withColumn(
        "band", F.explode(F.array(F.lit(0), F.lit(1)))
    ).select(
        F.col("o_orderkey").cast("bigint"), F.col("band").cast("bigint")
    )
    root = _scratch("gmr_tbl")
    mv_root = _scratch("gmr_mv")
    group = _scratch("gmr_txn")
    schema = "o_orderkey BIGINT, band BIGINT"
    keys = ["o_orderkey", "band"]
    idempotent_batch_write(both, root, 0, partition_cols=["band"])
    _compact(
        spark, root, min_dirs=0, partition_cols=["band"],
        gc_grace_sec=3600.0,
    )  # gen 1: plain marker — the fast path's left anchor
    txn_commit(group, 0, {"t": root})
    materialize_group_member(spark, group, mv_root, "t", 0, schema)
    # in-window transform fold: drop band 0 of every 7th key and emit
    # the change file (composite deletes, Delta MERGE-CDF shape)
    _compact(
        spark, root, min_dirs=0, partition_cols=["band"],
        gc_grace_sec=3600.0, change_feed=True,
        transform=lambda df: df.where(
            ~((F.col("band") == 0) & (F.pmod("o_orderkey", F.lit(7)) == 0))
        ),
    )
    idempotent_batch_write(
        orders.where(F.pmod("o_orderkey", F.lit(400)) == 0)
        .select((F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"))
        .withColumn("band", F.explode(F.array(F.lit(0), F.lit(1))))
        .select(F.col("o_orderkey"), F.col("band").cast("bigint")),
        root, 1, partition_cols=["band"],
    )
    txn_commit(group, 1, {"t": root})
    # the mixed change-file fast path must serve this window
    assert diff_group_adjacent(
        spark, group, 0, 1, "t", keys, schema
    ) is not None
    assert apply_group_feed_batched(
        spark, group, mv_root, "t", keys, 1, schema
    ) == 1
    assert has_tombstones(mv_root)  # the composite delete is PENDING

    def summ(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("band").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
        ).select(F.lit(name).alias("snapshot"), "band", "n", "key_sum")

    return summ(
        read_materialized_batched(spark, mv_root, keys, schema), "mv"
    ).unionByName(
        summ(
            read_group_at(spark, group, 1, "t", schema, partitioned=True),
            "direct",
        )
    )


@query(
    "stream_state_wap_publish",
    oracle="""
    SELECT 'staged_main' AS snapshot, count(*) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT 'audit', count(*), CAST(sum(o_orderkey) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'published', count(*), CAST(sum(o_orderkey) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'dropped_main', count(*), CAST(sum(o_orderkey) AS BIGINT)
    FROM orders
    """,
    tags=(
        "cross_table_txn",
        "wap_branch",
        "time_travel_rollback",
        "incremental_etl",
        "qa_gate",
    ),
)
def stream_state_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-AUDIT-PUBLISH as a contract query (r11 — the
    Iceberg/Nessie WAP pattern on the txn group): two transactions are
    STAGED on a branch with branch-scoped batch dirs
    (``stage_batch_write``) — the main read while they are staged must
    show ONLY txn 0's slice (a staged-dir leak inflates
    ``staged_main``), and a watermark-disciplined fold run mid-stage
    must leave them untouched.  The audit read shows exactly what
    publish will make visible; ``publish_branch`` then moves the main
    pointer once — both txns appear atomically.  A second branch
    stages POISON rows (keys shifted by 50M), fails its audit gate,
    and is dropped: ``dropped_main`` must equal ``published`` exactly
    — the walked-away branch can never leak, even though the main
    watermark is far past its staged id."""
    prepare(spark)
    from mo_etl_spark.streaming import (
        compact_batched as _compact,
        drop_branch,
        publish_branch,
        read_branch_head,
        stage_batch_write,
        txn_branch_watermark,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("bigint")
    )
    root = _scratch("wap_tbl")
    group = _scratch("wap_txn")
    schema = "o_orderkey BIGINT"

    def sl(m: int) -> DataFrame:
        return orders.where(F.pmod("o_orderkey", F.lit(3)) == m)

    idempotent_batch_write(sl(0), root, 0)
    txn_commit(group, 0, {"t": root})
    stage_batch_write(sl(1), root, 1, "audit")
    txn_commit(group, 1, {"t": root}, branch="audit")
    stage_batch_write(sl(2), root, 2, "audit")
    txn_commit(group, 2, {"t": root}, branch="audit")
    # maintenance mid-stage: folds at the main watermark never touch
    # the staged dirs
    _compact(
        spark, root, min_dirs=0, gc_grace_sec=3600.0,
        max_batch=txn_watermark(group),
    )

    def summ(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
        ).select(F.lit(name).alias("snapshot"), "n", "key_sum")

    staged_main = summ(
        read_batched(spark, root, schema=schema, max_batch=txn_watermark(group)),
        "staged_main",
    ).localCheckpoint(eager=True)  # pin BEFORE publish mutates state
    audit_df = read_branch_head(spark, group, "audit", "t", schema)
    # the audit QA gate this branch must pass: no null keys staged
    assert audit_df.where(F.col("o_orderkey").isNull()).limit(1).count() == 0
    audit = summ(audit_df, "audit").localCheckpoint(eager=True)
    assert publish_branch(group, "audit") == 2
    published = summ(
        read_batched(spark, root, schema=schema, max_batch=txn_watermark(group)),
        "published",
    )
    # the rejected branch: poison rows fail the audit, the branch is
    # dropped, and nothing ever leaks
    stage_batch_write(
        orders.where(F.pmod("o_orderkey", F.lit(100)) == 0).select(
            (F.col("o_orderkey") + F.lit(50_000_000)).alias("o_orderkey")
        ),
        root, 3, "bad",
    )
    txn_commit(group, 3, {"t": root}, branch="bad")
    bad = read_branch_head(spark, group, "bad", "t", schema)
    assert bad.where(F.col("o_orderkey") > 40_000_000).limit(1).count() > 0
    drop_branch(group, "bad")
    assert txn_branch_watermark(group, "bad") is None
    dropped_main = summ(
        read_batched(spark, root, schema=schema, max_batch=txn_watermark(group)),
        "dropped_main",
    )
    return staged_main.unionByName(audit).unionByName(published).unionByName(
        dropped_main
    )


@query(
    "stream_state_schema_evolution",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    extra AS (
      SELECT o_orderkey + 10000000 AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 500 = 0
    ),
    evolved AS (SELECT * FROM base UNION ALL SELECT * FROM extra)
    SELECT 'evolved' AS snapshot, count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS cents_sum FROM evolved
    UNION ALL
    SELECT 'normalized', count(*), CAST(sum(cents) AS BIGINT) FROM evolved
    UNION ALL
    SELECT 'historical', count(*), CAST(sum(cents) AS BIGINT) FROM base
    """,
    tags=(
        "schema_evolution",
        "schema_rename_drop",
        "time_travel_rollback",
        "change_data_feed",
        "index_compaction",
    ),
)
def stream_state_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NON-ADDITIVE SCHEMA EVOLUTION as a contract query (r11): an
    orders-derived batched table renames ``price_cents`` to
    ``revenue_cents`` and drops ``status`` as a METADATA-ONLY
    generation (zero rows rewritten — the move a 100 TB table needs);
    new arrivals land under the new names; ``read_batched_evolved``
    must mix pre- and post-rename dirs exactly (``evolved``); an
    UNNORMALIZED plain fold then the ``normalize_schema_transform``
    fold make plain explicit-schema readers exact again
    (``normalized``); time travel to the pre-evolution generation
    returns the HISTORICAL shape (``historical``); and a change-feed
    window crossing the evolution is ASSERTED to raise the NAMED
    SchemaEvolved rather than silently nulling the renamed column."""
    prepare(spark)
    from mo_etl_spark.streaming import (
        SchemaEvolved,
        compact_batched as _compact,
        diff_batched,
        evolve_schema,
        normalize_schema_transform,
        read_batched_at,
        read_batched_evolved,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("bigint").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias(
            "price_cents"
        ),
        F.col("o_orderstatus").alias("status"),
        F.pmod("o_orderkey", F.lit(4)).alias("ob"),
    )
    root = _scratch("schevo_tbl")
    idempotent_batch_write(orders, root, 0, partition_cols=["ob"])
    _compact(
        spark, root, min_dirs=0, partition_cols=["ob"],
        gc_grace_sec=3600.0,
    )  # gen 1: the historical shape
    evolve_schema(
        spark, root, rename={"price_cents": "revenue_cents"},
        drop=["status"],
    )  # gen 2: metadata only
    idempotent_batch_write(
        orders.where(F.pmod("k", F.lit(500)) == 0).select(
            (F.col("k") + F.lit(10_000_000)).alias("k"),
            F.col("price_cents").alias("revenue_cents"),
            F.pmod("k", F.lit(4)).alias("ob"),
        ),
        root, 1, partition_cols=["ob"],
    )
    new_schema = "k BIGINT, revenue_cents BIGINT, ob BIGINT"

    def summ(df: DataFrame, name: str, cents: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("cents_sum"),
        ).select(F.lit(name).alias("snapshot"), "n", "cents_sum")

    evolved = summ(
        read_batched_evolved(spark, root, new_schema),
        "evolved", "revenue_cents",
    ).localCheckpoint(eager=True)  # pin before the folds rewrite
    # a change-feed window crossing the evolution must refuse, NAMED
    try:
        diff_batched(spark, root, 1, 2, ["k"], new_schema)
    except SchemaEvolved:
        pass
    else:  # pragma: no cover - regression guard
        raise AssertionError(
            "diff_batched crossed a schema evolution without raising"
        )
    # unnormalized plain fold, then the physical normalize fold
    _compact(
        spark, root, min_dirs=0, partition_cols=["ob"],
        gc_grace_sec=3600.0,
    )
    _compact(
        spark, root, min_dirs=0, partition_cols=["ob"],
        gc_grace_sec=3600.0,
        transform=normalize_schema_transform(root),
    )
    normalized = summ(
        read_batched(spark, root, partitioned=True, schema=new_schema),
        "normalized", "revenue_cents",
    )
    historical = summ(
        read_batched_at(
            spark, root, 1,
            "k BIGINT, price_cents BIGINT, status STRING, ob BIGINT",
            partitioned=True,
        ),
        "historical", "price_cents",
    )
    return evolved.unionByName(normalized).unionByName(historical)


@query(
    "stream_state_dataset_tag",
    oracle="""
    SELECT 'tag_v1' AS snapshot, TRUE AS travelable,
           count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey % 4 IN (0, 1)
    UNION ALL
    SELECT 'txn0', FALSE, NULL, NULL
    UNION ALL
    SELECT 'txn2', FALSE, NULL, NULL
    UNION ALL
    SELECT 'live', TRUE, count(*), CAST(sum(o_orderkey) AS BIGINT)
    FROM orders
    """,
    tags=(
        "dataset_tags",
        "time_travel_rollback",
        "snapshot_retention_count",
        "cross_table_txn",
        "reproducibility",
    ),
)
def stream_state_dataset_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET TAGS as a contract query (r11 — Iceberg tag semantics,
    the reproducible-training-set primitive): four transactions commit
    order slices under ZERO-GRACE folds and a count-1 expiry with
    ``keep_last_txns=(group, 1)`` — the harshest retention the
    protocol offers — while transaction 1 carries the immutable tag
    ``v1``.  The tag's snapshot must stay travelable EXACTLY (a
    retention implementation that ignores tag pins vacuums it and
    hash-misses), its untagged neighbors must be NAMED-vacuumed (an
    over-pin keeps them and hash-misses the other way), and the live
    read stays exact throughout."""
    prepare(spark)
    from mo_etl_spark.streaming import (
        SnapshotVacuumed,
        compact_batched as _compact,
        create_tag,
        expire_snapshots,
        read_group_at,
        read_group_at_tag,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("bigint")
    )
    root = _scratch("dstag_tbl")
    group = _scratch("dstag_txn")
    schema = "o_orderkey BIGINT"
    for t in range(4):
        idempotent_batch_write(
            orders.where(F.pmod("o_orderkey", F.lit(4)) == t), root, t
        )
        txn_commit(group, t, {"t": root})
        if t == 1:
            assert create_tag(group, "v1") == 1
        _compact(
            spark, root, min_dirs=0, gc_grace_sec=0.0,
            max_batch=txn_watermark(group), keep_last_txns=(group, 1),
        )
    expire_snapshots(
        root, keep_last_n=1, older_than_sec=0.0, keep_last_txns=(group, 1)
    )

    def summ(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
        ).select(
            F.lit(name).alias("snapshot"),
            F.lit(True).alias("travelable"),
            "n",
            "key_sum",
        )

    def gone(t: int, name: str) -> DataFrame:
        try:
            read_group_at(spark, group, t, "t", schema).first()
        except SnapshotVacuumed:
            return spark.createDataFrame(
                [(name, False, None, None)],
                "snapshot STRING, travelable BOOLEAN, n BIGINT, "
                "key_sum BIGINT",
            )
        raise AssertionError(f"txn {t} should have been vacuumed")

    return (
        summ(read_group_at_tag(spark, group, "v1", "t", schema), "tag_v1")
        .unionByName(gone(0, "txn0"))
        .unionByName(gone(2, "txn2"))
        .unionByName(
            summ(read_group_at(spark, group, 3, "t", schema), "live")
        )
    )


@query(
    "stream_state_multi_writer_commits",
    oracle="""
    WITH final AS (
      SELECT o_orderkey AS k FROM orders
      UNION ALL
      SELECT o_orderkey + 10000000 FROM orders WHERE o_orderkey % 500 = 0
    )
    SELECT 'slice0' AS snapshot, count(*) AS n,
           CAST(sum(k) AS BIGINT) AS key_sum
    FROM final WHERE k < 10000000 AND k % 3 = 0
    UNION ALL
    SELECT 'slice1', count(*), CAST(sum(k) AS BIGINT)
    FROM final WHERE k < 10000000 AND k % 3 = 1
    UNION ALL
    SELECT 'slice2', count(*), CAST(sum(k) AS BIGINT)
    FROM final WHERE k < 10000000 AND k % 3 = 2
    UNION ALL
    SELECT 'total', count(*), CAST(sum(k) AS BIGINT) FROM final
    """,
    tags=(
        "cross_table_txn",
        "multi_writer",
        "txn_reserve",
        "incremental_etl",
        "tombstone_lifecycle",
    ),
)
def stream_state_multi_writer_commits(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RESERVED MULTI-WRITER COMMITS as a contract query (r11 — the
    two-phase reserve/confirm shape): two independent pipelines
    reserve ids under the commit lease, land their order slices in
    parallel dirs, and confirm in order; a ZOMBIE pipeline reserves a
    short-TTL id, writes POISON rows (keys shifted 50M), and dies —
    the next higher confirm sweeps it, a late zombie confirm raises
    the NAMED ReservationExpired, and the final transactional read
    must contain every confirmed slice and NOT ONE poison row (a
    sweep that misses the dirs, or a watermark that jumps the hole
    wrong, hash-misses)."""
    import time as _time

    prepare(spark)
    from mo_etl_spark.streaming import (
        ReservationExpired,
        txn_reserve,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("bigint").alias("k")
    )
    root = _scratch("mw_tbl")
    group = _scratch("mw_txn")
    schema = "k BIGINT"
    idempotent_batch_write(orders.where(F.pmod("k", F.lit(3)) == 0), root, 0)
    txn_commit(group, 0, {"t": root})
    # two pipelines reserve (lease-allocated, collision-free ids)…
    r1 = txn_reserve(group, {"t": root})
    r2 = txn_reserve(group, {"t": root})
    assert (r1, r2) == (1, 2)
    # …and land their data in parallel dirs before either confirms
    idempotent_batch_write(orders.where(F.pmod("k", F.lit(3)) == 1), root, r1)
    idempotent_batch_write(orders.where(F.pmod("k", F.lit(3)) == 2), root, r2)
    # the zombie: short TTL, poison rows, no confirm
    rz = txn_reserve(group, {"t": root}, ttl_sec=0.2)
    idempotent_batch_write(
        orders.where(F.pmod("k", F.lit(100)) == 0).select(
            (F.col("k") + F.lit(50_000_000)).alias("k")
        ),
        root, rz,
    )
    assert txn_commit(group, r1, {"t": root}) == r1
    assert txn_commit(group, r2, {"t": root}) == r2
    # a fourth confirmed txn above the lapsed zombie sweeps it
    r4 = txn_reserve(group, {"t": root})
    idempotent_batch_write(
        orders.where(F.pmod("k", F.lit(500)) == 0).select(
            (F.col("k") + F.lit(10_000_000)).alias("k")
        ),
        root, r4,
    )
    _time.sleep(0.25)
    assert txn_commit(group, r4, {"t": root}) == r4
    # the zombie's late confirm fails NAMED; its dirs are gone
    try:
        txn_commit(group, rz, {"t": root})
    except ReservationExpired:
        pass
    else:  # pragma: no cover - regression guard
        raise AssertionError("zombie confirm should have raised")
    import os as _os

    assert not _os.path.isdir(f"{root}/b{rz}")

    final = read_batched(
        spark, root, schema=schema, max_batch=txn_watermark(group)
    )

    def summ(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("key_sum"),
        ).select(F.lit(name).alias("snapshot"), "n", "key_sum")

    out = summ(
        final.where((F.col("k") < 10_000_000) & (F.pmod("k", F.lit(3)) == 0)),
        "slice0",
    )
    for m in (1, 2):
        out = out.unionByName(
            summ(
                final.where(
                    (F.col("k") < 10_000_000)
                    & (F.pmod("k", F.lit(3)) == m)
                ),
                f"slice{m}",
            )
        )
    return out.unionByName(summ(final, "total"))
