"""Python Data Source block store: partition granularity (one input
partition per block — the ETL-unit sharding model) and row fidelity
vs a direct json read of the same files."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mo_etl_spark.session import CACHE_ROOT

SF = "/root/testdata/sf0.001"


def test_block_store_partitions_and_fidelity(spark):
    from mo_etl_spark.sources.blocks import (
        BlockStoreDataSource,
        BlockStoreReader,
        register_block_source,
        write_block_store,
    )
    from mo_etl_spark.tables import load_table

    path = os.path.join(CACHE_ROOT, "test_blocks")
    events = load_table(spark, SF, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        F.pmod("event_id", F.lit(4)).cast("long").alias("block_id"),
    )
    write_block_store(events, path)

    # reader plans one partition per block dir
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(BlockStoreDataSource(options={}).schema())
    reader = BlockStoreReader(schema, {"path": path})
    parts = reader.partitions()
    assert [p.block_id for p in parts] == [0, 1, 2, 3]

    register_block_source(spark)
    back = spark.read.format("ndjson_blocks").load(path)
    direct = spark.read.json(path)  # Spark's own reader sees block_id too

    assert back.count() == events.count()
    sym_diff = back.exceptAll(direct.select(back.columns)).count() + direct.select(
        back.columns
    ).exceptAll(back).count()
    assert sym_diff == 0


def test_block_stream_incremental_microbatches(spark):
    """The streaming leg drains the 8-block backlog in rate-limited
    microbatches (maxBlocksPerTrigger=3 -> >= 3 non-empty batches),
    and the final complete-mode aggregate equals the batch read —
    exactly-once, no block lost or double-counted."""
    import shutil
    import uuid

    from pyspark.sql import functions as F

    from mo_etl_spark.sources.blocks import register_block_source
    from mo_etl_spark.suites.sources import _events_block_store

    sf_dir = "/root/testdata/sf0.001"
    path = _events_block_store(spark, sf_dir)
    register_block_source(spark)
    ckpt = os.path.join(CACHE_ROOT, f"test_pyblocks_ckpt-{uuid.uuid4().hex[:8]}")
    qname = "test_block_stream_sink"
    agg = (
        spark.readStream.format("ndjson_blocks")
        .option("maxBlocksPerTrigger", "3")
        .load(path)
        .groupBy("block_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value_cents").alias("cents"))
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
        progressed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    assert len(progressed) >= 3, [p["numInputRows"] for p in q.recentProgress]

    got = {
        r["block_id"]: (r["n"], r["cents"]) for r in spark.table(qname).collect()
    }
    batch = spark.read.format("ndjson_blocks").load(path)
    expected = {
        r["block_id"]: (r["n"], r["cents"])
        for r in batch.groupBy("block_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value_cents").alias("cents"))
        .collect()
    }
    assert got == expected and len(got) == 8


def test_block_stream_kill_and_resume_exactly_once(spark):
    """Crash recovery for the Python Data Source stream (VERDICT r4
    item #3): drain half the block backlog, STOP (the kill), land more
    blocks, restart from the same checkpoint — the union of both runs'
    foreachBatch outputs must hold every event exactly once (offsets
    restored from the checkpoint, no block lost or double-read)."""
    import shutil
    import uuid

    from mo_etl_spark.sources.blocks import register_block_source
    from mo_etl_spark.suites.sources import _events_block_store

    sf_dir = "/root/testdata/sf0.001"
    src = _events_block_store(spark, sf_dir)
    register_block_source(spark)
    base = os.path.join(CACHE_ROOT, f"blkresume-{uuid.uuid4().hex[:6]}")
    store, ckpt, out = f"{base}/store", f"{base}/ckpt", f"{base}/out"
    os.makedirs(store)
    ids = sorted(d for d in os.listdir(src) if d.startswith("block_id="))
    for d in ids[:4]:
        shutil.copytree(f"{src}/{d}", f"{store}/{d}")

    def sink(df, bid):
        df.write.mode("overwrite").parquet(f"{out}/b{bid}")

    def run():
        q = (
            spark.readStream.format("ndjson_blocks")
            .option("maxBlocksPerTrigger", "3")
            .load(store)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    try:
        run()  # drains the first 4 blocks in >= 2 microbatches, then "dies"
        assert len(os.listdir(out)) >= 2
        for d in ids[4:]:
            shutil.copytree(f"{src}/{d}", f"{store}/{d}")
        run()  # resume from checkpoint
        got = spark.read.option("recursiveFileLookup", "true").parquet(out)
        batch = spark.read.format("ndjson_blocks").load(store)
        assert got.count() == batch.count()
        assert got.dropDuplicates(["event_id"]).count() == batch.count()
    finally:
        shutil.rmtree(base, ignore_errors=True)
