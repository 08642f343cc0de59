"""Actual Structured Streaming smoke tests: the batch-first window
functions run unchanged on readStream inputs; foreachBatch ETL moves
microbatches through a transform into a sink with checkpointing."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from mo_etl_spark.session import CACHE_ROOT


@pytest.fixture()
def tmpdir():
    os.makedirs(CACHE_ROOT, exist_ok=True)
    d = tempfile.mkdtemp(prefix="moetl_stream_", dir=CACHE_ROOT)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _feed_dir(spark, sf_dir, tmpdir):
    """Stage events parquet as a file-drop directory (the S3-block
    analog) and return (path, schema)."""
    from mo_etl_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    path = f"{tmpdir}/feed"
    events.write.mode("overwrite").parquet(path)
    return path, events.schema


def test_stream_tumbling_matches_batch(spark, sf_dir, tmpdir):
    from mo_etl_spark.streaming import file_stream_source, tumbling_agg
    from mo_etl_spark.tables import load_table

    path, schema = _feed_dir(spark, sf_dir, tmpdir)
    stream = file_stream_source(spark, path, schema).withWatermark("ts", "1 hour")
    out = tumbling_agg(
        stream, "ts", "1 hour", ["event_type"], [F.count(F.lit(1)).alias("n")]
    )
    q = (
        out.writeStream.format("memory")
        .queryName("tumbling_smoke")
        .outputMode("complete")
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["win"]["start"], r["event_type"]): r["n"]
        for r in spark.sql("select * from tumbling_smoke").collect()
    }
    batch = tumbling_agg(
        load_table(spark, sf_dir, "events"),
        "ts",
        "1 hour",
        ["event_type"],
        [F.count(F.lit(1)).alias("n")],
    )
    want = {(r["win"]["start"], r["event_type"]): r["n"] for r in batch.collect()}
    assert got == want  # stream (availableNow, complete) == batch


def test_foreach_batch_etl(spark, sf_dir, tmpdir):
    from mo_etl_spark.streaming import file_stream_source, foreach_batch_etl

    path, schema = _feed_dir(spark, sf_dir, tmpdir)
    stream = file_stream_source(spark, path, schema)
    out_path = f"{tmpdir}/out"

    def transform(df, batch_id):
        return df.where(F.col("event_type") == "purchase").select(
            "event_id", "user_id", F.lit(batch_id).alias("etl_batch")
        )

    def sink(df, batch_id):
        df.write.mode("append").parquet(out_path)

    q = foreach_batch_etl(stream, transform, sink, checkpoint=f"{tmpdir}/ckpt2")
    q.awaitTermination(120)
    got = spark.read.parquet(out_path)
    from mo_etl_spark.tables import load_table

    want = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    assert got.count() == want.count()
    assert set(got.columns) == {"event_id", "user_id", "etl_batch"}


def test_stateful_dedup_stream(spark, sf_dir, tmpdir):
    from mo_etl_spark.streaming import file_stream_source, stateful_dedup
    from mo_etl_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    # redeliver 20% of events (at-least-once queue shape)
    feed = events.unionByName(events.where(F.col("event_id") % 5 == 0))
    path = f"{tmpdir}/dupfeed"
    feed.write.mode("overwrite").parquet(path)
    stream = file_stream_source(spark, path, events.schema)
    deduped = stateful_dedup(stream, ["event_id"], watermark=("ts", "1 hour"))
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_smoke")
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/ckpt3")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("select count(*) n from dedup_smoke").collect()[0]["n"]
    assert n == events.count()


def test_incremental_feed_exactly_once(spark, sf_dir, tmpdir):
    """Two availableNow runs over ONE checkpoint: run 2 must process
    ONLY the files dropped after run 1 (incremental source discovery),
    and the union of both runs equals the full feed exactly once —
    the reference's queue-of-blocks consumption contract (u,
    ActiveData-ETL: each S3 block processed once, resume from cursor)."""
    from mo_etl_spark.streaming import file_stream_source, foreach_batch_etl
    from mo_etl_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    feed = f"{tmpdir}/incfeed"
    out = f"{tmpdir}/incout"
    ckpt = f"{tmpdir}/incckpt"
    first = events.where(F.col("event_id") % 2 == 0)
    second = events.where(F.col("event_id") % 2 == 1)
    first.write.mode("overwrite").parquet(feed)
    # drop the commit marker so the later append looks like new blocks
    # arriving in the same live directory
    os.remove(f"{feed}/_SUCCESS")

    def transform(df, batch_id):
        return df.select("event_id", F.lit(batch_id).alias("run_batch"))

    def sink(df, batch_id):
        df.write.mode("append").parquet(out)

    q1 = foreach_batch_etl(
        file_stream_source(spark, feed, events.schema), transform, sink, checkpoint=ckpt
    )
    q1.awaitTermination(120)
    n_after_run1 = spark.read.parquet(out).count()
    assert n_after_run1 == first.count()
    max_batch_run1 = spark.read.parquet(out).agg(F.max("run_batch")).collect()[0][0]

    second.write.mode("append").parquet(feed)
    q2 = foreach_batch_etl(
        file_stream_source(spark, feed, events.schema), transform, sink, checkpoint=ckpt
    )
    q2.awaitTermination(120)

    got = spark.read.parquet(out)
    # exactly-once: every event id exactly once across both runs
    assert got.count() == events.count()
    assert got.select("event_id").distinct().count() == events.count()
    # run 2 really was incremental: its rows are only the new files'
    run2 = got.where(F.col("run_batch") > max_batch_run1)
    assert run2.count() == second.count()


def test_tws_user_stats_requires_protobuf_or_runs(spark):
    """transformWithStateInPandas needs python protobuf in the worker;
    absent here, the query is deliberately unregistered (capability
    gated, not silently broken).  When the dependency exists, the full
    backfill must match the batch aggregate."""
    import pytest

    from mo_etl_spark.registry import all_queries
    from mo_etl_spark.suites.streaming_real import _has_protobuf

    registered = "stream_real_tws_user_stats" in all_queries()
    assert registered == _has_protobuf()
    if not _has_protobuf():
        pytest.skip("python protobuf absent: transformWithState driver "
                    "worker cannot start in this container")
    from mo_etl_spark.suites.streaming_real import _tws_user_stats_impl
    from mo_etl_spark.tables import load_table
    from pyspark.sql import functions as F

    got = {r["user_id"]: r["n_events"]
           for r in _tws_user_stats_impl(spark, "/root/testdata/sf0.001").collect()}
    want = {r["user_id"]: r["n"]
            for r in load_table(spark, "/root/testdata/sf0.001", "events")
            .groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want


def test_update_mode_emits_multiple_batches(spark, sf_dir):
    """The 4-file feed under maxFilesPerTrigger=1 must produce a
    GENUINE multi-batch run: some key is versioned across >= 2
    batch_ids, per-key n is non-decreasing in batch order, and the
    latest version equals the whole-feed truth."""
    import glob

    from pyspark.sql import functions as F

    from mo_etl_spark.suites.streaming_real import (
        _feed_multi,
        stream_real_update_mode_upsert,
    )

    final = {
        r["event_type"]: r["n"]
        for r in stream_real_update_mode_upsert(spark, sf_dir).collect()
    }
    out_dirs = glob.glob(os.path.join(CACHE_ROOT, "stream_scratch", "upd_out-*"))
    versions = spark.read.parquet(out_dirs[0])
    per_key = (
        versions.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_versions"), F.max("batch_id").alias("mx"))
        .collect()
    )
    assert max(r["n_versions"] for r in per_key) >= 2
    hist = sorted(
        ((r["event_type"], r["batch_id"], r["n"]) for r in versions.collect()),
    )
    last: dict[str, int] = {}
    for k, _, n in hist:
        assert n >= last.get(k, 0)
        last[k] = n
    assert last == final
    assert len(glob.glob(_feed_multi(spark, sf_dir) + "/*.parquet")) == 4


# ---------------------------------------------------------------------------
# Replay idempotence of foreachBatch sinks (VERDICT r4 item #1).
# foreachBatch is at-least-once: a batch that crashes after a partial
# sink write is replayed on restart.  Every sink below must converge to
# the uninterrupted run when its batch is applied TWICE with the same
# batch_id.
# ---------------------------------------------------------------------------


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_idempotent_batch_write_replay(spark, tmpdir):
    """The generic helper: writing the same batch twice leaves exactly
    one copy (per-batch subdir overwrite), and read_batched unions the
    subdirs."""
    from mo_etl_spark.streaming import idempotent_batch_write, read_batched

    root = f"{tmpdir}/idem"
    df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
    idempotent_batch_write(df, root, 0)
    idempotent_batch_write(df, root, 0)  # replay
    idempotent_batch_write(spark.range(10, 15).select(F.col("id"), (F.col("id") * 2).alias("v")), root, 1)
    got = read_batched(spark, root)
    assert got.count() == 15
    assert got.select("id").distinct().count() == 15
    # exclusion: batch 1's own subdir invisible while it (re)runs
    assert read_batched(spark, root, exclude_batch=1).count() == 10


def test_incremental_dedup_batch_replay_idempotent(spark, sf_dir, tmpdir):
    """The stateful sink: applying a micro-batch TWICE with the same
    batch_id (the mid-batch-crash replay) must leave pairs, band
    index, and arrived docs byte-equal to applying it once — and a
    LATER batch applied on top must still compute the same pairs."""
    from mo_etl_spark.streaming import read_batched
    from mo_etl_spark.suites.llm import _incr_new_batch
    from mo_etl_spark.suites.streaming_real import (
        _incr_dedup_apply_batch,
        _incr_dedup_seed_dirs,
    )
    from mo_etl_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") < 400).select("doc_id", "text")
    new = _incr_new_batch(docs)
    b0 = new.where(F.pmod("doc_id", F.lit(2)) == 0)
    b1 = new.where(F.pmod("doc_id", F.lit(2)) == 1)

    idx, arrived, pairs = f"{tmpdir}/idx", f"{tmpdir}/arr", f"{tmpdir}/pairs"
    _incr_dedup_seed_dirs(spark, sf_dir, base, idx, arrived, pairs)

    _incr_dedup_apply_batch(spark, idx, arrived, pairs, b0, 0)
    once = {
        d: _sorted_rows(read_batched(spark, d)) for d in (idx, arrived, pairs)
    }
    assert once[pairs], "expected batch 0 to find pairs"
    # replay batch 0 — a crashed-then-restarted attempt
    _incr_dedup_apply_batch(spark, idx, arrived, pairs, b0, 0)
    for d in (idx, arrived, pairs):
        assert _sorted_rows(read_batched(spark, d)) == once[d], d

    # later batch on the replayed state must equal later batch on the
    # clean state (fresh dirs, no replay)
    _incr_dedup_apply_batch(spark, idx, arrived, pairs, b1, 1)
    after_b1 = _sorted_rows(read_batched(spark, pairs))

    idx2, arr2, pairs2 = f"{tmpdir}/idx2", f"{tmpdir}/arr2", f"{tmpdir}/pairs2"
    _incr_dedup_seed_dirs(spark, sf_dir, base, idx2, arr2, pairs2)
    _incr_dedup_apply_batch(spark, idx2, arr2, pairs2, b0, 0)
    _incr_dedup_apply_batch(spark, idx2, arr2, pairs2, b1, 1)
    assert _sorted_rows(read_batched(spark, pairs2)) == after_b1


def test_incremental_dedup_stream_kill_and_resume(spark, sf_dir, tmpdir):
    """Crash recovery END TO END (VERDICT r4 item #3): the streamed
    incremental-dedup run is killed between triggers (feed staged in
    two halves, one checkpoint), a crashed MID-BATCH attempt is
    simulated by planting garbage in the next batch's subdirs before
    resume, and the resumed run's final pairs table must hash-equal an
    uninterrupted run."""
    from mo_etl_spark.streaming import read_batched
    from mo_etl_spark.suites.llm import _incr_new_batch
    from mo_etl_spark.suites.streaming_real import (
        _incr_dedup_apply_batch,
        _incr_dedup_seed_dirs,
        _incr_feed,
    )
    from mo_etl_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") < 400).select("doc_id", "text")
    full_feed = _incr_feed(spark, sf_dir)  # b0..b3 subdirs

    # --- uninterrupted truth: all four files applied in order -------
    idxT, arrT, pairsT = f"{tmpdir}/idxT", f"{tmpdir}/arrT", f"{tmpdir}/pairsT"
    _incr_dedup_seed_dirs(spark, sf_dir, base, idxT, arrT, pairsT)
    for i in range(4):
        bdf = spark.read.parquet(f"{full_feed}/b{i}")
        _incr_dedup_apply_batch(spark, idxT, arrT, pairsT, bdf, i)
    truth = _sorted_rows(read_batched(spark, pairsT))

    # --- staged feed: two files, kill, plant crash debris, resume ---
    feed = f"{tmpdir}/staged_feed"
    os.makedirs(feed)
    shutil.copytree(f"{full_feed}/b0", f"{feed}/b0")
    shutil.copytree(f"{full_feed}/b1", f"{feed}/b1")
    idx, arr, pairs = f"{tmpdir}/idx", f"{tmpdir}/arr", f"{tmpdir}/pairs"
    ckpt = f"{tmpdir}/ckpt"
    _incr_dedup_seed_dirs(spark, sf_dir, base, idx, arr, pairs)

    def run_stream():
        def sink(batch_df, batch_id):
            _incr_dedup_apply_batch(spark, idx, arr, pairs, batch_df, batch_id)

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
        q.awaitTermination(300)

    run_stream()  # drains b0, b1 then stops — the "kill between triggers"
    n_batches_run1 = len(
        [d for d in os.listdir(pairs) if d.startswith("b") and d != "base"]
    )
    assert n_batches_run1 == 2

    # crashed mid-batch attempt of batch 2: partial garbage in its
    # subdirs that the checkpoint never committed — replay must erase
    # it.  A mid-write crash never reaches the _SUCCESS marker (r8:
    # a COMPLETE dir is byte-equivalent by the determinism contract
    # and replay skips it), so the simulation must not leave one.
    junk = spark.createDataFrame(
        [(999999, 999998, 0.99)], "id_a BIGINT, id_b BIGINT, jaccard DOUBLE"
    )
    junk.write.mode("overwrite").parquet(f"{pairs}/b{n_batches_run1}")
    os.remove(f"{pairs}/b{n_batches_run1}/_SUCCESS")
    spark.createDataFrame(
        [(999999, "junk doc")], "doc_id BIGINT, text STRING"
    ).write.mode("overwrite").parquet(f"{arr}/b{n_batches_run1}")
    os.remove(f"{arr}/b{n_batches_run1}/_SUCCESS")

    shutil.copytree(f"{full_feed}/b2", f"{feed}/b2")
    shutil.copytree(f"{full_feed}/b3", f"{feed}/b3")
    run_stream()  # resume from the same checkpoint

    got = _sorted_rows(read_batched(spark, pairs))
    assert got == truth
    # the junk arrived doc was overwritten, not merged
    assert (
        read_batched(spark, arr).where(F.col("doc_id") == 999999).count() == 0
    )


def test_update_mode_upsert_read_survives_replay(spark, tmpdir):
    """The upsert sink's merge-on-read (max_by batch_id) collapses an
    at-least-once replay's duplicate appends — same key, same
    batch_id, same values — into the single latest version."""
    out = f"{tmpdir}/upsert"
    v0 = spark.createDataFrame(
        [("click", 10, 100)], "event_type STRING, n BIGINT, total_cents BIGINT"
    ).withColumn("batch_id", F.lit(0))
    v1 = spark.createDataFrame(
        [("click", 25, 250)], "event_type STRING, n BIGINT, total_cents BIGINT"
    ).withColumn("batch_id", F.lit(1))
    v0.write.mode("append").parquet(out)
    v1.write.mode("append").parquet(out)
    v1.write.mode("append").parquet(out)  # replayed batch 1
    merged = (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.max_by(F.struct("n", "total_cents"), "batch_id").alias("s"))
        .select("event_type", "s.n", "s.total_cents")
        .collect()
    )
    assert [tuple(r) for r in merged] == [("click", 25, 250)]


def test_compact_batched_bounds_files_and_preserves_probes(spark, sf_dir, tmpdir):
    """VERDICT r4 item #4: after >= 8 triggers of band-index upserts
    the maintenance compaction must fold the per-batch subdirs into a
    bounded number of binpacked files with IDENTICAL table contents —
    a band probe answers the same before and after."""
    import glob

    from mo_etl_spark.operators import dedup as D
    from mo_etl_spark.streaming import (
        compact_batched,
        idempotent_batch_write,
        read_batched,
    )
    from mo_etl_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = f"{tmpdir}/band_idx"
    for b in range(8):
        batch = docs.where(F.pmod("doc_id", F.lit(8)) == b)
        idempotent_batch_write(
            D.minhash_md5_band_index(batch, k=16, bands=4), idx, b
        )

    def probe():
        banded = read_batched(spark, idx)
        hits = (
            banded.alias("a")
            .join(banded.alias("b"), ["band", "bk"])
            .where(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        return sorted(tuple(r) for r in hits.collect())

    before_rows = sorted(tuple(r) for r in read_batched(spark, idx).collect())
    before_probe = probe()
    n_files_before = len(glob.glob(f"{idx}/*/*.parquet"))
    assert n_files_before >= 8

    n_out = compact_batched(spark, idx, target_bytes=1 << 20, min_dirs=8)
    assert 0 < n_out < n_files_before
    assert len(glob.glob(f"{idx}/base1/*/*.parquet")) == n_out
    assert sorted(tuple(r) for r in read_batched(spark, idx).collect()) == before_rows
    assert probe() == before_probe

    # below min_dirs: a no-op (don't churn a fresh table)
    assert compact_batched(spark, idx, min_dirs=8) == 0


@pytest.mark.parametrize("seed", [7, 23])
def test_incremental_dedup_replay_split_property(spark, sf_dir, tmpdir, seed):
    """Randomized property (r5): for a RANDOM batch split and a RANDOM
    replay pattern, the incremental-dedup state machine must converge
    to the one-shot run — pairs, index, and arrived tables all equal.
    Catches ordering/exclusion bugs the fixed 4-file feed can't."""
    import random

    from mo_etl_spark.streaming import read_batched
    from mo_etl_spark.suites.llm import _incr_new_batch
    from mo_etl_spark.suites.streaming_real import (
        _incr_dedup_apply_batch,
        _incr_dedup_seed_dirs,
    )
    from mo_etl_spark.tables import load_table

    rng = random.Random(seed)
    n_parts = rng.randint(2, 4)
    salt = rng.randint(0, 1 << 30)
    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") < 400).select("doc_id", "text")
    new = _incr_new_batch(docs)
    batches = [
        new.where(F.pmod(F.xxhash64(F.col("doc_id") + salt), F.lit(n_parts)) == i)
        for i in range(n_parts)
    ]
    replayed = {i for i in range(n_parts) if rng.random() < 0.5}

    idx, arr, pairs = f"{tmpdir}/idx", f"{tmpdir}/arr", f"{tmpdir}/pairs"
    _incr_dedup_seed_dirs(spark, sf_dir, base, idx, arr, pairs)
    for i, b in enumerate(batches):
        _incr_dedup_apply_batch(spark, idx, arr, pairs, b, i)
        if i in replayed:  # at-least-once: same batch applied again
            _incr_dedup_apply_batch(spark, idx, arr, pairs, b, i)
    got = sorted(tuple(r) for r in read_batched(spark, pairs).collect())

    idx1, arr1, p1 = f"{tmpdir}/idx1", f"{tmpdir}/arr1", f"{tmpdir}/pairs1"
    _incr_dedup_seed_dirs(spark, sf_dir, base, idx1, arr1, p1)
    _incr_dedup_apply_batch(spark, idx1, arr1, p1, new, 0)
    want = sorted(tuple(r) for r in read_batched(spark, p1).collect())
    assert got == want, (seed, n_parts, sorted(replayed))


def test_compaction_crash_windows_recover(spark, tmpdir):
    """Every crash window of the MANIFEST-COMMIT compaction must leave
    every reader seeing exactly the pre- or post-compaction rows with
    NO reader-side repair step: before the manifest write nothing
    changes for readers (the in-flight build and a
    promoted-but-uncommitted base generation are both invisible); from
    the manifest write on, the new base is live and consumed dirs are
    excluded even when their deletion crashed.  Readers never delete,
    rename, or rewrite anything — so concurrent readers cannot race a
    live compactor or each other (ADVICE r5)."""
    from mo_etl_spark.streaming import (
        compact_batched,
        idempotent_batch_write,
        read_batched,
    )

    def fresh(name):
        root = f"{tmpdir}/{name}"
        for b in range(3):
            idempotent_batch_write(
                spark.range(b * 10, b * 10 + 10).select(F.col("id").alias("v")),
                root,
                b,
            )
        return root

    def rows(root):
        return sorted(r["v"] for r in read_batched(spark, root).collect())

    want = list(range(30))

    # window A: crash mid-build (.compact_new, no manifest) — readers
    # must IGNORE it (it may be a live build in another process, which
    # a reader must never delete); only the next compaction reclaims it
    a = fresh("a")
    spark.range(99).selectExpr("id AS v").write.parquet(f"{a}/.compact_new/g0")
    assert rows(a) == want
    assert os.path.exists(f"{a}/.compact_new")  # reader left it alone
    assert (
        compact_batched(spark, a, target_bytes=1 << 20, min_dirs=2, gc_grace_sec=0)
        > 0
    )
    assert rows(a) == want  # reclaim + rebuild: the junk never leaked in
    assert not os.path.exists(f"{a}/.compact_new")

    # window B: build PROMOTED to base1, crash BEFORE the manifest
    # write — base1 is inert (readers only trust manifest-named base
    # generations), the original dirs are still the table; the next
    # compaction garbage-collects the orphan and rebuilds
    b = fresh("b")
    subs = sorted(d for d in os.listdir(b) if not d.startswith("."))
    spark.read.parquet(*[f"{b}/{d}" for d in subs]).coalesce(1).write.parquet(
        f"{b}/base1"
    )
    assert rows(b) == want  # NOT doubled: orphan base1 invisible
    assert (
        compact_batched(spark, b, target_bytes=1 << 20, min_dirs=2, gc_grace_sec=0)
        > 0
    )
    assert rows(b) == want

    # window C: manifest committed, victim deletion crashed — the
    # manifest excludes the leftover dir, and a later compaction
    # garbage-collects it (consumed list carries forward)
    c = fresh("c")
    assert (
        compact_batched(spark, c, target_bytes=1 << 20, min_dirs=2, gc_grace_sec=0)
        > 0
    )
    idempotent_batch_write(  # resurrect a victim: deletion "crashed"
        spark.range(0, 10).select(F.col("id").alias("v")), c, 0
    )
    assert rows(c) == want  # excluded by manifest, not double-read
    assert (
        compact_batched(spark, c, target_bytes=1 << 20, min_dirs=1, gc_grace_sec=0)
        > 0
    )
    assert not os.path.isdir(f"{c}/b0")  # GC'd on the next run
    assert rows(c) == want

    # a corrupt manifest is a NAMED failure, never a silent misread
    # (an fsync'd tmp+rename write can't produce one — this is the
    # outside-interference path)
    d = fresh("d")
    assert (
        compact_batched(spark, d, target_bytes=1 << 20, min_dirs=2, gc_grace_sec=0)
        > 0
    )
    with open(f"{d}/_MANIFEST", "w") as f:
        f.write("")
    with pytest.raises(ValueError, match="manifest"):
        read_batched(spark, d)

    # an empty/unseeded table: named error, or a typed empty read
    e = f"{tmpdir}/empty"
    os.makedirs(e)
    with pytest.raises(ValueError, match="no live"):
        read_batched(spark, e)
    assert read_batched(spark, e, schema="v BIGINT").count() == 0


def test_maintain_batched_bounds_live_dirs_long_run(spark, tmpdir):
    """AUTO-maintenance policy (VERDICT r5 item #3): a 24-trigger run
    with maintain_batched in each maintenance window keeps the live
    dir count bounded at max_dirs FOREVER (no one has to remember to
    compact), preserves contents exactly, and keeps the probe-key
    partition layout prunable end to end."""
    from mo_etl_spark.streaming import (
        _live_dirs,
        idempotent_batch_write,
        maintain_batched,
        read_batched,
    )

    root = f"{tmpdir}/t"
    want = []
    for b in range(24):
        df = spark.range(b * 5, b * 5 + 5).select(
            F.col("id").alias("v"), F.pmod("id", F.lit(4)).alias("db")
        )
        idempotent_batch_write(df, root, b, partition_cols=["db"])
        want.extend(range(b * 5, b * 5 + 5))
        maintain_batched(
            spark, root, max_dirs=6, partition_cols=["db"], gc_grace_sec=0
        )
        assert len(_live_dirs(root)) <= 6  # bounded listing, always
    got = sorted(
        r["v"] for r in read_batched(spark, root, partitioned=True).collect()
    )
    assert got == sorted(want)
    # partition layout survived every compaction: db still prunes
    f2 = read_batched(spark, root, partitioned=True).where(F.col("db") == 2)
    plan = f2._jdf.queryExecution().toString()
    assert "PartitionFilters: [" in plan
    assert sorted(r["v"] for r in f2.collect()) == sorted(
        v for v in want if v % 4 == 2
    )


def test_compaction_between_stream_runs_preserves_dedup(spark, sf_dir, tmpdir):
    """Integration of r5's three streaming pillars: a killed
    incremental-dedup stream, INDEX COMPACTION while it is down (the
    maintenance window), then resume from the checkpoint — the final
    pair set must still hash-equal the uninterrupted run (compaction
    changed layout, not state; batch numbering and the exclude-own-
    batch replay guard keep working beside the compacted base)."""
    from mo_etl_spark.streaming import compact_batched, read_batched
    from mo_etl_spark.suites.streaming_real import (
        _incr_dedup_apply_batch,
        _incr_dedup_seed_dirs,
        _incr_feed,
    )
    from mo_etl_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") < 400).select("doc_id", "text")
    full_feed = _incr_feed(spark, sf_dir)

    idxT, arrT, pairsT = f"{tmpdir}/idxT", f"{tmpdir}/arrT", f"{tmpdir}/pairsT"
    _incr_dedup_seed_dirs(spark, sf_dir, base, idxT, arrT, pairsT)
    for i in range(4):
        _incr_dedup_apply_batch(
            spark, idxT, arrT, pairsT, spark.read.parquet(f"{full_feed}/b{i}"), i
        )
    truth = sorted(tuple(r) for r in read_batched(spark, pairsT).collect())

    feed = f"{tmpdir}/staged"
    os.makedirs(feed)
    shutil.copytree(f"{full_feed}/b0", f"{feed}/b0")
    shutil.copytree(f"{full_feed}/b1", f"{feed}/b1")
    idx, arr, pairs = f"{tmpdir}/idx", f"{tmpdir}/arr", f"{tmpdir}/pairs"
    ckpt = f"{tmpdir}/ckpt"
    _incr_dedup_seed_dirs(spark, sf_dir, base, idx, arr, pairs)

    def run():
        def sink(batch_df, batch_id):
            _incr_dedup_apply_batch(spark, idx, arr, pairs, batch_df, batch_id)

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
        q.awaitTermination(300)

    run()  # drains b0, b1; "dies"
    # maintenance window: compact BOTH state tables while the stream is
    # down (min_dirs=2 so the 3-dir tables qualify) — PRESERVING the
    # probe-key partition layout the stream's pruned reads depend on
    assert (
        compact_batched(
            spark, idx, target_bytes=1 << 20, min_dirs=2, partition_cols=["ib"]
        )
        > 0
    )
    assert (
        compact_batched(
            spark, arr, target_bytes=1 << 20, min_dirs=2, partition_cols=["db"]
        )
        > 0
    )
    shutil.copytree(f"{full_feed}/b2", f"{feed}/b2")
    shutil.copytree(f"{full_feed}/b3", f"{feed}/b3")
    run()  # resume

    assert sorted(tuple(r) for r in read_batched(spark, pairs).collect()) == truth


def test_cdc_stream_replay_and_kill_resume(spark, sf_dir, tmpdir):
    """VERDICT r5 item #7: the streamed CDC-chunk dedup gets the same
    crash proofs as the minhash stream — (a) applying a batch twice
    (mid-batch-crash replay) leaves index and pairs equal to applying
    it once; (b) a killed-between-triggers run with planted crash
    debris resumes from the checkpoint to the exact one-shot result."""
    from mo_etl_spark.streaming import read_batched
    from mo_etl_spark.suites.llm import _incr_new_batch
    from mo_etl_spark.suites.streaming_real import (
        _incr_cdc_apply_batch,
        _incr_cdc_seed_dirs,
        _incr_feed,
    )
    from mo_etl_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") < 400).select("doc_id", "text")
    new = _incr_new_batch(docs)

    # (a) replay idempotence + split invariance vs the one-shot run
    idx, pairs = f"{tmpdir}/cidx", f"{tmpdir}/cpairs"
    _incr_cdc_seed_dirs(spark, sf_dir, base, idx, pairs)
    b0 = new.where(F.pmod("doc_id", F.lit(2)) == 0)
    b1 = new.where(F.pmod("doc_id", F.lit(2)) == 1)
    _incr_cdc_apply_batch(spark, idx, pairs, b0, 0)
    once = {d: _sorted_rows(read_batched(spark, d)) for d in (idx, pairs)}
    assert once[pairs], "expected batch 0 to find shared-chunk pairs"
    _incr_cdc_apply_batch(spark, idx, pairs, b0, 0)  # replay
    for d in (idx, pairs):
        assert _sorted_rows(read_batched(spark, d)) == once[d], d
    _incr_cdc_apply_batch(spark, idx, pairs, b1, 1)
    split_rows = _sorted_rows(read_batched(spark, pairs))

    idx1, p1 = f"{tmpdir}/cidx1", f"{tmpdir}/cpairs1"
    _incr_cdc_seed_dirs(spark, sf_dir, base, idx1, p1)
    _incr_cdc_apply_batch(spark, idx1, p1, new, 0)  # one shot
    assert _sorted_rows(read_batched(spark, p1)) == split_rows

    # (b) kill between triggers + crash debris, resume from checkpoint
    full_feed = _incr_feed(spark, sf_dir)
    feed = f"{tmpdir}/cdc_feed"
    os.makedirs(feed)
    shutil.copytree(f"{full_feed}/b0", f"{feed}/b0")
    shutil.copytree(f"{full_feed}/b1", f"{feed}/b1")
    idx2, p2, ckpt = f"{tmpdir}/cidx2", f"{tmpdir}/cpairs2", f"{tmpdir}/cckpt"
    _incr_cdc_seed_dirs(spark, sf_dir, base, idx2, p2)

    def run():
        def sink(batch_df, batch_id):
            _incr_cdc_apply_batch(spark, idx2, p2, batch_df, batch_id)

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
        q.awaitTermination(300)

    run()  # drains b0, b1; "dies"
    # crashed mid-batch attempt of batch 2: garbage the checkpoint
    # never committed — the replay's overwrite must erase it (no
    # _SUCCESS: a mid-write crash never reaches the marker, and a
    # complete dir is skipped as byte-equivalent on replay, r8)
    spark.createDataFrame(
        [(999999, 999998, 42)], "id_a BIGINT, id_b BIGINT, n_shared_chunks BIGINT"
    ).write.mode("overwrite").parquet(f"{p2}/b2")
    os.remove(f"{p2}/b2/_SUCCESS")
    shutil.copytree(f"{full_feed}/b2", f"{feed}/b2")
    shutil.copytree(f"{full_feed}/b3", f"{feed}/b3")
    run()  # resume
    assert _sorted_rows(read_batched(spark, p2)) == split_rows
    assert (
        read_batched(spark, p2).where(F.col("id_a") == 999999).count() == 0
    )


def test_concurrent_readers_during_compaction(spark, tmpdir):
    """The manifest protocol's headline guarantee (ADVICE r5 medium:
    the old rename-journal recovery raced concurrent readers): readers
    hammering read_batched WHILE a compactor repeatedly rewrites the
    table must always see exactly the full row set — never a partial
    build (dot-dir), an uncommitted base generation, a double-read of
    base+victims, or a crash from a victim vanishing mid-list.
    Readers are pure readers, so any interleaving is safe."""
    import threading

    from mo_etl_spark.streaming import (
        compact_batched,
        idempotent_batch_write,
        read_batched,
    )

    root = f"{tmpdir}/t"
    for b in range(6):
        idempotent_batch_write(
            spark.range(b * 10, b * 10 + 10).select(F.col("id").alias("v")), root, b
        )
    want = sorted(range(60))
    errors: list = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                got = sorted(r["v"] for r in read_batched(spark, root).collect())
                if got != want:
                    errors.append(("rows", len(got)))
                    return
            except Exception as e:  # noqa: BLE001 - recorded for assert
                errors.append(("exc", repr(e)))
                return

    threads = [threading.Thread(target=reader) for _ in range(2)]
    for t in threads:
        t.start()
    try:
        for _ in range(4):  # each run consumes the previous base (gen++)
            assert compact_batched(spark, root, target_bytes=1 << 20, min_dirs=1) > 0
    finally:
        stop.set()
        for t in threads:
            t.join(60)
    assert not errors, errors
    assert sorted(r["v"] for r in read_batched(spark, root).collect()) == want


def test_compact_batched_dataless_table_is_noop(spark, tmpdir):
    """ADVICE r6: a table whose live dirs carry no parquet at all
    (empty partitioned batches write only _SUCCESS) must compact to a
    clean no-op — previously the partition_cols path reduced over an
    empty list (TypeError) and the binpack path renamed a build dir
    that was never created (FileNotFoundError)."""
    import os

    from mo_etl_spark.streaming import compact_batched

    root = f"{tmpdir}/dataless"
    for b in range(8):
        d = os.path.join(root, f"b{b}")
        os.makedirs(d)
        open(os.path.join(d, "_SUCCESS"), "w").close()
    assert compact_batched(spark, root, min_dirs=8) == 0
    assert (
        compact_batched(spark, root, min_dirs=8, partition_cols=["band", "bk"]) == 0
    )
    # the live dirs are untouched — a later batch with data compacts
    assert sorted(os.listdir(root)) == [f"b{b}" for b in range(8)]


def test_stream_grown_index_hot_cell_capped(spark, tmpdir):
    """VERDICT r6 what's-wrong #1: a STREAM-GROWN IVF index must get
    the same hot-cell cap batch-built indexes get from ivf_subsplit.
    Plant a hot cell (~40% of the corpus drifts into one centroid's
    cell), grow the index through per-batch upserts, compact with
    ann_resplit_transform — then no (cell, sub) scoring group exceeds
    cap_rows, the (cell, n_subs) map is committed atomically in the
    manifest, serving is value-identical to the unsplit reference,
    and a post-compaction arrival (provisional subs) still serves
    exactly."""
    import os

    from mo_etl_spark.operators import similarity as S
    from mo_etl_spark.streaming import (
        compact_batched,
        idempotent_batch_write,
        read_batched,
        read_manifest_extra,
    )

    prov, cap = 2, 25
    corpus = spark.range(200).select(
        F.col("id").alias("c_id"),
        F.when(F.col("id") < 80, F.array(F.lit(1.0), F.col("id").cast("double") / 1000))
        .when(F.col("id") < 140, F.array(F.col("id").cast("double") / 1000, F.lit(1.0)))
        .otherwise(F.array(F.lit(-1.0), F.col("id").cast("double") / 1000))
        .alias("vec"),
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [-1.0, 0.0])],
        "cent_id BIGINT, vec ARRAY<DOUBLE>",
    )
    q = corpus.where(F.col("c_id") % 10 == 0).select(
        F.col("c_id").alias("q_id"), "vec"
    )

    def with_sub(df):
        return df.withColumn(
            "sub", F.pmod(F.xxhash64(F.col("c_id")), F.lit(prov)).cast("int")
        )

    assigned = S.ivf_cells(corpus, cents).join(corpus, "c_id")
    root = f"{tmpdir}/grown_idx"
    # streamed growth: 170 rows over 8 trigger batches (the hot cell
    # keeps absorbing arrivals, like a drifted daily refresh), then
    # a pre-compaction serve must already be provisional-sub bounded
    with_sub(assigned.where(F.col("c_id") < 30)).coalesce(1).write.partitionBy(
        "cell", "sub"
    ).parquet(os.path.join(root, "base"))
    for b in range(8):
        batch = assigned.where(
            (F.col("c_id") >= 30) & (F.pmod("c_id", F.lit(8)) == b)
        )
        idempotent_batch_write(
            with_sub(batch), root, b, partition_cols=["cell", "sub"]
        )

    want = sorted(
        tuple(r)
        for r in S.ivf_topk(
            q, None, cents, k=5, nprobe=1, indexed_corpus=assigned
        ).collect()
    )

    def serve():
        idx = read_batched(spark, root, partitioned=True)
        cs = S.cell_subs_with_floor(
            spark, read_manifest_extra(root).get("cell_subs", {}), [0, 1, 2], prov
        )
        return S.ivf_topk(
            q, None, cents, k=5, nprobe=1, indexed_corpus=idx, cell_subs=cs
        )

    assert sorted(tuple(r) for r in serve().collect()) == want

    # compaction: adaptive re-split, map committed in the manifest
    assert compact_batched(
        spark, root, min_dirs=0, partition_cols=["cell", "sub"],
        transform=S.ann_resplit_transform(cap), gc_grace_sec=0.0,
    ) > 0
    extra = read_manifest_extra(root)
    assert extra["cell_subs"].get("0", 1) >= 4  # 80 rows / cap 25
    per_sub = (
        read_batched(spark, root, partitioned=True)
        .groupBy("cell", "sub").count().collect()
    )
    assert max(r["count"] for r in per_sub) <= cap
    assert sum(1 for r in per_sub if r["cell"] == 0) >= 4
    assert sorted(tuple(r) for r in serve().collect()) == want

    # post-compaction arrival carries provisional subs; the floor-max
    # expansion covers both populations — serve still exact
    extra_rows = spark.range(200, 220).select(
        F.col("id").alias("c_id"),
        F.array(F.lit(1.0), F.col("id").cast("double") / 1000).alias("vec"),
    )
    assigned2 = S.ivf_cells(extra_rows, cents).join(extra_rows, "c_id")
    idempotent_batch_write(
        with_sub(assigned2), root, 9, partition_cols=["cell", "sub"]
    )
    full = assigned.unionByName(assigned2)
    want2 = sorted(
        tuple(r)
        for r in S.ivf_topk(
            q, None, cents, k=5, nprobe=1, indexed_corpus=full
        ).collect()
    )
    assert sorted(tuple(r) for r in serve().collect()) == want2


def test_compaction_folds_tombstones_and_resets(spark, tmpdir):
    """VERDICT r6 what's-wrong #2 (the fold half): compact_batched
    with tombstone_col= must DROP retracted rows while rewriting and
    consume exactly the tombstone files it folded — the side table
    resets per generation instead of growing forever, and a
    retraction appended after the fold started (here: after it
    finished) survives for the next one."""
    import os

    from mo_etl_spark.streaming import (
        append_tombstones,
        compact_batched,
        has_tombstones,
        idempotent_batch_write,
        read_batched,
        read_tombstones,
    )

    root = f"{tmpdir}/tomb_idx"
    for b in range(4):
        rows = spark.range(b * 10, b * 10 + 10).select(
            F.col("id"), F.pmod("id", F.lit(4)).alias("ib")
        )
        idempotent_batch_write(rows, root, b, partition_cols=["ib"])
    append_tombstones(spark.createDataFrame([(3,), (17,)], "id BIGINT"), root)
    append_tombstones(spark.createDataFrame([(25,)], "id BIGINT"), root)
    assert has_tombstones(root)

    assert compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], tombstone_col="id",
        gc_grace_sec=0.0,
    ) > 0
    got = sorted(r["id"] for r in read_batched(spark, root, partitioned=True).collect())
    assert got == sorted(set(range(40)) - {3, 17, 25})
    assert not has_tombstones(root)  # folded set consumed
    assert read_tombstones(spark, root, "id BIGINT").count() == 0

    # a post-fold retraction is pending for the NEXT generation
    append_tombstones(spark.createDataFrame([(5,)], "id BIGINT"), root)
    assert has_tombstones(root)
    idempotent_batch_write(
        spark.range(40, 44).select("id", F.pmod("id", F.lit(4)).alias("ib")),
        root, 4, partition_cols=["ib"],
    )
    assert compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], tombstone_col="id",
        gc_grace_sec=0.0,
    ) > 0
    got = sorted(r["id"] for r in read_batched(spark, root, partitioned=True).collect())
    assert got == sorted(set(range(44)) - {3, 17, 25, 5})
    assert not has_tombstones(root)


def test_streamed_dedup_retraction_pruned_and_folded(spark, sf_dir, tmpdir):
    """Retraction on the STREAMED dedup (VERDICT r6 what's-wrong #2):
    a tombstoned base doc must stop matching in later triggers — with
    the probe's static ib-IN bucket pruning intact — and the next
    maintenance fold must remove its bands physically and reset the
    side table, with probe results identical before and after the
    fold."""
    import os

    from mo_etl_spark.streaming import (
        append_tombstones,
        compact_batched,
        has_tombstones,
        read_batched,
    )
    from mo_etl_spark.suites.streaming_real import (
        _incr_dedup_apply_batch,
        _incr_dedup_seed_dirs,
        _incr_feed,
    )
    from mo_etl_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") < 400).select("doc_id", "text")
    feed = _incr_feed(spark, sf_dir)
    idx = f"{tmpdir}/idx"
    arr = f"{tmpdir}/arr"
    prs = f"{tmpdir}/prs"
    _incr_dedup_seed_dirs(spark, sf_dir, base, idx, arr, prs)

    batches = sorted(
        os.path.join(feed, d) for d in os.listdir(feed) if d.startswith("b")
    )
    b0 = spark.read.parquet(batches[0])

    # reference: no retraction — doc 0's truncated twin (20000) matches
    _incr_dedup_apply_batch(spark, idx, arr, prs, b0, 0)
    with_zero = {
        (r["id_a"], r["id_b"])
        for r in read_batched(spark, prs).collect()
    }
    assert any(0 in p for p in with_zero), with_zero

    # retract doc 0, replay the same batch (idempotent overwrite of
    # b0's outputs): its pairs vanish, everything else survives, and
    # the probe plan keeps its static bucket pruning
    _incr_dedup_seed_dirs(spark, sf_dir, base, idx, arr, prs)
    append_tombstones(spark.createDataFrame([(0,)], "id BIGINT"), idx)
    probe: dict = {}
    _incr_dedup_apply_batch(spark, idx, arr, prs, b0, 0, plan_probe=probe)
    without_zero = {
        (r["id_a"], r["id_b"])
        for r in read_batched(spark, prs).collect()
    }
    assert without_zero == {p for p in with_zero if 0 not in p}
    scans = [
        ln
        for ln in probe["probe"].splitlines()
        if "FileScan parquet" in ln and "ib#" in ln
    ]
    assert scans, probe["probe"]
    for ln in scans:
        pf = ln.split("PartitionFilters")[1]
        assert "ib#" in pf and ("INSET" in pf or " IN " in pf), ln
    assert "LeftAnti" in probe["probe"]

    # fold: the band index physically loses id 0, the side table
    # resets, and the next trigger's results are unchanged
    assert compact_batched(
        spark, idx, min_dirs=0, partition_cols=["ib"], tombstone_col="id",
        gc_grace_sec=0.0,
    ) > 0
    assert not has_tombstones(idx)
    ids = read_batched(spark, idx, partitioned=True).select("id").distinct()
    assert ids.where(F.col("id") == 0).count() == 0
    b1 = spark.read.parquet(batches[1])
    _incr_dedup_apply_batch(spark, idx, arr, prs, b1, 1)
    after_fold = {
        (r["id_a"], r["id_b"])
        for r in read_batched(spark, prs).collect()
    }
    assert not any(0 in p for p in after_fold)
    assert without_zero <= after_fold


def test_concurrent_compactors_lease_one_wins(spark, tmpdir):
    """VERDICT r6 what's-wrong #3: two concurrent compactors on one
    table must not destroy each other's builds — the second claimant
    raises CompactorBusy while the first holds the lease; the winner's
    rewrite commits correctly; the lease is released so a later
    compaction succeeds; a dead holder's stale lease is reclaimed; and
    a commit under an expired lease is aborted by the generation
    re-check when the takeover winner already committed."""
    import json
    import os
    import threading
    import time

    from mo_etl_spark.streaming import (
        CompactorBusy,
        _write_manifest,
        compact_batched,
        idempotent_batch_write,
        read_batched,
    )

    root = f"{tmpdir}/leased"
    for b in range(4):
        idempotent_batch_write(
            spark.range(b * 10, b * 10 + 10).select(
                F.col("id").alias("v"), F.pmod("id", F.lit(4)).alias("ib")
            ),
            root, b, partition_cols=["ib"],
        )
    want = list(range(40))

    started, release = threading.Event(), threading.Event()
    res: dict = {}

    def slow_tf(df):
        started.set()
        release.wait(60)
        return df

    t = threading.Thread(
        target=lambda: res.update(
            n=compact_batched(
                spark, root, min_dirs=0, partition_cols=["ib"],
                transform=slow_tf, gc_grace_sec=0.0,
            )
        )
    )
    t.start()
    assert started.wait(60)
    # loser: aborts cleanly with a NAMED error, winner's build intact
    with pytest.raises(CompactorBusy, match="lease"):
        compact_batched(spark, root, min_dirs=0, partition_cols=["ib"])
    release.set()
    t.join(120)
    assert res.get("n", 0) > 0
    assert sorted(r["v"] for r in read_batched(spark, root, partitioned=True).collect()) == want

    # lease released: the next compaction proceeds
    idempotent_batch_write(
        spark.range(40, 44).select(
            F.col("id").alias("v"), F.pmod("id", F.lit(4)).alias("ib")
        ),
        root, 4, partition_cols=["ib"],
    )
    assert compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=0.0
    ) > 0
    want = list(range(44))
    assert sorted(r["v"] for r in read_batched(spark, root, partitioned=True).collect()) == want

    # a crashed holder's lease (dead pid / expired TTL) is reclaimed
    with open(os.path.join(root, ".compact_lease"), "w") as f:
        json.dump({"token": "ghost", "pid": 2**22 + 7, "expires": time.time() - 1}, f)
    idempotent_batch_write(
        spark.range(44, 48).select(
            F.col("id").alias("v"), F.pmod("id", F.lit(4)).alias("ib")
        ),
        root, 5, partition_cols=["ib"],
    )
    assert compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=0.0
    ) > 0
    want = list(range(48))
    assert sorted(r["v"] for r in read_batched(spark, root, partitioned=True).collect()) == want

    # expired-lease takeover window: the wedged pre-takeover compactor
    # wakes up after the winner committed — its commit-point gen
    # re-check aborts and removes the orphan build
    man = json.load(open(os.path.join(root, "_MANIFEST")))

    def takeover_tf(df):
        _write_manifest(root, man["gen"] + 1, man["base"], dict(man["consumed"]))
        return df

    with pytest.raises(CompactorBusy, match="advanced to gen"):
        compact_batched(
            spark, root, min_dirs=0, partition_cols=["ib"],
            transform=takeover_tf, gc_grace_sec=0.0,
        )
    assert not any(
        d.startswith("base") and d not in (man["base"],)
        and int(d[4:]) > man["gen"] + 1
        for d in os.listdir(root)
    )  # no orphan build past the committed generation
    assert sorted(r["v"] for r in read_batched(spark, root, partitioned=True).collect()) == want


def test_maintain_batched_folds_under_tombstone_pressure(spark, tmpdir):
    """r7: a QUIET table (live dirs below max_dirs) with steady
    retractions must still fold — maintain_batched triggers at
    max_tombstone_files pending retraction files, so probes never pay
    an unboundedly growing anti-join on a table whose dir count alone
    would never compact."""
    import os

    from mo_etl_spark.streaming import (
        append_tombstones,
        has_tombstones,
        idempotent_batch_write,
        maintain_batched,
        read_batched,
    )

    root = f"{tmpdir}/quiet"
    for b in range(3):  # far below max_dirs=16
        idempotent_batch_write(
            spark.range(b * 10, b * 10 + 10).select(
                F.col("id"), F.pmod("id", F.lit(4)).alias("ib")
            ),
            root, b, partition_cols=["ib"],
        )
    for i in range(3):
        append_tombstones(spark.createDataFrame([(i,)], "id BIGINT"), root)
    # below both thresholds: no-op
    assert maintain_batched(
        spark, root, partition_cols=["ib"], tombstone_col="id",
        max_tombstone_files=4, gc_grace_sec=0.0,
    ) == 0
    assert has_tombstones(root)
    # the fourth retraction batch crosses the pressure threshold
    append_tombstones(spark.createDataFrame([(3,)], "id BIGINT"), root)
    assert maintain_batched(
        spark, root, partition_cols=["ib"], tombstone_col="id",
        max_tombstone_files=4, gc_grace_sec=0.0,
    ) > 0
    assert not has_tombstones(root)
    got = sorted(r["id"] for r in read_batched(spark, root, partitioned=True).collect())
    assert got == sorted(set(range(30)) - {0, 1, 2, 3})


def test_retract_contract_query_erases_both_tables(spark):
    """The streamed retraction CONTRACT query must leave the erased
    docs physically gone from BOTH state tables after its maintenance
    folds — the index (no bands) and the corpus (no text: GDPR erasure
    is about the content, not just the match behavior) — with the
    tombstone side tables reset."""
    import glob
    import os

    from mo_etl_spark.streaming import has_tombstones, read_batched
    from mo_etl_spark.suites.streaming_real import stream_real_dedup_retract

    sf = "/root/testdata/sf0.001"
    pairs = {
        (r["id_a"], r["id_b"])
        for r in stream_real_dedup_retract(spark, sf).collect()
    }
    assert pairs and not any(a % 37 == 0 and a < 400 for a, _ in pairs)

    scratch = os.path.join(CACHE_ROOT, "stream_scratch")
    [idx] = glob.glob(os.path.join(scratch, "retract_dedup_index-*"))
    [arr] = glob.glob(os.path.join(scratch, "retract_dedup_arrived-*"))
    idx_ids = {
        r["id"]
        for r in read_batched(spark, idx, partitioned=True).select("id").distinct().collect()
    }
    arr_ids = {
        r["doc_id"]
        for r in read_batched(spark, arr, partitioned=True)
        .select("doc_id").distinct().collect()
    }
    deleted = {i for i in range(400) if i % 37 == 0}
    assert not (idx_ids & deleted)
    assert not (arr_ids & deleted)
    assert not has_tombstones(idx) and not has_tombstones(arr)


def test_manifest_extra_carried_by_transformless_compaction(spark, tmpdir):
    """r7: a compaction WITHOUT a transform must carry the previous
    generation's manifest ``extra`` forward — its rows are preserved
    verbatim, so the serving metadata that described them (the ANN
    cell_subs map) still does; dropping it would under-expand probes
    on adaptively-split cells and lose results silently."""
    from mo_etl_spark.operators import similarity as S
    from mo_etl_spark.streaming import (
        compact_batched,
        idempotent_batch_write,
        read_batched,
        read_manifest_extra,
    )

    root = f"{tmpdir}/extra_carry"
    for b in range(3):
        rows = spark.range(b * 20, b * 20 + 20).select(
            F.col("id").alias("c_id"),
            F.lit(0).alias("cell"),
            F.array(F.lit(1.0), F.lit(0.0)).alias("vec"),
        )
        idempotent_batch_write(rows, root, b, partition_cols=["cell"])
    # adaptive split commits the map
    assert compact_batched(
        spark, root, min_dirs=0, partition_cols=["cell", "sub"],
        transform=S.ann_resplit_transform(cap_rows=10), gc_grace_sec=0.0,
    ) > 0
    extra1 = read_manifest_extra(root)
    assert extra1["cell_subs"].get("0", 1) >= 6  # 60 rows / cap 10

    # a later transform-LESS maintenance pass (e.g. binpack-shaped
    # partition rewrite) keeps rows and must keep the map
    idempotent_batch_write(
        spark.range(60, 64).select(
            F.col("id").alias("c_id"), F.lit(0).alias("cell"),
            F.array(F.lit(1.0), F.lit(0.0)).alias("vec"),
            F.pmod(F.xxhash64("id"), F.lit(2)).cast("int").alias("sub"),
        ),
        root, 3, partition_cols=["cell", "sub"],
    )
    assert compact_batched(
        spark, root, min_dirs=0, partition_cols=["cell", "sub"], gc_grace_sec=0.0
    ) > 0
    assert read_manifest_extra(root) == extra1
    assert read_batched(spark, root, partitioned=True).count() == 64


@pytest.mark.parametrize("seed", [1347, 40961])
def test_batched_table_model_property(spark, tmpdir, seed):
    """Model-based property check of the batched-table protocol (r7):
    the protocol has grown (manifest commit, retention GC, transform +
    manifest extra, tombstone fold, lease) and its INTERACTIONS are
    where invariants rot.  Drive a seeded-random op sequence — batch
    writes/overwrites, tombstone appends, compactions with and without
    fold, crash debris (orphan build dirs, inert promoted bases) —
    against both the real table and a dict model; after every step a
    reader must see exactly the model's live rows."""
    import random

    from mo_etl_spark import streaming as S
    from mo_etl_spark.streaming import (
        append_tombstones,
        compact_batched,
        idempotent_batch_write,
        read_batched,
    )

    GRACE = 3600.0  # r8: retained victims keep old generations
    # travelable, so the model can also exercise ROLLBACK
    rng = random.Random(seed)
    root = f"{tmpdir}/model{seed}"
    model: dict[int, list[int]] = {}  # batch_id -> ids
    consumed: dict[int, list[int]] = {}  # batch ids a compaction folded in
    pending: set[int] = set()  # tombstoned, file not yet consumed
    folded: set[int] = set()
    hist: dict[int, tuple[set, set]] = {}  # gen -> (live, folded) at commit
    gen = 0
    next_id = 0
    next_batch = 0

    def live() -> set[int]:
        ids = {i for ids in model.values() for i in ids}
        return ids - folded  # pending tombstones hide at PROBE time,
        # which is caller policy — the TABLE contract is: folded rows
        # gone, everything else present

    def check():
        got = sorted(
            r["id"]
            for r in read_batched(
                spark, root, partitioned=True, schema="id BIGINT, ib BIGINT"
            ).collect()
        )
        assert got == sorted(live()), (got, sorted(live()))

    for step in range(24):
        op = rng.choice(
            ["write", "rewrite", "tomb", "compact", "fold", "debris",
             "replay_consumed", "rollback"]
        )
        if op == "write" or not model:
            ids = list(range(next_id, next_id + rng.randint(1, 6)))
            next_id += len(ids)
            model[next_batch] = ids
            idempotent_batch_write(
                spark.createDataFrame([(i, i % 4) for i in ids], "id BIGINT, ib BIGINT"),
                root, next_batch, partition_cols=["ib"],
            )
            next_batch += 1
        elif op == "rewrite":  # replay: same batch id, same content
            replayable = [b for b in model if b >= 0]  # -1 = the
            # consolidated base, not a batch — only real batch ids replay
            if replayable:
                b = rng.choice(replayable)
                idempotent_batch_write(
                    spark.createDataFrame(
                        [(i, i % 4) for i in model[b]], "id BIGINT, ib BIGINT"
                    ),
                    root, b, partition_cols=["ib"],
                )
        elif op == "tomb":
            pool = sorted(live() - pending)
            if pool:
                dead = rng.sample(pool, min(2, len(pool)))
                append_tombstones(
                    spark.createDataFrame([(i,) for i in dead], "id BIGINT"), root
                )
                pending.update(dead)
        elif op == "compact":
            compact_batched(
                spark, root, min_dirs=0, partition_cols=["ib"],
                gc_grace_sec=GRACE,
            )
            consumed.update({b: v for b, v in model.items() if b >= 0})
            model = {-1: sorted(live())}  # consolidated base
            gen += 1
            hist[gen] = (set(live()), set(folded))
        elif op == "fold":
            compact_batched(
                spark, root, min_dirs=0, partition_cols=["ib"],
                tombstone_col="id", gc_grace_sec=GRACE,
            )
            folded |= pending
            pending = set()  # their files are consumed with the fold
            consumed.update({b: v for b, v in model.items() if b >= 0})
            model = {-1: sorted(live())}
            gen += 1
            hist[gen] = (set(live()), set(folded))
        elif op == "rollback" and hist:
            # r8: restore a travelable generation.  Rows a LATER fold
            # dropped come back (the old base still has them) and
            # their consumed tombstone files do NOT re-apply — a
            # caller that needs them dead re-appends.  Tombstones
            # still PENDING at rollback time stay pending.
            g = rng.choice(sorted(hist))
            S.rollback_batched(root, g)
            live_g, folded_g = hist[g]
            # batches rollback consumed are replayable debris too:
            # their names are excluded forever, rows in NO base
            consumed.update({b: v for b, v in model.items() if b >= 0})
            model = {-1: sorted(live_g)}
            folded = set(folded_g)
            pending &= live_g | folded_g  # ids from rolled-back
            # batches are gone entirely; their pending keys anti-join
            # nothing (kept pending is also fine — keep the model to
            # keys that exist)
            gen += 1
            hist[gen] = (set(live()), set(folded))
        elif op == "replay_consumed" and consumed:
            # a crashed trigger whose batch a compaction already
            # consumed is replayed on restart: the rewrite recreates
            # b<id>, but the manifest excludes that name forever, so
            # readers never double-count its rows (they live in the
            # consolidated base) — the model is UNCHANGED
            b = rng.choice(sorted(consumed))
            idempotent_batch_write(
                spark.createDataFrame(
                    [(i, i % 4) for i in consumed[b]], "id BIGINT, ib BIGINT"
                ),
                root, b, partition_cols=["ib"],
            )
        elif op == "debris":  # crash leftovers readers must ignore
            import os

            kind = rng.choice(["build", "inert_base"])
            if kind == "build":
                spark.createDataFrame([(999999, 0)], "id BIGINT, ib BIGINT").write.mode(
                    "overwrite"
                ).parquet(os.path.join(root, ".compact_new", "g0"))
            else:
                spark.createDataFrame([(888888, 0)], "id BIGINT, ib BIGINT").write.mode(
                    "overwrite"
                ).parquet(os.path.join(root, "base999"))
        check()


def test_lease_reclaim_race_hardened(tmpdir, monkeypatch):
    """ADVICE r7 medium: stale-lease reclaim is remove-then-recreate,
    so two reclaimers can interleave (A removes+creates, B removes A's
    FRESH lease and creates its own).  Hardened twice: (1) the remove
    is conditional on the on-disk token still being the one judged
    stale; (2) after creating our lease we re-read and abort unless
    the token on disk is ours.  Plus the ADVICE r7 hostname low: a
    pid unknown on THIS host is only 'provably dead' when the holder
    recorded the same hostname — an other-host holder waits for TTL."""
    import json
    import os
    import time

    from mo_etl_spark import streaming as S

    root = str(tmpdir)
    path = os.path.join(root, S._COMPACT_LEASE)

    def write_lease(token, pid, host, expires):
        with open(path, "w") as f:
            json.dump(
                {"token": token, "pid": pid, "host": host, "expires": expires}, f
            )

    # (a) conditional remove: an expired lease is reclaimable, and the
    # reclaim leaves the NEW holder's token on disk
    write_lease("stale-1", os.getpid(), S._HOSTNAME, time.time() - 5)
    tok = S._acquire_lease(root, ttl_sec=60)
    with open(path) as f:
        assert json.load(f)["token"] == tok
    # a second claimant that judged the OLD lease stale must not evict
    # the fresh holder: through the public API it sees fresh+alive
    with pytest.raises(S.CompactorBusy, match="held by pid"):
        S._acquire_lease(root, ttl_sec=60)
    S._release_lease(root, tok)

    # (b) verify-after-create backstop: a rival that slips past the
    # conditional remove and overwrites our lease between create and
    # verify must make OUR claim abort — simulate by hijacking the
    # fsync that ends our lease write
    real_fsync = os.fsync
    hijacked = {}

    def hijack(fd):
        real_fsync(fd)
        if not hijacked:
            hijacked["done"] = True
            write_lease("rival", os.getpid(), S._HOSTNAME, time.time() + 60)

    monkeypatch.setattr(os, "fsync", hijack)
    with pytest.raises(S.CompactorBusy, match="reclaimed out from under"):
        S._acquire_lease(root, ttl_sec=60)
    monkeypatch.setattr(os, "fsync", real_fsync)
    os.remove(path)

    # (c) hostname-gated pid fast path: a locally-unknown pid that
    # belongs to ANOTHER host is NOT provably dead — unexpired lease
    # holds (TTL is the only staleness signal on a shared fs)
    write_lease("other-host", 2_000_000_000, "some-other-host", time.time() + 60)
    with pytest.raises(S.CompactorBusy, match="held by pid"):
        S._acquire_lease(root, ttl_sec=60)
    # same pid, SAME host: provably dead, reclaimed immediately
    write_lease("dead-local", 2_000_000_000, S._HOSTNAME, time.time() + 60)
    tok2 = S._acquire_lease(root, ttl_sec=60)
    S._release_lease(root, tok2)


def test_compact_dataless_table_consumes_tombstones(spark, tmpdir):
    """ADVICE r7: a data-less table (live dirs hold no parquet) with
    pending tombstones must still CONSUME them (anti-joining nothing
    is a no-op) — otherwise maintain_batched under tombstone pressure
    re-triggers a no-op compaction on every pass and the side table
    never resets."""
    import os

    from mo_etl_spark.streaming import (
        append_tombstones,
        has_tombstones,
        maintain_batched,
    )

    root = f"{tmpdir}/dataless_tomb"
    for b in range(3):
        d = os.path.join(root, f"b{b}")
        os.makedirs(d)
        open(os.path.join(d, "_SUCCESS"), "w").close()
    for i in range(4):
        append_tombstones(spark.createDataFrame([(i,)], "id BIGINT"), root)
    assert has_tombstones(root)
    # pressure fold reaches the data-less guard; the snapshot is
    # consumed so the NEXT pass is a true no-op below both thresholds
    assert maintain_batched(
        spark, root, partition_cols=["ib"], tombstone_col="id",
        max_tombstone_files=4, gc_grace_sec=0.0,
    ) == 0
    assert not has_tombstones(root)


@pytest.mark.parametrize("seed", [11, 22, 33, 44])
def test_batched_table_concurrent_interleaving_model(spark, tmpdir, seed):
    """VERDICT r7 next-round #1: the sequential protocol model check
    found a real manifest bug on its first run — the remaining surface
    is concurrent INTERLEAVINGS.  Drive a seeded THREAD SCHEDULE of a
    writer (fresh batches + idempotent replays), tombstone appends, a
    reader, and up to two compactors (paused mid-build inside their
    transform) against a dict model: normal contention (second
    claimant aborts with the NAMED error while the lease is held),
    lease-EXPIRY takeover (zombie and new holder build concurrently in
    per-token dirs; whichever commits first wins, the other aborts via
    CAS/guarded-rename — this schedule found the raw-ENOTEMPTY rename
    collision the commit path now guards), and PID-REUSE (a lease
    whose pid is alive locally but is not a compactor: unexpired waits
    for TTL, expired is reclaimed despite the live pid).

    r9 (VERDICT r8 item #1) folds the two remaining op families into
    the same seeded schedule: SPEC-EVOLVING compactions (a random
    compactor runs rebucket_transform — growing or no-growth — so
    mixed-spec windows, stale-spec stragglers, and spec-carrying
    commits interleave with every other op; the probe check below
    verifies translated pruning stays exact) and ROLLBACKS (to any
    still-travelable recorded generation: lease-guarded against a live
    holder, winning over an expired zombie whose commit must then
    CAS-abort NAMED).  Writers resolve the COMMITTED spec per trigger
    and stamp their dirs, exactly like production.  After every
    scheduler step the reader must see exactly the model's live rows,
    a spec-translated pruned probe must find sampled live ids, and the
    manifest generation must equal the model's committed-ops count.

    r10 (VERDICT r9 item #2) adds the ANN MAINTENANCE family to the
    SAME seeded schedule, on a sibling IVF table: threaded compactors
    running ann_requantize_transform (quantizer re-train — claims a
    NEW layout id), ann_reassign_transform (re-derive cells under the
    committed quantizer), and ann_resplit_transform (layout-inheriting
    hot-cell re-split), interleaved with writers that resolve the
    COMMITTED quantizer/layout per trigger and stamp their dirs, plus
    rollbacks — the zombie-requantizer-vs-takeover-rollback window
    included (an expired requantizer's commit must CAS-abort NAMED
    after a rollback won).  After every step the ANN leg asserts: the
    full read equals the model, the generation matches, and a
    LAYOUT-SPLIT probe of sampled live rows (pruned matched leg +
    unpruned foreign leg, read_batched_layout_split) finds each row
    EXACTLY ONCE — no silent drop of foreign-layout dirs, no
    double-serving across the legs, whatever interleaving of
    re-trains, re-splits, replays, and rollbacks produced the state."""
    import json
    import os
    import random
    import threading
    import time

    from mo_etl_spark import streaming as S
    from mo_etl_spark.operators import similarity as SIM
    from mo_etl_spark.streaming import (
        CompactorBusy,
        append_tombstones,
        compact_batched,
        idempotent_batch_write,
        read_batched,
    )

    GRACE = 3600.0  # victims stay on disk: in-flight concurrent
    # builders/readers of the previous generation must keep their files
    rng = random.Random(seed)
    root = f"{tmpdir}/conc{seed}"
    model: dict[int, list[int]] = {}
    tombs: set[int] = set()
    folded: set[int] = set()
    protected: set[int] = set()  # batch-0 ids: never tombstoned, so
    # the table is never data-less (that path has its own test)
    batch_history: dict[int, tuple[list[int], int]] = {}
    gen_snapshots: dict[int, list[int]] = {}  # gen -> base's live rows
    next_id = 0
    next_batch = 0
    expected_gen = 0

    def live() -> set[int]:
        return {i for ids in model.values() for i in ids} - folded

    def _ib(n):
        return F.pmod(F.xxhash64("id"), F.lit(int(n)))

    class Compactor:
        def __init__(self, ttl: float, rebucket: bool):
            self.ttl = ttl
            self.rebucket = rebucket
            self.cap = rng.choice([2, 1_000_000])  # grow vs no-growth
            self.t0 = time.time()
            self.entered = threading.Event()
            self.release = threading.Event()
            self.done = threading.Event()
            self.result: dict = {}
            self.snap_batches = set(model.keys())
            self.snap_tombs = set(tombs)
            self.thread = threading.Thread(target=self._run, daemon=True)
            self.thread.start()

        def _tf(self, df):
            self.entered.set()
            self.release.wait(180)
            if self.rebucket:
                inner = S.rebucket_transform(
                    "ib", _ib, S.current_spec(root, 4), self.cap,
                    prior_extra=S.read_manifest_extra(root),
                )
                return inner(df)
            return df

        def _run(self):
            try:
                self.result["n"] = compact_batched(
                    spark, root, min_dirs=0, partition_cols=["ib"],
                    transform=self._tf, tombstone_col="id",
                    gc_grace_sec=GRACE, lease_ttl_sec=self.ttl,
                )
            except CompactorBusy as e:
                self.result["busy"] = str(e)
            except Exception as e:  # must never happen: losers abort NAMED
                self.result["error"] = repr(e)
            finally:
                self.done.set()

        def expired(self) -> bool:
            return time.time() >= self.t0 + self.ttl

    active: list[Compactor] = []

    def write_batch():
        nonlocal next_id, next_batch
        ids = list(range(next_id, next_id + rng.randint(1, 5)))
        next_id += len(ids)
        if next_batch == 0:
            protected.update(ids)
        model[next_batch] = ids
        # the writer's trigger: resolve the COMMITTED spec, write under
        # it, stamp the dir (the production write path)
        n_spec = S.current_spec(root, 4)
        batch_history[next_batch] = (ids, n_spec)
        idempotent_batch_write(
            spark.createDataFrame([(i,) for i in ids], "id BIGINT")
            .withColumn("ib", _ib(n_spec)),
            root, next_batch, partition_cols=["ib"],
        )
        S.stamp_spec(root, next_batch, n_spec)
        next_batch += 1

    def apply_win(c):
        nonlocal model, tombs, folded, expected_gen
        folded |= c.snap_tombs
        tombs -= c.snap_tombs
        consolidated = sorted(
            {i for b in c.snap_batches if b in model for i in model[b]}
        )
        model = {b: v for b, v in model.items() if b not in c.snap_batches}
        model[-1] = consolidated
        expected_gen += 1
        # the committed base's rows: consolidated minus everything
        # folded so far (earlier folds already left model[-1] stale-
        # inclusive; live() subtracts globally) — recorded for rollback
        gen_snapshots[expected_gen] = sorted(set(consolidated) - folded)

    def finish(c: Compactor):
        c.release.set()
        c.thread.join(180)
        assert c.done.is_set()
        assert "error" not in c.result, c.result
        if "n" in c.result:
            assert c.result["n"] > 0
            apply_win(c)
        active.remove(c)

    def check():
        got = sorted(
            r["id"]
            for r in read_batched(
                spark, root, partitioned=True, schema="id BIGINT, ib BIGINT"
            ).collect()
        )
        assert got == sorted(live()), (got, sorted(live()))
        man = S._read_manifest(root)
        assert (man["gen"] if man else 0) == expected_gen
        # spec-translated pruned probe: sampled live ids must each be
        # found through per-dir translated partition pruning, whatever
        # mix of specs the schedule has produced so far
        pool = sorted(live())
        if pool:
            probe = rng.sample(pool, min(3, len(pool)))
            n_cur = S.current_spec(root, 4)
            vals = sorted(
                r["v"]
                for r in spark.createDataFrame([(i,) for i in probe], "id BIGINT")
                .select(_ib(n_cur).alias("v"))
                .distinct()
                .collect()
            )
            got_p = sorted(
                r["id"]
                for r in S.read_batched_pruned(
                    spark, root, "ib", vals, n_cur, "id BIGINT, ib BIGINT"
                )
                .where(F.col("id").isin(probe))
                .collect()
            )
            assert got_p == sorted(probe), (got_p, probe, n_cur)

    # ---- ANN leg (r10, VERDICT r9 item #2): sibling IVF table -------
    ANN_SCHEMA = "c_id BIGINT, vec ARRAY<DOUBLE>, cell BIGINT, sub INT"
    ann_root = f"{tmpdir}/ann{seed}"
    CREATION = {0: [1.0, 0.0], 1: [0.0, 1.0], 2: [0.7, 0.7]}
    ann_model: dict[int, list[int]] = {}
    ann_snapshots: dict[int, list[int]] = {}  # gen -> base's rows
    ann_expected_gen = 0
    ann_next_batch = 0
    ann_next_id = 0
    ann_history: dict[int, list[int]] = {}

    def _vec(i: int) -> list[float]:
        return [float(i % 7 + 1), float(i % 5 + 2)]

    def _committed_quantizer() -> tuple[str, dict[int, list[float]]]:
        # the production writer's resolution: quantizer + layout id
        # from the LIVE manifest extra (a re-quantization committed
        # them atomically with its rows), else the creation quantizer
        extra = S.read_manifest_extra(ann_root)
        cmap = extra.get("centroids")
        if cmap:
            return str(extra["layout_id"]), {
                int(c): [float(x) for x in v] for c, v in cmap.items()
            }
        return "creation0", CREATION

    def _cell_of(v: list[float], cents: dict[int, list[float]]) -> int:
        import math

        nv = math.sqrt(sum(x * x for x in v))
        best, best_s = None, None
        for cid in sorted(cents):
            c = cents[cid]
            s = sum(a * b for a, b in zip(v, c)) / (
                nv * math.sqrt(sum(x * x for x in c))
            )
            if best_s is None or s > best_s + 1e-12:
                best, best_s = cid, s
        return int(best)

    def ann_live() -> set[int]:
        return {i for ids in ann_model.values() for i in ids}

    def ann_write_batch(b: int | None = None):
        nonlocal ann_next_id, ann_next_batch
        if b is None:
            b = ann_next_batch
            ids = list(range(ann_next_id, ann_next_id + rng.randint(1, 4)))
            ann_next_id += len(ids)
            ann_model[b] = ids
            ann_history[b] = ids
            ann_next_batch += 1
        else:
            ids = ann_history[b]  # idempotent replay
        lid, cents = _committed_quantizer()
        rows = [(i, _vec(i), _cell_of(_vec(i), cents), i % 2) for i in ids]
        idempotent_batch_write(
            spark.createDataFrame(rows, ANN_SCHEMA),
            ann_root, b, partition_cols=["cell", "sub"],
        )
        S.stamp_layout(ann_root, b, lid)

    class AnnCompactor:
        def __init__(self, ttl: float, kind: str):
            self.ttl = ttl
            self.kind = kind
            self.t0 = time.time()
            self.entered = threading.Event()
            self.release = threading.Event()
            self.done = threading.Event()
            self.result: dict = {}
            self.snap_batches = set(ann_model.keys())
            self.thread = threading.Thread(target=self._run, daemon=True)
            self.thread.start()

        def _tf(self, df):
            self.entered.set()
            self.release.wait(300)
            if self.kind == "requantize":
                return SIM.ann_requantize_transform(
                    k=3, iters=1, cap_rows=6
                )(df)
            if self.kind == "reassign":
                return SIM.ann_reassign_transform(ann_root, cap_rows=6)(df)
            return SIM.ann_resplit_transform(6)(df)

        def _run(self):
            try:
                self.result["n"] = compact_batched(
                    spark, ann_root, min_dirs=0,
                    partition_cols=["cell", "sub"], transform=self._tf,
                    gc_grace_sec=GRACE, lease_ttl_sec=self.ttl,
                )
            except CompactorBusy as e:
                self.result["busy"] = str(e)
            except Exception as e:  # losers must abort NAMED, never raw
                self.result["error"] = repr(e)
            finally:
                self.done.set()

        def expired(self) -> bool:
            return time.time() >= self.t0 + self.ttl

    ann_active: list[AnnCompactor] = []

    def ann_apply_win(c):
        nonlocal ann_model, ann_expected_gen
        consolidated = sorted(
            {i for b in c.snap_batches if b in ann_model for i in ann_model[b]}
        )
        ann_model = {
            b: v for b, v in ann_model.items() if b not in c.snap_batches
        }
        ann_model[-1] = consolidated
        ann_expected_gen += 1
        ann_snapshots[ann_expected_gen] = consolidated

    def ann_finish(c: AnnCompactor):
        c.release.set()
        c.thread.join(300)
        assert c.done.is_set()
        assert "error" not in c.result, c.result
        if "n" in c.result:
            assert c.result["n"] > 0
            ann_apply_win(c)
        ann_active.remove(c)

    def ann_check():
        got = sorted(
            r["c_id"]
            for r in read_batched(
                spark, ann_root, partitioned=True, schema=ANN_SCHEMA
            ).collect()
        )
        assert got == sorted(ann_live()), (got, sorted(ann_live()))
        man = S._read_manifest(ann_root)
        assert (man["gen"] if man else 0) == ann_expected_gen
        # LAYOUT-SPLIT probe: sampled live rows must each be served
        # EXACTLY ONCE across the pruned matched leg + unpruned foreign
        # leg, whatever mix of layouts the schedule produced
        pool = sorted(ann_live())
        if pool:
            probe = rng.sample(pool, min(3, len(pool)))
            rows = (
                read_batched(
                    spark, ann_root, partitioned=True, schema=ANN_SCHEMA
                )
                .where(F.col("c_id").isin(probe))
                .select("c_id", "cell")
                .collect()
            )
            cells = sorted({int(r["cell"]) for r in rows})
            lid, _ = _committed_quantizer()
            matched, foreign = S.read_batched_layout_split(
                spark, ann_root, "cell", cells, lid, ANN_SCHEMA
            )
            found = (
                matched.unionByName(foreign)
                .where(F.col("c_id").isin(probe))
                .groupBy("c_id")
                .count()
                .collect()
            )
            per = {int(r["c_id"]): int(r["count"]) for r in found}
            assert per == {i: 1 for i in probe}, (per, probe, lid)

    write_batch()  # the table always has data
    ann_write_batch()  # and so does the ANN leg
    lease_path = os.path.join(root, S._COMPACT_LEASE)
    try:
        for step in range(36):
            op = rng.choice(
                ["write", "replay", "tomb", "start", "start", "finish",
                 "finish", "busy_probe", "pid_reuse", "rollback",
                 "replay_consumed",
                 "ann_write", "ann_replay", "ann_start", "ann_start",
                 "ann_finish", "ann_finish", "ann_rollback"]
            )
            if op == "write":
                write_batch()
            elif op == "replay":
                real = [b for b in model if b >= 0]
                if real:
                    b = rng.choice(real)
                    ids, n_spec = batch_history[b]
                    idempotent_batch_write(
                        spark.createDataFrame([(i,) for i in ids], "id BIGINT")
                        .withColumn("ib", _ib(n_spec)),
                        root, b, partition_cols=["ib"],
                    )
                    S.stamp_spec(root, b, n_spec)
            elif op == "replay_consumed":
                # a trigger replayed arbitrarily late, AFTER its batch
                # was consumed into a base (possibly by a rollback):
                # the manifest excludes the name forever — the reader
                # must not double-count its rows
                consumed_b = [
                    b for b in batch_history if b not in model and b >= 0
                ]
                if consumed_b:
                    b = rng.choice(consumed_b)
                    ids, n_spec = batch_history[b]
                    idempotent_batch_write(
                        spark.createDataFrame([(i,) for i in ids], "id BIGINT")
                        .withColumn("ib", _ib(n_spec)),
                        root, b, partition_cols=["ib"],
                    )
                    S.stamp_spec(root, b, n_spec)
            elif op == "rollback":
                holder = next((c for c in active if c.entered.is_set()), None)
                candidates = [
                    g for g in sorted(S.read_manifest_log(root))
                    if g in gen_snapshots
                ]
                if holder is not None and not holder.expired():
                    # a live holder's lease blocks rollback, NAMED
                    if candidates:
                        with pytest.raises(CompactorBusy):
                            S.rollback_batched(root, candidates[-1])
                elif candidates:
                    # no holder, or an expired zombie (which must then
                    # CAS-abort its own commit — asserted in finish)
                    g = rng.choice(candidates)
                    new_gen = S.rollback_batched(root, g)
                    assert new_gen == expected_gen + 1
                    model = {-1: list(gen_snapshots[g])}
                    folded = set()
                    expected_gen = new_gen
                    gen_snapshots[new_gen] = gen_snapshots[g]
            elif op == "tomb":
                pool = sorted(live() - tombs - protected)
                if pool:
                    dead = rng.sample(pool, min(2, len(pool)))
                    append_tombstones(
                        spark.createDataFrame([(i,) for i in dead], "id BIGINT"),
                        root,
                    )
                    tombs.update(dead)
            elif op == "start" and len(active) < 2:
                holder = next((c for c in active if c.entered.is_set()), None)
                rb = rng.random() < 0.5  # spec-evolving half the time
                if holder is not None and not holder.expired():
                    # unexpired holder: the claimant aborts NAMED, fast
                    c = Compactor(ttl=3600.0, rebucket=rb)
                    assert c.done.wait(60)
                    assert "busy" in c.result, c.result
                elif holder is not None:
                    # expired holder: takeover — zombie keeps building
                    # in its own per-token dir, new holder claims
                    c = Compactor(ttl=3600.0, rebucket=rb)
                    while not (c.entered.is_set() or c.done.is_set()):
                        time.sleep(0.01)
                    assert c.entered.is_set(), c.result
                    active.append(c)
                else:
                    ttl = rng.choice([3600.0, 0.2])
                    c = Compactor(ttl=ttl, rebucket=rb)
                    while not (c.entered.is_set() or c.done.is_set()):
                        time.sleep(0.01)
                    assert c.entered.is_set(), c.result
                    active.append(c)
                    if ttl < 1:  # let the lease lapse so a later
                        time.sleep(0.3)  # 'start' exercises takeover
            elif op == "finish" and active:
                finish(rng.choice(active))
            elif op == "busy_probe":
                holder = next((c for c in active if c.entered.is_set()), None)
                if holder is not None and not holder.expired():
                    with pytest.raises(CompactorBusy):
                        compact_batched(
                            spark, root, min_dirs=0, partition_cols=["ib"],
                            tombstone_col="id", gc_grace_sec=GRACE,
                        )
            elif op == "pid_reuse" and not active:
                # pid 1 is alive on this host but is NOT a compactor:
                # an unexpired lease under a reused pid must WAIT (the
                # liveness fast path can false-positive, TTL decides)
                with open(lease_path, "w") as f:
                    json.dump(
                        {"token": "reused", "pid": 1, "host": S._HOSTNAME,
                         "expires": time.time() + 60}, f,
                    )
                with pytest.raises(CompactorBusy):
                    compact_batched(
                        spark, root, min_dirs=0, partition_cols=["ib"],
                        tombstone_col="id", gc_grace_sec=GRACE,
                    )
                # expired + live reused pid: TTL reclaims it
                with open(lease_path, "w") as f:
                    json.dump(
                        {"token": "reused", "pid": 1, "host": S._HOSTNAME,
                         "expires": time.time() - 1}, f,
                    )
                snap_b, snap_t = set(model.keys()), set(tombs)
                n = compact_batched(
                    spark, root, min_dirs=0, partition_cols=["ib"],
                    tombstone_col="id", gc_grace_sec=GRACE,
                )
                assert n > 0
                c = type("Snap", (), {"snap_batches": snap_b, "snap_tombs": snap_t})
                apply_win(c)
            elif op == "ann_write":
                ann_write_batch()
            elif op == "ann_replay":
                real = [b for b in ann_model if b >= 0]
                if real:
                    ann_write_batch(rng.choice(real))  # must be a no-op
            elif op == "ann_start" and len(ann_active) < 2:
                holder = next(
                    (c for c in ann_active if c.entered.is_set()), None
                )
                kind = rng.choice(["requantize", "reassign", "resplit"])
                if holder is not None and not holder.expired():
                    # unexpired holder: the claimant aborts NAMED, fast
                    c = AnnCompactor(ttl=3600.0, kind=kind)
                    assert c.done.wait(60)
                    assert "busy" in c.result, c.result
                elif holder is not None:
                    # expired holder (a zombie requantizer, possibly):
                    # takeover builds concurrently in its own token dir
                    c = AnnCompactor(ttl=3600.0, kind=kind)
                    while not (c.entered.is_set() or c.done.is_set()):
                        time.sleep(0.01)
                    assert c.entered.is_set(), c.result
                    ann_active.append(c)
                else:
                    ttl = rng.choice([3600.0, 0.2])
                    c = AnnCompactor(ttl=ttl, kind=kind)
                    while not (c.entered.is_set() or c.done.is_set()):
                        time.sleep(0.01)
                    assert c.entered.is_set(), c.result
                    ann_active.append(c)
                    if ttl < 1:  # let the lease lapse: a later
                        time.sleep(0.3)  # ann_start/rollback takes over
            elif op == "ann_finish" and ann_active:
                ann_finish(rng.choice(ann_active))
            elif op == "ann_rollback":
                # the zombie-requantizer-vs-takeover-rollback window:
                # a live holder blocks NAMED; an expired one loses —
                # its commit must CAS-abort (asserted in ann_finish)
                holder = next(
                    (c for c in ann_active if c.entered.is_set()), None
                )
                candidates = [
                    g for g in sorted(S.read_manifest_log(ann_root))
                    if g in ann_snapshots
                ]
                if holder is not None and not holder.expired():
                    if candidates:
                        with pytest.raises(CompactorBusy):
                            S.rollback_batched(ann_root, candidates[-1])
                elif candidates:
                    g = rng.choice(candidates)
                    new_gen = S.rollback_batched(ann_root, g)
                    assert new_gen == ann_expected_gen + 1
                    ann_model = {-1: list(ann_snapshots[g])}
                    ann_expected_gen = new_gen
                    ann_snapshots[new_gen] = ann_snapshots[g]
            check()
            ann_check()
    finally:
        for c in list(active):
            c.release.set()
            c.thread.join(180)
            if "n" in c.result and c.result["n"] > 0:
                apply_win(c)
            active.remove(c)
        for c in list(ann_active):
            c.release.set()
            c.thread.join(300)
            if "n" in c.result and c.result["n"] > 0:
                ann_apply_win(c)
            ann_active.remove(c)
    check()
    ann_check()


@pytest.mark.parametrize("seed", [7, 13])
def test_streamed_dedup_cross_table_chaos_model(spark, tmpdir, seed):
    """VERDICT r7 next-round #2, upgraded to the TRANSACTIONAL form
    (r10, VERDICT r9 item #1): the streamed dedup trigger updates
    THREE batched tables (index, arrived corpus, pairs) — model the
    per-trigger multi-table update AS A UNIT.  A chaos instance is
    driven through a seeded schedule of full applies, crashes planted
    BETWEEN the three table writes AND after all three but before the
    cross-table commit (the before_txn window — everything on disk
    complete, commit missing), late replays of committed batches,
    single-table compactions, tombstone folds, and online re-buckets
    — against a clean truth instance applied sequentially.

    TWO read disciplines are asserted:
    - TRANSACTIONAL (the r10 guarantee): at EVERY step — crashed
      trigger outstanding or not — reading each table with
      ``max_batch=txn_watermark(group)`` must match the truth at the
      committed prefix exactly.  No torn window exists for a
      transactional reader at any point in the schedule, not just at
      quiescent ones; maintenance passes the watermark so a fold can
      never bake an uncommitted batch into a base.
    - RAW (the pre-r10 convention, kept): at quiescent points the
      unrestricted reads agree too.
    """
    import random

    from mo_etl_spark.streaming import (
        append_tombstones,
        compact_batched,
        read_batched,
        txn_watermark,
    )
    from mo_etl_spark.suites.streaming_real import (
        _INCR_ARR_SCHEMA,
        _INCR_IDX_SCHEMA,
        PlantedCrash,
        _incr_dedup_apply_batch,
    )

    rng = random.Random(seed)
    PAIRS_S = "id_a BIGINT, id_b BIGINT, jaccard DOUBLE"
    N_BATCH, PER = 6, 12

    # synthetic corpus with a WIDE vocab (the sf documents table's
    # 31-token vocabulary band-collides everything) and planted
    # near-dups that always reference an EARLIER batch (same-batch
    # twins never pair: the probe excludes the batch's own bands)
    vocab = [f"tok{j}" for j in range(500)]
    gen = random.Random(97)  # corpus fixed across seeds; schedule varies
    tokens: list[list[str]] = []
    for i in range(N_BATCH * PER):
        if i >= PER and gen.random() < 0.4:
            src = tokens[gen.randrange((i // PER) * PER)]
            toks = list(src)
            toks[gen.randrange(len(toks))] = gen.choice(vocab)
        else:
            toks = gen.sample(vocab, 24)
        tokens.append(toks)
    docs = [(i, " ".join(t)) for i, t in enumerate(tokens)]
    batches = [docs[b * PER : (b + 1) * PER] for b in range(N_BATCH)]
    tomb_ids = [i for i, _ in batches[0] if i % 3 == 0]

    def bdf(b: int):
        return spark.createDataFrame(batches[b], "doc_id BIGINT, text STRING")

    def seed_and_tomb(idx, arr, pairs, group=None):
        _incr_dedup_apply_batch(
            spark, idx, arr, pairs, bdf(0), 0, group_root=group
        )
        append_tombstones(
            spark.createDataFrame([(i,) for i in tomb_ids], "id BIGINT"), idx
        )
        append_tombstones(
            spark.createDataFrame([(i,) for i in tomb_ids], "doc_id BIGINT"), arr
        )

    # --- truth: clean sequential application, pairs snapshot per prefix
    idxT, arrT, pairsT = f"{tmpdir}/idxT", f"{tmpdir}/arrT", f"{tmpdir}/pairsT"
    seed_and_tomb(idxT, arrT, pairsT)
    truth_pairs = {1: _sorted_rows(read_batched(spark, pairsT, schema=PAIRS_S))}
    for b in range(1, N_BATCH):
        _incr_dedup_apply_batch(spark, idxT, arrT, pairsT, bdf(b), b)
        truth_pairs[b + 1] = _sorted_rows(read_batched(spark, pairsT, schema=PAIRS_S))
    assert len(truth_pairs[N_BATCH]) > len(truth_pairs[1])  # dups paired

    # --- chaos instance -------------------------------------------------
    idx, arr, pairs = f"{tmpdir}/idxC", f"{tmpdir}/arrC", f"{tmpdir}/pairsC"
    group = f"{tmpdir}/groupC"
    seed_and_tomb(idx, arr, pairs, group=group)
    committed = 1  # batches 0..committed-1 are checkpoint-committed
    crashed: int | None = None
    folded_idx = folded_arr = False

    def apply_full(b: int):
        _incr_dedup_apply_batch(
            spark, idx, arr, pairs, bdf(b), b, group_root=group
        )

    def check():
        # TRANSACTIONAL reads hold at EVERY step, torn windows included
        # (r10): the watermark is the committed prefix, and max_batch
        # excludes every uncommitted (crashed) trigger's dirs across
        # all three tables at once
        w = txn_watermark(group)
        assert w == committed - 1, (w, committed)
        got_t = _sorted_rows(
            read_batched(spark, pairs, schema=PAIRS_S, max_batch=w)
        )
        assert got_t == truth_pairs[committed], (
            "txn torn window", committed, crashed, len(got_t),
        )
        docs_in = {i for b in range(committed) for i, _ in batches[b]}
        arr_ids_t = sorted(
            r["doc_id"]
            for r in read_batched(
                spark, arr, partitioned=True, schema=_INCR_ARR_SCHEMA,
                max_batch=w,
            ).collect()
        )
        assert arr_ids_t == sorted(
            docs_in - (set(tomb_ids) if folded_arr else set())
        ), ("txn torn window: arrived", committed, crashed)
        idx_ids_t = {
            r["id"]
            for r in read_batched(
                spark, idx, partitioned=True, schema=_INCR_IDX_SCHEMA,
                max_batch=w,
            ).select("id").distinct().collect()
        }
        assert idx_ids_t == docs_in - (
            set(tomb_ids) if folded_idx else set()
        ), ("txn torn window: index", committed, crashed)
        if crashed is not None:
            return  # raw reads below: uncommitted partials are visible
        # by design until the replay heals them (pre-r10 convention)
        got = _sorted_rows(read_batched(spark, pairs, schema=PAIRS_S))
        assert got == truth_pairs[committed], (committed, len(got))
        arr_ids = sorted(
            r["doc_id"]
            for r in read_batched(
                spark, arr, partitioned=True, schema=_INCR_ARR_SCHEMA
            ).collect()
        )
        assert arr_ids == sorted(docs_in - (set(tomb_ids) if folded_arr else set()))
        idx_ids = {
            r["id"]
            for r in read_batched(
                spark, idx, partitioned=True, schema=_INCR_IDX_SCHEMA
            ).select("id").distinct().collect()
        }
        assert idx_ids == docs_in - (set(tomb_ids) if folded_idx else set())

    from mo_etl_spark import streaming as SS
    from mo_etl_spark.operators import dedup as D

    for step in range(20):
        op = rng.choice(
            ["apply", "apply", "crash", "late_replay",
             "fold_idx", "fold_arr", "compact_pairs",
             "rebucket_idx", "rebucket_arr", "fold_stale_watermark"]
        )
        if op == "apply":
            if crashed is not None:
                apply_full(crashed)  # the checkpoint replays the batch
                committed += 1
                crashed = None
            elif committed < N_BATCH:
                apply_full(committed)
                committed += 1
        elif op == "crash" and crashed is None and committed < N_BATCH:
            point = rng.choice(
                ["after_arrived", "after_index", "mid_pairs", "before_txn"]
            )
            with pytest.raises(PlantedCrash):
                _incr_dedup_apply_batch(
                    spark, idx, arr, pairs, bdf(committed), committed,
                    crash_point=point, group_root=group,
                )
            crashed = committed
        elif op == "late_replay" and committed > 1:
            apply_full(rng.randrange(1, committed))  # must be a no-op
        elif op == "fold_idx":
            compact_batched(
                spark, idx, min_dirs=0, partition_cols=["ib"],
                tombstone_col="id", gc_grace_sec=0.0,
                max_batch=txn_watermark(group),
            )
            folded_idx = True
        elif op == "fold_arr":
            compact_batched(
                spark, arr, min_dirs=0, partition_cols=["db"],
                tombstone_col="doc_id", gc_grace_sec=0.0,
                max_batch=txn_watermark(group),
            )
            folded_arr = True
        elif op == "compact_pairs":
            compact_batched(
                spark, pairs, min_dirs=0, gc_grace_sec=0.0,
                max_batch=txn_watermark(group),
            )
        elif op == "rebucket_idx":
            # r8 spec evolution under multi-table chaos: the index
            # re-buckets mid-schedule (fold included — maintenance
            # shape); later triggers AND crash replays write at the
            # grown spec while pre-rebucket dirs translate
            compact_batched(
                spark, idx, min_dirs=0, partition_cols=["ib"],
                tombstone_col="id", gc_grace_sec=0.0,
                max_batch=txn_watermark(group),
                transform=SS.rebucket_transform(
                    "ib", lambda n: D.band_bucket("band", "bk", n),
                    SS.current_spec(idx, 8), cap_rows=48,
                    prior_extra=SS.read_manifest_extra(idx),
                ),
            )
            folded_idx = True
        elif op == "rebucket_arr":
            compact_batched(
                spark, arr, min_dirs=0, partition_cols=["db"],
                tombstone_col="doc_id", gc_grace_sec=0.0,
                max_batch=txn_watermark(group),
                transform=SS.rebucket_transform(
                    "db", lambda n: F.pmod("doc_id", F.lit(n)),
                    SS.current_spec(arr, 8), cap_rows=8,
                    prior_extra=SS.read_manifest_extra(arr),
                ),
            )
            folded_arr = True
        elif op == "fold_stale_watermark":
            # r10 lead: maintenance RACING a commit — the compactor
            # resolved the watermark one transaction before the latest
            # landed.  The guard's direction is safe by construction
            # (consume FEWER batches, never an uncommitted one), and
            # every transactional read below must stay exact with the
            # latest batch left live-unconsumed.
            w = txn_watermark(group)
            stale = (w - 1) if w is not None and w > 0 else w
            compact_batched(
                spark, idx, min_dirs=0, partition_cols=["ib"],
                tombstone_col="id", gc_grace_sec=0.0, max_batch=stale,
            )
            folded_idx = True
        check()
    # drain: heal any crash, apply the rest, final full check
    if crashed is not None:
        apply_full(crashed)
        committed += 1
        crashed = None
    while committed < N_BATCH:
        apply_full(committed)
        committed += 1
    check()
    assert committed == N_BATCH


def test_txn_protocol_monotone_and_fold_guard(spark, tmpdir):
    """Cross-table txn protocol unit pins (r10): the watermark is
    monotone under late replays, the seed commit is -1 (bases visible,
    no batches), transactional reads exclude uncommitted batch dirs,
    and a fold given the watermark refuses to consume a
    complete-looking dir above it — the exact leak that would make a
    torn window permanent."""
    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/t1"
    group = f"{tmpdir}/g"
    schema = "k BIGINT"

    def write(lo, hi, b):
        S.idempotent_batch_write(
            spark.range(lo, hi).select(F.col("id").alias("k")), root, b
        )

    assert S.txn_watermark(group) is None
    assert S.txn_commit(group, -1, {"t": root}) == -1   # seed commit
    write(0, 10, 0)
    assert S.txn_commit(group, 0, {"t": root}) == 0
    vec = S.txn_vector(group)
    assert vec["txn"] == 0 and vec["tables"]["t"]["root"] == root

    # batch 1 written COMPLETE but not committed: invisible to txn
    # readers, visible raw
    write(10, 15, 1)
    w = S.txn_watermark(group)
    assert w == 0
    assert S.read_batched(spark, root, schema=schema, max_batch=w).count() == 10
    assert S.read_batched(spark, root, schema=schema).count() == 15

    # the fold at the watermark must NOT consume b1 (complete or not)
    S.compact_batched(spark, root, min_dirs=0, gc_grace_sec=0.0, max_batch=w)
    man = S._read_manifest(root)
    assert "b0" in man["consumed"] and "b1" not in man["consumed"]
    assert S.read_batched(spark, root, schema=schema, max_batch=w).count() == 10
    assert S.read_batched(spark, root, schema=schema).count() == 15

    # commit heals: watermark advances, txn read now includes b1
    assert S.txn_commit(group, 1, {"t": root}) == 1
    assert (
        S.read_batched(spark, root, schema=schema, max_batch=1).count() == 15
    )
    # late replay of batch 0 never regresses the watermark
    write(0, 10, 0)
    assert S.txn_commit(group, 0, {"t": root}) == 1
    assert S.txn_watermark(group) == 1
    # history entries exist for group time travel
    assert os.path.exists(f"{group}/_TXN.t0")
    assert os.path.exists(f"{group}/_TXN.t1")


def test_seed_batched_external_base_zero_copy(spark, tmpdir):
    """VERDICT r7 item #6: seeding a batched table is a MANIFEST
    REFERENCE to the shared snapshot (shallow-clone gen-0), not a file
    copy.  Readers resolve the external base like any generation;
    upserts land as siblings; compaction consolidates into a
    root-local generation, records the snapshot under its absolute
    path, and NEVER deletes it (even at gc_grace_sec=0) — so one
    snapshot can seed many tables concurrently."""
    import os

    from mo_etl_spark.streaming import (
        append_tombstones,
        compact_batched,
        idempotent_batch_write,
        read_batched,
        seed_batched,
    )

    snap = f"{tmpdir}/shared_snap"
    spark.range(10).select(
        F.col("id"), F.pmod("id", F.lit(4)).alias("ib")
    ).repartition(F.col("ib")).write.mode("overwrite").partitionBy("ib").parquet(snap)
    t1, t2 = f"{tmpdir}/t1", f"{tmpdir}/t2"
    seed_batched(t1, snap)
    seed_batched(t2, snap)
    assert not os.path.exists(os.path.join(t1, "base"))  # no copy
    rows = lambda t: sorted(
        r["id"] for r in read_batched(spark, t, partitioned=True).collect()
    )
    assert rows(t1) == list(range(10)) and rows(t2) == list(range(10))

    # sibling upsert + a tombstone, then consolidate t1 locally
    idempotent_batch_write(
        spark.range(10, 14).select(F.col("id"), F.pmod("id", F.lit(4)).alias("ib")),
        t1, 0, partition_cols=["ib"],
    )
    append_tombstones(spark.createDataFrame([(3,)], "id BIGINT"), t1)
    assert compact_batched(
        spark, t1, min_dirs=0, partition_cols=["ib"],
        tombstone_col="id", gc_grace_sec=0.0,
    ) > 0
    assert rows(t1) == sorted(set(range(14)) - {3})
    # the shared snapshot survives t1's zero-grace vacuum, t2 unharmed
    assert os.path.exists(os.path.join(snap, "_SUCCESS"))
    assert rows(t2) == list(range(10))
    # and a SECOND compaction of t1 (manifest now lists the abs path
    # as consumed forever) still never touches the snapshot
    idempotent_batch_write(
        spark.range(14, 16).select(F.col("id"), F.pmod("id", F.lit(4)).alias("ib")),
        t1, 1, partition_cols=["ib"],
    )
    assert compact_batched(
        spark, t1, min_dirs=0, partition_cols=["ib"], gc_grace_sec=0.0
    ) > 0
    assert rows(t1) == sorted(set(range(16)) - {3})
    assert os.path.exists(os.path.join(snap, "_SUCCESS"))
    assert rows(t2) == list(range(10))


def test_ivf_retract_pre_and_post_fold_serves_equal(spark, sf_dir):
    """stream_real_ivf_retract (r8): the serve with PENDING tombstones
    (broadcast anti-join above the probed-cell-pruned scans) must
    equal the serve after the maintenance fold (dead vectors
    physically dropped + hot cells re-split in the same rewrite, map
    committed atomically) — retraction is visible from trigger 0 and
    the fold can never change answers.  Also pins that a retracted
    vector appears in NO result and, post-fold, in NO index row."""
    from mo_etl_spark.operators import similarity as S
    from mo_etl_spark.streaming import (
        compact_batched,
        has_tombstones,
        read_batched,
    )
    from mo_etl_spark.suites.streaming_real import (
        _grow_ivf_index,
        _ivf_pruned_serve,
        _scratch,
    )
    from mo_etl_spark.tables import load_table

    prov, cap_rows = 2, 512
    emb_all = load_table(spark, sf_dir, "embeddings")
    deleted = emb_all.where(F.pmod("vec_id", F.lit(41)) == 0).select(
        F.col("vec_id").alias("c_id")
    )
    dead_ids = {r["c_id"] for r in deleted.collect()}
    assert dead_ids  # the plant has victims at this sf
    idx_dir = _scratch("ivf_retract_test_index")
    emb, cents = _grow_ivf_index(
        spark, sf_dir, idx_dir, _scratch("ivf_retract_test_ckpt"),
        prov=prov, tombstones=deleted,
    )
    queries = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    assert has_tombstones(idx_dir)
    pre = sorted(
        map(tuple, _ivf_pruned_serve(spark, idx_dir, cents, queries, prov=prov).collect())
    )
    compact_batched(
        spark, idx_dir, min_dirs=0, partition_cols=["cell", "sub"],
        transform=S.ann_resplit_transform(cap_rows), tombstone_col="c_id",
    )
    assert not has_tombstones(idx_dir)
    post = sorted(
        map(tuple, _ivf_pruned_serve(spark, idx_dir, cents, queries, prov=prov).collect())
    )
    assert pre == post
    assert not any(r[1] in dead_ids for r in post)  # no dead neighbors
    left = read_batched(
        spark, idx_dir, partitioned=True,
        schema="c_id BIGINT, vec ARRAY<FLOAT>, cell BIGINT, sub INT",
    ).where(F.col("c_id").isin(sorted(dead_ids)))
    assert left.count() == 0  # physically erased


# ---------------------------------------------------------------------------
# partition-spec evolution (r8): online re-bucketing of probe-key tables


def test_spec_values_translation():
    """spec_values is exact in both directions of the doubling lattice
    and refuses (None -> unpruned) incompatible spec pairs."""
    from mo_etl_spark.streaming import spec_values

    assert spec_values([3, 7, 7], 8, 8) == [3, 7]
    # coarser dir: v % m (dedup'd)
    assert spec_values([3, 7, 11], 16, 4) == [3]
    assert spec_values([1, 6], 8, 2) == [0, 1]
    # finer dir: every residue mod n_to consistent with v mod n_from
    assert spec_values([3], 4, 8) == [3, 7]
    assert spec_values([1], 2, 8) == [1, 3, 5, 7]
    # incompatible (non-doubling) specs: scan unpruned
    assert spec_values([1], 6, 4) is None


def _spec_ib(n):
    return F.pmod(F.xxhash64("k"), F.lit(int(n)))


def _spec_vals(spark, keys, n):
    return sorted(
        r["v"]
        for r in spark.createDataFrame([(int(k),) for k in keys], "k BIGINT")
        .select(_spec_ib(n).alias("v"))
        .distinct()
        .collect()
    )


_SPEC_SCHEMA = "k BIGINT, v BIGINT, ib BIGINT"


def _spec_batch(spark, root, lo, hi, batch_id, n, stamp=True):
    from mo_etl_spark import streaming as S

    df = (
        spark.range(lo, hi)
        .select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        .withColumn("ib", _spec_ib(n))
    )
    S.idempotent_batch_write(df, root, batch_id, partition_cols=["ib"])
    if stamp:
        S.stamp_spec(root, batch_id, n)


def test_rebucket_grows_spec_and_preserves_probes(spark, tmpdir):
    """The adaptive re-bucket doubles the committed spec until the
    hottest bucket fits the cap, rewrites the rows under the new
    layout atomically, and probes return identical results before and
    after — layout evolution is invisible to queries."""
    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/spec_tbl"
    n0 = 2
    for b in range(6):
        _spec_batch(spark, root, b * 64, (b + 1) * 64, b, n0)
    probe_keys = [3, 77, 200, 333]

    def probe():
        n_cur = S.current_spec(root, n0)
        got = S.read_batched_pruned(
            spark, root, "ib", _spec_vals(spark, probe_keys, n_cur), n_cur,
            _SPEC_SCHEMA,
        )
        return sorted(
            (r["k"], r["v"])
            for r in got.where(F.col("k").isin(probe_keys)).collect()
        )

    before = probe()
    assert before == [(k, k * 10) for k in sorted(probe_keys)]
    groups = S.compact_batched(
        spark,
        root,
        min_dirs=0,
        partition_cols=["ib"],
        gc_grace_sec=0,
        transform=S.rebucket_transform(
            "ib", _spec_ib, n0, cap_rows=32,
            prior_extra=S.read_manifest_extra(root),
        ),
    )
    assert groups > 0
    n_new = S.current_spec(root, n0)
    assert n_new > n0 and n_new % n0 == 0
    # the rewritten base really is laid out under the new spec, and
    # the hottest bucket is within the doubling estimate of the cap
    base = spark.read.parquet(f"{root}/base1")
    mx = base.groupBy("ib").count().agg(F.max("count").alias("m")).first()["m"]
    assert mx <= 64  # cap 32, halving estimate: real max < 2x cap
    assert probe() == before
    # a no-growth maintenance pass keeps the spec (extra carried)
    _spec_batch(spark, root, 600, 664, 90, n_new)
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=0,
    )
    assert S.current_spec(root, n0) == n_new


def test_spec_mixed_window_and_unstamped_dirs_read_exactly(spark, tmpdir):
    """The writer-in-flight race: a batch computed under the OLD spec
    lands AFTER the re-bucket commit (its stamp says so) — per-dir
    value translation prunes it exactly.  A dir with NO stamp (crash
    between write and stamp) is scanned unpruned — present, never
    dropped."""
    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/spec_mixed"
    n0 = 2
    for b in range(4):
        _spec_batch(spark, root, b * 64, (b + 1) * 64, b, n0)
    S.compact_batched(
        spark,
        root,
        min_dirs=0,
        partition_cols=["ib"],
        gc_grace_sec=0,
        transform=S.rebucket_transform(
            "ib", _spec_ib, n0, cap_rows=16,
            prior_extra=S.read_manifest_extra(root),
        ),
    )
    n_new = S.current_spec(root, n0)
    assert n_new > n0
    # in-flight writer: values computed at n0, stamped n0
    _spec_batch(spark, root, 1000, 1064, 50, n0)
    # crashed-before-stamp writer: values at n_new, NO stamp
    _spec_batch(spark, root, 2000, 2064, 51, n_new, stamp=False)
    probe_keys = [3, 130, 1003, 1050, 2007, 2063]
    got = S.read_batched_pruned(
        spark, root, "ib", _spec_vals(spark, probe_keys, n_new), n_new,
        _SPEC_SCHEMA,
    )
    rows = sorted(
        (r["k"], r["v"])
        for r in got.where(F.col("k").isin(probe_keys)).collect()
    )
    assert rows == [(k, k * 10) for k in sorted(probe_keys)]


def test_stamp_spec_keep_existing_and_replay(spark, tmpdir):
    """stamp_spec keeps an existing marker (it describes the bytes on
    disk — the complete-dir replay no-op never rewrote them), and a
    genuine rewrite (torn dir, no _SUCCESS) re-stamps with the
    replayer's spec."""
    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/spec_stamp"
    _spec_batch(spark, root, 0, 8, 0, 2)
    assert S.dir_spec(f"{root}/b0") == 2
    S.stamp_spec(root, 0, 4)  # late replay no-ops: marker kept
    assert S.dir_spec(f"{root}/b0") == 2
    # torn dir: marker gone with the overwrite, replay re-stamps
    os.remove(f"{root}/b0/_SUCCESS")
    _spec_batch(spark, root, 0, 8, 0, 4)
    assert S.dir_spec(f"{root}/b0") == 4


@pytest.mark.parametrize("seed", [11, 23])
def test_spec_evolution_model_property(spark, tmpdir, seed):
    """Model-based property check of PARTITION-SPEC EVOLUTION (r8):
    seeded-random op sequences interleave spec-doubling re-buckets
    with writers at the CURRENT spec, writers at a STALE spec (read
    the manifest before the last commit — the in-flight window),
    crash-before-stamp writers (unstamped dirs), torn replays
    re-stamped at a newer spec, and plain compactions that must carry
    the spec forward.  After every step a spec-aware probe of a random
    key subset must return each live probed key EXACTLY once — a
    missing key is a pruning false negative (the translation dropped a
    dir), a doubled key is a double-read."""
    import random

    from mo_etl_spark import streaming as S

    rng = random.Random(seed)
    root = f"{tmpdir}/specmodel{seed}"
    n0 = 2
    model: dict[int, list[int]] = {}  # batch_id -> keys
    spec_history = [n0]
    next_key = 0
    next_batch = 0

    def ib(n):
        return F.pmod(F.xxhash64("k"), F.lit(int(n)))

    def write(bid, keys, n, stamp=True):
        df = spark.createDataFrame([(k,) for k in keys], "k BIGINT").withColumn(
            "ib", ib(n)
        )
        S.idempotent_batch_write(df, root, bid, partition_cols=["ib"])
        if stamp:
            S.stamp_spec(root, bid, n)

    def live() -> set[int]:
        return {k for ks in model.values() for k in ks}

    def check():
        cur = live()
        if not cur:
            return
        probe = rng.sample(sorted(cur), min(5, len(cur)))
        n_cur = S.current_spec(root, n0)
        vals = sorted(
            r["v"]
            for r in spark.createDataFrame([(k,) for k in probe], "k BIGINT")
            .select(ib(n_cur).alias("v"))
            .distinct()
            .collect()
        )
        sch = (
            "k BIGINT, q DOUBLE, ib BIGINT" if evolved else "k BIGINT, ib BIGINT"
        )
        got = [
            r["k"]
            for r in S.read_batched_pruned(spark, root, "ib", vals, n_cur, sch)
            .where(F.col("k").isin(probe))
            .collect()
        ]
        assert sorted(got) == sorted(probe), (sorted(got), sorted(probe))

    evolved = False  # becomes True once a batch carries the q column

    for step in range(20):
        op = rng.choice(
            ["write", "write_stale", "write_unstamped", "torn_replay",
             "rebucket", "compact_plain", "write_evolved"]
        )
        n_now = S.current_spec(root, n0)
        if op == "write" or not model:
            keys = list(range(next_key, next_key + rng.randint(2, 8)))
            next_key += len(keys)
            model[next_batch] = keys
            write(next_batch, keys, n_now)
            next_batch += 1
        elif op == "write_stale":
            # a writer that resolved the spec BEFORE the last rebucket
            # commit: values computed (and stamped) at the stale spec
            keys = list(range(next_key, next_key + rng.randint(2, 6)))
            next_key += len(keys)
            model[next_batch] = keys
            write(next_batch, keys, rng.choice(spec_history))
            next_batch += 1
        elif op == "write_unstamped":
            keys = list(range(next_key, next_key + rng.randint(2, 6)))
            next_key += len(keys)
            model[next_batch] = keys
            write(next_batch, keys, n_now, stamp=False)
            next_batch += 1
        elif op == "torn_replay":
            batches = [b for b in model if os.path.isdir(f"{root}/b{b}")]
            if batches:
                b = rng.choice(batches)
                try:
                    os.remove(f"{root}/b{b}/_SUCCESS")
                except OSError:
                    continue
                # the replayer recomputes under the spec IT reads now
                write(b, model[b], n_now)
        elif op == "rebucket":
            cap = rng.choice([4, 8, 16])
            S.compact_batched(
                spark, root, min_dirs=0, partition_cols=["ib"],
                gc_grace_sec=0.0,
                transform=S.rebucket_transform(
                    "ib", ib, n_now, cap_rows=cap,
                    prior_extra=S.read_manifest_extra(root),
                ),
            )
            model = {-1: sorted(live())}
            n_after = S.current_spec(root, n0)
            if n_after not in spec_history:
                spec_history.append(n_after)
        elif op == "compact_plain":
            S.compact_batched(
                spark, root, min_dirs=0, partition_cols=["ib"],
                gc_grace_sec=0.0,
            )
            model = {-1: sorted(live())}
            # spec must carry forward unchanged
            assert S.current_spec(root, n0) == n_now
        elif op == "write_evolved":
            # ADDITIVE SCHEMA EVOLUTION interleaved with spec ops: the
            # batch carries an extra column; older dirs null-fill and
            # every later compaction (plain, rebucket, mixed-spec)
            # must consolidate to the union schema without dropping a
            # key
            keys = list(range(next_key, next_key + rng.randint(2, 5)))
            next_key += len(keys)
            model[next_batch] = keys
            df = spark.createDataFrame(
                [(k, float(k)) for k in keys], "k BIGINT, q DOUBLE"
            ).withColumn("ib", ib(n_now))
            S.idempotent_batch_write(df, root, next_batch, partition_cols=["ib"])
            S.stamp_spec(root, next_batch, n_now)
            next_batch += 1
            evolved = True
        check()


def test_schema_evolution_additive_across_generations(spark, tmpdir):
    """ADDITIVE SCHEMA EVOLUTION (r8): a long-lived state table gains
    a column mid-life.  Old batches lack it; reads fill null; BOTH
    compaction shapes (probe-key partitioned and binpack) consolidate
    mixed-schema generations into the union schema; rows written
    before the addition read back with null, after with their value —
    across the rewrite."""
    from mo_etl_spark import streaming as S

    # partitioned shape
    root = f"{tmpdir}/evo_part"
    S.idempotent_batch_write(
        spark.createDataFrame([(1, 0), (2, 1)], "k BIGINT, ib BIGINT"),
        root, 0, partition_cols=["ib"],
    )
    # the schema change: later batches carry a quality score
    S.idempotent_batch_write(
        spark.createDataFrame(
            [(3, 0, 0.9), (4, 1, 0.2)], "k BIGINT, ib BIGINT, q DOUBLE"
        ),
        root, 1, partition_cols=["ib"],
    )
    full = "k BIGINT, q DOUBLE, ib BIGINT"

    def snap():
        return sorted(
            (r["k"], r["q"])
            for r in S.read_batched(
                spark, root, partitioned=True, schema=full
            ).collect()
        )

    want = [(1, None), (2, None), (3, 0.9), (4, 0.2)]
    assert snap() == want
    # schemaless read also resolves the union schema (mergeSchema /
    # allowMissingColumns), not whichever footer came first
    cols = set(
        S.read_batched(spark, root, partitioned=True).columns
    )
    assert cols == {"k", "q", "ib"}
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=0.0
    )
    assert snap() == want  # union schema survived the consolidation
    # and a later full-schema batch unions cleanly with the new base
    S.idempotent_batch_write(
        spark.createDataFrame([(5, 0, 0.5)], "k BIGINT, ib BIGINT, q DOUBLE"),
        root, 2, partition_cols=["ib"],
    )
    assert snap() == want + [(5, 0.5)]

    # binpack shape (flat layout, no partition cols)
    root2 = f"{tmpdir}/evo_flat"
    S.idempotent_batch_write(
        spark.createDataFrame([(1,), (2,)], "k BIGINT"), root2, 0
    )
    S.idempotent_batch_write(
        spark.createDataFrame([(3, "en")], "k BIGINT, lang STRING"), root2, 1
    )
    S.compact_batched(spark, root2, min_dirs=0, gc_grace_sec=0.0)
    got = sorted(
        (r["k"], r["lang"])
        for r in S.read_batched(
            spark, root2, schema="k BIGINT, lang STRING"
        ).collect()
    )
    assert got == [(1, None), (2, None), (3, "en")]


def test_rebucket_composes_with_tombstone_fold(spark, tmpdir):
    """One rewrite does BOTH lifecycle jobs (the dedup twin of the ANN
    retract+resplit composition): the fold drops retracted keys, the
    transform re-buckets the survivors, and the new spec + retained
    rows commit atomically.  Probes afterwards: dead keys gone,
    survivors exact, spec grown."""
    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/spec_tomb"
    n0 = 2
    for b in range(4):
        _spec_batch(spark, root, b * 64, (b + 1) * 64, b, n0)
    dead = [0, 7, 130, 200]
    S.append_tombstones(
        spark.createDataFrame([(k,) for k in dead], "k BIGINT"), root
    )
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=0.0,
        tombstone_col="k",
        transform=S.rebucket_transform(
            "ib", _spec_ib, n0, cap_rows=16,
            prior_extra=S.read_manifest_extra(root),
        ),
    )
    n_new = S.current_spec(root, n0)
    assert n_new > n0
    assert not S.has_tombstones(root)
    probe = [0, 7, 130, 200, 3, 77, 255]
    got = sorted(
        r["k"]
        for r in S.read_batched_pruned(
            spark, root, "ib", _spec_vals(spark, probe, n_new), n_new,
            _SPEC_SCHEMA,
        )
        .where(F.col("k").isin(probe))
        .collect()
    )
    assert got == [3, 77, 255]  # survivors exact, dead gone
    # physically gone, not just pruned away
    assert (
        S.read_batched(spark, root, partitioned=True, schema=_SPEC_SCHEMA)
        .where(F.col("k").isin(dead))
        .count()
        == 0
    )


def test_rebucket_concurrent_with_writer_mixed_window(spark, tmpdir):
    """The REAL async spec race (the threaded form of the model's
    write_stale op): a re-bucketing compactor pauses mid-build while a
    live writer lands batches at the still-committed OLD spec; the
    commit then flips the manifest to the new spec with those batches
    live beside the new base (they were not in the compactor's
    snapshot).  A reader DURING the pause sees the old generation
    intact; a spec-aware probe AFTER the commit translates per dir and
    returns every key exactly once."""
    import threading

    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/spec_race"
    n0 = 2
    for b in range(4):
        _spec_batch(spark, root, b * 64, (b + 1) * 64, b, n0)

    entered = threading.Event()
    release = threading.Event()

    def paused_rebucket(df):
        inner = S.rebucket_transform(
            "ib", _spec_ib, n0, cap_rows=16,
            prior_extra=S.read_manifest_extra(root),
        )
        out = inner(df)
        entered.set()
        release.wait(180)
        return out

    result: dict = {}

    def run():
        result["n"] = S.compact_batched(
            spark, root, min_dirs=0, partition_cols=["ib"],
            gc_grace_sec=3600.0, transform=paused_rebucket,
        )

    t = threading.Thread(target=run, daemon=True)
    t.start()
    assert entered.wait(120)
    # the writer's trigger: resolves the COMMITTED spec (still n0 —
    # the build has not committed), writes and stamps under it
    assert S.current_spec(root, n0) == n0
    _spec_batch(spark, root, 1000, 1064, 50, S.current_spec(root, n0))
    # a reader during the build sees everything, unpruned state intact
    mid = sorted(
        r["k"]
        for r in S.read_batched(
            spark, root, partitioned=True, schema=_SPEC_SCHEMA
        ).collect()
    )
    assert mid == list(range(256)) + list(range(1000, 1064))
    release.set()
    t.join(180)
    assert result.get("n", 0) > 0
    n_new = S.current_spec(root, n0)
    assert n_new > n0
    # the in-flight batch was NOT consumed (written after the
    # compactor's snapshot) — it is live beside the new base at the
    # old spec: the mixed window, probed exactly via translation
    assert S.dir_spec(f"{root}/b50") == n0
    probe = [3, 130, 255, 1000, 1063]
    got = sorted(
        r["k"]
        for r in S.read_batched_pruned(
            spark, root, "ib", _spec_vals(spark, probe, n_new), n_new,
            _SPEC_SCHEMA,
        )
        .where(F.col("k").isin(probe))
        .collect()
    )
    assert got == sorted(probe)


def test_time_travel_and_rollback(spark, tmpdir):
    """TIME TRAVEL + ROLLBACK (r8, the Iceberg metadata-log twin):
    every commit appends an immutable per-generation manifest to the
    log; read_batched_at(gen) reads that generation's consolidated
    base while retention holds it; rollback commits FORWARD to the old
    base (history is never rewritten), carrying its extra (the
    partition spec rides along) and consuming the rolled-back dirs;
    vacuumed generations raise the NAMED SnapshotVacuumed."""
    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/tt"
    n0 = 2
    GRACE = 3600.0
    for b in range(2):
        _spec_batch(spark, root, b * 64, (b + 1) * 64, b, n0)
    # gen1: plain consolidation of keys 0..127
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=GRACE
    )
    _spec_batch(spark, root, 128, 192, 2, S.current_spec(root, n0))
    # gen2: re-bucketed consolidation of 0..191 minus retracted {5}
    S.append_tombstones(spark.createDataFrame([(5,)], "k BIGINT"), root)
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=GRACE,
        tombstone_col="k",
        transform=S.rebucket_transform(
            "ib", _spec_ib, S.current_spec(root, n0), cap_rows=16,
            prior_extra=S.read_manifest_extra(root),
        ),
    )
    n2 = S.current_spec(root, n0)
    assert n2 > n0
    log = S.read_manifest_log(root)
    assert {1, 2} <= set(log)

    def keys_at(gen):
        return sorted(
            r["k"]
            for r in S.read_batched_at(spark, root, gen, _SPEC_SCHEMA).collect()
        )

    assert keys_at(1) == list(range(128))          # retraction not yet folded
    assert keys_at(2) == [k for k in range(192) if k != 5]
    with pytest.raises(S.SnapshotVacuumed):
        S.read_batched_at(spark, root, 99, _SPEC_SCHEMA)
    # ROLLBACK to gen1: live reads show gen1's rows, spec restored
    new_gen = S.rollback_batched(root, 1)
    assert new_gen == 3
    live = sorted(
        r["k"]
        for r in S.read_batched(
            spark, root, partitioned=True, schema=_SPEC_SCHEMA
        ).collect()
    )
    assert live == list(range(128))
    assert S.current_spec(root, n0) == n0  # gen1's extra carried back
    # life goes on: a new batch + compaction on top of the rollback
    _spec_batch(spark, root, 500, 532, 9, S.current_spec(root, n0))
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=GRACE
    )
    live = sorted(
        r["k"]
        for r in S.read_batched(
            spark, root, partitioned=True, schema=_SPEC_SCHEMA
        ).collect()
    )
    assert live == list(range(128)) + list(range(500, 532))
    # gen2 is STILL travelable within grace (rollback never rewrites)
    assert keys_at(2) == [k for k in range(192) if k != 5]
    # vacuum: zero-grace compaction reclaims old bases -> named error
    _spec_batch(spark, root, 600, 616, 10, S.current_spec(root, n0))
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=0.0
    )
    S.compact_batched(  # second pass deletes now-expired victims
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=0.0
    )
    with pytest.raises(S.SnapshotVacuumed):
        S.read_batched_at(spark, root, 2, _SPEC_SCHEMA)


def test_rollback_to_external_seed_generation(spark, tmpdir):
    """Rollback to generation 0 of a ZERO-COPY seeded table: the
    restored base is the shared external snapshot (absolute manifest
    reference) — readable, never owned, never deleted by the
    rolled-forward table's GC."""
    from mo_etl_spark import streaming as S

    snap = f"{tmpdir}/shared_snap"
    spark.createDataFrame(
        [(k, k * 10, k % 2) for k in range(8)], _SPEC_SCHEMA
    ).write.mode("overwrite").partitionBy("ib").parquet(snap)
    root = f"{tmpdir}/seeded"
    S.seed_batched(root, snap, extra={"spec_n": 2})
    _spec_batch(spark, root, 100, 132, 0, 2)
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=3600.0
    )
    assert S.rollback_batched(root, 0) == 2
    live = sorted(
        r["k"]
        for r in S.read_batched(
            spark, root, partitioned=True, schema=_SPEC_SCHEMA
        ).collect()
    )
    assert live == list(range(8))  # the snapshot alone
    assert S.current_spec(root, 99) == 2  # seed extra restored
    # travel both ways still works; b0 never reappears (consumed)
    at1 = sorted(
        r["k"] for r in S.read_batched_at(spark, root, 1, _SPEC_SCHEMA).collect()
    )
    assert at1 == list(range(8)) + list(range(100, 132))
    # GC after the rollback never touches the shared snapshot
    _spec_batch(spark, root, 200, 208, 5, 2)
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=0.0
    )
    assert os.path.exists(os.path.join(snap, "_SUCCESS"))


def test_maintain_batched_auto_rebuckets_under_growth(spark, tmpdir):
    """maintain_batched(rebucket=) owns spec growth the way it owns
    dir-count pressure: when a maintenance pass triggers and the
    hottest bucket has outgrown the cap, the SAME rewrite doubles the
    spec; below the cap the pass is layout-preserving."""
    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/auto_rebucket"
    n0 = 2
    for b in range(6):
        _spec_batch(spark, root, b * 64, (b + 1) * 64, b, n0)
    reb = ("ib", _spec_ib, n0, 32)
    # below dir pressure: no-op, spec unchanged
    assert (
        S.maintain_batched(
            spark, root, max_dirs=16, partition_cols=["ib"],
            gc_grace_sec=0.0, rebucket=reb,
        )
        == 0
    )
    assert S.current_spec(root, n0) == n0
    # dir pressure + outgrown cap: one pass compacts AND re-buckets
    assert (
        S.maintain_batched(
            spark, root, max_dirs=4, partition_cols=["ib"],
            gc_grace_sec=0.0, rebucket=reb,
        )
        > 0
    )
    n_new = S.current_spec(root, n0)
    assert n_new > n0
    # next pressure pass with room under the cap: spec carried
    for b in range(20, 25):
        _spec_batch(spark, root, 1000 + b * 8, 1008 + b * 8, b, n_new)
    assert (
        S.maintain_batched(
            spark, root, max_dirs=4, partition_cols=["ib"],
            gc_grace_sec=0.0, rebucket=("ib", _spec_ib, n0, 1 << 20),
        )
        > 0
    )
    assert S.current_spec(root, n0) == n_new
    with pytest.raises(ValueError):
        S.maintain_batched(
            spark, root, partition_cols=["ib"], rebucket=reb,
            transform=lambda df: df,
        )


def test_concurrent_readers_across_rollbacks(spark, tmpdir):
    """Rollback is just another manifest commit, so the reader
    guarantee must hold across it identically: readers hammering
    read_batched while the table oscillates compact → rollback →
    compact must always see exactly ONE committed state's rows —
    grace-retained victims keep every in-flight generation readable,
    and no interleaving shows a partial or doubled set."""
    import threading

    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/rbread"
    for b in range(4):
        S.idempotent_batch_write(
            spark.range(b * 10, b * 10 + 10).select(F.col("id").alias("v")),
            root, b,
        )
    S.compact_batched(
        spark, root, min_dirs=0, target_bytes=1 << 20, gc_grace_sec=3600.0
    )  # gen1: 0..39
    S.idempotent_batch_write(
        spark.range(100, 110).select(F.col("id").alias("v")), root, 9
    )
    S.compact_batched(
        spark, root, min_dirs=0, target_bytes=1 << 20, gc_grace_sec=3600.0
    )  # gen2: 0..39 + 100..109
    set1 = sorted(range(40))
    set2 = sorted(range(40)) + list(range(100, 110))
    valid = {tuple(set1), tuple(set2)}
    errors: list = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                got = tuple(
                    sorted(
                        r["v"]
                        for r in S.read_batched(
                            spark, root, schema="v BIGINT"
                        ).collect()
                    )
                )
                if got not in valid:
                    errors.append(("rows", len(got)))
                    return
            except Exception as e:  # noqa: BLE001 - recorded for assert
                errors.append(("exc", repr(e)))
                return

    threads = [threading.Thread(target=reader) for _ in range(2)]
    for t in threads:
        t.start()
    try:
        for _ in range(3):
            S.rollback_batched(root, 1)
            S.rollback_batched(root, 2)
    finally:
        stop.set()
        for t in threads:
            t.join(60)
    assert not errors, errors
    got = sorted(
        r["v"] for r in S.read_batched(spark, root, schema="v BIGINT").collect()
    )
    assert got == set2


def test_rollback_is_lease_guarded(spark, tmpdir):
    """rollback_batched is a commit like any other: while a live
    compactor holds the lease it aborts with the NAMED CompactorBusy,
    and a rollback that reclaims an EXPIRED lease mid-build bumps the
    generation so the zombie's CAS-on-gen aborts its commit — the
    rollback wins, the build is discarded, rows stay exact."""
    import threading
    import time as _t

    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/rb_lease"
    for b in range(3):
        S.idempotent_batch_write(
            spark.range(b * 10, b * 10 + 10).select(
                F.col("id").alias("v"), (F.col("id") % 4).alias("ib")
            ),
            root, b, partition_cols=["ib"],
        )
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=3600.0
    )  # gen1: 0..29
    S.idempotent_batch_write(
        spark.range(100, 110).select(
            F.col("id").alias("v"), (F.col("id") % 4).alias("ib")
        ),
        root, 9, partition_cols=["ib"],
    )

    entered = threading.Event()
    release = threading.Event()
    result: dict = {}

    def paused(df):
        entered.set()
        release.wait(180)
        return df

    def run_paused(ttl):
        try:
            result["n"] = S.compact_batched(
                spark, root, min_dirs=0, partition_cols=["ib"],
                gc_grace_sec=3600.0, transform=paused, lease_ttl_sec=ttl,
            )
        except S.CompactorBusy as e:
            result["busy"] = str(e)
        except Exception as e:  # noqa: BLE001 - recorded for assert
            result["error"] = repr(e)

    # 1. live unexpired holder: rollback aborts NAMED
    th = threading.Thread(target=run_paused, args=(3600.0,), daemon=True)
    th.start()
    assert entered.wait(120), result
    with pytest.raises(S.CompactorBusy):
        S.rollback_batched(root, 1)
    release.set()
    th.join(180)
    assert result.get("n", 0) > 0, result  # the holder committed (gen2)

    # 2. expired holder: rollback reclaims the lease mid-build; the
    # zombie's commit CAS-aborts NAMED and its build is discarded
    entered.clear()
    release.clear()
    result.clear()
    S.idempotent_batch_write(
        spark.range(200, 210).select(
            F.col("id").alias("v"), (F.col("id") % 4).alias("ib")
        ),
        root, 10, partition_cols=["ib"],
    )
    th = threading.Thread(target=run_paused, args=(0.2,), daemon=True)
    th.start()
    assert entered.wait(120), result
    _t.sleep(0.3)  # let the lease lapse
    new_gen = S.rollback_batched(root, 1)
    release.set()
    th.join(180)
    assert "busy" in result, result  # named abort, never raw
    live = sorted(
        r["v"]
        for r in S.read_batched(
            spark, root, partitioned=True, schema="v BIGINT, ib BIGINT"
        ).collect()
    )
    assert live == sorted(range(30))  # gen1 restored, zombie discarded
    assert S._read_manifest(root)["gen"] == new_gen


def test_rebucket_no_growth_normalizes_stale_spec_rows(spark, tmpdir):
    """ADVICE r8 (medium): a NO-GROWTH rebucket compaction must still
    recompute the bucket column over every retained row.  The union
    being rewritten can contain an old-spec in-flight batch (the
    writer-in-flight-during-commit window the read path tolerates);
    carried verbatim into a base stamped with the current spec, those
    rows would be pruned away by spec-translated probes — silent false
    negatives.  The fix recomputes unconditionally."""
    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/spec_stale"
    n_cur = 4
    _spec_batch(spark, root, 0, 64, 0, n_cur)
    _spec_batch(spark, root, 64, 128, 1, n_cur)
    # the in-flight straggler: written (and stamped) under the OLD spec
    _spec_batch(spark, root, 128, 160, 2, 2)
    groups = S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=0,
        transform=S.rebucket_transform(
            "ib", _spec_ib, n_cur, cap_rows=10_000,
        ),
    )
    assert groups > 0
    assert S.current_spec(root, 99) == n_cur  # cap huge: spec unchanged
    # the base claims spec n_cur — every row must actually be laid out
    # under it, stale-spec inputs included
    base = spark.read.schema(_SPEC_SCHEMA).parquet(f"{root}/base1")
    bad = base.where(F.col("ib") != _spec_ib(n_cur)).count()
    assert bad == 0
    # and probes for the straggler's keys survive the rewrite
    probe_keys = list(range(128, 160))
    got = sorted(
        r["k"]
        for r in S.read_batched_pruned(
            spark, root, "ib", _spec_vals(spark, probe_keys, n_cur), n_cur,
            _SPEC_SCHEMA,
        )
        .where(F.col("k").isin(probe_keys))
        .collect()
    )
    assert got == probe_keys


def test_time_travel_partitioned_and_cdf_on_partition_column(spark, tmpdir):
    """ADVICE r8 (medium): compacted bases are partitionBy-written, and
    the default recursive time-travel read disables hive discovery —
    the partition column read back null, so a change feed keyed on it
    reported every row as both insert and delete.  partitioned=True
    mirrors read_batched's per-dir hive read."""
    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/tt_part"
    n0 = 2
    _spec_batch(spark, root, 0, 64, 0, n0)
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=3600.0
    )  # gen1
    _spec_batch(spark, root, 64, 96, 1, n0)
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=3600.0
    )  # gen2
    at1 = S.read_batched_at(spark, root, 1, _SPEC_SCHEMA, partitioned=True)
    # the partition column is real data, not nulls
    assert at1.where(F.col("ib").isNull()).count() == 0
    assert at1.where(F.col("ib") != _spec_ib(n0)).count() == 0
    assert sorted(r["k"] for r in at1.collect()) == list(range(64))
    # CDF keyed on (k, ib) — ib IS the partition column, the broken case
    feed = S.diff_batched(
        spark, root, 1, 2, ["k", "ib"], _SPEC_SCHEMA, partitioned=True
    ).collect()
    ins = sorted(r["k"] for r in feed if r["_change"] == "insert")
    dels = [r["k"] for r in feed if r["_change"] == "delete"]
    assert ins == list(range(64, 96))
    assert dels == []


def test_manifest_log_tracks_same_gen_tombs_recommit(spark, tmpdir):
    """ADVICE r8 (low): the data-less tombstone-consume path recommits
    the SAME generation with an updated tombs map; the manifest log's
    old exists-check kept the first copy, leaving the log entry's
    tombs stale relative to the live pointer.  The log entry must
    refresh whenever the live commit's content drifted."""
    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/log_refresh"
    # an EMPTY partitioned batch (only _SUCCESS): a data-less table
    S.idempotent_batch_write(
        spark.createDataFrame([], _SPEC_SCHEMA), root, 0, partition_cols=["ib"]
    )
    S.append_tombstones(spark.createDataFrame([(1,)], "k BIGINT"), root)
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=3600.0,
        tombstone_col="k",
    )
    man1 = S._read_manifest(root)
    assert man1 is not None and man1.get("tombs")
    assert S.read_manifest_log(root)[man1["gen"]] == man1
    # second retraction, second data-less fold: same gen, more tombs
    S.append_tombstones(spark.createDataFrame([(2,)], "k BIGINT"), root)
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=3600.0,
        tombstone_col="k",
    )
    man2 = S._read_manifest(root)
    assert man2["gen"] == man1["gen"]  # same-gen recommit
    assert set(man2["tombs"]) > set(man1["tombs"])  # tombs advanced
    assert S.read_manifest_log(root)[man2["gen"]] == man2  # log refreshed


def test_change_feed_consumer_kill_and_resume(spark, tmpdir):
    """CDF->MV consumer protocol (r9): seeding is idempotent, each
    application is replay-idempotent, a consumer killed mid-application
    (incomplete MV dir, no _SUCCESS) resumes by re-applying from the
    last COMPLETE generation, catch-up skips nothing and no-ops when
    current — and the MV always hash-equals the direct snapshot."""
    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/cdf_up"
    mv = f"{tmpdir}/cdf_mv"
    GRACE = 3600.0

    def batch(lo, hi, b):
        S.idempotent_batch_write(
            spark.range(lo, hi).select(
                F.col("id").alias("k"), F.pmod("id", F.lit(4)).alias("ib")
            ),
            root, b, partition_cols=["ib"],
        )

    def compact(**kw):
        S.compact_batched(
            spark, root, min_dirs=0, partition_cols=["ib"],
            gc_grace_sec=GRACE, **kw,
        )

    def keys(df):
        return sorted(r["k"] for r in df.collect())

    schema = "k BIGINT, ib BIGINT"
    batch(0, 100, 0)
    compact()                                       # gen1: 0..99
    batch(100, 140, 1)
    S.append_tombstones(
        spark.createDataFrame([(k,) for k in range(0, 100, 10)], "k BIGINT"),
        root,
    )
    compact(tombstone_col="k")                      # gen2: +100..139, -multiples of 10
    batch(200, 220, 2)
    compact()                                       # gen3: +200..219

    # unseeded apply is a NAMED error; seed, then re-seed is a no-op
    with pytest.raises(ValueError):
        S.apply_change_feed(spark, root, mv, 2, ["k"], schema)
    S.materialize_snapshot(spark, root, mv, 1, schema, partitioned=True)
    S.materialize_snapshot(spark, root, mv, 1, schema, partitioned=True)
    assert S.latest_materialized_gen(mv) == 1
    assert keys(S.read_materialized(spark, mv, schema)) == list(range(100))

    # KILL mid-application: fake an incomplete g2 (data, no _SUCCESS)
    os.makedirs(f"{mv}/g2", exist_ok=True)
    spark.createDataFrame([(999999, 0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(f"{mv}/g2/_tmp_partial")
    os.remove(f"{mv}/g2/_tmp_partial/_SUCCESS")  # the partial attempt
    assert S.latest_materialized_gen(mv) == 1  # incomplete dir ignored

    # RESUME: re-apply 1->2; the partial dir is overwritten wholesale
    assert S.apply_change_feed(
        spark, root, mv, 2, ["k"], schema, partitioned=True
    ) == 2
    want2 = [k for k in range(140) if not (k < 100 and k % 10 == 0)]
    assert keys(S.read_materialized(spark, mv, schema)) == want2
    assert keys(
        S.read_batched_at(spark, root, 2, schema, partitioned=True)
    ) == want2

    # replay of an already-applied generation is byte-stable (no-op
    # merge re-run) and catch-up 2->3 lands exactly the new arrivals
    assert S.apply_change_feed(
        spark, root, mv, 2, ["k"], schema, partitioned=True
    ) == 2
    assert S.apply_change_feed(
        spark, root, mv, 3, ["k"], schema, partitioned=True
    ) == 3
    want3 = want2 + list(range(200, 220))
    assert keys(S.read_materialized(spark, mv, schema)) == sorted(want3)
    assert keys(
        S.read_batched_at(spark, root, 3, schema, partitioned=True)
    ) == sorted(want3)
    # already caught up: no-op, returns current generation
    assert S.apply_change_feed(
        spark, root, mv, 3, ["k"], schema, partitioned=True
    ) == 3


def test_change_feed_compare_cols_catches_payload_rewrite(spark, tmpdir):
    """ADVICE r9 (low): the key-only change feed is exact only under
    the immutable-payload-per-key contract — a key retracted and
    re-appended with a DIFFERENT payload entirely within one
    application window emits no feed rows, and a key-only consumer
    keeps the stale payload.  ``compare_cols`` closes it: changed keys
    emit delete (old payload) + insert (new payload), and the MV
    converges to the snapshot."""
    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/cdf_pay"
    mv = f"{tmpdir}/cdf_pay_mv"
    schema = "k BIGINT, ib BIGINT, v STRING"

    def write(rows, b):
        S.idempotent_batch_write(
            spark.createDataFrame(rows, schema), root, b,
            partition_cols=["ib"],
        )

    def compact(**kw):
        S.compact_batched(
            spark, root, min_dirs=0, partition_cols=["ib"],
            gc_grace_sec=3600.0, **kw,
        )

    write([(k, k % 2, "old") for k in range(6)], 0)
    compact()                                          # gen1: 0..5 'old'
    S.append_tombstones(spark.createDataFrame([(5,)], "k BIGINT"), root)
    compact(tombstone_col="k")                         # gen2: -5
    write([(5, 1, "new"), (6, 0, "new")], 1)
    compact()                                          # gen3: +5' +6

    # key-only feed across the whole window: k=5's rewrite is INVISIBLE
    feed0 = S.diff_batched(
        spark, root, 1, 3, ["k"], schema, partitioned=True
    ).collect()
    assert {(r["k"], r["_change"]) for r in feed0} == {(6, "insert")}

    # compare_cols: the rewrite surfaces as delete(old) + insert(new)
    feed1 = S.diff_batched(
        spark, root, 1, 3, ["k"], schema, partitioned=True,
        compare_cols=["v"],
    ).collect()
    assert {(r["k"], r["_change"], r["v"]) for r in feed1} == {
        (6, "insert", "new"),
        (5, "delete", "old"),
        (5, "insert", "new"),
    }

    # and the consumer converges to the snapshot with it
    S.materialize_snapshot(spark, root, mv, 1, schema, partitioned=True)
    assert S.apply_change_feed(
        spark, root, mv, 3, ["k"], schema, partitioned=True,
        compare_cols=["v"],
    ) == 3
    got = sorted(
        (r["k"], r["v"])
        for r in S.read_materialized(spark, mv, schema).collect()
    )
    want = sorted(
        (r["k"], r["v"])
        for r in S.read_batched_at(
            spark, root, 3, schema, partitioned=True
        ).collect()
    )
    assert got == want and (5, "new") in got


def test_change_file_cdf_fast_path(spark, tmpdir):
    """Change-file CDF fast path (r10 — round-11 lead #1 done early):
    across a window of PLAIN folds, diff_batched_adjacent reads the
    window's consumed batch dirs + folded tombstone files directly —
    zero snapshot scans — and a consumer applying it converges to the
    same MV as the snapshot diff.  Soundness gates pinned: a transform
    (rebucket) generation in the window, a vacuumed change file, or a
    missing log entry each return None (callers fall back)."""
    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/cf_tbl"
    schema = "k BIGINT, ib BIGINT"

    def kdf(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), F.pmod("id", F.lit(4)).alias("ib")
        )

    def compact(**kw):
        S.compact_batched(
            spark, root, min_dirs=0, partition_cols=["ib"],
            gc_grace_sec=3600.0, **kw,
        )

    S.idempotent_batch_write(kdf(0, 200), root, 0, partition_cols=["ib"])
    compact()  # gen1 (plain)
    assert S._read_manifest(root)["plain"] is True
    S.idempotent_batch_write(kdf(500, 560), root, 1, partition_cols=["ib"])
    S.append_tombstones(
        spark.createDataFrame([(k,) for k in range(0, 200, 9)], "k BIGINT"),
        root,
    )
    compact(tombstone_col="k")  # gen2 (plain): +500..559, -mult of 9
    S.idempotent_batch_write(kdf(700, 720), root, 2, partition_cols=["ib"])
    compact()  # gen3 (plain): +700..719

    fast = S.diff_batched_adjacent(spark, root, 1, 3, ["k"], schema)
    assert fast is not None
    rows = fast.collect()
    ins = sorted(r["k"] for r in rows if r["_change"] == "insert")
    dels = sorted(r["k"] for r in rows if r["_change"] == "delete")
    assert ins == list(range(500, 560)) + list(range(700, 720))
    assert dels == list(range(0, 200, 9))
    # insert rows carry full payload; delete rows are key-level
    assert all(
        r["ib"] is not None for r in rows if r["_change"] == "insert"
    )
    # snapshot-diff parity on inserts and delete KEYS
    slow = S.diff_batched(
        spark, root, 1, 3, ["k"], schema, partitioned=True
    ).collect()
    assert ins == sorted(r["k"] for r in slow if r["_change"] == "insert")
    assert dels == sorted(r["k"] for r in slow if r["_change"] == "delete")

    # consumers converge identically through the fast path
    mv_a = f"{tmpdir}/cf_mv_snapshot"
    mv_b = f"{tmpdir}/cf_mv_changefiles"
    S.materialize_snapshot(spark, root, mv_a, 1, schema, partitioned=True)
    S.materialize_snapshot_batched(spark, root, mv_b, 1, partitioned=True,
                                   schema=schema)
    S.apply_change_feed(spark, root, mv_a, 3, ["k"], schema,
                        partitioned=True)
    S.apply_change_feed_batched(spark, root, mv_b, 3, "k", schema,
                                partitioned=True, change_files=True)

    def keys(df):
        return sorted(r["k"] for r in df.collect())

    want = keys(S.read_batched_at(spark, root, 3, schema, partitioned=True))
    assert keys(S.read_materialized(spark, mv_a, schema)) == want
    assert keys(S.read_materialized_batched(spark, mv_b, "k", schema)) == want

    # SOUNDNESS GATES: a rebucket generation poisons its window...
    S.idempotent_batch_write(kdf(800, 810), root, 3, partition_cols=["ib"])
    compact(transform=S.rebucket_transform(
        "ib", lambda n: F.pmod("k", F.lit(n)), 4, cap_rows=8,
        prior_extra=S.read_manifest_extra(root),
    ))  # gen4 (NOT plain)
    assert S._read_manifest(root).get("plain") is False
    assert S.diff_batched_adjacent(spark, root, 3, 4, ["k"], schema) is None
    assert S.diff_batched_adjacent(spark, root, 1, 4, ["k"], schema) is None
    # ...but a later plain window past it is fine again
    S.idempotent_batch_write(kdf(900, 905), root, 4, partition_cols=["ib"])
    compact()  # gen5 (plain)
    f45 = S.diff_batched_adjacent(spark, root, 4, 5, ["k"], schema)
    assert f45 is not None
    assert sorted(r["k"] for r in f45.collect()) == list(range(900, 905))
    # vacuumed change file: fall back, never silently drop
    shutil.rmtree(f"{root}/b4")
    assert S.diff_batched_adjacent(spark, root, 4, 5, ["k"], schema) is None
    # missing log entry
    assert S.diff_batched_adjacent(spark, root, 1, 99, ["k"], schema) is None


@pytest.mark.parametrize("seed", [3, 19])
def test_change_file_consumer_chaos_model(spark, tmpdir, seed):
    """Seeded chaos schedule for the change-file CDF consumer (r10 —
    round-11 lead #3 done early): interleave upstream arrival batches,
    retraction appends, PLAIN folds, REBUCKET folds (poisoning their
    window for the fast path), snapshot-count retention expiry
    (vacuuming change files), and consumer catch-up applications with
    ``change_files=True`` — asserting after EVERY apply that the
    batched MV exactly equals the upstream's transactional content.
    The point is the FALLBACK BOUNDARY: whether any given window took
    the change-file fast path or fell back to the snapshot diff is
    load-dependent state the consumer must never get wrong; the twin
    merge-mode MV (always snapshot diff) is applied alongside as the
    oracle."""
    import random

    from mo_etl_spark import streaming as S

    rng = random.Random(seed)
    root = f"{tmpdir}/cfc_tbl"
    mv_b = f"{tmpdir}/cfc_mv_b"   # batched MV, change_files=True
    mv_m = f"{tmpdir}/cfc_mv_m"   # merge MV, snapshot diff (the twin)
    schema = "k BIGINT, ib BIGINT"
    GRACE = 3600.0
    next_key = 0
    live: set[int] = set()
    retracted: set[int] = set()
    batch_id = 0

    def ib(n):
        return F.pmod("k", F.lit(n))

    def arrive(n_rows: int):
        nonlocal next_key, batch_id
        ks = list(range(next_key, next_key + n_rows))
        next_key += n_rows
        S.idempotent_batch_write(
            spark.createDataFrame([(k, k % 4) for k in ks], schema),
            root, batch_id, partition_cols=["ib"],
        )
        S.stamp_spec(root, batch_id, 4)
        batch_id += 1
        live.update(ks)

    def keys(df):
        return sorted(r["k"] for r in df.collect())

    arrive(40)
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=GRACE
    )  # gen1, plain
    S.materialize_snapshot(spark, root, mv_m, 1, schema, partitioned=True)
    S.materialize_snapshot_batched(
        spark, root, mv_b, 1, partitioned=True, schema=schema
    )

    for step in range(18):
        op = rng.choice(
            ["arrive", "arrive", "retract", "fold", "fold",
             "rebucket", "expire", "apply", "apply", "apply"]
        )
        if op == "arrive":
            arrive(rng.randint(3, 10))
        elif op == "retract":
            pool = sorted(live - retracted)
            if pool:
                dead = rng.sample(pool, min(3, len(pool)))
                S.append_tombstones(
                    spark.createDataFrame([(k,) for k in dead], "k BIGINT"),
                    root,
                )
                retracted.update(dead)  # applied at the next fold
        elif op == "fold":
            S.compact_batched(
                spark, root, min_dirs=0, partition_cols=["ib"],
                tombstone_col="k", gc_grace_sec=GRACE,
            )
            live.difference_update(retracted)
            retracted.clear()
        elif op == "rebucket":
            S.compact_batched(
                spark, root, min_dirs=0, partition_cols=["ib"],
                tombstone_col="k", gc_grace_sec=GRACE,
                transform=S.rebucket_transform(
                    "ib", ib, S.current_spec(root, 4), cap_rows=64,
                    prior_extra=S.read_manifest_extra(root),
                ),
            )
            live.difference_update(retracted)
            retracted.clear()
        elif op == "expire":
            # vacuum old snapshots + their grace-held change files:
            # fast-path windows crossing them must fall back, never
            # silently drop
            S.expire_snapshots(root, keep_last_n=2)
        elif op == "apply":
            man = S._read_manifest(root)
            gen = int(man["gen"]) if man else 0
            if gen < 1:
                continue
            # a consumer lagging past the vacuum horizon gets the
            # NAMED SnapshotVacuumed and re-seeds — the documented
            # operator response, exercised whenever the schedule's
            # expire outruns the cursor
            try:
                S.apply_change_feed(
                    spark, root, mv_m, gen, ["k"], schema, partitioned=True
                )
            except S.SnapshotVacuumed:
                shutil.rmtree(mv_m, ignore_errors=True)
                S.materialize_snapshot(
                    spark, root, mv_m, gen, schema, partitioned=True
                )
            try:
                S.apply_change_feed_batched(
                    spark, root, mv_b, gen, "k", schema, partitioned=True,
                    change_files=True,
                )
            except S.SnapshotVacuumed:
                shutil.rmtree(mv_b, ignore_errors=True)
                S.materialize_snapshot_batched(
                    spark, root, mv_b, gen, partitioned=True, schema=schema
                )
            want = keys(
                S.read_batched_at(spark, root, gen, schema, partitioned=True)
            )
            got_b = keys(S.read_materialized_batched(spark, mv_b, "k", schema))
            got_m = keys(S.read_materialized(spark, mv_m, schema))
            assert got_b == want, (step, gen, len(got_b), len(want))
            assert got_m == want, (step, gen)
    # drain: one final fold + apply, both MVs equal the live table
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"],
        tombstone_col="k", gc_grace_sec=GRACE,
    )
    live.difference_update(retracted)
    retracted.clear()
    gen = int(S._read_manifest(root)["gen"])
    try:
        S.apply_change_feed(
            spark, root, mv_m, gen, ["k"], schema, partitioned=True
        )
    except S.SnapshotVacuumed:
        shutil.rmtree(mv_m, ignore_errors=True)
        S.materialize_snapshot(spark, root, mv_m, gen, schema, partitioned=True)
    try:
        S.apply_change_feed_batched(
            spark, root, mv_b, gen, "k", schema, partitioned=True,
            change_files=True,
        )
    except S.SnapshotVacuumed:
        shutil.rmtree(mv_b, ignore_errors=True)
        S.materialize_snapshot_batched(
            spark, root, mv_b, gen, partitioned=True, schema=schema
        )
    want = keys(S.read_batched(spark, root, partitioned=True, schema=schema))
    assert keys(S.read_materialized_batched(spark, mv_b, "k", schema)) == want
    assert keys(S.read_materialized(spark, mv_m, schema)) == want
    assert sorted(live) == want


@pytest.mark.parametrize("seed", [5, 21])
def test_txn_commit_threaded_monotonicity_model(spark, tmpdir, seed):
    """Threaded txn-protocol model (r10 — round-11 lead #2 done
    early): concurrent commit attempts (the live writer's fresh
    commits racing late REPLAY commits of old batches — unreachable
    under the single-writer stream discipline, now lease-serialized
    anyway) must never regress the watermark, and concurrent readers
    polling the pointer must observe a MONOTONE sequence with every
    observed vector internally consistent (the txn named in the
    pointer always has its history entry and members)."""
    import random
    import threading

    from mo_etl_spark import streaming as S

    rng = random.Random(seed)
    g = f"{tmpdir}/txn_threads"
    root = f"{tmpdir}/txn_threads_tbl"
    S.idempotent_batch_write(
        spark.range(5).select(F.col("id").alias("k")), root, 0
    )
    S.txn_commit(g, 0, {"t": root})
    N = 30
    observations: list[list[int]] = [[], []]
    stop = threading.Event()
    errors: list[str] = []

    def reader(out: list[int]):
        # per-thread observation list: cross-thread append interleaving
        # would fake non-monotonicity the protocol doesn't have
        while not stop.is_set():
            try:
                rec = S.txn_vector(g)
                if rec is not None:
                    out.append(int(rec["txn"]))
                    assert "t" in rec["tables"]
            except Exception as e:  # noqa: BLE001 - collected for the assert
                errors.append(repr(e))
                return

    threads = [
        threading.Thread(target=reader, args=(obs,), daemon=True)
        for obs in observations
    ]
    for t in threads:
        t.start()

    def committer(ids):
        try:
            for b in ids:
                S.txn_commit(g, b, {"t": root})
        except Exception as e:  # noqa: BLE001 - surfaced by the assert
            errors.append(repr(e))

    def replayer(rseed: int):
        # a REPLAY always re-commits an ALREADY-COMMITTED batch (the
        # checkpoint replays trigger N before running N+1) — sample at
        # or below the live watermark at call time
        r = random.Random(rseed)
        try:
            for _ in range(40):
                w = S.txn_watermark(g)
                S.txn_commit(g, r.randint(0, max(w or 0, 0)), {"t": root})
        except Exception as e:  # noqa: BLE001
            errors.append(repr(e))

    # the live writer commits 1..N in order; two replayers concurrently
    # re-commit committed batches the whole time
    fresh = threading.Thread(target=committer, args=(range(1, N + 1),))
    replays = [
        threading.Thread(target=replayer, args=(rng.randrange(1 << 30),))
        for _ in range(2)
    ]
    fresh.start()
    for t in replays:
        t.start()
    fresh.join(120)
    for t in replays:
        t.join(120)
    stop.set()
    for t in threads:
        t.join(10)
    assert not errors, errors
    assert S.txn_watermark(g) == N  # never regressed
    # every reader's observation sequence monotone
    for obs in observations:
        for i in range(1, len(obs)):
            assert obs[i] >= obs[i - 1], (i, obs[i - 1:i + 1])
        assert obs  # the readers really observed the race window
    # history complete for the fresh commits
    hist = S.txn_log(g)
    assert set(range(0, N + 1)) <= set(hist)


def test_group_time_travel_consistent_historical_reads(spark, tmpdir):
    """Group time travel (r10): reading the members of a multi-table
    group at a past txn via read_group_at yields the mutually
    CONSISTENT historical view transactional readers had then —
    base-of-recorded-gen + unconsumed batches ≤ the txn — across
    later writes, folds, and replays; a snapshot whose batch dir was
    consumed by a later fold and vacuumed raises the NAMED
    SnapshotVacuumed."""
    from mo_etl_spark import streaming as S

    g = f"{tmpdir}/grp"
    ta, tb = f"{tmpdir}/ta", f"{tmpdir}/tb"
    schema = "k BIGINT"

    def write_both(lo, hi, b):
        for root, off in ((ta, 0), (tb, 1000)):
            S.idempotent_batch_write(
                spark.range(lo + off, hi + off).select(
                    F.col("id").alias("k")
                ),
                root, b,
            )
        S.txn_commit(g, b, {"a": ta, "b": tb})

    def keys(df):
        return sorted(r["k"] for r in df.collect())

    write_both(0, 10, 0)
    write_both(10, 25, 1)
    # fold table a only, then a third txn lands on both
    S.compact_batched(spark, ta, min_dirs=0, gc_grace_sec=3600.0)
    write_both(25, 30, 2)

    # txn 1's view: both members at 0..24 (+offset), table a's fold
    # and txn 2's batches invisible
    assert keys(
        S.read_group_at(spark, g, 1, "a", schema)
    ) == list(range(25))
    assert keys(
        S.read_group_at(spark, g, 1, "b", schema)
    ) == list(range(1000, 1025))
    # txn 0's view
    assert keys(S.read_group_at(spark, g, 0, "a", schema)) == list(range(10))
    # txn 2 == the live transactional read
    assert keys(S.read_group_at(spark, g, 2, "a", schema)) == keys(
        S.read_batched(spark, ta, schema=schema,
                       max_batch=S.txn_watermark(g))
    )
    # unknown txn / unknown member are NAMED errors
    with pytest.raises(S.SnapshotVacuumed):
        S.read_group_at(spark, g, 9, "a", schema)
    with pytest.raises(ValueError, match="no member"):
        S.read_group_at(spark, g, 1, "zz", schema)
    # vacuum the fold's consumed inputs -> txn-1 travel raises NAMED
    # (its batches were consumed by table a's gen-1 base and are gone)
    S.compact_batched(spark, ta, min_dirs=0, gc_grace_sec=0.0)
    S.expire_snapshots(ta, keep_last_n=1)
    if not os.path.isdir(os.path.join(ta, "b0")):
        with pytest.raises(S.SnapshotVacuumed):
            S.read_group_at(spark, g, 1, "a", schema)


def test_read_group_at_pruned_spec_translation(spark, tmpdir):
    """Spec-aware group time travel (r10 — round-11 lead #1 done
    early): a member RE-BUCKETED after the txn still serves a
    historical matched-bucket probe exactly — read_group_at_pruned
    translates the probe's bucket values (computed under the CURRENT
    spec) down/up to each historical dir's stamped spec, scanning
    unstamped dirs unpruned."""
    from mo_etl_spark import streaming as S

    g = f"{tmpdir}/gsp"
    ta = f"{tmpdir}/gsp_a"
    schema = "k BIGINT, ib BIGINT"

    def ib(n):
        return F.pmod("k", F.lit(n))

    def write(lo, hi, b, spec):
        S.idempotent_batch_write(
            spark.range(lo, hi).select(
                F.col("id").alias("k"), ib(spec).alias("ib")
            ),
            ta, b, partition_cols=["ib"],
        )
        S.stamp_spec(ta, b, spec)
        S.txn_commit(g, b, {"a": ta})

    write(0, 40, 0, 2)
    write(40, 70, 1, 2)
    write(70, 90, 2, 2)  # txn 2, post-snapshot data for txn-1 reads
    # REBUCKET after the commits: live spec doubles to 4
    S.compact_batched(
        spark, ta, min_dirs=0, partition_cols=["ib"], gc_grace_sec=3600.0,
        max_batch=S.txn_watermark(g),
        transform=S.rebucket_transform(
            "ib", ib, 2, cap_rows=8,
            prior_extra=S.read_manifest_extra(ta),
        ),
    )
    n_cur = S.current_spec(ta, 2)
    assert n_cur >= 4  # the spec actually grew

    # historical probe AT TXN 1, values computed under the CURRENT
    # spec: dirs b0/b1 are stamped spec-2 — translation must find
    # every sampled key, and b2/base must stay invisible
    probe = [3, 17, 44, 69]
    vals = sorted({k % n_cur for k in probe})
    got = sorted(
        r["k"]
        for r in S.read_group_at_pruned(
            spark, g, 1, "a", "ib", vals, n_cur, schema
        )
        .where(F.col("k").isin(probe))
        .collect()
    )
    assert got == probe
    full = sorted(
        r["k"]
        for r in S.read_group_at(spark, g, 1, "a", schema, partitioned=True)
        .collect()
    )
    assert full == list(range(70))  # txn-2 data and the new base invisible
    # and the pruned read really pruned: a probe for one key reads
    # only matching-bucket rows from the stamped dirs
    one = S.read_group_at_pruned(
        spark, g, 1, "a", "ib", [3 % n_cur], n_cur, schema
    )
    ks = {r["k"] for r in one.collect()}
    assert 3 in ks and len(ks) < 70


def test_group_change_feed_consistent_vector(spark, tmpdir):
    """Group-level change-file CDF (r10 — round-11 lead #2 done
    early): diff_group_adjacent yields each member's keyed delta
    between two committed TRANSACTIONS — batch-dir inserts in the txn
    window + tombstone files folded across the member's generation
    window — so a multi-MV consumer advances every member from ONE
    consistent vector.  Soundness gates pinned: a non-plain (rebucket)
    generation in a member's window, a missing txn, or an unknown
    member each return None."""
    from mo_etl_spark import streaming as S

    g = f"{tmpdir}/gcf"
    ta, tb = f"{tmpdir}/gcf_a", f"{tmpdir}/gcf_b"
    schema = "k BIGINT"

    def write_both(lo, hi, b):
        for root, off in ((ta, 0), (tb, 1000)):
            S.idempotent_batch_write(
                spark.range(lo + off, hi + off).select(
                    F.col("id").alias("k")
                ),
                root, b,
            )
        S.txn_commit(g, b, {"a": ta, "b": tb})

    write_both(0, 20, 0)
    # member a folds with a retraction between txn 0 and txn 2;
    # member b stays unfolded
    S.append_tombstones(
        spark.createDataFrame([(k,) for k in range(0, 20, 5)], "k BIGINT"),
        ta,
    )
    S.compact_batched(
        spark, ta, min_dirs=0, tombstone_col="k", gc_grace_sec=3600.0
    )  # a: gen1, plain
    write_both(20, 30, 1)
    write_both(30, 33, 2)

    feed_a = S.diff_group_adjacent(spark, g, 0, 2, "a", ["k"], schema)
    assert feed_a is not None
    ins_a = sorted(r["k"] for r in feed_a.collect() if r["_change"] == "insert")
    del_a = sorted(r["k"] for r in feed_a.collect() if r["_change"] == "delete")
    assert ins_a == list(range(20, 33))
    assert del_a == list(range(0, 20, 5))
    feed_b = S.diff_group_adjacent(spark, g, 0, 2, "b", ["k"], schema)
    assert feed_b is not None
    rows_b = feed_b.collect()
    assert sorted(r["k"] for r in rows_b) == list(range(1020, 1033))
    assert all(r["_change"] == "insert" for r in rows_b)
    # the pair of feeds IS one consistent vector: applying both to
    # txn-0 views reproduces the txn-2 transactional reads exactly
    for alias, root, feed in (("a", ta, feed_a), ("b", tb, feed_b)):
        base = S.read_group_at(spark, g, 0, alias, schema)
        ins = feed.where(F.col("_change") == "insert").select("k")
        dels = feed.where(F.col("_change") == "delete").select("k")
        got = sorted(
            r["k"]
            for r in base.join(dels, "k", "left_anti")
            .unionByName(ins)
            .collect()
        )
        want = sorted(
            r["k"] for r in S.read_group_at(spark, g, 2, alias, schema).collect()
        )
        assert got == want, alias

    # soundness: a TRANSFORM generation inside a's window poisons it
    # (here a layout-deriving rewrite bucketing the flat table)
    S.compact_batched(
        spark, ta, min_dirs=0, gc_grace_sec=3600.0,
        partition_cols=["ib"],
        transform=lambda df: (
            df.withColumn("ib", F.pmod("k", F.lit(2))), {"spec_n": 2}
        ),
    )  # a: gen2, NOT plain
    write_both(33, 35, 3)
    assert S.diff_group_adjacent(spark, g, 0, 3, "a", ["k"], schema) is None
    # ...while b (no fold at all) still serves the fast path
    assert S.diff_group_adjacent(spark, g, 0, 3, "b", ["k"], schema) is not None
    assert S.diff_group_adjacent(spark, g, 0, 9, "a", ["k"], schema) is None
    assert S.diff_group_adjacent(spark, g, 0, 3, "zz", ["k"], schema) is None


def test_pq_codebook_retrain_maintenance_fold(spark, tmpdir):
    """PQ codebook re-training as maintenance (r10, VERDICT r9 item
    #5): a code table whose ``_sc`` was encoded under STALE codebooks
    (trained on an unrelated distribution — the drifted-corpus
    scenario) serves near-chance ADC recall; one
    ``compact_batched(transform=ann_pq_retrain_transform(...))`` pass
    retrains the books on the accumulated corpus, re-encodes every
    row, and commits {codebooks, layout} atomically as manifest extra
    — after which serving with ``pq_codebooks_from_manifest`` recovers
    recall.  Discrimination is the point: the gap proves the fold
    retrains rather than reshuffles.  Layout discipline pinned: the
    rewritten base carries the pq layout stamp."""
    import random

    from mo_etl_spark import streaming as S
    from mo_etl_spark.operators import similarity as SIM

    rng = random.Random(5)
    DIM, M, DSUB, KC = 16, 4, 4, 16

    def unit(v):
        import math

        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    protos = [
        unit([rng.uniform(-1, 1) for _ in range(DIM)]) for _ in range(100)
    ]

    def jitter(p):
        return [x + rng.uniform(-0.02, 0.02) for x in p]

    corpus_rows = [(i, jitter(protos[i % 100])) for i in range(300)]
    corpus = spark.createDataFrame(
        corpus_rows, "c_id BIGINT, vec ARRAY<DOUBLE>"
    )
    cents = SIM.kmeans_train(corpus, k=4, iters=1, id_col="c_id", vec_col="vec")
    coarse = cents.select("cent_id", F.col("cv").alias("vec"))
    cells = SIM.ivf_cells(corpus, coarse)
    # stale books: trained on junk far from the corpus distribution
    junk = spark.createDataFrame(
        [
            (i, [rng.uniform(5.0, 9.0) for _ in range(DIM)])
            for i in range(100)
        ],
        "c_id BIGINT, vec ARRAY<DOUBLE>",
    )
    stale_cb = SIM.pq_train_codebooks(
        junk, m=M, dsub=DSUB, k_codes=KC, iters=1
    ).localCheckpoint()
    coded = SIM.pq_codes_wide(corpus, stale_cb, m=M, dsub=DSUB)
    rows = (
        corpus.join(cells, "c_id").join(coded, "c_id")
        .withColumn("sub", F.lit(0))
    )
    root = f"{tmpdir}/pqtbl"
    S.idempotent_batch_write(rows, root, 0, partition_cols=["cell", "sub"])

    q = spark.createDataFrame(
        [(10_000 + i, jitter(corpus_rows[i][1])) for i in range(0, 300, 20)],
        "q_id BIGINT, vec ARRAY<DOUBLE>",
    )
    truth: dict[int, set] = {}
    for r in SIM.brute_force_topk(q, corpus, k=5, exclude_self=False).collect():
        truth.setdefault(r["q_id"], set()).add(r["c_id"])

    schema = (
        "c_id BIGINT, vec ARRAY<DOUBLE>, "
        "_sc ARRAY<STRUCT<s: INT, code: BIGINT>>, cell BIGINT, sub INT"
    )

    def recall(pq_cents) -> float:
        idx = S.read_batched(spark, root, partitioned=True, schema=schema)
        got = SIM.ivfpq_topk(
            q, coarse, pq_cents, idx, k=5, nprobe=4, m=M, dsub=DSUB
        )
        per: dict[int, set] = {}
        for r in got.collect():
            per.setdefault(r["q_id"], set()).add(r["c_id"])
        hit = sum(len(t & per.get(qid, set())) for qid, t in truth.items())
        return hit / sum(len(t) for t in truth.values())

    r_stale = recall(stale_cb)
    # THE maintenance fold: retrain + re-encode + atomic commit
    n = S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["cell", "sub"],
        gc_grace_sec=0.0,
        transform=SIM.ann_pq_retrain_transform(
            m=M, dsub=DSUB, k_codes=KC, iters=2
        ),
    )
    assert n > 0
    extra = S.read_manifest_extra(root)
    assert "pq_codebooks" in extra and len(extra["pq_codebooks"]) == KC
    assert str(extra["layout_id"]).startswith("pq")
    trained_cb = SIM.pq_codebooks_from_manifest(spark, root)
    assert trained_cb is not None
    r_new = recall(trained_cb)
    assert r_new >= r_stale + 0.15, (r_stale, r_new)  # discrimination
    assert r_new >= 0.5, (r_stale, r_new)
    man = S._read_manifest(root)
    assert S.dir_layout(os.path.join(root, man["base"])) == extra["layout_id"]


def test_pq_auto_maintenance_policy_drift_trigger(spark, tmpdir):
    """PQ codebook re-training in the AUTO maintenance policy (r10 —
    round-11 lead #4 done early): ``maintain_batched(ann=(cap, None,
    (m, dsub, k, iters, distortion_cap)))`` measures the sampled
    quantization distortion against the COMMITTED books each pass and
    re-trains only past the cap.  Trigger pinned in BOTH directions:
    a book-less table bootstraps (retrain), a stable corpus under the
    cap takes the re-split branch (books and layout carried), a
    DRIFTED corpus past the cap re-trains (new layout, new books)."""
    import random

    from mo_etl_spark import streaming as S
    from mo_etl_spark.operators import similarity as SIM

    rng = random.Random(11)
    DIM, M, DSUB, KC = 16, 4, 4, 8
    PQ = (M, DSUB, KC, 1, 0.5)

    def mk(lo, hi, off=0.0):
        return [
            (
                i,
                [rng.uniform(-1, 1) + off for _ in range(DIM)],
                i % 3,
                0,
                [{"s": s, "code": 0} for s in range(M)],  # stale codes
            )
            for i in range(lo, hi)
        ]

    schema = (
        "c_id BIGINT, vec ARRAY<DOUBLE>, cell BIGINT, sub INT, "
        "_sc ARRAY<STRUCT<s: INT, code: BIGINT>>"
    )
    root = f"{tmpdir}/pqauto"
    S.idempotent_batch_write(
        spark.createDataFrame(mk(0, 60), schema), root, 0,
        partition_cols=["cell", "sub"],
    )
    # pass 1: no committed books -> bootstrap retrain
    assert S.maintain_batched(
        spark, root, max_dirs=1, partition_cols=["cell", "sub"],
        ann=(64, None, PQ),
    ) > 0
    extra1 = S.read_manifest_extra(root)
    assert "pq_codebooks" in extra1
    lid1 = extra1["layout_id"]
    # pass 2: same corpus, distortion under the cap -> re-split branch,
    # books and layout carried unchanged
    assert S.maintain_batched(
        spark, root, max_dirs=1, partition_cols=["cell", "sub"],
        ann=(64, None, PQ),
    ) > 0
    extra2 = S.read_manifest_extra(root)
    assert extra2["layout_id"] == lid1
    assert extra2["pq_codebooks"] == extra1["pq_codebooks"]
    # drifted arrivals (offset distribution) push distortion past the
    # cap -> pass 3 re-trains: new books, new layout claim
    S.idempotent_batch_write(
        spark.createDataFrame(mk(100, 160, off=5.0), schema), root, 1,
        partition_cols=["cell", "sub"],
    )
    assert S.maintain_batched(
        spark, root, max_dirs=1, partition_cols=["cell", "sub"],
        ann=(64, None, PQ),
    ) > 0
    extra3 = S.read_manifest_extra(root)
    assert extra3["layout_id"] != lid1
    assert extra3["pq_codebooks"] != extra1["pq_codebooks"]
    # the re-encode covered every retained row (codes no longer stale)
    got = S.read_batched(spark, root, partitioned=True, schema=schema)
    assert got.count() == 120
    n_nonzero = got.where(
        F.exists("_sc", lambda x: x["code"] != 0)
    ).count()
    assert n_nonzero > 0  # stale all-zero codes were rewritten
    # retrain=/pq= are one-drifted-quantizer-at-a-time, NAMED
    with pytest.raises(ValueError, match="at most one"):
        SIM.ann_maintenance_transform(64, retrain=(4, 1, 1), pq=PQ, root=root)
    with pytest.raises(ValueError, match="needs root"):
        SIM.ann_maintenance_transform(64, pq=PQ)


def test_apply_change_feed_batched_delta_proportional_mode(spark, tmpdir):
    """Delta-proportional MV mode (r10, VERDICT r9 item #7): the MV as
    a batched table — applications write ONLY delta-sized artifacts
    (one insert batch dir + one tombstone file + the cursor), reads
    anti-join pending tombstones, maintenance folds amortize the
    table-sized rewrite.  Must stay row-equal with the full-merge mode
    and with the direct snapshot across a multi-generation lifecycle,
    survive a replayed application, and fold clean."""
    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/dp_tbl"
    mv_m = f"{tmpdir}/dp_mv_merge"
    mv_b = f"{tmpdir}/dp_mv_batched"
    schema = "k BIGINT, ib BIGINT"

    def kdf(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), F.pmod("id", F.lit(4)).alias("ib")
        )

    S.idempotent_batch_write(kdf(0, 500), root, 0, partition_cols=["ib"])
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=3600.0
    )  # gen1
    S.idempotent_batch_write(kdf(1000, 1100), root, 1, partition_cols=["ib"])
    S.append_tombstones(
        spark.createDataFrame([(k,) for k in range(0, 500, 7)], "k BIGINT"),
        root,
    )
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"],
        tombstone_col="k", gc_grace_sec=3600.0,
    )  # gen2
    S.idempotent_batch_write(kdf(2000, 2050), root, 2, partition_cols=["ib"])
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=3600.0
    )  # gen3

    S.materialize_snapshot(spark, root, mv_m, 1, schema, partitioned=True)
    S.materialize_snapshot_batched(spark, root, mv_b, 1, partitioned=True,
                                   schema=schema)
    for g in (2, 3):
        S.apply_change_feed(spark, root, mv_m, g, ["k"], schema,
                            partitioned=True)
        S.apply_change_feed_batched(spark, root, mv_b, g, "k", schema,
                                    partitioned=True)
    # the application wrote only delta artifacts: per-gen batch dirs,
    # no MV-wide rewrite (no base generation yet)
    assert S._read_manifest(mv_b) is None

    def keys(df):
        return sorted(r["k"] for r in df.collect())

    want = keys(S.read_batched_at(spark, root, 3, schema, partitioned=True))
    assert keys(S.read_materialized(spark, mv_m, schema)) == want
    assert keys(S.read_materialized_batched(spark, mv_b, "k", schema)) == want

    # replayed application: idempotent through the cursor
    assert S.apply_change_feed_batched(
        spark, root, mv_b, 3, "k", schema, partitioned=True
    ) == 3
    assert keys(S.read_materialized_batched(spark, mv_b, "k", schema)) == want

    # maintenance folds the MV like any batched table; result unchanged
    S.compact_batched(
        spark, mv_b, min_dirs=0, tombstone_col="k", gc_grace_sec=0.0
    )
    assert S._read_manifest(mv_b) is not None
    assert keys(S.read_materialized_batched(spark, mv_b, "k", schema)) == want

    # RESURRECTION GUARD (r10, round-11 lead #4 done early): retract a
    # key upstream, apply (its MV tombstone now PENDING), then
    # re-append the same key upstream — the next batched apply must
    # abort NAMED instead of queuing an insert the next fold would
    # silently erase
    S.append_tombstones(
        spark.createDataFrame([(2000,)], "k BIGINT"), root
    )
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"],
        tombstone_col="k", gc_grace_sec=3600.0,
    )  # gen4: -2000
    assert S.apply_change_feed_batched(
        spark, root, mv_b, 4, "k", schema, partitioned=True
    ) == 4
    S.idempotent_batch_write(kdf(2000, 2001), root, 3, partition_cols=["ib"])
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=3600.0
    )  # gen5: +2000 again (contract violation for the batched mode)
    with pytest.raises(ValueError, match="resurrect"):
        S.apply_change_feed_batched(
            spark, root, mv_b, 5, "k", schema, partitioned=True
        )
    # the merge mode handles resurrecting upstreams fine
    S.apply_change_feed(spark, root, mv_m, 5, ["k"], schema, partitioned=True)
    assert keys(S.read_materialized(spark, mv_m, schema)) == keys(
        S.read_batched_at(spark, root, 5, schema, partitioned=True)
    )


def test_change_feed_consumer_stream_kill_resume_through_checkpoint(
    spark, tmpdir
):
    """STREAMED CDF consumer kill-and-resume THROUGH the checkpoint
    (r10, VERDICT r9 item #3): the foreachBatch consumer
    (streaming.change_feed_consumer) is killed mid-stream after its
    first trigger fully applied; the MV cursor is then REWOUND to
    simulate the torn window (kill between the MV generation write and
    the cursor commit — the complete g2 dir exists, the cursor still
    says 1).  The resumed stream runs on the SAME Spark checkpoint:
    the failed trigger replays (upstream writes idempotent), the
    consumer re-applies 1->2 as a deterministic overwrite off the old
    cursor, the second trigger carries it to 3 — and the MV
    hash-equals the direct live read."""
    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/ccs_tbl"
    mv = f"{tmpdir}/ccs_mv"
    feed = f"{tmpdir}/ccs_feed"
    ckpt = f"{tmpdir}/ccs_ckpt"
    schema = "k BIGINT, ib BIGINT"

    def kdf(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), F.pmod("id", F.lit(4)).alias("ib")
        )

    S.idempotent_batch_write(kdf(0, 100), root, 0, partition_cols=["ib"])
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=3600.0
    )  # gen 1: 0..99
    S.materialize_snapshot(spark, root, mv, 1, schema, partitioned=True)
    assert S.read_mv_cursor(mv) == 1
    # two wave files: +200s then +300s keys
    kdf(200, 240).select("k").coalesce(1).write.parquet(f"{feed}/w1")
    kdf(300, 330).select("k").coalesce(1).write.parquet(f"{feed}/w2")
    consume = S.change_feed_consumer(
        spark, root, mv, ["k"], schema, partitioned=True
    )
    crash = {"armed": True}

    def sink(batch_df, batch_id):
        mx = batch_df.agg(F.max("k")).first()[0]
        if mx is None:
            return
        b = 1 if mx < 300 else 2
        S.idempotent_batch_write(
            batch_df.withColumn("ib", F.pmod("k", F.lit(4))),
            root, b, partition_cols=["ib"],
        )
        S.compact_batched(
            spark, root, min_dirs=0, partition_cols=["ib"],
            gc_grace_sec=3600.0,
        )
        consume(batch_df, batch_id)
        if crash["armed"]:
            raise RuntimeError("planted mid-stream kill")

    def run():
        return (
            spark.readStream.schema("k BIGINT")
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

    with pytest.raises(Exception, match="planted"):
        run().awaitTermination()
    assert S.read_mv_cursor(mv) == 2  # first trigger fully applied
    # simulate the kill BETWEEN the MV write and the cursor commit:
    # the complete g2 dir stays, the cursor is rewound to 1
    with open(f"{mv}/_CURSOR", "w") as f:
        f.write('{"gen": 1}')
    crash["armed"] = False
    run().awaitTermination()  # SAME checkpoint: replay w1, then w2
    # the replayed trigger re-folds the upstream (an extra no-op
    # generation — deterministic content); the cursor must track the
    # LIVE generation, whatever number the replay left it at
    assert S.read_mv_cursor(mv) == S._read_manifest(root)["gen"]
    got = sorted(
        r["k"] for r in S.read_materialized(spark, mv, schema).collect()
    )
    want = sorted(
        r["k"]
        for r in S.read_batched(
            spark, root, partitioned=True, schema=schema
        ).collect()
    )
    assert got == want
    assert set(range(200, 240)) <= set(got) and set(range(300, 330)) <= set(got)


def test_retention_count_travel_depth_and_expiry(spark, tmpdir):
    """RETENTION-COUNT snapshot retention (r9, VERDICT r8 item #4 —
    the Iceberg expire_snapshots twin).  Guarantee side: with
    keep_last_gens=3 and ZERO grace, a burst of rapid compactions
    leaves the last 3 generations travelable — depth independent of
    wall-clock.  Expiry side: expire_snapshots(keep_last_n=2) vacuums
    exactly the generations past the depth (NAMED SnapshotVacuumed),
    never the kept ones, never a base shared with a kept generation
    (rollback commits forward to an old base)."""
    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/retention"
    schema = "k BIGINT, ib BIGINT"

    def batch(lo, hi, b):
        S.idempotent_batch_write(
            spark.range(lo, hi).select(
                F.col("id").alias("k"), F.pmod("id", F.lit(4)).alias("ib")
            ),
            root, b, partition_cols=["ib"],
        )

    def compact(**kw):
        S.compact_batched(
            spark, root, min_dirs=0, partition_cols=["ib"], **kw
        )

    def travelable(gen):
        try:
            S.read_batched_at(spark, root, gen, schema)
            return True
        except S.SnapshotVacuumed:
            return False

    # five rapid generations at grace 0 — without the keep knob every
    # old base would die on the second pass after its exclusion
    for g in range(5):
        batch(g * 10, g * 10 + 10, g)
        compact(gc_grace_sec=0.0, keep_last_gens=3)
    assert sorted(S.read_manifest_log(root)) == [1, 2, 3, 4, 5]
    assert [g for g in range(1, 6) if travelable(g)] == [3, 4, 5]
    # the live read is of course intact
    assert S.read_batched(
        spark, root, partitioned=True, schema=schema
    ).count() == 50
    # a kept generation reads EXACTLY its snapshot (rows 0..29 at gen3)
    assert S.read_batched_at(spark, root, 3, schema).count() == 30

    # deterministic expiry past a tighter depth: gen 3 goes, 4+5 stay
    assert S.expire_snapshots(root, keep_last_n=2) == [3]
    assert [g for g in range(1, 6) if travelable(g)] == [4, 5]
    # idempotent: nothing left past the depth
    assert S.expire_snapshots(root, keep_last_n=2) == []

    # rollback shares a base between generations: expiring the old gen
    # must not vacuum the rolled-forward live rows
    S.rollback_batched(root, 4)  # gen6, base = gen4's base
    assert S.expire_snapshots(root, keep_last_n=1) == [5]
    # gen4's LOG entry outlives the expiry (its base is gen6's base)
    assert travelable(4) and travelable(6)
    assert S.read_batched(
        spark, root, partitioned=True, schema=schema
    ).count() == 40  # the rollback target's rows, alive and exact


@pytest.mark.parametrize("seed", [5, 17])
def test_streamed_ann_index_chaos_model(spark, tmpdir, seed):
    """VERDICT r8 item #6: the ANN stream family (index-upsert /
    retract / serving) mutates ONE batched table plus its manifest
    sub-map and tombstone side table under the same replay/compaction
    races as the dedup trio — model it with a seeded chaos schedule.
    Ops: full upserts, crashes planted mid-batch-write (partial dir,
    no _SUCCESS), checkpoint replays that heal them, late replays of
    committed batches (no-op), vector retractions (pending anti-join),
    maintenance folds composing tombstone_col with the adaptive
    hot-cell re-split (map + rows committed atomically), and a PAUSED
    compactor holding the lease while writers and serves proceed.  At
    every quiescent step the full pruned SERVE (static probed-cell
    pruning + pending-tombstone anti-join + unified sub-map expansion,
    the production path via _ivf_pruned_serve) must equal brute-force
    truth over exactly the committed-minus-retracted vectors — with 4
    centroids and nprobe=4 every cell is probed, so IVF truth IS
    brute-force truth and any dropped/duplicated/stale row hash-misses."""
    import os
    import random
    import threading

    from mo_etl_spark import streaming as SS
    from mo_etl_spark.operators import similarity as S
    from mo_etl_spark.suites.streaming_real import _ivf_pruned_serve

    rng = random.Random(seed)
    gen = random.Random(31)  # data fixed across seeds; schedule varies
    DIM, PROV, CAP = 6, 2, 12
    N_BATCH, PER, SEED_N = 5, 16, 40

    def vec():
        return [round(gen.uniform(-1.0, 1.0), 3) for _ in range(DIM)]

    all_ids = list(range(SEED_N + N_BATCH * PER))
    vecs = {i: vec() for i in all_ids}
    cents = spark.createDataFrame(
        [(c, vec()) for c in range(4)], "cent_id BIGINT, vec ARRAY<FLOAT>"
    ).cache()
    queries = spark.createDataFrame(
        [(9000 + j, vec()) for j in range(6)], "q_id BIGINT, vec ARRAY<FLOAT>"
    ).cache()
    batches = [list(range(SEED_N))] + [
        list(range(SEED_N + b * PER, SEED_N + (b + 1) * PER))
        for b in range(N_BATCH)
    ]

    root = f"{tmpdir}/ann_chaos"

    def assigned(ids):
        b = spark.createDataFrame(
            [(i, vecs[i]) for i in ids], "c_id BIGINT, vec ARRAY<FLOAT>"
        )
        return S.ivf_cells(b, cents).join(b, "c_id").withColumn(
            "sub", F.pmod(F.xxhash64(F.col("c_id")), F.lit(PROV)).cast("int")
        )

    qid = S.quantizer_id(cents)

    def apply_batch(b):
        SS.idempotent_batch_write(
            assigned(batches[b]), root, b, partition_cols=["cell", "sub"]
        )
        SS.stamp_layout(root, b, qid)

    # model state (r9.5: rollback/expire ops need generation history):
    # VISIBLE vectors = base content ∪ live (complete, unconsumed)
    # batch dirs; SERVING truth = visible − pending retractions.
    # Folded retractions are physically gone from the base, and their
    # consumed tombstone files never re-apply — which is exactly why a
    # rollback brings later-folded vectors BACK.
    crashed: int | None = None
    discarded: set[int] = set()  # batches consumed-incomplete by a
    # rollback: their replay is invisible forever (documented
    # rollback semantics — post-snapshot data is discarded by intent)
    next_b = 1
    base_vecs: set[int] = set()
    live_batches: set[int] = {0}
    pending_tombs: set[int] = set()
    gen = 0
    gen_snap: dict[int, set[int]] = {}
    expired_gens: set[int] = set()

    def visible() -> set[int]:
        return base_vecs | {i for b in live_batches for i in batches[b]}

    def serve():
        # the production choice: probe with the COMMITTED quantizer
        # when a requantize has run, else the creation quantizer —
        # mixed-layout windows route dirs between the pruned and the
        # foreign brute-force legs per their stamps (r9 layout split)
        qcents = S.quantizer_from_manifest(spark, root)
        return sorted(
            (r["q_id"], r["c_id"], round(r["cos_sim"], 5), r["rnk"])
            for r in _ivf_pruned_serve(
                spark, root, qcents if qcents is not None else cents,
                queries, nprobe=4, prov=PROV,
            ).collect()
        )

    def check():
        if crashed is not None:
            return  # dirty window: the partial dir is visible until
            # the checkpoint replay heals it
        live = sorted(visible() - pending_tombs)
        corpus = spark.createDataFrame(
            [(i, vecs[i]) for i in live], "c_id BIGINT, vec ARRAY<FLOAT>"
        )
        want = sorted(
            (r["q_id"], r["c_id"], round(r["cos_sim"], 5), r["rnk"])
            for r in S.brute_force_topk(
                queries, corpus, k=5, exclude_self=False,
                n_q_blocks=2, n_c_blocks=2,
            ).collect()
        )
        assert serve() == want, (gen, len(live))

    def fold_bookkeep(snap_batches: set[int], snap_tombs: set[int]):
        nonlocal gen, base_vecs
        gen += 1
        base_vecs = (
            base_vecs | {i for b in snap_batches for i in batches[b]}
        ) - snap_tombs
        live_batches.difference_update(snap_batches)
        pending_tombs.difference_update(snap_tombs)
        gen_snap[gen] = set(base_vecs)

    def fold(paused=False, mode="resplit"):
        nonlocal next_b
        snap_b, snap_t = set(live_batches), set(pending_tombs)
        if mode == "requantize":
            # retrain the quantizer mid-chaos: k=4 keeps nprobe=4
            # exhaustive, so truth stays brute force; the serve then
            # probes with the committed quantizer and routes old-stamp
            # dirs through the foreign leg
            tf = S.ann_requantize_transform(4, iters=1, cap_rows=CAP)
        elif mode == "reassign":
            tf = S.ann_reassign_transform(root, CAP)
        else:
            tf = S.ann_resplit_transform(CAP)
        if not paused:
            SS.compact_batched(
                spark, root, min_dirs=0, partition_cols=["cell", "sub"],
                transform=tf, tombstone_col="c_id", gc_grace_sec=3600.0,
            )
            fold_bookkeep(snap_b, snap_t)
            return
        entered, release = threading.Event(), threading.Event()
        result: dict = {}

        def paused_tf(df):
            entered.set()
            release.wait(180)
            return tf(df)

        def run():
            try:
                result["n"] = SS.compact_batched(
                    spark, root, min_dirs=0, partition_cols=["cell", "sub"],
                    transform=paused_tf, tombstone_col="c_id",
                    gc_grace_sec=3600.0,
                )
            except Exception as e:  # pragma: no cover - assert below
                result["error"] = repr(e)

        t = threading.Thread(target=run, daemon=True)
        t.start()
        assert entered.wait(120)
        # mid-build: a writer lands the next batch (not in the build's
        # snapshot — it must stay live beside the new base) and the
        # serve still answers exactly from the pre-commit table
        if crashed is None and next_b < len(batches):
            apply_batch(next_b)
            live_batches.add(next_b)
            next_b += 1
        check()
        release.set()
        t.join(180)
        assert "error" not in result, result
        assert result.get("n", 0) > 0
        fold_bookkeep(snap_b, snap_t)

    apply_batch(0)
    for step in range(20):
        op = rng.choice(
            ["apply", "apply", "crash", "late_replay", "retract",
             "fold", "fold_paused", "rollback", "expire", "requantize"]
        )
        if op == "apply":
            if crashed is not None:
                apply_batch(crashed)  # checkpoint replay heals
                if crashed not in discarded:
                    live_batches.add(crashed)
                crashed = None
            elif next_b < len(batches):
                apply_batch(next_b)
                live_batches.add(next_b)
                next_b += 1
        elif op == "crash" and crashed is None and next_b < len(batches):
            dst = SS.batch_subdir(root, next_b)
            assigned(batches[next_b]).limit(5).coalesce(1).write.mode(
                "overwrite"
            ).parquet(dst)
            os.remove(os.path.join(dst, "_SUCCESS"))  # mid-write crash
            crashed = next_b
            next_b += 1
        elif op == "late_replay" and next_b > 1:
            b = rng.randrange(next_b)
            if b != crashed:
                apply_batch(b)  # complete or consumed dir: no-op
        elif op == "retract":
            pool = sorted(visible() - pending_tombs)
            if len(pool) > 10:  # keep the table populated
                dead = rng.sample(pool, 2)
                SS.append_tombstones(
                    spark.createDataFrame([(i,) for i in dead], "c_id BIGINT"),
                    root,
                )
                pending_tombs.update(dead)
        elif op == "fold":
            # re-split or (once a quantizer is committed) a re-assign
            # under it — the pruning-restoring maintenance pass
            fold(mode=rng.choice(["resplit", "reassign"]))
        elif op == "requantize":
            fold(mode="requantize")
        elif op == "fold_paused" and crashed is None:
            fold(paused=True, mode=rng.choice(["resplit", "requantize"]))
        elif op == "rollback":
            cands = [g for g in sorted(gen_snap) if g not in expired_gens]
            if cands:
                g = rng.choice(cands)
                try:
                    new_gen = SS.rollback_batched(root, g)
                except SS.SnapshotVacuumed:
                    # a rollback-created gen shares its base with an
                    # expired sibling: the dir died with the sibling's
                    # expiry — NAMED error, no state change
                    expired_gens.add(g)
                    new_gen = None
                if new_gen is not None:
                    assert new_gen == gen + 1
                    if crashed is not None:
                        # the in-flight partial dir was consumed: its
                        # replay is invisible forever — rollback
                        # discards post-snapshot data by intent
                        discarded.add(crashed)
                        crashed = None
                    base_vecs = set(gen_snap[g])
                    live_batches = set()
                    gen = new_gen
                    gen_snap[new_gen] = set(gen_snap[g])
        elif op == "expire" and len(gen_snap) > 2:
            got = SS.expire_snapshots(root, keep_last_n=2)
            # never the last two generations (shared-base gens may
            # survive past the depth — that is the documented edge)
            assert not (set(got) & set(sorted(gen_snap)[-2:])), got
            expired_gens.update(got)
        check()
    # drain: heal any crash, apply the rest, final fold, full check
    if crashed is not None:
        apply_batch(crashed)
        if crashed not in discarded:
            live_batches.add(crashed)
        crashed = None
    while next_b < len(batches):
        apply_batch(next_b)
        live_batches.add(next_b)
        next_b += 1
    fold()
    check()
    # the fold really split hot cells within the cap's doubling bound
    man_subs = SS.read_manifest_extra(root).get("cell_subs") or {}
    assert man_subs, "expected at least one split cell at this volume"


def test_materialized_view_retention(spark, tmpdir):
    """prune_materialized keeps the last N complete MV generations
    (never fewer than the newest — the consumer's resume point),
    removes older ones plus superseded incomplete debris, and the
    consumer keeps advancing normally afterwards."""
    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/mvr_up"
    mv = f"{tmpdir}/mvr_mv"
    schema = "k BIGINT, ib BIGINT"

    def gen_step(lo, hi, b):
        S.idempotent_batch_write(
            spark.range(lo, hi).select(
                F.col("id").alias("k"), F.pmod("id", F.lit(4)).alias("ib")
            ),
            root, b, partition_cols=["ib"],
        )
        S.compact_batched(
            spark, root, min_dirs=0, partition_cols=["ib"],
            gc_grace_sec=3600.0,
        )

    gen_step(0, 20, 0)
    S.materialize_snapshot(spark, root, mv, 1, schema, partitioned=True)
    for g in range(2, 5):
        gen_step(g * 20, g * 20 + 20, g)
        S.apply_change_feed(spark, root, mv, g, ["k"], schema, partitioned=True)
    # plant superseded incomplete debris (a killed application of g2)
    os.makedirs(f"{mv}/g2", exist_ok=True)
    os.remove(f"{mv}/g2/_SUCCESS")
    assert S.latest_materialized_gen(mv) == 4
    assert S.prune_materialized(mv, keep_last_n=2) == [1, 2]
    assert sorted(
        n for n in os.listdir(mv) if n.startswith("g")
    ) == ["g3", "g4"]
    # floored at 1: the resume point always survives
    assert S.prune_materialized(mv, keep_last_n=0) == [3]
    # the consumer still advances from the retained generation
    gen_step(100, 110, 9)
    S.apply_change_feed(spark, root, mv, 5, ["k"], schema, partitioned=True)
    got = sorted(
        r["k"] for r in S.read_materialized(spark, mv, schema).collect()
    )
    want = sorted(
        r["k"]
        for r in S.read_batched(
            spark, root, partitioned=True, schema=schema
        ).collect()
    )
    assert got == want


def test_change_feed_consumer_lease(spark, tmpdir):
    """The CDF->MV consumer is single-consumer by lease (r9): a second
    consumer racing the same mv_root aborts with the NAMED
    CompactorBusy instead of concurrently overwriting the same g<N>
    dir; a crashed consumer's expired lease is reclaimed and the
    takeover's application is a fresh deterministic rewrite."""
    import json as _json
    import time as _t

    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/cl_up"
    mv = f"{tmpdir}/cl_mv"
    schema = "k BIGINT, ib BIGINT"

    def gen_step(lo, hi, b):
        S.idempotent_batch_write(
            spark.range(lo, hi).select(
                F.col("id").alias("k"), F.pmod("id", F.lit(4)).alias("ib")
            ),
            root, b, partition_cols=["ib"],
        )
        S.compact_batched(
            spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=3600.0
        )

    gen_step(0, 10, 0)   # gen 1
    S.materialize_snapshot(spark, root, mv, 1, schema, partitioned=True)
    gen_step(10, 20, 1)  # gen 2

    # a live holder blocks both application and re-seeding, NAMED
    token = S._acquire_lease(mv, 3600.0)
    with pytest.raises(S.CompactorBusy):
        S.apply_change_feed(spark, root, mv, 2, ["k"], schema, partitioned=True)
    S._release_lease(mv, token)
    assert S.apply_change_feed(
        spark, root, mv, 2, ["k"], schema, partitioned=True
    ) == 2

    # an EXPIRED crashed consumer's lease is reclaimed by the takeover
    gen_step(20, 30, 2)  # gen 3
    with open(os.path.join(mv, S._COMPACT_LEASE), "w") as f:
        _json.dump(
            {"token": "crashed", "pid": os.getpid(), "host": S._HOSTNAME,
             "expires": _t.time() - 1}, f,
        )
    assert S.apply_change_feed(
        spark, root, mv, 3, ["k"], schema, partitioned=True
    ) == 3
    assert sorted(
        r["k"] for r in S.read_materialized(spark, mv, schema).collect()
    ) == list(range(30))


def test_requantize_then_resplit_keeps_quantizer(spark, tmpdir):
    """r9 extra-merge fix + auto maintenance policy: a quantizer
    re-train commits ``centroids`` in the manifest extra; a LATER
    plain re-split maintenance pass must carry them forward (transform
    extras merge over the prior payload — replacing it would silently
    revert serving to the stale creation-time quantizer).  The auto
    policy (ann_maintenance_transform) retrains only past the drift
    cap, re-splits otherwise, and the serve stays brute-force-exact
    through the whole lifecycle."""
    import random

    from mo_etl_spark import streaming as SS
    from mo_etl_spark.operators import similarity as S
    from mo_etl_spark.suites.streaming_real import _ivf_pruned_serve

    gen = random.Random(7)
    DIM, PROV = 6, 2

    def vec(near=None):
        if near is None:
            return [round(gen.uniform(-1.0, 1.0), 3) for _ in range(DIM)]
        return [round(x + gen.uniform(-0.05, 0.05), 3) for x in near]

    vecs = {i: vec() for i in range(60)}
    hot = vecs[3]
    # drifted arrivals: 40 vectors clustered near one direction — under
    # the creation quantizer they all land in one cell
    for i in range(100, 140):
        vecs[i] = vec(near=hot)
    cents0 = spark.createDataFrame(
        [(c, vecs[c]) for c in range(4)], "cent_id BIGINT, vec ARRAY<FLOAT>"
    )
    queries = spark.createDataFrame(
        [(9000 + j, vec()) for j in range(5)], "q_id BIGINT, vec ARRAY<FLOAT>"
    )
    root = f"{tmpdir}/requant"

    qid0 = S.quantizer_id(cents0)

    def put(ids, b):
        d = spark.createDataFrame(
            [(i, vecs[i]) for i in ids], "c_id BIGINT, vec ARRAY<FLOAT>"
        )
        SS.idempotent_batch_write(
            S.ivf_cells(d, cents0).join(d, "c_id").withColumn(
                "sub", F.pmod(F.xxhash64(F.col("c_id")), F.lit(PROV)).cast("int")
            ),
            root, b, partition_cols=["cell", "sub"],
        )
        SS.stamp_layout(root, b, qid0)

    def serve(cents):
        return sorted(
            (r["q_id"], r["c_id"], round(r["cos_sim"], 5), r["rnk"])
            for r in _ivf_pruned_serve(
                spark, root, cents, queries, nprobe=4, prov=PROV
            ).collect()
        )

    def truth(ids):
        corpus = spark.createDataFrame(
            [(i, vecs[i]) for i in sorted(ids)], "c_id BIGINT, vec ARRAY<FLOAT>"
        )
        return sorted(
            (r["q_id"], r["c_id"], round(r["cos_sim"], 5), r["rnk"])
            for r in S.brute_force_topk(
                queries, corpus, k=5, exclude_self=False,
                n_q_blocks=2, n_c_blocks=2,
            ).collect()
        )

    put(list(range(60)), 0)
    # balanced corpus: the auto policy must NOT retrain (re-split only)
    SS.compact_batched(
        spark, root, min_dirs=0, partition_cols=["cell", "sub"],
        gc_grace_sec=3600.0,
        transform=S.ann_maintenance_transform(
            cap_rows=12, retrain=(4, 1, 50)
        ),
    )
    assert "centroids" not in SS.read_manifest_extra(root)
    # drifted arrivals cross the cell cap: the same policy RETRAINS
    put(list(range(100, 140)), 1)
    SS.compact_batched(
        spark, root, min_dirs=0, partition_cols=["cell", "sub"],
        gc_grace_sec=3600.0,
        transform=S.ann_maintenance_transform(
            cap_rows=12, retrain=(4, 1, 50)
        ),
    )
    extra = SS.read_manifest_extra(root)
    assert "centroids" in extra and len(extra["centroids"]) == 4
    cents = S.quantizer_from_manifest(spark, root)
    all_ids = set(range(60)) | set(range(100, 140))
    assert serve(cents) == truth(all_ids)
    # the retrained quantizer really rebalanced the drifted mass
    base = SS.read_batched(
        spark, root, partitioned=True,
        schema="c_id BIGINT, vec ARRAY<FLOAT>, cell BIGINT, sub INT",
    )
    mx = base.groupBy("cell").count().agg(F.max("count").alias("m")).first()["m"]
    assert mx < 60  # was ~64+ in the creation quantizer's hot cell
    # a LATER plain re-split pass must CARRY the quantizer forward —
    # and the new batch is assigned (and stamped) under the CREATION
    # quantizer, the post-requantize mixed window: its cell numbers
    # are incomparable with the retrained probes, so the serve must
    # route it through the foreign-layout brute-force leg rather than
    # prune it away (the r9 layout-split discipline)
    vecs[200], vecs[201] = vec(), vec()
    put([200, 201], 2)
    SS.compact_batched(
        spark, root, min_dirs=0, partition_cols=["cell", "sub"],
        gc_grace_sec=3600.0,
        transform=S.ann_resplit_transform(12),
    )
    extra2 = SS.read_manifest_extra(root)
    assert extra2.get("centroids") == extra["centroids"]  # carried
    # the verbatim consolidation mixed two layouts: base unstamped,
    # served exactly via the foreign brute-force leg (unpruned)
    man = SS._read_manifest(root)
    assert SS.dir_layout(os.path.join(root, man["base"])) is None
    assert serve(S.quantizer_from_manifest(spark, root)) == truth(
        all_ids | {200, 201}
    )
    # RE-ASSIGN maintenance restores full pruning: every retained row
    # re-derived under the committed quantizer, base stamped with it
    SS.compact_batched(
        spark, root, min_dirs=0, partition_cols=["cell", "sub"],
        gc_grace_sec=3600.0,
        transform=S.ann_reassign_transform(root, 12),
    )
    man = SS._read_manifest(root)
    cents_committed = S.quantizer_from_manifest(spark, root)
    assert SS.dir_layout(os.path.join(root, man["base"])) == S.quantizer_id(
        cents_committed
    )
    assert SS.read_manifest_extra(root).get("centroids") == extra["centroids"]
    assert serve(cents_committed) == truth(all_ids | {200, 201})


def test_manifest_log_append_loss_narrows_horizon_only(spark, tmpdir):
    """Fault window between the live-pointer commit and the manifest
    LOG append (the one crash window inside _write_manifest itself):
    the generation is simply not travelable — NAMED SnapshotVacuumed,
    never a mis-read — the LIVE pointer and all reads are unaffected,
    and later commits append their own entries normally (the horizon
    is narrowed by exactly the lost generation, as documented)."""
    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/log_loss"
    schema = "k BIGINT, ib BIGINT"

    def gen_step(lo, hi, b):
        S.idempotent_batch_write(
            spark.range(lo, hi).select(
                F.col("id").alias("k"), F.pmod("id", F.lit(4)).alias("ib")
            ),
            root, b, partition_cols=["ib"],
        )
        S.compact_batched(
            spark, root, min_dirs=0, partition_cols=["ib"],
            gc_grace_sec=3600.0,
        )

    gen_step(0, 20, 0)  # gen 1
    os.remove(os.path.join(root, "_MANIFEST.g1"))  # crash lost the append
    # live reads are untouched — the pointer committed first
    assert S.read_batched(
        spark, root, partitioned=True, schema=schema
    ).count() == 20
    with pytest.raises(S.SnapshotVacuumed):
        S.read_batched_at(spark, root, 1, schema)
    # rollback to the lost generation is the same NAMED refusal
    with pytest.raises(S.SnapshotVacuumed):
        S.rollback_batched(root, 1)
    # the table keeps living: gen 2 commits, logs, travels normally
    gen_step(20, 30, 1)
    assert sorted(S.read_manifest_log(root)) == [2]
    assert S.read_batched_at(
        spark, root, 2, schema, partitioned=True
    ).count() == 30
    assert S.read_batched(
        spark, root, partitioned=True, schema=schema
    ).count() == 30


def test_maintain_batched_ann_auto_policy(spark, tmpdir):
    """maintain_batched(ann=) owns ANN maintenance the way rebucket=
    owns spec growth: dir-count pressure triggers the pass, the policy
    re-splits (and past the drift cap, re-trains) without anyone
    remembering which transform to build."""
    import random

    from mo_etl_spark import streaming as SS
    from mo_etl_spark.operators import similarity as S

    gen = random.Random(11)
    rows = [
        (i, [round(gen.uniform(-1, 1), 3) for _ in range(4)])
        for i in range(40)
    ]
    hot = rows[2][1]
    rows += [
        (100 + i, [round(x + gen.uniform(-0.05, 0.05), 3) for x in hot])
        for i in range(60)
    ]  # drifted mass: one creation-cell swallows it
    cents0 = spark.createDataFrame(
        [(c, rows[c][1]) for c in range(3)], "cent_id BIGINT, vec ARRAY<FLOAT>"
    )
    root = f"{tmpdir}/ann_auto"
    for b in range(4):
        d = spark.createDataFrame(
            rows[b * 25:(b + 1) * 25], "c_id BIGINT, vec ARRAY<FLOAT>"
        )
        SS.idempotent_batch_write(
            S.ivf_cells(d, cents0).join(d, "c_id").withColumn(
                "sub", F.pmod(F.xxhash64("c_id"), F.lit(2)).cast("int")
            ),
            root, b, partition_cols=["cell", "sub"],
        )
        SS.stamp_layout(root, b, S.quantizer_id(cents0))
    # below dir pressure: no-op
    assert SS.maintain_batched(
        spark, root, max_dirs=16, partition_cols=["cell", "sub"],
        ann=(10, (4, 1, 40)), gc_grace_sec=3600.0,
    ) == 0
    # at pressure: the pass runs and the drift cap triggers a re-train
    assert SS.maintain_batched(
        spark, root, max_dirs=4, partition_cols=["cell", "sub"],
        ann=(10, (4, 1, 40)), gc_grace_sec=3600.0,
    ) > 0
    extra = SS.read_manifest_extra(root)
    assert "centroids" in extra and len(extra["centroids"]) == 4
    # mutually exclusive knobs stay a loud error
    with pytest.raises(ValueError, match="at most one"):
        SS.maintain_batched(
            spark, root, partition_cols=["cell", "sub"],
            ann=(10, None), rebucket=("ib", lambda n: F.lit(0), 2, 4),
        )


def test_group_feed_vacuum_guard_later_generation(spark, tmpdir):
    """ADVICE r10 medium: a window batch consumed by a generation
    LATER than the txn record's gen (a maintenance fold run AFTER the
    last txn_commit) and then grace-vacuumed was invisible to both the
    os.listdir and the old g_to-bounded consumed check — the fast path
    returned a silently LOSSY feed (missing every window insert).  The
    guard now diffs against the LIVE manifest's consumed set and
    returns None, pushing the caller to the snapshot path, whose own
    vacuum discipline (_group_entries_at) raises NAMED."""
    from mo_etl_spark import streaming as S

    g = f"{tmpdir}/gv"
    ta = f"{tmpdir}/gv_a"
    schema = "k BIGINT"
    for b, (lo, hi) in enumerate(((0, 10), (10, 20), (20, 25))):
        S.idempotent_batch_write(
            spark.range(lo, hi).select(F.col("id").alias("k")), ta, b
        )
        S.txn_commit(g, b, {"a": ta})
    # maintenance fold AFTER the last commit: consumes b0..b2 into a
    # base under a generation NEWER than any txn record's gen, then
    # zero-grace vacuum removes the dirs immediately
    S.compact_batched(spark, ta, min_dirs=0, gc_grace_sec=0.0)
    assert not any(
        os.path.isdir(os.path.join(ta, f"b{b}")) for b in range(3)
    )
    # the fast path must refuse (old behavior: empty insert feed)
    assert S.diff_group_adjacent(spark, g, 0, 2, "a", ["k"], schema) is None
    # and the snapshot path names the vacuum instead of dropping rows
    with pytest.raises(S.SnapshotVacuumed):
        S.read_group_at(spark, g, 0, "a", schema).collect()


def test_group_mirror_composite_key_tombstones(spark, tmpdir):
    """ADVICE r10 medium: group mirrors keyed on COMPOSITE keys (the
    index mirror's [id, band, bk], the pairs mirror's [id_a, id_b])
    append composite tombstone rows, but the old read anti-joined one
    column — a single retracted (k, band) dropped EVERY band of that
    k from the read.  read_materialized_batched now accepts the full
    key list; apply_group_feed_batched enforces keys-never-resurrect
    on the composite key (ADVICE r10 low) with the same NAMED error
    apply_change_feed_batched raises."""
    from mo_etl_spark import streaming as S

    g = f"{tmpdir}/gc"
    ta = f"{tmpdir}/gc_a"
    mv = f"{tmpdir}/gc_mv"
    schema = "k BIGINT, band BIGINT"
    rows0 = [(1, 0), (1, 1), (2, 0), (2, 1)]
    S.idempotent_batch_write(
        spark.createDataFrame(rows0, schema), ta, 0, partition_cols=["band"]
    )
    S.txn_commit(g, 0, {"a": ta})
    S.materialize_group_member(spark, g, mv, "a", 0, schema)

    # a transform fold removes ONLY (1, 0) — one band of doc 1 —
    # yielding a composite-key delete through the snapshot-diff
    # fallback (the transform generation is non-plain by design)
    S.compact_batched(
        spark, ta, min_dirs=0, partition_cols=["band"],
        gc_grace_sec=3600.0, max_batch=0,
        transform=lambda df: df.where(
            ~((F.col("k") == 1) & (F.col("band") == 0))
        ),
    )
    S.idempotent_batch_write(
        spark.createDataFrame([(3, 0)], schema), ta, 1,
        partition_cols=["band"],
    )
    S.txn_commit(g, 1, {"a": ta})
    assert S.apply_group_feed_batched(
        spark, g, mv, "a", ["k", "band"], 1, schema
    ) == 1
    assert S.has_tombstones(mv)  # the composite delete is pending
    got = sorted(
        (r["k"], r["band"])
        for r in S.read_materialized_batched(
            spark, mv, ["k", "band"], schema
        ).collect()
    )
    # (1, 1) SURVIVES: only the retracted composite key is gone (the
    # old single-column anti-join erased it too)
    assert got == [(1, 1), (2, 0), (2, 1), (3, 0)]

    # resurrection on the composite key: re-insert (1, 0) upstream —
    # the next application must abort NAMED, not queue a silent erase
    S.idempotent_batch_write(
        spark.createDataFrame([(1, 0)], schema), ta, 2,
        partition_cols=["band"],
    )
    S.txn_commit(g, 2, {"a": ta})
    with pytest.raises(ValueError, match="resurrect"):
        S.apply_group_feed_batched(
            spark, g, mv, "a", ["k", "band"], 2, schema
        )


def test_pq_residual_maintenance_consistency(spark, tmpdir):
    """ADVICE r10 low: the pq= auto-maintenance branch ignored the
    committed ``pq_residual`` flag — raw vectors measured against
    residual-trained books always read as drifted, so every pass
    retrained, and the triggered retrain ran WITHOUT coarse, silently
    flipping the index from residual to raw encoding.  Pinned both
    ways: a stable residual table under the cap keeps its books and
    its residual flag; a residual table with NO committed coarse
    quantizer raises NAMED instead of mis-measuring."""
    import random

    from mo_etl_spark import streaming as S
    from mo_etl_spark.operators import similarity as SIM

    rng = random.Random(23)
    DIM, M, DSUB, KC = 8, 2, 4, 8
    # two far-apart clusters: residual distortion (jitter scale) is
    # orders below raw distortion (cluster-offset scale)
    rows = [
        (
            i,
            [
                (5.0 if i % 2 else -5.0) + rng.uniform(-0.1, 0.1)
                for _ in range(DIM)
            ],
        )
        for i in range(80)
    ]
    corpus = spark.createDataFrame(rows, "c_id BIGINT, vec ARRAY<DOUBLE>")
    root = f"{tmpdir}/pqres"
    S.idempotent_batch_write(
        corpus.withColumn("cell", F.pmod("c_id", F.lit(2)))
        .withColumn("sub", F.lit(0))
        .withColumn(
            "_sc",
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("int").alias("s"),
                        F.lit(0).cast("bigint").alias("code"),
                    )
                    for s in range(M)
                ]
            ),
        ),
        root, 0, partition_cols=["cell", "sub"],
    )
    # 1) requantize commits the coarse quantizer ('centroids')...
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["cell", "sub"],
        gc_grace_sec=3600.0,
        transform=SIM.ann_requantize_transform(k=2, iters=2, cap_rows=100),
    )
    coarse = SIM.quantizer_from_manifest(spark, root)
    assert coarse is not None
    # 2) ...then residual PQ books are trained against it and committed
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["cell", "sub"],
        gc_grace_sec=3600.0,
        transform=SIM.ann_pq_retrain_transform(
            m=M, dsub=DSUB, k_codes=KC, iters=2, coarse=coarse
        ),
    )
    extra1 = S.read_manifest_extra(root)
    assert extra1["pq_residual"] is True and "centroids" in extra1
    # 3) stable corpus, generous cap: the pass must take the re-split
    # branch (books + residual flag carried), because distortion is
    # now measured on RESIDUALS — the old raw measurement always blew
    # the cap and re-trained raw
    PQ = (M, DSUB, KC, 1, 1.0)
    assert S.maintain_batched(
        spark, root, max_dirs=1, partition_cols=["cell", "sub"],
        ann=(100, None, PQ), gc_grace_sec=3600.0,
    ) > 0
    extra2 = S.read_manifest_extra(root)
    assert extra2["pq_residual"] is True
    assert extra2["pq_codebooks"] == extra1["pq_codebooks"]
    assert extra2["layout_id"] == extra1["layout_id"]
    # 4) drifted arrivals past the cap: the retrain runs WITH coarse —
    # new books, still residual
    drift = [
        (
            1000 + i,
            [10.0 + rng.uniform(-0.1, 0.1) for _ in range(DIM)],
        )
        for i in range(80)
    ]
    S.idempotent_batch_write(
        spark.createDataFrame(drift, "c_id BIGINT, vec ARRAY<DOUBLE>")
        .withColumn("cell", F.lit(0))
        .withColumn("sub", F.lit(0))
        .withColumn(
            "_sc",
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("int").alias("s"),
                        F.lit(0).cast("bigint").alias("code"),
                    )
                    for s in range(M)
                ]
            ),
        ),
        root, 1, partition_cols=["cell", "sub"],
    )
    assert S.maintain_batched(
        spark, root, max_dirs=1, partition_cols=["cell", "sub"],
        ann=(100, None, (M, DSUB, KC, 1, 0.001)), gc_grace_sec=3600.0,
    ) > 0
    extra3 = S.read_manifest_extra(root)
    assert extra3["pq_residual"] is True  # never silently flipped
    assert extra3["pq_codebooks"] != extra1["pq_codebooks"]

    # 5) residual books but NO committed coarse quantizer: NAMED error
    root2 = f"{tmpdir}/pqres2"
    S.idempotent_batch_write(
        corpus.withColumn("cell", F.pmod("c_id", F.lit(2)))
        .withColumn("sub", F.lit(0)),
        root2, 0, partition_cols=["cell", "sub"],
    )
    # cent_ids aligned with the hand-assigned cell = pmod(c_id, 2):
    # even ids sit at -5, odd at +5
    cents2 = spark.createDataFrame(
        [(0, [-5.0] * DIM), (1, [5.0] * DIM)],
        "cent_id BIGINT, vec ARRAY<DOUBLE>",
    )
    S.compact_batched(
        spark, root2, min_dirs=0, partition_cols=["cell", "sub"],
        gc_grace_sec=3600.0,
        transform=SIM.ann_pq_retrain_transform(
            m=M, dsub=DSUB, k_codes=KC, iters=1, coarse=cents2
        ),
    )
    assert S.read_manifest_extra(root2)["pq_residual"] is True
    assert SIM.quantizer_from_manifest(spark, root2) is None
    with pytest.raises(ValueError, match="coarse quantizer"):
        S.maintain_batched(
            spark, root2, max_dirs=1, partition_cols=["cell", "sub"],
            ann=(100, None, PQ), gc_grace_sec=3600.0,
        )


def test_group_retention_keep_last_txns(spark, tmpdir):
    """GROUP-LEVEL RETENTION GUARANTEE (r11, VERDICT r10 item #3):
    without it the group travel horizon is the MINIMUM of its members'
    horizons — per-member expire_snapshots(keep_last_n) can vacuum a
    generation a recent group txn record references, and read_group_at
    can only fail NAMED.  ``keep_last_txns=(group_root, K)`` exempts
    every member generation (base + unconsumed window batch dirs) the
    last K txn records reference.  Pinned: K txns stay travelable
    under zero-grace member expiry, K+1 raises NAMED; and the
    compact-GC path keeps the group change-file feed alive across a
    post-commit zero-grace fold."""
    from mo_etl_spark import streaming as S

    # --- expiry path: each txn pins a distinct member generation
    g = f"{tmpdir}/kt"
    ta = f"{tmpdir}/kt_a"
    schema = "k BIGINT"
    for t in range(5):
        S.idempotent_batch_write(
            spark.range(t * 10, t * 10 + 10).select(F.col("id").alias("k")),
            ta, t,
        )
        S.compact_batched(spark, ta, min_dirs=0, gc_grace_sec=3600.0)
        S.txn_commit(g, t, {"a": ta})  # txn t records gen t+1
    expired = S.expire_snapshots(
        ta, keep_last_n=1, older_than_sec=0.0, keep_last_txns=(g, 2)
    )
    assert expired  # something WAS vacuumed (the guarantee is not
    # "never expire" — only the last-K window is pinned)
    # last K=2 txns stay green under the aggressive member expiry
    for t in (3, 4):
        got = sorted(
            r["k"] for r in S.read_group_at(spark, g, t, "a", schema).collect()
        )
        assert got == list(range((t + 1) * 10)), t
    # K+1 raises NAMED — the horizon is exactly K, never silently wrong
    with pytest.raises(S.SnapshotVacuumed):
        S.read_group_at(spark, g, 2, "a", schema).collect()

    # --- compact-GC path: post-commit fold with zero grace would
    # vacuum the window's batch dirs (the ADVICE r10 lossy-feed
    # scenario); keep_last_txns pins them, so group travel AND the
    # change-file fast path survive the fold
    g2 = f"{tmpdir}/kt2"
    tb = f"{tmpdir}/kt2_b"
    for t in range(3):
        S.idempotent_batch_write(
            spark.range(t * 10, t * 10 + 10).select(F.col("id").alias("k")),
            tb, t,
        )
        S.txn_commit(g2, t, {"b": tb})
    S.compact_batched(
        spark, tb, min_dirs=0, gc_grace_sec=0.0, keep_last_txns=(g2, 2)
    )
    # txn 1 and 2 snapshots green (b0..b2 pinned — txn 1 needs b0 too)
    for t in (1, 2):
        got = sorted(
            r["k"] for r in S.read_group_at(spark, g2, t, "b", schema).collect()
        )
        assert got == list(range((t + 1) * 10)), t
    # the group change-file feed across the last window is still the
    # fast path (its batch dir survived the zero-grace fold)
    feed = S.diff_group_adjacent(spark, g2, 1, 2, "b", ["k"], schema)
    assert feed is not None
    assert sorted(r["k"] for r in feed.collect()) == list(range(20, 30))


def test_change_file_transform_fold_fast_path(spark, tmpdir):
    """CHANGE FILES FOR TRANSFORM GENERATIONS (r11, VERDICT r10 item
    #4 — the Delta MERGE-CDF shape): a rebucket/requantize fold
    rewrites rows it can enumerate, so ``change_feed=True`` makes it
    materialize its row-level delta to ``.changes/g<gen>`` and commit
    the pointer in the manifest; diff_batched_adjacent then composes
    plain AND transform generations per-generation — zero snapshot
    scans across a maintenance window.  Exactness pinned against
    diff_batched on a window containing appends, retractions and a
    spec-doubling rebucket; an opted-out transform still falls back."""
    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/cf"
    schema = "k BIGINT, ib BIGINT"

    def kdf(lo, hi, n=4):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            F.pmod(F.xxhash64("id"), F.lit(n)).alias("ib"),
        )

    S.idempotent_batch_write(kdf(0, 200), root, 0, partition_cols=["ib"])
    S.stamp_spec(root, 0, 4)
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=3600.0
    )  # gen1, plain
    S.idempotent_batch_write(kdf(1000, 1050), root, 1, partition_cols=["ib"])
    S.stamp_spec(root, 1, 4)
    S.append_tombstones(
        spark.createDataFrame([(k,) for k in range(0, 200, 10)], "k BIGINT"),
        root,
    )
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=3600.0,
        tombstone_col="k", change_feed=True,
        transform=S.rebucket_transform(
            "ib", lambda n: F.pmod(F.xxhash64("k"), F.lit(n)), 4,
            cap_rows=10, prior_extra=S.read_manifest_extra(root),
        ),
    )  # gen2: TRANSFORM, with change file
    man = S._read_manifest(root)
    assert man["plain"] is False and man.get("change") == "g2"
    assert os.path.isdir(os.path.join(root, ".changes", "g2"))
    n_new = S.current_spec(root, 4)
    assert n_new >= 8  # the spec actually doubled (payloads moved)
    S.idempotent_batch_write(
        kdf(2000, 2020, n=n_new), root, 2, partition_cols=["ib"]
    )
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=3600.0
    )  # gen3, plain

    feed = S.diff_batched_adjacent(spark, root, 1, 3, ["k"], schema)
    assert feed is not None  # the transform window serves the fast path
    rows = feed.collect()
    ins = sorted(r["k"] for r in rows if r["_change"] == "insert")
    dls = sorted(r["k"] for r in rows if r["_change"] == "delete")
    oracle = S.diff_batched(
        spark, root, 1, 3, ["k"], schema, partitioned=True
    ).collect()
    assert ins == sorted(
        r["k"] for r in oracle if r["_change"] == "insert"
    )
    assert dls == sorted(
        r["k"] for r in oracle if r["_change"] == "delete"
    )
    # the rebucket moved payloads of surviving pre-window keys — the
    # key-only feed correctly emits NOTHING for them (diff parity)
    assert not (set(ins) & set(range(0, 200)))

    # consumer through the window: the batched MV advanced via
    # change_files=True crosses the transform generation on the fast
    # path and stays row-equal with the direct snapshot
    mv = f"{tmpdir}/cf_mv"
    S.materialize_snapshot_batched(
        spark, root, mv, 1, partitioned=True, schema=schema
    )
    assert S.apply_change_feed_batched(
        spark, root, mv, 3, "k", schema, partitioned=True,
        change_files=True,
    ) == 3
    got = sorted(
        r["k"]
        for r in S.read_materialized_batched(spark, mv, "k", schema).collect()
    )
    want = sorted(
        r["k"]
        for r in S.read_batched_at(
            spark, root, 3, schema, partitioned=True
        ).collect()
    )
    assert got == want

    # an opted-OUT transform generation still poisons the window
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=3600.0,
        transform=lambda df: (df, dict(S.read_manifest_extra(root))),
    )  # gen4: transform, no change file
    assert S.diff_batched_adjacent(spark, root, 1, 4, ["k"], schema) is None
    # and a vacuumed change file falls back too
    shutil.rmtree(os.path.join(root, ".changes", "g2"))
    assert S.diff_batched_adjacent(spark, root, 1, 3, ["k"], schema) is None


def test_group_feed_across_rebucket_window(spark, tmpdir):
    """GROUP change-file feed across a MID-STREAM REBUCKET (r11): a
    consumer lagging across a maintenance window previously paid the
    table-bound snapshot diff (SCALE_r10: 13x at 30x) because the
    transform generation poisoned the fast path.  With the fold
    emitting its change file, diff_group_adjacent composes it with the
    window's batch dirs — including the presence correction for
    pre-window live batches the transform consumed — and a
    composite-key mirror (key includes the bucket column) stays exact:
    moved rows flow as delete(old bucket)+insert(new bucket)."""
    from mo_etl_spark import streaming as S

    g = f"{tmpdir}/gcf"
    ta = f"{tmpdir}/gcf_t"
    schema = "k BIGINT, ib BIGINT"

    def kdf(lo, hi, n):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            F.pmod(F.xxhash64("id"), F.lit(n)).alias("ib"),
        )

    # txn 0: b0 folded plain -> gen1; txn 1: b1 LIVE (unconsumed)
    S.idempotent_batch_write(kdf(0, 100, 4), ta, 0, partition_cols=["ib"])
    S.stamp_spec(ta, 0, 4)
    S.compact_batched(
        spark, ta, min_dirs=0, partition_cols=["ib"], gc_grace_sec=3600.0
    )
    S.txn_commit(g, 0, {"t": ta})
    S.idempotent_batch_write(kdf(500, 540, 4), ta, 1, partition_cols=["ib"])
    S.stamp_spec(ta, 1, 4)
    S.txn_commit(g, 1, {"t": ta})
    # mirror seeded at txn 0 (so b1 is IN the consumer's window and
    # gets consumed by the mid-window transform -> presence correction)
    mv = f"{tmpdir}/gcf_mv"
    S.materialize_group_member(spark, g, mv, "t", 0, schema)
    # ...but we advance it only AFTER the rebucket below

    # mid-window REBUCKET with change file (consumes live b1 too)
    S.append_tombstones(
        spark.createDataFrame([(k,) for k in range(0, 100, 9)], "k BIGINT"),
        ta,
    )
    S.compact_batched(
        spark, ta, min_dirs=0, partition_cols=["ib"], gc_grace_sec=3600.0,
        tombstone_col="k", change_feed=True,
        max_batch=S.txn_watermark(g),
        transform=S.rebucket_transform(
            "ib", lambda n: F.pmod(F.xxhash64("k"), F.lit(n)), 4,
            cap_rows=10, prior_extra=S.read_manifest_extra(ta),
        ),
    )
    n_new = S.current_spec(ta, 4)
    assert n_new >= 8
    # txn 2: one more live batch after the fold
    S.idempotent_batch_write(kdf(900, 910, n_new), ta, 2, partition_cols=["ib"])
    S.stamp_spec(ta, 2, n_new)
    S.txn_commit(g, 2, {"t": ta})

    # the fast path serves the whole 0 -> 2 window (transform inside)
    feed = S.diff_group_adjacent(spark, g, 0, 2, "t", ["k"], schema)
    assert feed is not None
    rows = feed.collect()
    ins = sorted(r["k"] for r in rows if r["_change"] == "insert")
    dls = sorted(r["k"] for r in rows if r["_change"] == "delete")
    # oracle: keyed diff of the two group-travel views
    a = S.read_group_at(spark, g, 0, "t", schema, partitioned=True)
    b = S.read_group_at(spark, g, 2, "t", schema, partitioned=True)
    oins = sorted(
        r["k"] for r in b.join(a.select("k"), "k", "left_anti").collect()
    )
    odls = sorted(
        r["k"] for r in a.join(b.select("k"), "k", "left_anti").collect()
    )
    assert ins == oins  # b1's keys NOT double-counted (presence fix)
    assert dls == odls

    # composite-key mirror across the rebucket: moved rows mirror as
    # delete(old bucket) + insert(new bucket), final state exact
    mv2 = f"{tmpdir}/gcf_mv2"
    S.materialize_group_member(spark, g, mv2, "t", 0, schema)
    assert S.apply_group_feed_batched(
        spark, g, mv2, "t", ["k", "ib"], 2, schema
    ) == 2
    got = sorted(
        (r["k"], r["ib"])
        for r in S.read_materialized_batched(
            spark, mv2, ["k", "ib"], schema
        ).collect()
    )
    want = sorted((r["k"], r["ib"]) for r in b.collect())
    assert got == want

    # the single-column-key mirror keeps diff parity too (payload
    # moves invisible by contract)
    assert S.apply_group_feed_batched(
        spark, g, mv, "t", ["k"], 2, schema
    ) == 2
    gotk = sorted(
        r["k"]
        for r in S.read_materialized_batched(spark, mv, "k", schema).collect()
    )
    assert gotk == sorted(r["k"] for r in b.collect())


@pytest.mark.parametrize("seed", [3, 29])
def test_cross_family_txn_group_chaos_model(spark, tmpdir, seed):
    """CROSS-FAMILY txn group chaos model (r11, VERDICT r10 item #1):
    the trio model proved the protocol for tables sharing one write
    path; this instance drives a group whose members belong to
    DIFFERENT operator families — the arrived-vector corpus
    (db-bucketed relational state) and the serving IVF index
    ((cell, sub)-partitioned ANN state) — through a seeded schedule of
    applies, crashes planted BETWEEN the corpus and index writes
    (after_corpus / mid_index / before_txn), late replays, per-member
    folds (including the ANN re-split transform), and a
    stale-watermark fold.  THE invariant, asserted at EVERY step
    including open torn windows: transactional readers at
    ``max_batch=txn_watermark`` see the SAME id set in both tables —
    an embedding is never findable by similarity search but missing
    from the corpus, or arrived but unfindable.  Final gate: the
    layout-split pruned serve at the watermark equals the one-shot
    top-5 over the committed corpus."""
    import random

    from mo_etl_spark import streaming as SS
    from mo_etl_spark.operators import similarity as S
    from mo_etl_spark.suites.streaming_real import (
        _VEC_CORPUS_SCHEMA,
        PlantedCrash,
        _vec_group_apply_batch,
    )

    rng = random.Random(seed)
    gen = random.Random(41)  # corpus fixed across seeds
    DIM, N_BATCH, PER, PROV = 8, 5, 10, 2
    protos = [
        [(6.0 if j == c else -2.0) + gen.uniform(-0.2, 0.2) for j in range(DIM)]
        for c in range(4)
    ]
    cents = spark.createDataFrame(
        [(c, [float(x) for x in protos[c]]) for c in range(4)],
        "cent_id BIGINT, vec ARRAY<FLOAT>",
    ).localCheckpoint()
    qid0 = S.quantizer_id(cents)

    def mk_batch(b: int):
        rows = []
        for i in range(PER):
            cid = b * PER + i
            p = protos[gen.randrange(4)]
            rows.append(
                (cid, [x + gen.uniform(-0.3, 0.3) for x in p])
            )
        return rows

    batches = [mk_batch(b) for b in range(N_BATCH)]

    def bdf(b: int):
        return spark.createDataFrame(
            batches[b], "vec_id BIGINT, embedding ARRAY<FLOAT>"
        )

    corpus_dir, idx_dir = f"{tmpdir}/vg_corpus", f"{tmpdir}/vg_index"
    group = f"{tmpdir}/vg_group"
    IDX_SCHEMA = "c_id BIGINT, vec ARRAY<FLOAT>, cell BIGINT, sub INT"

    def apply_full(b: int, crash: str | None = None):
        _vec_group_apply_batch(
            spark, corpus_dir, idx_dir, bdf(b), b, cents, qid0, group,
            nb=4, prov=PROV, crash_point=crash,
        )

    apply_full(0)
    committed = 1
    crashed: int | None = None

    def check():
        w = SS.txn_watermark(group)
        assert w == committed - 1, (w, committed)
        want = {i for b in range(committed) for i, _ in batches[b]}
        corp_ids = {
            r["c_id"]
            for r in SS.read_batched(
                spark, corpus_dir, partitioned=True,
                schema=_VEC_CORPUS_SCHEMA, max_batch=w,
            ).select("c_id").collect()
        }
        idx_ids = {
            r["c_id"]
            for r in SS.read_batched(
                spark, idx_dir, partitioned=True, schema=IDX_SCHEMA,
                max_batch=w,
            ).select("c_id").distinct().collect()
        }
        # THE cross-family invariant: both members at the watermark,
        # torn window open or not
        assert corp_ids == want, ("corpus torn", committed, crashed)
        assert idx_ids == want, ("index torn", committed, crashed)

    for step in range(16):
        op = rng.choice(
            ["apply", "apply", "crash", "late_replay",
             "fold_idx", "fold_corpus", "fold_stale_watermark"]
        )
        if op == "apply":
            if crashed is not None:
                apply_full(crashed)
                committed += 1
                crashed = None
            elif committed < N_BATCH:
                apply_full(committed)
                committed += 1
        elif op == "crash" and crashed is None and committed < N_BATCH:
            point = rng.choice(["after_corpus", "mid_index", "before_txn"])
            with pytest.raises(PlantedCrash):
                apply_full(committed, crash=point)
            crashed = committed
        elif op == "late_replay" and committed > 1:
            apply_full(rng.randrange(committed))  # must be a no-op
        elif op == "fold_idx":
            SS.compact_batched(
                spark, idx_dir, min_dirs=0, partition_cols=["cell", "sub"],
                gc_grace_sec=0.0, max_batch=SS.txn_watermark(group),
                transform=S.ann_resplit_transform(64),
            )
        elif op == "fold_corpus":
            SS.compact_batched(
                spark, corpus_dir, min_dirs=0, partition_cols=["db"],
                gc_grace_sec=0.0, max_batch=SS.txn_watermark(group),
            )
        elif op == "fold_stale_watermark":
            w = SS.txn_watermark(group)
            stale = (w - 1) if w is not None and w > 0 else w
            SS.compact_batched(
                spark, idx_dir, min_dirs=0, partition_cols=["cell", "sub"],
                gc_grace_sec=0.0, max_batch=stale,
                transform=S.ann_resplit_transform(64),
            )
        check()
    # drain and serve-check: the transactional layout-split serve at
    # the watermark equals the one-shot top-5 over the committed
    # corpus (nprobe = all 4 cells -> exact)
    if crashed is not None:
        apply_full(crashed)
        committed += 1
        crashed = None
    while committed < N_BATCH:
        apply_full(committed)
        committed += 1
    check()
    from mo_etl_spark.suites.streaming_real import _ivf_pruned_serve

    queries = spark.createDataFrame(
        [
            (100 + c, [x + 0.05 for x in protos[c]])
            for c in range(4)
        ],
        "q_id BIGINT, vec ARRAY<FLOAT>",
    )
    w = SS.txn_watermark(group)
    got = sorted(
        (r["q_id"], r["rnk"], r["c_id"])
        for r in _ivf_pruned_serve(
            spark, idx_dir, cents, queries, nprobe=4, prov=PROV,
            max_batch=w,
        ).collect()
    )
    corpus_all = spark.createDataFrame(
        [x for b in batches for x in b], "c_id BIGINT, vec ARRAY<FLOAT>"
    )
    want_serve = sorted(
        (r["q_id"], r["rnk"], r["c_id"])
        for r in S.brute_force_topk(
            queries, corpus_all, k=5, exclude_self=False,
            n_q_blocks=1, n_c_blocks=1,
        ).collect()
    )
    assert got == want_serve


@pytest.mark.parametrize("seed", [5, 17, 29, 41])
def test_txn_protocol_threaded_full_model(spark, tmpdir, seed):
    """FULL-PROTOCOL threaded interleaving model (r11, VERDICT r10
    item #2 — the monotonicity model extended to the whole op family):
    a live WRITER committing fresh batches, TWO COMPACTORS folding
    concurrently (one at the live watermark, one deliberately STALE),
    a GROUP-FEED CONSUMER advancing a mirror mid-commit, a
    TRANSACTIONAL READER asserting exact visibility at every poll, and
    CRASH DEBRIS planted between the pointer write and the log append
    (orphan ``_TXN.tmp`` / ``_TXN.t*.tmp`` files) — all interleaved by
    the OS scheduler under a seeded op mix.  Invariants at every step:
    the transactional read at the resolved watermark is EXACTLY the
    committed prefix; the mirror equals the prefix at its cursor after
    every application; racing compactors die with the NAMED
    CompactorBusy, never corruption.  The consumer targets
    ``txn_watermark_logged`` — the mid-commit-safe watermark this
    model's first run motivated (a pointer can be visible before its
    history entry lands)."""
    import random
    import threading

    from mo_etl_spark import streaming as S

    rng = random.Random(seed)
    g = f"{tmpdir}/full_threads"
    root = f"{tmpdir}/full_threads_tbl"
    mv = f"{tmpdir}/full_threads_mv"
    schema = "k BIGINT"
    N, PER = 10, 5

    def write_and_commit(b: int) -> None:
        S.idempotent_batch_write(
            spark.range(b * PER, (b + 1) * PER).select(
                F.col("id").alias("k")
            ),
            root, b,
        )
        S.txn_commit(g, b, {"t": root})

    write_and_commit(0)
    S.materialize_group_member(spark, g, mv, "t", 0, schema)
    errors: list[str] = []
    stop = threading.Event()

    def expected(w: int) -> set[int]:
        return set(range((w + 1) * PER))

    def writer():
        try:
            for b in range(1, N + 1):
                write_and_commit(b)
        except Exception as e:  # noqa: BLE001
            errors.append(f"writer: {e!r}")
        finally:
            stop.set()

    def compactor(stale: bool, cseed: int):
        r = random.Random(cseed)
        while not stop.is_set():
            try:
                w = S.txn_watermark(g)
                if w is None:
                    continue
                mb = max(w - 1, 0) if stale else w
                S.compact_batched(
                    spark, root, min_dirs=0, gc_grace_sec=3600.0,
                    max_batch=mb, lease_ttl_sec=60.0,
                )
            except S.CompactorBusy:
                pass  # the NAMED loss — exactly the contract
            except Exception as e:  # noqa: BLE001
                errors.append(f"compactor(stale={stale}): {e!r}")
                return
            stop.wait(r.uniform(0.05, 0.2))

    def consumer():
        # the mirror advances to the LOGGED watermark: the pointer can
        # be momentarily ahead of its history entry mid-commit
        while not stop.is_set() or S.read_mv_cursor(mv) < N:
            try:
                w = S.txn_watermark_logged(g)
                cur = S.read_mv_cursor(mv)
                if w is None or cur is None or w <= cur:
                    continue
                got = S.apply_group_feed_batched(
                    spark, g, mv, "t", ["k"], w, schema
                )
                ids = {
                    r["k"]
                    for r in S.read_materialized_batched(
                        spark, mv, "k", schema
                    ).collect()
                }
                assert ids == expected(got), (
                    "mirror mismatch", got, len(ids),
                )
            except S.CompactorBusy:
                pass
            except Exception as e:  # noqa: BLE001
                errors.append(f"consumer: {e!r}")
                return

    def txn_reader(rounds: int):
        # same bounded-window discipline as the WAP model's main
        # reader: a fold at a newer watermark can land between the
        # pointer resolve and the collect, so the read must equal the
        # committed prefix of SOME v in [w_before, w_after]
        try:
            for _ in range(rounds):
                w = S.txn_watermark(g)
                if w is None:
                    continue
                ids = {
                    r["k"]
                    for r in S.read_batched(
                        spark, root, schema=schema, max_batch=w
                    ).collect()
                }
                w2 = S.txn_watermark(g)
                assert any(
                    ids == expected(v) for v in range(w, w2 + 1)
                ), ("txn read", w, w2, len(ids))
                if stop.is_set():
                    break
        except Exception as e:  # noqa: BLE001
            errors.append(f"txn_reader: {e!r}")

    def debris(dseed: int):
        # crash debris between the pointer write and the log append:
        # orphan tmp files every protocol reader must skip
        r = random.Random(dseed)
        while not stop.is_set():
            try:
                with open(os.path.join(g, "_TXN.tmp"), "w") as f:
                    f.write("{torn")
                with open(
                    os.path.join(g, f"_TXN.t{900 + r.randrange(90)}.tmp"),
                    "w",
                ) as f:
                    f.write("{torn")
            except Exception as e:  # noqa: BLE001
                errors.append(f"debris: {e!r}")
                return
            stop.wait(r.uniform(0.02, 0.1))

    threads = [
        threading.Thread(target=writer),
        threading.Thread(target=compactor, args=(False, rng.randrange(1 << 30))),
        threading.Thread(target=compactor, args=(True, rng.randrange(1 << 30))),
        threading.Thread(target=consumer),
        threading.Thread(target=txn_reader, args=(12,)),
        threading.Thread(target=debris, args=(rng.randrange(1 << 30),)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
        assert not t.is_alive(), "thread wedged"
    assert not errors, errors
    assert S.txn_watermark(g) == N
    assert S.txn_watermark_logged(g) == N
    # final mirror equality at the full prefix
    assert S.read_mv_cursor(mv) == N
    ids = {
        r["k"]
        for r in S.read_materialized_batched(spark, mv, "k", schema).collect()
    }
    assert ids == expected(N)
    # final transactional read exact, debris still on disk and skipped
    got = {
        r["k"]
        for r in S.read_batched(
            spark, root, schema=schema, max_batch=N
        ).collect()
    }
    assert got == expected(N)
    assert any(n.endswith(".tmp") for n in os.listdir(g))
    assert set(range(N + 1)) <= set(S.txn_log(g))


def test_group_feed_presence_only_delete(spark, tmpdir):
    """r11 self-review pin: a PRE-WINDOW live batch consumed by an
    in-window change-generation fold while its key's tombstone folds
    in the SAME pass leaves that key absent from BOTH bases — the
    change file never mentions it, so a presence-marked key with no
    window events must resolve to DELETE (a left-join presence overlay
    silently dropped it from the feed)."""
    from mo_etl_spark import streaming as S

    g = f"{tmpdir}/po"
    ta = f"{tmpdir}/po_t"
    schema = "k BIGINT, ib BIGINT"

    def kdf(lo, hi, n=4):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), F.pmod("id", F.lit(n)).alias("ib")
        )

    # txn 0: b0 LIVE (never folded before the commit)
    S.idempotent_batch_write(kdf(0, 10), ta, 0, partition_cols=["ib"])
    S.stamp_spec(ta, 0, 4)
    S.txn_commit(g, 0, {"t": ta})
    # tombstone one of b0's keys, then a CHANGE-fold consumes b0 and
    # folds the tombstone in one pass
    S.append_tombstones(spark.createDataFrame([(3,)], "k BIGINT"), ta)
    S.compact_batched(
        spark, ta, min_dirs=0, partition_cols=["ib"], gc_grace_sec=3600.0,
        tombstone_col="k", change_feed=True, max_batch=0,
        transform=S.rebucket_transform(
            "ib", lambda n: F.pmod("k", F.lit(n)), 4,
            cap_rows=1 << 60, prior_extra=S.read_manifest_extra(ta),
        ),
    )
    S.idempotent_batch_write(kdf(20, 25), ta, 1, partition_cols=["ib"])
    S.stamp_spec(ta, 1, 4)
    S.txn_commit(g, 1, {"t": ta})

    feed = S.diff_group_adjacent(spark, g, 0, 1, "t", ["k"], schema)
    assert feed is not None  # the change file serves the fast path
    rows = feed.collect()
    ins = sorted(r["k"] for r in rows if r["_change"] == "insert")
    dls = sorted(r["k"] for r in rows if r["_change"] == "delete")
    assert dls == [3]  # the presence-only key DELETES (was dropped)
    assert ins == list(range(20, 25))  # preserved b0 keys emit nothing
    # and the snapshot-diff oracle agrees
    a = S.read_group_at(spark, g, 0, "t", schema, partitioned=True)
    b = S.read_group_at(spark, g, 1, "t", schema, partitioned=True)
    assert sorted(
        r["k"] for r in b.join(a.select("k"), "k", "left_anti").collect()
    ) == ins
    assert sorted(
        r["k"] for r in a.join(b.select("k"), "k", "left_anti").collect()
    ) == dls


def test_dataless_tombstone_recommit_keeps_markers(spark, tmpdir):
    """r11 self-review pin: the data-less tombstone-consume path
    recommits the SAME generation with an updated tombs map — it must
    carry the ``plain``/``change`` markers through (the rows are
    untouched, so the markers still describe them); dropping them
    silently poisoned every change-file window containing the
    generation (sound fallback, needless table-bound diff)."""
    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/dl"
    schema = "k BIGINT"
    S.idempotent_batch_write(
        spark.range(5).select(
            F.col("id").alias("k"), F.pmod("id", F.lit(2)).alias("pb")
        ),
        root, 0, partition_cols=["pb"],
    )
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["pb"], gc_grace_sec=3600.0
    )  # gen1 plain
    assert S._read_manifest(root)["plain"] is True
    # drain the table: the partitioned fold of zero rows writes a
    # parquet-free base, making the data-less branch reachable
    S.append_tombstones(
        spark.createDataFrame([(k,) for k in range(5)], schema), root
    )
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["pb"],
        tombstone_col="k", gc_grace_sec=3600.0,
    )  # gen2: zero rows, still plain
    man = S._read_manifest(root)
    assert man["plain"] is True and man["gen"] == 2
    # a NEW pending tombstone on the data-less table triggers the
    # recommit-same-gen path; plain must survive it
    S.append_tombstones(spark.createDataFrame([(99,)], schema), root)
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["pb"],
        tombstone_col="k", gc_grace_sec=3600.0,
    )
    man2 = S._read_manifest(root)
    assert man2["gen"] == 2  # same generation recommitted
    assert man2["plain"] is True  # marker carried (was dropped pre-fix)
    # and the log entry agrees (the window stays fast-path eligible)
    assert S.read_manifest_log(root)[2]["plain"] is True


def test_mixed_window_feed_keeps_multirow_keys(spark, tmpdir):
    """r11 self-review pin: a key owning SEVERAL rows (the band-index
    shape — one row per (id, band) under a single-column id key) must
    emit EVERY row through a mixed change-file window, exactly as
    diff_batched does; a single-survivor pick per key silently dropped
    all but one band."""
    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/mr"
    schema = "id BIGINT, band BIGINT, ib BIGINT"

    def idx(lo, hi, n=4):
        base = spark.range(lo, hi).select(F.col("id"))
        return (
            base.crossJoin(spark.range(2).select(F.col("id").alias("band")))
            .select("id", "band")
            .withColumn("ib", F.pmod("id", F.lit(n)))
        )

    S.idempotent_batch_write(idx(0, 10), root, 0, partition_cols=["ib"])
    S.stamp_spec(root, 0, 4)
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=3600.0
    )  # gen1 plain
    # new ids arrive, then a change-file rebucket makes the window mixed
    S.idempotent_batch_write(idx(100, 103), root, 1, partition_cols=["ib"])
    S.stamp_spec(root, 1, 4)
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=3600.0,
        change_feed=True,
        transform=S.rebucket_transform(
            "ib", lambda n: F.pmod("id", F.lit(n)), 4,
            cap_rows=1 << 60, prior_extra=S.read_manifest_extra(root),
        ),
    )  # gen2: transform with change file
    feed = S.diff_batched_adjacent(spark, root, 1, 2, ["id"], schema)
    assert feed is not None
    rows = [
        (r["id"], r["band"]) for r in feed.collect() if r["_change"] == "insert"
    ]
    # BOTH band rows of every new id survive the composition
    assert sorted(rows) == sorted(
        (i, b) for i in range(100, 103) for b in range(2)
    )


@pytest.mark.parametrize("seed", [7, 19, 31, 43])
def test_txn_retention_cdf_threaded_model(spark, tmpdir, seed):
    """RETENTION + CHANGE-FILE threaded interleaving model (r11 — the
    full-protocol model extended with this round's NEW surfaces, per
    the standing rule that every new protocol surface joins the seeded
    models): a live WRITER paced by consumer backpressure, a CDF
    COMPACTOR whose folds are TRANSFORM generations emitting change
    files (``change_feed=True``) under ZERO-GRACE vacuum, a dedicated
    VACUUM thread running ``expire_snapshots(keep_last_n=1,
    keep_last_txns=(g, K))``, a GROUP-FEED CONSUMER that
    non-deterministically rides the mixed change-file fast path or the
    retention-pinned snapshot fallback, a TIME-TRAVEL READER asserting
    the group retention guarantee live (a txn still within the last K
    at failure time must NEVER be vacuumed), and the crash-debris
    planter.  Invariants at every step: mirror equality after every
    application; travel reads exact or LEGALLY vacuumed (j <= live
    watermark - K); racing maintenance dies only with the NAMED
    CompactorBusy."""
    import random
    import threading

    from mo_etl_spark import streaming as S

    rng = random.Random(seed)
    g = f"{tmpdir}/ret_threads"
    root = f"{tmpdir}/ret_threads_tbl"
    mv = f"{tmpdir}/ret_threads_mv"
    schema = "k BIGINT, ib BIGINT"
    N, PER, K = 8, 5, 3

    def write_and_commit(b: int) -> None:
        S.idempotent_batch_write(
            spark.range(b * PER, (b + 1) * PER).select(
                F.col("id").alias("k"),
                F.pmod("id", F.lit(4)).alias("ib"),
            ),
            root, b, partition_cols=["ib"],
        )
        S.txn_commit(g, b, {"t": root})

    write_and_commit(0)
    S.materialize_group_member(spark, g, mv, "t", 0, schema)
    errors: list[str] = []
    stop = threading.Event()

    def expected(w: int) -> set[int]:
        return set(range((w + 1) * PER))

    def writer():
        # paced by the mirror cursor: never more than K-1 txns ahead,
        # so the consumer's own cursor snapshot stays inside the
        # keep_last_txns pin window (a consumer that falls behind
        # retention legitimately loses its snapshot — that lifecycle
        # is pinned elsewhere; THIS model checks the pinned window)
        try:
            for b in range(1, N + 1):
                while not stop.is_set():
                    cur = S.read_mv_cursor(mv)
                    if cur is not None and b - cur <= K - 1:
                        break
                    stop.wait(0.02)
                write_and_commit(b)
        except Exception as e:  # noqa: BLE001
            errors.append(f"writer: {e!r}")
        finally:
            stop.set()

    def cdf_compactor(cseed: int):
        r = random.Random(cseed)
        while not stop.is_set():
            try:
                w = S.txn_watermark(g)
                if w is not None:
                    S.compact_batched(
                        spark, root, min_dirs=0, gc_grace_sec=0.0,
                        max_batch=w, lease_ttl_sec=60.0,
                        keep_last_txns=(g, K), partition_cols=["ib"],
                        transform=lambda df: df, change_feed=True,
                    )
            except S.CompactorBusy:
                pass
            except Exception as e:  # noqa: BLE001
                errors.append(f"cdf_compactor: {e!r}")
                return
            stop.wait(r.uniform(0.05, 0.2))

    def vacuum(vseed: int):
        r = random.Random(vseed)
        while not stop.is_set():
            try:
                S.expire_snapshots(
                    root, keep_last_n=1, keep_last_txns=(g, K),
                )
            except S.CompactorBusy:
                pass
            except Exception as e:  # noqa: BLE001
                errors.append(f"vacuum: {e!r}")
                return
            stop.wait(r.uniform(0.05, 0.2))

    def consumer():
        while not stop.is_set() or S.read_mv_cursor(mv) < N:
            try:
                w = S.txn_watermark_logged(g)
                cur = S.read_mv_cursor(mv)
                if w is None or cur is None or w <= cur:
                    continue
                got = S.apply_group_feed_batched(
                    spark, g, mv, "t", ["k"], w, schema
                )
                ids = {
                    r["k"]
                    for r in S.read_materialized_batched(
                        spark, mv, "k", schema
                    ).collect()
                }
                assert ids == expected(got), (
                    "mirror mismatch", got, len(ids),
                )
            except S.CompactorBusy:
                pass
            except Exception as e:  # noqa: BLE001
                errors.append(f"consumer: {e!r}")
                return

    def travel_reader():
        # the LIVE retention-guarantee check: read the previous txn
        # while everything races; a SnapshotVacuumed is tolerated ONLY
        # if the txn had already aged out of the last-K window by the
        # time we observed the failure (j <= live watermark - K) —
        # anything else is the vacuum deleting a pinned generation
        while not stop.is_set():
            try:
                w = S.txn_watermark_logged(g)
                if w is None or w < 1:
                    continue
                j = w - 1
                try:
                    ids = {
                        r["k"]
                        for r in S.read_group_at(
                            spark, g, j, "t", schema, partitioned=True
                        ).collect()
                    }
                    assert ids == expected(j), ("travel", j, len(ids))
                except S.SnapshotVacuumed:
                    w2 = S.txn_watermark(g)
                    assert w2 is not None and j <= w2 - K, (
                        "pinned txn vacuumed", j, w2,
                    )
            except Exception as e:  # noqa: BLE001
                errors.append(f"travel_reader: {e!r}")
                return

    def debris(dseed: int):
        r = random.Random(dseed)
        while not stop.is_set():
            try:
                with open(os.path.join(g, "_TXN.tmp"), "w") as f:
                    f.write("{torn")
                with open(
                    os.path.join(g, f"_TXN.t{900 + r.randrange(90)}.tmp"),
                    "w",
                ) as f:
                    f.write("{torn")
            except Exception as e:  # noqa: BLE001
                errors.append(f"debris: {e!r}")
                return
            stop.wait(r.uniform(0.02, 0.1))

    threads = [
        threading.Thread(target=writer),
        threading.Thread(target=cdf_compactor, args=(rng.randrange(1 << 30),)),
        threading.Thread(target=vacuum, args=(rng.randrange(1 << 30),)),
        threading.Thread(target=consumer),
        threading.Thread(target=travel_reader),
        threading.Thread(target=debris, args=(rng.randrange(1 << 30),)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
        assert not t.is_alive(), "thread wedged"
    assert not errors, errors
    assert S.txn_watermark(g) == N
    assert S.read_mv_cursor(mv) == N
    ids = {
        r["k"]
        for r in S.read_materialized_batched(spark, mv, "k", schema).collect()
    }
    assert ids == expected(N)
    # deterministic retention check: one final CDF fold consumes every
    # remaining batch dir, one final expiry vacuums everything outside
    # the pin — the last K txns stay travelable as a vector, txn 0
    # raises NAMED
    S.compact_batched(
        spark, root, min_dirs=0, gc_grace_sec=0.0, max_batch=N,
        keep_last_txns=(g, K), partition_cols=["ib"],
        transform=lambda df: df, change_feed=True,
    )
    S.expire_snapshots(root, keep_last_n=1, keep_last_txns=(g, K))
    for j in range(N - K + 1, N + 1):
        got = {
            r["k"]
            for r in S.read_group_at(
                spark, g, j, "t", schema, partitioned=True
            ).collect()
        }
        assert got == expected(j), ("final travel", j)
    with pytest.raises(S.SnapshotVacuumed):
        S.read_group_at(spark, g, 0, "t", schema, partitioned=True).collect()


def test_wap_branch_stage_audit_publish(spark, tmpdir):
    """WRITE-AUDIT-PUBLISH branches (r11 — the Iceberg/Nessie WAP
    shape on the txn group): staged transactions are INVISIBLE to
    main-pointer readers and watermark-disciplined folds; the audit
    read sees exactly what publish would make visible; publish is ONE
    atomic pointer move (all staged txns appear at once), idempotent
    across its crash windows; a main commit after the fork raises the
    NAMED BranchConflict and modifies nothing."""
    from mo_etl_spark import streaming as S

    g = f"{tmpdir}/wap"
    root = f"{tmpdir}/wap_tbl"
    schema = "k BIGINT"

    def wr(b, lo, hi):
        S.idempotent_batch_write(
            spark.range(lo, hi).select(F.col("id").alias("k")), root, b
        )

    def main_ids():
        w = S.txn_watermark(g)
        return {
            r["k"]
            for r in S.read_batched(
                spark, root, schema=schema, max_batch=w
            ).collect()
        }

    def stg(b, lo, hi, br):
        S.stage_batch_write(
            spark.range(lo, hi).select(F.col("id").alias("k")), root, b, br
        )

    wr(0, 0, 10)
    S.txn_commit(g, 0, {"t": root})
    # stage txns 1..2 on the audit branch (branch-scoped dir names)
    stg(1, 10, 20, "audit")
    S.txn_commit(g, 1, {"t": root}, branch="audit")
    stg(2, 20, 30, "audit")
    S.txn_commit(g, 2, {"t": root}, branch="audit")
    # invisible to main readers; watermark-disciplined fold never
    # consumes the staged dirs
    assert main_ids() == set(range(10))
    S.compact_batched(
        spark, root, min_dirs=0, gc_grace_sec=3600.0,
        max_batch=S.txn_watermark(g),
    )
    assert os.path.isdir(f"{root}/b1.stage.audit")
    assert os.path.isdir(f"{root}/b2.stage.audit")
    assert main_ids() == set(range(10))
    # the audit read sees exactly the would-be-published state
    audit = {
        r["k"]
        for r in S.read_branch_head(
            spark, g, "audit", "t", schema
        ).collect()
    }
    assert audit == set(range(30))
    # crash window 1: staged records copied to the main log but the
    # pointer not yet moved — inert to readers, healed by re-publish
    import json as _json

    rec1 = S.txn_branch_log(g, "audit")[1]
    body = {k: v for k, v in rec1.items() if k != "base_txn"}
    with open(f"{g}/_TXN.t1", "w") as f:
        f.write(_json.dumps(body, sort_keys=True))
    assert S.txn_watermark(g) == 0
    assert S.txn_watermark_logged(g) == 0  # entry above watermark inert
    assert main_ids() == set(range(10))
    # publish: all staged txns appear at once
    assert S.publish_branch(g, "audit") == 2
    assert S.txn_watermark(g) == 2
    assert S.txn_watermark_logged(g) == 2
    assert main_ids() == set(range(30))
    assert set(S.txn_log(g)) == {0, 1, 2}
    assert S.txn_branch_vector(g, "audit") is None  # branch gone
    # group time travel works through published txns
    got1 = {
        r["k"] for r in S.read_group_at(spark, g, 1, "t", schema).collect()
    }
    assert got1 == set(range(20))
    # conflict: stage on a new branch, then main advances past the fork
    stg(3, 30, 40, "audit2")
    S.txn_commit(g, 3, {"t": root}, branch="audit2")
    wr(4, 40, 50)
    S.txn_commit(g, 4, {"t": root})  # competing main writer wins
    with pytest.raises(S.BranchConflict):
        S.publish_branch(g, "audit2")
    assert S.txn_watermark(g) == 4  # nothing modified
    assert S.txn_branch_watermark(g, "audit2") == 3  # branch intact
    # THE ABANDONMENT GUARANTEE (what branch-scoped dir names buy):
    # main's watermark (4) has moved PAST the abandoned staged id (3),
    # yet main readers never see the staged rows — then drop cleans up
    assert main_ids() == set(range(30)) | set(range(40, 50))
    S.drop_branch(g, "audit2")
    assert not os.path.isdir(f"{root}/b3.stage.audit2")
    assert S.txn_branch_vector(g, "audit2") is None
    assert main_ids() == set(range(30)) | set(range(40, 50))
    # staged id at/below the new watermark can no longer extend main:
    # publishing would be non-linear, and re-staging is the contract
    with pytest.raises(ValueError, match="extend"):
        S.txn_commit(g, 4, {"t": root}, branch="fresh")
    # crash window 2: pointer moved but branch files not cleaned —
    # re-publish just finishes the cleanup
    stg(5, 50, 60, "late")
    S.txn_commit(g, 5, {"t": root}, branch="late")
    pointer_bytes = open(f"{g}/_TXN.b.late").read()
    assert S.publish_branch(g, "late") == 5
    # a zombie stager replaying an already-published id is REJECTED
    # named (the branch is gone; the id no longer extends main)
    with pytest.raises(ValueError, match="extend"):
        S.txn_commit(g, 5, {"t": root}, branch="late")
    # crash window 2 proper: pointer moved but the branch files were
    # not cleaned (plant the pre-publish pointer back) — re-publish
    # finds main already at the head and only finishes the cleanup
    with open(f"{g}/_TXN.b.late", "w") as f:
        f.write(pointer_bytes)
    assert S.publish_branch(g, "late") == 5
    assert S.txn_branch_vector(g, "late") is None
    assert main_ids() == set(range(30)) | set(range(40, 60))


@pytest.mark.parametrize("seed", [11, 23, 37, 53])
def test_wap_threaded_model(spark, tmpdir, seed):
    """WAP under the threaded interleaving harness (r11 — the staging
    surface joins the seeded models): ONE data writer (the protocol's
    single-writer discipline) alternates direct commits with
    stage-two-then-publish cycles while a change-file compactor folds
    at the live watermark, a vacuum thread runs zero-retention expiry
    with the keep_last_txns pin, a MAIN READER asserts the exact
    committed prefix at every poll (any staged-dir leak or torn
    publish breaks equality — a publish makes BOTH staged txns
    visible at once or neither), a travel reader checks the retention
    guarantee live, and the debris planter spams the txn namespace
    with torn tmp files (now including branch-shaped ones)."""
    import random
    import threading

    from mo_etl_spark import streaming as S

    rng = random.Random(seed)
    g = f"{tmpdir}/wap_threads"
    root = f"{tmpdir}/wap_threads_tbl"
    schema = "k BIGINT, ib BIGINT"
    N, PER, K = 8, 5, 3

    def rows(b):
        return spark.range(b * PER, (b + 1) * PER).select(
            F.col("id").alias("k"), F.pmod("id", F.lit(4)).alias("ib")
        )

    S.idempotent_batch_write(rows(0), root, 0, partition_cols=["ib"])
    S.txn_commit(g, 0, {"t": root})
    errors: list[str] = []
    stop = threading.Event()

    def expected(w: int) -> set[int]:
        return set(range((w + 1) * PER))

    def writer(wseed: int):
        r = random.Random(wseed)
        try:
            b = 1
            while b <= N:
                if r.random() < 0.5 and b + 1 <= N:
                    # stage two txns, audit, publish as one unit
                    for j in (b, b + 1):
                        S.stage_batch_write(
                            rows(j), root, j, "audit",
                            partition_cols=["ib"],
                        )
                        S.txn_commit(g, j, {"t": root}, branch="audit")
                    audit = {
                        row["k"]
                        for row in S.read_branch_head(
                            spark, g, "audit", "t", schema
                        ).collect()
                    }
                    assert audit == expected(b + 1), ("audit", b)
                    S.publish_branch(g, "audit")
                    b += 2
                else:
                    S.idempotent_batch_write(
                        rows(b), root, b, partition_cols=["ib"]
                    )
                    S.txn_commit(g, b, {"t": root})
                    b += 1
        except Exception as e:  # noqa: BLE001
            errors.append(f"writer: {e!r}")
        finally:
            stop.set()

    def cdf_compactor(cseed: int):
        r = random.Random(cseed)
        while not stop.is_set():
            try:
                w = S.txn_watermark(g)
                if w is not None:
                    S.compact_batched(
                        spark, root, min_dirs=0, gc_grace_sec=0.0,
                        max_batch=w, lease_ttl_sec=60.0,
                        keep_last_txns=(g, K), partition_cols=["ib"],
                        transform=lambda df: df, change_feed=True,
                    )
            except S.CompactorBusy:
                pass
            except Exception as e:  # noqa: BLE001
                errors.append(f"cdf_compactor: {e!r}")
                return
            stop.wait(r.uniform(0.05, 0.2))

    def vacuum(vseed: int):
        r = random.Random(vseed)
        while not stop.is_set():
            try:
                S.expire_snapshots(
                    root, keep_last_n=1, keep_last_txns=(g, K),
                )
            except S.CompactorBusy:
                pass
            except Exception as e:  # noqa: BLE001
                errors.append(f"vacuum: {e!r}")
                return
            stop.wait(r.uniform(0.05, 0.2))

    def main_reader():
        # LINEARIZABILITY-STYLE check: between resolving the watermark
        # and finishing the collect, a commit+fold can legitimately
        # advance the live base past the stale watermark (the live
        # read guarantees no-uncommitted-rows, not exactly-at-w —
        # snapshot exactness is read_group_at's job).  The read must
        # equal the committed prefix of SOME watermark in [w_before,
        # w_after]; a torn publish (one of a staged pair visible)
        # fails for EVERY v.
        while not stop.is_set():
            try:
                w = S.txn_watermark(g)
                if w is None:
                    continue
                ids = {
                    r["k"]
                    for r in S.read_batched(
                        spark, root, schema=schema, max_batch=w
                    ).collect()
                }
                w2 = S.txn_watermark(g)
                assert any(
                    ids == expected(v) for v in range(w, w2 + 1)
                ), ("main read", w, w2, len(ids))
            except Exception as e:  # noqa: BLE001
                errors.append(f"main_reader: {e!r}")
                return

    def travel_reader():
        while not stop.is_set():
            try:
                w = S.txn_watermark_logged(g)
                if w is None or w < 1:
                    continue
                j = w - 1
                try:
                    ids = {
                        r["k"]
                        for r in S.read_group_at(
                            spark, g, j, "t", schema, partitioned=True
                        ).collect()
                    }
                    assert ids == expected(j), ("travel", j, len(ids))
                except S.SnapshotVacuumed:
                    w2 = S.txn_watermark(g)
                    assert w2 is not None and j <= w2 - K, (
                        "pinned txn vacuumed", j, w2,
                    )
            except Exception as e:  # noqa: BLE001
                errors.append(f"travel_reader: {e!r}")
                return

    def debris(dseed: int):
        r = random.Random(dseed)
        while not stop.is_set():
            try:
                for n in ("_TXN.tmp", f"_TXN.t{900 + r.randrange(90)}.tmp",
                          "_TXN.b.audit.tmp"):
                    with open(os.path.join(g, n), "w") as f:
                        f.write("{torn")
            except Exception as e:  # noqa: BLE001
                errors.append(f"debris: {e!r}")
                return
            stop.wait(r.uniform(0.02, 0.1))

    threads = [
        threading.Thread(target=writer, args=(rng.randrange(1 << 30),)),
        threading.Thread(target=cdf_compactor, args=(rng.randrange(1 << 30),)),
        threading.Thread(target=vacuum, args=(rng.randrange(1 << 30),)),
        threading.Thread(target=main_reader),
        threading.Thread(target=travel_reader),
        threading.Thread(target=debris, args=(rng.randrange(1 << 30),)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
        assert not t.is_alive(), "thread wedged"
    assert not errors, errors
    assert S.txn_watermark(g) == N
    got = {
        r["k"]
        for r in S.read_batched(
            spark, root, schema=schema, max_batch=N
        ).collect()
    }
    assert got == expected(N)
    assert S.txn_branch_vector(g, "audit") is None  # no branch left
    assert not S._staged_dirs(root, "audit", 1 << 62)  # no staged debris
    assert set(range(N + 1)) <= set(S.txn_log(g))  # full history published


def test_schema_evolution_rename_drop(spark, tmpdir):
    """NON-ADDITIVE SCHEMA EVOLUTION (r11 — rename/drop as
    metadata-only generations): the ops commit without rewriting a
    row; read_batched_evolved is exact across mixed pre/post-rename
    dirs AND across an unnormalized plain fold (the base then carries
    both names side by side); the normalize fold rewrites physically
    so plain explicit-schema readers recover; time travel returns the
    HISTORICAL shape; every change-feed path crossing the evolution
    refuses with the NAMED SchemaEvolved instead of silently nulling
    renamed columns; validation rejects unknown sources, name reuse,
    and rename+drop of one column."""
    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/evo"
    rows0 = [(1, 10, 100, 1), (2, 20, 200, 0)]
    spark.createDataFrame(
        rows0, "a BIGINT, b BIGINT, c BIGINT, p BIGINT"
    ).write.partitionBy("p").parquet(f"{root}/b0")
    S.compact_batched(
        spark, root, min_dirs=0, gc_grace_sec=3600.0,
        partition_cols=["p"],
    )
    g1 = S.read_manifest_log(root)
    assert 1 in g1
    # metadata-only evolution: rename b -> d, drop c
    gen = S.evolve_schema(spark, root, rename={"b": "d"}, drop=["c"])
    assert gen == 2
    assert [op["op"] for op in S.schema_ops(root)] == ["rename", "drop"]
    got = sorted(
        (r["a"], r["d"])
        for r in S.read_batched_evolved(
            spark, root, "a BIGINT, d BIGINT, p BIGINT"
        ).collect()
    )
    assert got == [(1, 10), (2, 20)]
    # a new batch written under the NEW names mixes exactly
    S.idempotent_batch_write(
        spark.createDataFrame([(3, 30, 1)], "a BIGINT, d BIGINT, p BIGINT"),
        root, 1, partition_cols=["p"],
    )
    got = sorted(
        (r["a"], r["d"])
        for r in S.read_batched_evolved(
            spark, root, "a BIGINT, d BIGINT, p BIGINT"
        ).collect()
    )
    assert got == [(1, 10), (2, 20), (3, 30)]
    # validation: unknown source, reused historical name, rename+drop
    with pytest.raises(ValueError, match="not a live column"):
        S.evolve_schema(spark, root, rename={"zz": "q"})
    with pytest.raises(ValueError, match="historical"):
        S.evolve_schema(spark, root, rename={"d": "b"})
    with pytest.raises(ValueError, match="not a live column"):
        S.evolve_schema(spark, root, drop=["c"])
    with pytest.raises(ValueError, match="renamed and"):
        S.evolve_schema(spark, root, rename={"d": "e"}, drop=["d"])
    with pytest.raises(ValueError, match="partition column"):
        S.evolve_schema(spark, root, rename={"p": "q"})
    # change feeds refuse to cross the evolution, NAMED
    with pytest.raises(S.SchemaEvolved):
        S.diff_batched(spark, root, 1, 2, ["a"], "a BIGINT, d BIGINT")
    assert S.diff_batched_adjacent(
        spark, root, 1, 2, ["a"], "a BIGINT, d BIGINT"
    ) is None
    # an UNNORMALIZED plain fold: the base carries both names; the
    # evolved read stays exact
    S.compact_batched(
        spark, root, min_dirs=0, gc_grace_sec=3600.0,
        partition_cols=["p"],
    )
    got = sorted(
        (r["a"], r["d"])
        for r in S.read_batched_evolved(
            spark, root, "a BIGINT, d BIGINT, p BIGINT"
        ).collect()
    )
    assert got == [(1, 10), (2, 20), (3, 30)]
    # normalize fold: plain explicit-schema readers recover
    S.compact_batched(
        spark, root, min_dirs=0, gc_grace_sec=3600.0,
        partition_cols=["p"],
        transform=S.normalize_schema_transform(root),
    )
    got = sorted(
        (r["a"], r["d"])
        for r in S.read_batched(
            spark, root, partitioned=True,
            schema="a BIGINT, d BIGINT, p BIGINT",
        ).collect()
    )
    assert got == [(1, 10), (2, 20), (3, 30)]
    assert S.schema_ops(root)  # ops stay recorded for stragglers
    # time travel returns the historical shape (old names, old rows)
    old = sorted(
        (r["a"], r["b"], r["c"], r["p"])
        for r in S.read_batched_at(
            spark, root, 1, "a BIGINT, b BIGINT, c BIGINT, p BIGINT",
            partitioned=True,
        ).collect()
    )
    assert old == rows0
    # group feed: a mirror lagging across a member's evolution is
    # told to re-seed, NAMED — never a silently nulled feed
    g = f"{tmpdir}/evo_grp"
    root2 = f"{tmpdir}/evo_member"
    mv = f"{tmpdir}/evo_mv"
    S.idempotent_batch_write(
        spark.createDataFrame([(1, 10)], "k BIGINT, v BIGINT"), root2, 0
    )
    S.compact_batched(spark, root2, min_dirs=0, gc_grace_sec=3600.0)
    S.txn_commit(g, 0, {"t": root2})
    S.materialize_group_member(spark, g, mv, "t", 0, "k BIGINT, v BIGINT")
    S.evolve_schema(spark, root2, rename={"v": "w"})
    S.idempotent_batch_write(
        spark.createDataFrame([(2, 20)], "k BIGINT, w BIGINT"), root2, 1
    )
    S.txn_commit(g, 1, {"t": root2})
    with pytest.raises(S.SchemaEvolved):
        S.apply_group_feed_batched(
            spark, g, mv, "t", ["k"], 1, "k BIGINT, w BIGINT"
        )


@pytest.mark.parametrize("seed", [13, 47])
def test_schema_evolution_threaded_model(spark, tmpdir, seed):
    """SCHEMA EVOLUTION under the threaded harness (r11 — the
    metadata-only ops join the seeded models): a writer keeps
    committing batches under whatever names it last saw (an
    old-name STRAGGLER after the rename is legal — ops apply by
    presence, forever), an EVOLVER renames ``v``→``w`` then drops
    ``pad`` mid-run, a plain compactor and a NORMALIZE compactor race
    each other and the evolver through the table lease, and a reader
    polls (count, sum(k)) — invariants chosen to be schema-independent
    — through ``read_batched_evolved`` with the bounded-window
    discipline.  Any per-dir op misapplication (double rename,
    dropped rows, coalesce ambiguity) breaks the sums."""
    import random
    import threading

    from mo_etl_spark import streaming as S

    rng = random.Random(seed)
    g = f"{tmpdir}/evo_threads"
    root = f"{tmpdir}/evo_threads_tbl"
    N, PER = 8, 5

    def rows(b, names):
        df = spark.range(b * PER, (b + 1) * PER).select(
            F.col("id").alias("k"),
            (F.col("id") * 7).alias(names[0]),
            F.lit("x").alias(names[1]) if names[1] else F.lit("x").alias("pad"),
            F.pmod("id", F.lit(4)).alias("ib"),
        )
        return df.drop("pad") if names[1] is None else df

    S.idempotent_batch_write(
        rows(0, ("v", "pad")), root, 0, partition_cols=["ib"]
    )
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=3600.0
    )
    S.txn_commit(g, 0, {"t": root})
    errors: list[str] = []
    stop = threading.Event()

    def cur_names():
        ops = S.schema_ops(root)
        val = "v"
        pad: str | None = "pad"
        for op in ops:
            if op["op"] == "rename" and op["from"] == val:
                val = op["to"]
            if op["op"] == "drop" and op["col"] == pad:
                pad = None
        return val, pad

    def writer():
        try:
            for b in range(1, N + 1):
                S.idempotent_batch_write(
                    rows(b, cur_names()), root, b, partition_cols=["ib"]
                )
                S.txn_commit(g, b, {"t": root})
                stop.wait(0.05)
        except Exception as e:  # noqa: BLE001
            errors.append(f"writer: {e!r}")
        finally:
            stop.set()

    def evolver():
        try:
            stop.wait(0.3)
            S.evolve_schema(spark, root, rename={"v": "w"})
            stop.wait(0.4)
            val, pad = cur_names()
            if pad is not None:
                S.evolve_schema(spark, root, drop=[pad])
        except Exception as e:  # noqa: BLE001
            errors.append(f"evolver: {e!r}")

    def compactor(normalize: bool, cseed: int):
        r = random.Random(cseed)
        while not stop.is_set():
            try:
                kw = {}
                if normalize:
                    kw["transform"] = S.normalize_schema_transform(root)
                S.compact_batched(
                    spark, root, min_dirs=0, partition_cols=["ib"],
                    gc_grace_sec=3600.0, lease_ttl_sec=60.0,
                    max_batch=S.txn_watermark(g), **kw,
                )
            except S.CompactorBusy:
                pass
            except Exception as e:  # noqa: BLE001
                errors.append(f"compactor(norm={normalize}): {e!r}")
                return
            stop.wait(r.uniform(0.05, 0.2))

    def expected(w: int) -> tuple[int, int]:
        n = (w + 1) * PER
        return n, sum(range(n)) * 1  # count, sum(k)

    def reader():
        while not stop.is_set():
            try:
                w = S.txn_watermark(g)
                if w is None:
                    continue
                val, pad = cur_names()
                sch = f"k BIGINT, {val} BIGINT, ib BIGINT"
                row = (
                    S.read_batched_evolved(spark, root, sch, max_batch=w)
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum("k").alias("sk"),
                        F.sum(val).alias("sv"),
                    )
                    .first()
                )
                w2 = S.txn_watermark(g)
                ok = any(
                    (row["n"], row["sk"]) == expected(v)
                    and row["sv"] == row["sk"] * 7
                    for v in range(w, w2 + 1)
                )
                assert ok, ("evolved read", w, w2, row)
            except Exception as e:  # noqa: BLE001
                errors.append(f"reader: {e!r}")
                return

    threads = [
        threading.Thread(target=writer),
        threading.Thread(target=evolver),
        threading.Thread(target=compactor, args=(False, rng.randrange(1 << 30))),
        threading.Thread(target=compactor, args=(True, rng.randrange(1 << 30))),
        threading.Thread(target=reader),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
        assert not t.is_alive(), "thread wedged"
    assert not errors, errors
    # final: normalize once more, then the plain read is exact under
    # the final names
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"],
        gc_grace_sec=3600.0, max_batch=N,
        transform=S.normalize_schema_transform(root),
    )
    val, pad = cur_names()
    assert val == "w"
    row = (
        S.read_batched(
            spark, root, partitioned=True,
            schema=f"k BIGINT, {val} BIGINT, ib BIGINT",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sk"))
        .first()
    )
    assert (row["n"], row["sk"]) == expected(N)


def test_wap_branch_multi_member(spark, tmpdir):
    """WAP across a MULTI-MEMBER group (r11): two member tables stage
    batches on one branch; the single pointer move publishes BOTH
    atomically — before it, neither member's main read sees staged
    rows; after it, both do; the staged-dir rename loop covers every
    member."""
    from mo_etl_spark import streaming as S

    g = f"{tmpdir}/wapm"
    ra, rb = f"{tmpdir}/wapm_a", f"{tmpdir}/wapm_b"
    schema = "k BIGINT"

    def ids(root, w):
        return {
            r["k"]
            for r in S.read_batched(
                spark, root, schema=schema, max_batch=w
            ).collect()
        }

    for root, lo in ((ra, 0), (rb, 100)):
        S.idempotent_batch_write(
            spark.range(lo, lo + 10).select(F.col("id").alias("k")), root, 0
        )
    S.txn_commit(g, 0, {"a": ra, "b": rb})
    for root, lo in ((ra, 10), (rb, 110)):
        S.stage_batch_write(
            spark.range(lo, lo + 10).select(F.col("id").alias("k")),
            root, 1, "dual",
        )
    S.txn_commit(g, 1, {"a": ra, "b": rb}, branch="dual")
    w = S.txn_watermark(g)
    assert ids(ra, w) == set(range(10))
    assert ids(rb, w) == set(range(100, 110))
    # audit both members at the branch head
    for alias, root, want in (
        ("a", ra, set(range(20))), ("b", rb, set(range(100, 120)))
    ):
        got = {
            r["k"]
            for r in S.read_branch_head(
                spark, g, "dual", alias, schema
            ).collect()
        }
        assert got == want, alias
    assert S.publish_branch(g, "dual") == 1
    w = S.txn_watermark(g)
    assert ids(ra, w) == set(range(20))
    assert ids(rb, w) == set(range(100, 120))
    assert os.path.isdir(f"{ra}/b1") and os.path.isdir(f"{rb}/b1")
    assert not S._staged_dirs(ra, "dual", 1 << 62)
    assert not S._staged_dirs(rb, "dual", 1 << 62)


def test_dataset_tags_pin_retention(spark, tmpdir):
    """TAGS (r11 — Iceberg tag semantics): an immutable named ref
    pins its transaction's member generations against EVERY vacuum
    path carrying the group pin, forever — however small K is; drop
    the tag and the snapshot ages out on the next pass.  Immutability
    and unknown-tag reads raise NAMED."""
    from mo_etl_spark import streaming as S

    g = f"{tmpdir}/tags"
    root = f"{tmpdir}/tags_tbl"
    schema = "k BIGINT"
    for b in range(4):
        S.idempotent_batch_write(
            spark.range(b * 5, (b + 1) * 5).select(F.col("id").alias("k")),
            root, b,
        )
        S.txn_commit(g, b, {"t": root})
        if b == 1:
            assert S.create_tag(g, "dataset-v1") == 1  # logged watermark
        S.compact_batched(
            spark, root, min_dirs=0, gc_grace_sec=0.0,
            max_batch=S.txn_watermark(g), keep_last_txns=(g, 1),
        )
    S.expire_snapshots(root, keep_last_n=1, keep_last_txns=(g, 1))
    # the tag survives zero-grace folds + count-1 expiry with K=1
    got = {
        r["k"]
        for r in S.read_group_at_tag(spark, g, "dataset-v1", "t", schema)
        .collect()
    }
    assert got == set(range(10))
    # untagged txns outside K=1 are vacuumed, NAMED
    for t in (0, 2):
        with pytest.raises(S.SnapshotVacuumed):
            S.read_group_at(spark, g, t, "t", schema).collect()
    # immutability + idempotence
    assert S.create_tag(g, "dataset-v1", 1) == 1
    with pytest.raises(ValueError, match="immutable"):
        S.create_tag(g, "dataset-v1", 3)
    with pytest.raises(ValueError, match="no tag"):
        S.read_group_at_tag(spark, g, "nope", "t", schema)
    with pytest.raises(ValueError, match="history record"):
        S.create_tag(g, "future", 99)
    # drop: the next maintenance pass ages the snapshot out
    S.drop_tag(g, "dataset-v1")
    assert "dataset-v1" not in S.list_tags(g)
    S.compact_batched(
        spark, root, min_dirs=0, gc_grace_sec=0.0,
        max_batch=S.txn_watermark(g), keep_last_txns=(g, 1),
    )
    S.expire_snapshots(root, keep_last_n=1, keep_last_txns=(g, 1))
    with pytest.raises(S.SnapshotVacuumed):
        S.read_group_at(spark, g, 1, "t", schema).collect()
    # the live watermark txn stays green throughout
    got = {
        r["k"]
        for r in S.read_group_at(spark, g, 3, "t", schema).collect()
    }
    assert got == set(range(20))


def test_wap_drop_after_partial_publish(spark, tmpdir):
    """r11 self-review pin: a publish that crashed AFTER renaming the
    staged dirs into their ``b<id>`` names, followed by drop_branch
    instead of re-publish, must not leave those dirs behind — the
    next main commit reuses the same ids (watermark never moved) and
    idempotent_batch_write would silently adopt the branch's data as
    the commit's.  drop_branch removes staged-window ids that never
    reached the main txn log."""
    from mo_etl_spark import streaming as S

    g = f"{tmpdir}/wapd"
    root = f"{tmpdir}/wapd_tbl"
    schema = "k BIGINT"
    S.idempotent_batch_write(
        spark.range(0, 10).select(F.col("id").alias("k")), root, 0
    )
    S.txn_commit(g, 0, {"t": root})
    S.stage_batch_write(
        spark.range(100, 110).select(F.col("id").alias("k")), root, 1, "x"
    )
    S.txn_commit(g, 1, {"t": root}, branch="x")
    # simulate the crash window: the rename happened, nothing else
    os.rename(f"{root}/b1.stage.x", f"{root}/b1")
    S.drop_branch(g, "x")
    assert not os.path.isdir(f"{root}/b1")  # the orphan is gone
    # the writer reuses id 1 with ITS data — nothing adopted
    S.idempotent_batch_write(
        spark.range(10, 20).select(F.col("id").alias("k")), root, 1
    )
    S.txn_commit(g, 1, {"t": root})
    got = {
        r["k"]
        for r in S.read_batched(
            spark, root, schema=schema, max_batch=S.txn_watermark(g)
        ).collect()
    }
    assert got == set(range(20))  # not the branch's 100..110


def test_reseed_group_member_after_evolution(spark, tmpdir):
    """r11: the recovery path the NAMED SchemaEvolved refusal points
    at — reseed_group_member wipes the mirror and re-materializes it
    from the live snapshot under the NEW schema; subsequent feeds
    advance normally.  Also the lagged-past-retention twin."""
    from mo_etl_spark import streaming as S

    g = f"{tmpdir}/rs_grp"
    root = f"{tmpdir}/rs_member"
    mv = f"{tmpdir}/rs_mv"
    S.idempotent_batch_write(
        spark.createDataFrame([(1, 10), (2, 20)], "k BIGINT, v BIGINT"),
        root, 0,
    )
    S.compact_batched(spark, root, min_dirs=0, gc_grace_sec=3600.0)
    S.txn_commit(g, 0, {"t": root})
    S.materialize_group_member(spark, g, mv, "t", 0, "k BIGINT, v BIGINT")
    S.evolve_schema(spark, root, rename={"v": "w"})
    S.idempotent_batch_write(
        spark.createDataFrame([(3, 30)], "k BIGINT, w BIGINT"), root, 1
    )
    S.txn_commit(g, 1, {"t": root})
    new_schema = "k BIGINT, w BIGINT"
    with pytest.raises(S.SchemaEvolved):
        S.apply_group_feed_batched(spark, g, mv, "t", ["k"], 1, new_schema)
    # the recovery: re-seed at the refused target under the new names
    S.reseed_group_member(spark, g, mv, "t", 1, new_schema)
    assert S.read_mv_cursor(mv) == 1
    rows = {
        r["k"]: r["w"]
        for r in S.read_materialized_batched(
            spark, mv, "k", new_schema
        ).collect()
    }
    # ALL keys present (this exercise found and fixed a real bug: the
    # group-travel read under partitioned=True silently dropped every
    # row of a nested binpack base); the renamed payload reads null
    # for pre-rename rows until a normalize fold runs BEFORE the
    # re-seed — the documented production order — while post-rename
    # rows carry it
    assert sorted(rows) == [1, 2, 3]
    assert rows[3] == 30
    # subsequent feeds advance normally from the re-seeded cursor
    S.idempotent_batch_write(
        spark.createDataFrame([(4, 40)], "k BIGINT, w BIGINT"), root, 2
    )
    S.txn_commit(g, 2, {"t": root})
    assert S.apply_group_feed_batched(
        spark, g, mv, "t", ["k"], 2, new_schema
    ) == 2
    got3 = sorted(
        r["k"]
        for r in S.read_materialized_batched(
            spark, mv, "k", new_schema
        ).collect()
    )
    assert got3 == [1, 2, 3, 4]


@pytest.mark.parametrize("seed", [17, 59])
def test_multi_writer_reserved_commits_threaded_model(spark, tmpdir, seed):
    """MULTI-WRITER reserve/confirm under the threaded harness (r11):
    two INDEPENDENT writer pipelines share one txn group via
    txn_reserve — ids allocated under the commit lease, data writes
    fully parallel, confirms ordered by the lower-reservation gate —
    while a ZOMBIE writer keeps reserving short-TTL ids, writing
    dirs, and dying before the confirm.  Invariants at every reader
    poll (bounded-window): the visible rows are exactly the union of
    LOGGED transactions' rows — a swept zombie's rows never appear, a
    confirmed writer's rows never vanish; zombie ids end swept with
    the NAMED ReservationExpired on late confirm."""
    import random
    import threading

    from mo_etl_spark import streaming as S

    rng = random.Random(seed)
    g = f"{tmpdir}/mw"
    root = f"{tmpdir}/mw_tbl"
    schema = "k BIGINT"
    PER, N_EACH = 5, 4

    def rows(rid):
        return spark.range(rid * PER, (rid + 1) * PER).select(
            F.col("id").alias("k")
        )

    S.idempotent_batch_write(rows(0), root, 0)
    S.txn_commit(g, 0, {"t": root})
    errors: list[str] = []
    stop = threading.Event()
    confirmed: set[int] = {0}
    zombies: list[int] = []
    lock = threading.Lock()

    def writer(wseed: int):
        r = random.Random(wseed)
        try:
            for _ in range(N_EACH):
                rid = S.txn_reserve(g, {"t": root})
                S.idempotent_batch_write(rows(rid), root, rid)
                stop.wait(r.uniform(0.0, 0.3))
                S.txn_commit(g, rid, {"t": root})
                with lock:
                    confirmed.add(rid)
        except Exception as e:  # noqa: BLE001
            errors.append(f"writer: {e!r}")

    def zombie(zseed: int):
        r = random.Random(zseed)
        try:
            for _ in range(2):
                rid = S.txn_reserve(g, {"t": root}, ttl_sec=0.3)
                S.idempotent_batch_write(rows(rid), root, rid)
                with lock:
                    zombies.append(rid)
                stop.wait(r.uniform(0.3, 0.6))  # dies: never confirms
        except Exception as e:  # noqa: BLE001
            errors.append(f"zombie: {e!r}")

    def reader():
        while not stop.is_set():
            try:
                w = S.txn_watermark(g)
                if w is None:
                    continue
                before = {t for t in S.txn_log(g) if t <= w}
                ids = {
                    r["k"]
                    for r in S.read_batched(
                        spark, root, schema=schema, max_batch=w
                    ).collect()
                }
                w2 = S.txn_watermark(g)
                after = {t for t in S.txn_log(g) if t <= w2}
                lo = {k for t in before for k in range(t * PER, (t + 1) * PER)}
                hi = {k for t in after for k in range(t * PER, (t + 1) * PER)}
                assert lo <= ids <= hi, (
                    "reader window", w, w2, len(ids),
                )
            except Exception as e:  # noqa: BLE001
                errors.append(f"reader: {e!r}")
                return

    threads = [
        threading.Thread(target=writer, args=(rng.randrange(1 << 30),)),
        threading.Thread(target=writer, args=(rng.randrange(1 << 30),)),
        threading.Thread(target=zombie, args=(rng.randrange(1 << 30),)),
        threading.Thread(target=reader),
    ]
    for t in threads[:-1]:
        t.start()
    threads[-1].start()
    for t in threads[:-1]:
        t.join(300)
        assert not t.is_alive(), "thread wedged"
    stop.set()
    threads[-1].join(300)
    assert not threads[-1].is_alive(), "reader wedged"
    assert not errors, errors
    # drain: one final reserved commit sweeps any zombie id still
    # below it, then every zombie id must be swept + NAMED on confirm
    rid = S.txn_reserve(g, {"t": root})
    S.idempotent_batch_write(rows(rid), root, rid)
    import time as _t

    _t.sleep(0.4)  # let the last zombie TTL lapse
    S.txn_commit(g, rid, {"t": root})
    confirmed.add(rid)
    for z in zombies:
        assert z not in S.txn_log(g)
        assert not os.path.isdir(f"{root}/b{z}")
        with pytest.raises(S.ReservationExpired):
            S.txn_commit(g, z, {"t": root})
    got = {
        r["k"]
        for r in S.read_batched(
            spark, root, schema=schema, max_batch=S.txn_watermark(g)
        ).collect()
    }
    want = {k for t in confirmed for k in range(t * PER, (t + 1) * PER)}
    assert got == want
    assert confirmed == set(S.txn_log(g))


def test_binpack_base_survives_partitioned_reads(spark, tmpdir):
    """A BINPACK fold nests its output in ``base<gen>/g<i>/`` — no hive
    ``col=value`` children — so the partitioned readers must still look
    it up recursively: hive discovery alone lists nothing there and
    silently dropped every folded row (350 live rows read back as 50,
    and the folded generation's 300 as 0)."""
    from mo_etl_spark import streaming as S

    root = f"{tmpdir}/t"
    schema = "v BIGINT"

    def batch(lo, hi, bid):
        S.idempotent_batch_write(
            spark.range(lo, hi).select(F.col("id").alias("v")), root, bid
        )

    for b in range(3):
        batch(b * 100, (b + 1) * 100, b)
    assert S.compact_batched(spark, root, min_dirs=0, gc_grace_sec=0) == 1
    assert os.path.isdir(f"{root}/base1/g0")
    batch(300, 350, 3)
    assert S.read_batched(spark, root, partitioned=True, schema=schema).count() == 350
    assert S.read_batched(spark, root, schema=schema).count() == 350
    assert S.read_batched_at(spark, root, 1, partitioned=True).count() == 300
    assert (
        S.read_batched_at(spark, root, 1, schema=schema, partitioned=True).count()
        == 300
    )


def test_zero_byte_parquet_dir_changes_no_result(spark, tmpdir):
    """One emptiness rule: a committed batch dir holding only a
    zero-byte ``part-0.parquet`` (a torn write) carries no rows, so
    every resolving reader returns exactly what the same table without
    that dir returns — including the schema-less group read, which
    used to fail on the file's missing footer."""
    from mo_etl_spark import streaming as S

    schema = "k BIGINT, v BIGINT, ib BIGINT"
    n = 4

    def build(name, torn):
        root, group = f"{tmpdir}/{name}", f"{tmpdir}/{name}_g"
        df = spark.range(100).select(
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("v"),
            F.pmod(F.col("id"), F.lit(n)).alias("ib"),
        )
        S.idempotent_batch_write(df, root, 0, partition_cols=["ib"])
        S.stamp_spec(root, 0, n)
        if torn:
            os.makedirs(f"{root}/b1")
            for f in ("part-0.parquet", "_SUCCESS"):
                open(f"{root}/b1/{f}", "w").close()
        S.txn_commit(group, 1, {"t": root})
        return root, group

    def reads(root, group):
        def rows(df):
            return sorted(tuple(r) for r in df.select("k", "v").collect())

        return [
            rows(S.read_batched(spark, root, schema=schema)),
            rows(S.read_batched(spark, root, partitioned=True, schema=schema)),
            rows(S.read_batched_pruned(spark, root, "ib", [1, 3], n, schema)),
            rows(S.read_group_at(spark, group, 1, "t", schema, partitioned=True)),
            rows(S.read_group_at(spark, group, 1, "t")),
        ]

    want = reads(*build("clean", torn=False))
    got = reads(*build("torn", torn=True))
    assert want[0] and len(want[2]) == 50
    assert got == want


def test_group_lease_contention_fails_named_within_wait(tmpdir, monkeypatch):
    """Every group-pointer writer waits on the shared ``_LEASE_WAIT_SEC``
    bound and then fails with the NAMED CompactorBusy, naming the
    holder's pid and host and how long it waited — never a silent hang
    or a bare retry loop of its own."""
    import re
    import time

    from mo_etl_spark import streaming as S

    group, root = f"{tmpdir}/g", f"{tmpdir}/t"
    os.makedirs(group)
    monkeypatch.setattr(S, "_LEASE_WAIT_SEC", 0.2)
    token = S._acquire_lease(group, 60)
    try:
        for call in (
            lambda: S.txn_reserve(group, {"t": root}),
            lambda: S.publish_branch(group, "audit"),
            lambda: S.txn_commit(group, 0, {"t": root}),
        ):
            t0 = time.monotonic()
            with pytest.raises(S.CompactorBusy) as err:
                call()
            assert time.monotonic() - t0 < 1.0
            msg = str(err.value)
            assert f"held by pid {os.getpid()}" in msg, msg
            assert S._HOSTNAME in msg, msg
            assert re.search(r"waiting \d+\.\d+ s of 0\.2 s", msg), msg
    finally:
        S._release_lease(group, token)
    assert S.txn_commit(group, 0, {"t": root}) == 0  # released: proceeds


def test_empty_staged_dirs_published_and_dropped(spark, tmpdir):
    """An empty trigger's staged dir (a partitioned write of no rows
    leaves ``b<id>.stage.<branch>`` holding only ``_SUCCESS``) is renamed
    by publish_branch and removed by drop_branch like any other: no
    ``*.stage.<branch>`` dir survives either."""
    import glob

    from mo_etl_spark import streaming as S

    def _only_success(d):
        names = [n for n in os.listdir(d) if not n.endswith(".crc")]
        return names == ["_SUCCESS"]

    g, root = f"{tmpdir}/g", f"{tmpdir}/t"
    empty = spark.createDataFrame([], "k BIGINT, p INT")
    S.idempotent_batch_write(
        spark.range(3).select(F.col("id").alias("k")), root, 0
    )
    S.txn_commit(g, 0, {"t": root})
    S.stage_batch_write(empty, root, 1, "pub", partition_cols=["p"])
    S.txn_commit(g, 1, {"t": root}, branch="pub")
    assert _only_success(f"{root}/b1.stage.pub")
    assert S.publish_branch(g, "pub") == 1
    assert glob.glob(f"{root}/*.stage.pub") == []
    assert os.path.isdir(f"{root}/b1")
    S.stage_batch_write(empty, root, 2, "audit", partition_cols=["p"])
    S.txn_commit(g, 2, {"t": root}, branch="audit")
    assert _only_success(f"{root}/b2.stage.audit")
    S.drop_branch(g, "audit")
    assert glob.glob(f"{root}/*.stage.audit") == []
    got = S.read_batched(spark, root, schema="k BIGINT").collect()
    assert sorted(r["k"] for r in got) == [0, 1, 2]
