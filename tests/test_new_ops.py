"""Behavior tests for the round-1 late additions: IVF ANN recall vs
brute force, the SQLite connector round trip, and the real Structured
Streaming contract queries (availableNow backfill)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    from mo_etl_spark.tables import load_table

    return load_table(spark, sf_dir, "embeddings")


def test_ivf_recall_vs_brute_force(spark, emb):
    """nprobe=4 of 16 cells must recover most exact neighbors — and
    every IVF hit it does return must carry the exact cosine score."""
    from mo_etl_spark.operators.similarity import brute_force_topk, ivf_topk

    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec"))
    cents_ = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("vec")
    )
    exact = {
        (r["q_id"], r["c_id"]): r["cos_sim"]
        for r in brute_force_topk(q, c, k=5).collect()
    }
    approx = {
        (r["q_id"], r["c_id"]): r["cos_sim"]
        for r in ivf_topk(q, c, cents_, k=5, nprobe=4).collect()
    }
    hits = set(exact) & set(approx)
    recall = len(hits) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall:.2f} suspiciously low"
    for pair in hits:  # scores are exact where cells overlap
        assert exact[pair] == approx[pair]


def test_ivf_probes_bound_candidates(spark, emb):
    """A query's neighbors must all come from its probed cells."""
    from mo_etl_spark.operators.similarity import brute_force_topk, ivf_topk

    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec"))
    cents_ = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("vec")
    )
    cells = {
        r["c_id"]: r["cell"]
        for r in brute_force_topk(
            c, cents_, k=1, q_id="c_id", c_id="cent_id", exclude_self=False
        )
        .select("c_id", F.col("cent_id").alias("cell"))
        .collect()
    }
    probes = {}
    for r in (
        brute_force_topk(q, cents_, k=4, c_id="cent_id", exclude_self=False)
        .select("q_id", F.col("cent_id").alias("cell"))
        .collect()
    ):
        probes.setdefault(r["q_id"], set()).add(r["cell"])
    for r in ivf_topk(q, c, cents_, k=5, nprobe=4).collect():
        assert cells[r["c_id"]] in probes[r["q_id"]]


def test_sqlite_roundtrip_lossless(spark, sf_dir, tmp_path):
    from mo_etl_spark.sources import scan_sqlite, sink_sqlite
    from mo_etl_spark.tables import load_table

    nation = load_table(spark, sf_dir, "nation")
    db = str(tmp_path / "t.db")
    sink_sqlite(nation, db, "nation")
    back = scan_sqlite(spark, db, "nation")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))
    # SELECT passthrough
    two = scan_sqlite(spark, db, "SELECT n_name FROM nation WHERE n_regionkey = 0")
    assert two.columns == ["n_name"]


def test_stream_real_queries_match_batch(spark, sf_dir):
    """The availableNow streaming pipelines must equal their batch
    twins computed directly on the events table."""
    from mo_etl_spark.registry import all_queries
    from mo_etl_spark.tables import load_table

    qs = all_queries()
    events = load_table(spark, sf_dir, "events")

    got = {
        (r["win_start_ms"], r["event_type"]): (r["n"], r["total_cents"])
        for r in qs["stream_real_watermark_daily"].fn(spark, sf_dir).collect()
    }
    want = {
        (r["win_start_ms"], r["event_type"]): (r["n"], r["total_cents"])
        for r in events.groupBy(
            F.window("ts", "1 day").alias("win"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
        )
        .select(
            (F.unix_micros(F.col("win.start")) / 1000).cast("long").alias("win_start_ms"),
            "event_type",
            "n",
            "total_cents",
        )
        .collect()
    }
    assert got == want

    feb = {
        r["event_type"]: (r["n"], r["total_cents"], r["n_users"])
        for r in qs["stream_real_foreachbatch_etl"].fn(spark, sf_dir).collect()
    }
    base = {
        r["event_type"]: (r["n"], r["total_cents"], r["n_users"])
        for r in events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .collect()
    }
    assert feb == base


def test_typed_json_roundtrip(spark):
    """mo-json typed encoding: encode -> typed keys present; decode ->
    original values, including nested structs and arrays."""
    from pyspark.sql import functions as F
    from mo_etl_spark.functions.typed_json import typed_decode, typed_encode

    df = spark.createDataFrame(
        [
            (1, ("abc", 2.5, True, [1.0, 2.0], ("x", 7.0))),
            (2, (None, None, False, [], ("y", None))),
        ],
        "id long, doc struct<s: string, n: double, b: boolean,"
        " a: array<double>, o: struct<os: string, onum: double>>",
    )
    dt = df.schema["doc"].dataType
    enc = df.select("id", typed_encode(F.col("doc"), dt).alias("tj"))
    rows = {r["id"]: r["tj"] for r in enc.collect()}
    assert '"~s~":"abc"' in rows[1]
    assert '"~n~":2.5' in rows[1]
    assert '"~b~":true' in rows[1]
    assert '"~a~":' in rows[1]
    assert '"~e~":1' in rows[1]
    assert '"~s~"' not in rows[2].split('"o"')[0]  # null s omitted

    back = enc.select("id", typed_decode(F.col("tj"), dt).alias("doc"))
    got = {r["id"]: r["doc"] for r in back.collect()}
    want = {r["id"]: r["doc"] for r in df.collect()}
    assert got[1] == want[1]
    assert got[2]["s"] is None and got[2]["b"] is False
    assert got[2]["o"]["os"] == "y"


def test_lsh_multiprobe_recall_dominates_single(spark, emb):
    """Extra probes can only ADD candidates, so multiprobe recall vs
    exact top-k must be >= single-probe recall, and every returned
    score stays exact."""
    from mo_etl_spark.operators.similarity import brute_force_topk, lsh_topk

    q = emb.where(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec"))
    exact = {(r["q_id"], r["c_id"]) for r in brute_force_topk(q, c, k=5).collect()}
    single = {
        (r["q_id"], r["c_id"])
        for r in lsh_topk(q, c, k=5, dim=64, n_planes=6).collect()
    }
    multi = {
        (r["q_id"], r["c_id"])
        for r in lsh_topk(q, c, k=5, dim=64, n_planes=6, multiprobe=3).collect()
    }
    assert len(multi & exact) >= len(single & exact)
    assert len(multi) >= len(single)


def test_jx_over_sqlite_container(spark, sf_dir, tmp_path):
    """The jx-sqlite shape end to end: jx query dict executed against a
    SQLite container (scanned into a DataFrame, queried with jx_run)."""
    from mo_etl_spark.jx.query import jx_run
    from mo_etl_spark.sources import scan_sqlite, sink_sqlite
    from mo_etl_spark.tables import load_table

    db = str(tmp_path / "c.db")
    sink_sqlite(load_table(spark, sf_dir, "nation"), db, "nation")
    container = scan_sqlite(spark, db, "nation")
    out = jx_run(
        {
            "from": "nation",
            "where": {"lt": ["n_regionkey", 2]},
            "groupby": "n_regionkey",
            "select": [{"name": "n", "aggregate": "count"}],
        },
        spark=spark,
        tables={"nation": container},
    ).collect()
    got = {r["n_regionkey"]: r["n"] for r in out}
    assert got == {0: 5, 1: 5}


def test_jx_query_on_streaming_dataframe(spark, sf_dir, tmp_path):
    """jx compiles to plain DataFrame ops, so the same query dict runs
    on a readStream input unchanged — jx over Structured Streaming."""
    from mo_etl_spark.jx.query import jx_run
    from mo_etl_spark.streaming import file_stream_source
    from mo_etl_spark.tables import load_table

    feed = str(tmp_path / "feed")
    events = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    events.write.parquet(feed)
    stream = file_stream_source(spark, feed, "event_id BIGINT, event_type STRING")
    assert stream.isStreaming
    agg = jx_run(
        {
            "from": stream,
            "where": {"exists": "event_type"},
            "groupby": "event_type",
            "select": [{"name": "n", "aggregate": "count"}],
        }
    )
    assert agg.isStreaming
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("jx_stream_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["event_type"]: r["n"] for r in spark.table("jx_stream_sink").collect()}
    want = {
        r["event_type"]: r["n"]
        for r in jx_run(
            {"from": events, "where": {"exists": "event_type"},
             "groupby": "event_type",
             "select": [{"name": "n", "aggregate": "count"}]}
        ).collect()
    }
    assert got == want


def test_typed_json_null_struct_roundtrip(spark):
    """NULL nested structs/arrays must be ABSENT in the encoding (no
    ~e~ existence marker) and decode back to NULL, not an all-null
    struct."""
    from pyspark.sql import functions as F
    from mo_etl_spark.functions.typed_json import typed_decode, typed_encode

    df = spark.createDataFrame(
        [(1, (None, None)), (2, (("z", 1.0), [2.0]))],
        "id long, doc struct<o: struct<os: string, onum: double>, a: array<double>>",
    )
    dt = df.schema["doc"].dataType
    enc = df.select("id", typed_encode(F.col("doc"), dt).alias("tj"))
    rows = {r["id"]: r["tj"] for r in enc.collect()}
    assert '"o"' not in rows[1] and '"a"' not in rows[1]  # absent, not {}
    back = {
        r["id"]: r["doc"]
        for r in enc.select("id", typed_decode(F.col("tj"), dt).alias("doc")).collect()
    }
    assert back[1]["o"] is None and back[1]["a"] is None
    assert back[2]["o"]["os"] == "z" and back[2]["a"] == [2.0]


def test_shred_handles_dotted_and_bracket_keys(spark):
    from mo_etl_spark.operators.shred import discover_json_keys, shred_json

    df = spark.createDataFrame(
        [('{"a.b": 1, "plain": 2, "x[0]": 3}',), ('{"plain": 9}',)], "props string"
    )
    keys = discover_json_keys(df, "props")
    assert keys == ["a.b", "plain", "x[0]"]
    out = shred_json(df, "props", keys).collect()
    cols = set(out[0].asDict())
    assert {"props_a_b", "props_plain", "props_x_0_"} <= cols
    vals = sorted(
        ((r["props_a_b"], r["props_plain"]) for r in out),
        key=lambda t: t[1],
    )
    assert vals == [("1", "2"), (None, "9")]


def test_scan_sqlite_empty_table(spark, tmp_path):
    import sqlite3

    from mo_etl_spark.sources import scan_sqlite

    db = str(tmp_path / "e.db")
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE empty_t (id INTEGER, name TEXT, score REAL)")
    out = scan_sqlite(spark, db, "empty_t")
    assert out.count() == 0
    assert dict(out.dtypes) == {"id": "bigint", "name": "string", "score": "double"}
    # table whose NAME starts with 'select' routes as a table, not SQL
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE selections (k INTEGER)")
        conn.execute("INSERT INTO selections VALUES (7)")
        conn.commit()
    assert scan_sqlite(spark, db, "selections").collect()[0]["k"] == 7


def test_deterministic_sample_large_ids_no_overflow(spark):
    from mo_etl_spark.operators.text import deterministic_sample

    big = spark.range(4_000_000_000_000, 4_000_000_000_100).selectExpr("id AS doc_id")
    out = deterministic_sample(big)  # must not overflow / raise under ANSI
    n = out.count()
    assert 0 <= n <= 100
    # congruence with the mathematical definition on small ids
    small = spark.range(0, 1000).selectExpr("id AS doc_id")
    got = {r["doc_id"] for r in deterministic_sample(small).collect()}
    want = {i for i in range(1000) if (i * 2654435761) % 97 < 10}
    assert got == want


def test_fuzzy_blocked_join_recovers_planted_typos(spark, sf_dir):
    """Every planted corruption sits OUTSIDE the block prefix, so the
    blocked plan must recover all of them at distance exactly 1, and
    every clean name must self-match at distance 0."""
    from pyspark.sql import functions as F

    from mo_etl_spark.operators.joins import fuzzy_blocked_join
    from mo_etl_spark.tables import load_table

    part = load_table(spark, sf_dir, "part").where(F.col("p_partkey") < 300)
    registry = part.select(
        (F.col("p_partkey") + 100000).alias("reg_id"),
        F.when(
            F.col("p_partkey") % 3 == 0,
            F.concat(
                F.substring("p_name", 1, 4), F.lit("x"), F.expr("substring(p_name, 6)")
            ),
        ).otherwise(F.col("p_name")).alias("reg_name"),
    )
    out = fuzzy_blocked_join(
        part.select("p_partkey", "p_name"), registry,
        left_key="p_name", right_key="reg_name", block_chars=3, max_distance=1,
    ).collect()
    got = {(r["p_partkey"], r["reg_id"]): r["edit_distance"] for r in out}
    n = part.count()
    for k in range(n):
        want = 1 if k % 3 == 0 else 0
        assert got[(k, k + 100000)] == want, (k, got.get((k, k + 100000)))


def test_ann_index_param_guard(spark, tmp_path):
    """ADVICE r4: a persisted ANN index served with mismatched build
    params (different LSH planes / centroid set) must FAIL LOUDLY, not
    return wrong/empty neighbors.  write_ann_index records the params
    in a sidecar; load_ann_index validates; the serving operators
    reject tables missing their probe/id/vector columns."""
    import pytest
    from pyspark.sql import functions as F

    from mo_etl_spark.operators import similarity as S

    df = spark.range(8).select(
        F.col("id").alias("c_id"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("vec"),
        (F.col("id") % 2).alias("bucket"),
    )
    path = str(tmp_path / "idx")
    params = {"kind": "lsh_vec", "n_planes": 4, "seed": 42}
    S.write_ann_index(df, path, ["bucket"], params)
    assert S.load_ann_index(spark, path, params).count() == 8
    with pytest.raises(ValueError, match="different parameters"):
        S.load_ann_index(spark, path, {**params, "seed": 7})
    with pytest.raises(ValueError, match="no _MANIFEST"):
        S.load_ann_index(spark, str(tmp_path / "never_built_with_guard"), params)

    # ADVICE r5 (medium): the BUILDER's staleness check must also flip
    # on a param change — an existence-only rebuild condition leaves a
    # fresh-_SUCCESS + old-params cache that load_ann_index rejects on
    # every run, a permanent failure loop nothing ever repairs
    import os
    import time

    src = str(tmp_path / "src.txt")
    with open(src, "w") as f:
        f.write("corpus")
    past = time.time() - 3600
    os.utime(src, (past, past))  # source predates the index build
    assert not S.index_is_stale(path, src, params)
    assert S.index_is_stale(path, src, {**params, "seed": 7})  # param drift
    assert S.index_is_stale(path, src, {**params, "extra": 1})  # new param
    os.utime(src)  # source newer than the build
    assert S.index_is_stale(path, src, params)
    os.utime(src, (past, past))
    os.remove(os.path.join(path, "_MANIFEST"))  # pre-guard cache
    assert S.index_is_stale(path, src, params)

    # column guard: handing the LSH index to the IVF server (no cell
    # column) is a plan-time ValueError, not a silent empty result
    q = spark.range(2).select(
        F.col("id").alias("q_id"), F.array(F.lit(1.0), F.lit(2.0)).alias("vec")
    )
    cents = spark.range(2).select(
        F.col("id").alias("cent_id"), F.array(F.lit(1.0), F.lit(2.0)).alias("vec")
    )
    with pytest.raises(ValueError, match="IVF serving index is missing"):
        S.ivf_topk(q, None, cents, k=1, indexed_corpus=df.drop("bucket"))
    with pytest.raises(ValueError, match="LSH serving index is missing"):
        S.lsh_topk(q, None, k=1, dim=2, indexed_corpus=df.drop("bucket"))


def test_incremental_pruned_broadcast_guard_fallback(spark, sf_dir):
    """ADVICE r4: past broadcast_cap_rows the DPP verify path must fall
    back to a shuffle join — identical pair set (correctness kept),
    dynamicpruningexpression gone (DPP lost, by design, instead of a
    broadcast OOM crash under a band hot-spot)."""
    from pyspark.sql import functions as F

    from mo_etl_spark.operators import dedup as D
    from mo_etl_spark.suites.llm import _incr_new_batch, llm_dedup_incremental_pruned
    from mo_etl_spark.tables import cache_path, load_table

    normal = llm_dedup_incremental_pruned(spark, sf_dir)
    want = sorted(tuple(r) for r in normal.collect())
    assert "dynamicpruningexpression" in normal._jdf.queryExecution().toString()

    index = spark.read.parquet(
        cache_path(sf_dir, "minhash_band_index__k16_b8_base400")
    )
    corpus = spark.read.parquet(
        cache_path(sf_dir, "incr_corpus_bucketed__nb16_base400")
    )
    docs = load_table(spark, sf_dir, "documents")
    new_batch = _incr_new_batch(docs)
    guarded = D.minhash_md5_incremental_pairs(
        index, new_batch, corpus, k=16, bands=8, verify_threshold=0.8,
        corpus_bucket_col="db", n_buckets=16, broadcast_cap_rows=0,
    )
    assert sorted(tuple(r) for r in guarded.collect()) == want
    assert "dynamicpruningexpression" not in guarded._jdf.queryExecution().toString()


def test_ivf_hotcell_subsplit_equal_and_capped(spark, tmp_path):
    """VERDICT r4 item #2: a planted hot cell (~40% of the corpus in
    one centroid's cell) must be split into capped (cell, sub)
    partitions — identical top-k to the unsplit serving path, and no
    single scoring group larger than the cap."""
    from pyspark.sql import functions as F

    from mo_etl_spark.operators import similarity as S

    # corpus: 200 vectors in 2-D; ids < 80 cluster near (1, 0) => one
    # hot cell; the rest spread between (0, 1) and (-1, 0) cells
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

    idx = S.ivf_cells(corpus, cents).join(corpus, "c_id")
    split, ns = S.ivf_subsplit(idx, cap_rows=25)
    path = str(tmp_path / "hot_idx")
    cell_subs = {str(r["cell"]): r["n_subs"] for r in ns.collect()}
    S.write_ann_index(split, path, ["cell", "sub"], {"k": 1, "cell_subs": cell_subs})
    params = S.index_params(path)
    indexed = S.load_ann_index(spark, path, {"k": 1})
    cs = S.cell_subs_from_params(spark, params)

    got = S.ivf_topk(
        q, None, cents, k=5, nprobe=1, indexed_corpus=indexed, cell_subs=cs
    )
    want = S.ivf_topk(q, None, cents, k=5, nprobe=1, indexed_corpus=idx)
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in want.collect()
    )
    # the hot cell really was split and every scoring group is capped
    per_sub = indexed.groupBy("cell", "sub").count().collect()
    assert max(r["count"] for r in per_sub) <= 25
    assert sum(1 for r in per_sub if r["cell"] == 0) >= 4  # 80 rows / 25


def test_ann_index_rebuild_crash_never_bricks_serving(spark, tmp_path):
    """r9 manifest-protocol index layout (VERDICT r8 item #3): a
    crashed rebuild must leave serving on the old complete generation
    (the manifest commit is the pointer), the next successful rebuild
    must clobber the debris, bump the generation, and retain the
    predecessor for in-flight readers — and because the index now
    rides the SAME protocol as stream-grown state, time travel and
    rollback work on it with zero extra code."""
    import os
    import time

    from pyspark.sql import functions as F

    from mo_etl_spark import streaming as ST
    from mo_etl_spark.operators import similarity as S

    def table(n):
        return spark.range(n).select(
            F.col("id").alias("c_id"),
            F.array(F.lit(1.0), F.lit(2.0)).alias("vec"),
            (F.col("id") % 2).alias("bucket"),
        )

    path = str(tmp_path / "idx")
    params = {"kind": "lsh_vec", "n_planes": 4, "seed": 42}
    src = str(tmp_path / "src.txt")
    with open(src, "w") as f:
        f.write("corpus")
    past = time.time() - 3600
    os.utime(src, (past, past))

    S.write_ann_index(table(8), path, ["bucket"], params)
    assert S.load_ann_index(spark, path, params).count() == 8
    assert ST._read_manifest(path)["base"] == "base1"
    assert S.index_params(path) == params  # committed atomically

    # crashed rebuild: a partial new generation, manifest untouched
    table(3).write.parquet(os.path.join(path, "base2"))
    assert S.load_ann_index(spark, path, params).count() == 8  # still base1
    assert not S.index_is_stale(path, src, params)  # and not a rebuild loop

    # successful rebuild clobbers the debris and commits generation 2
    S.write_ann_index(table(16), path, ["bucket"], params)
    assert S.load_ann_index(spark, path, params).count() == 16
    assert ST._read_manifest(path)["base"] == "base2"
    assert os.path.isdir(os.path.join(path, "base1"))  # in-flight readers

    # TIME TRAVEL comes free from the shared protocol: both committed
    # generations are readable via the manifest log, params ride along
    assert ST.read_batched_at(spark, path, 1, partitioned=True).count() == 8
    assert ST.read_batched_at(spark, path, 2, partitioned=True).count() == 16

    # one more: gen 1 (now two generations back) is garbage-collected
    # (expire_snapshots keep_last_n=2 retention inside the write)
    S.write_ann_index(table(4), path, ["bucket"], params)
    assert S.load_ann_index(spark, path, params).count() == 4
    assert not os.path.isdir(os.path.join(path, "base1"))
    assert os.path.isdir(os.path.join(path, "base2"))
    with pytest.raises(ST.SnapshotVacuumed):
        ST.read_batched_at(spark, path, 1)

    # ROLLBACK comes free too: one bad deploy reverted in place — the
    # live index serves generation 2's rows again, params restored
    ST.rollback_batched(path, 2)
    assert S.load_ann_index(spark, path, params).count() == 16


def test_ann_index_unlogged_live_base_survives_debris_sweep(spark, tmp_path):
    """ADVICE r9 HIGH: _write_manifest tolerates a crash between the
    live-pointer commit and the per-generation log append, so the LIVE
    generation can legitimately be absent from the manifest log.  The
    next rebuild's crash-debris sweep must therefore never treat an
    unlogged-but-live (or unlogged-but-consumed) base as debris —
    pre-fix it rmtree'd the serving base before the new build
    committed, failing concurrent readers mid-scan and, if the rebuild
    then crashed too, leaving the manifest pointing at a deleted dir
    (serving bricked)."""
    import os

    from pyspark.sql import functions as F

    from mo_etl_spark import streaming as ST
    from mo_etl_spark.operators import similarity as S

    def table(n):
        return spark.range(n).select(
            F.col("id").alias("c_id"),
            F.array(F.lit(1.0), F.lit(2.0)).alias("vec"),
            (F.col("id") % 2).alias("bucket"),
        )

    path = str(tmp_path / "idx")
    params = {"kind": "lsh_vec", "n_planes": 4, "seed": 42}
    S.write_ann_index(table(8), path, ["bucket"], params)
    S.write_ann_index(table(16), path, ["bucket"], params)
    # simulate the tolerated crash window: pointer committed, log lost
    # — for BOTH the live gen (base2) and the consumed one (base1)
    os.remove(os.path.join(path, "_MANIFEST.g1"))
    os.remove(os.path.join(path, "_MANIFEST.g2"))
    assert ST.read_manifest_log(path) == {}
    assert ST._read_manifest(path)["base"] == "base2"

    # the rebuild must NOT sweep base1/base2: base2 is the serving
    # base an in-flight reader is scanning, base1 its grace-retained
    # predecessor.  (Pre-fix: both rmtree'd before the new build.)
    S.write_ann_index(table(4), path, ["bucket"], params)
    assert S.load_ann_index(spark, path, params).count() == 4
    assert os.path.isdir(os.path.join(path, "base2"))  # predecessor kept

    # a TRULY unreferenced base (no manifest, no log, no consumed
    # entry) is still recognized as debris and clobbered
    table(3).write.parquet(os.path.join(path, "base99"))
    S.write_ann_index(table(6), path, ["bucket"], params)
    assert not os.path.isdir(os.path.join(path, "base99"))
    assert S.load_ann_index(spark, path, params).count() == 6


def test_ann_requantize_and_reassign_preserve_payload_columns(spark):
    """ADVICE r9 MEDIUM: the requantize/reassign maintenance folds
    rebuild the table layout from (id, vec) but must carry every OTHER
    column through the rewrite — payload columns added via the
    compactor's additive schema evolution would otherwise be
    permanently dropped when compaction consumes the inputs."""
    from pyspark.sql import functions as F

    from mo_etl_spark.operators import similarity as S

    df = spark.range(40).select(
        F.col("id").alias("c_id"),
        F.array(
            (F.col("id") % 7 + 1).cast("double"),
            (F.col("id") % 3 + 1).cast("double"),
        ).alias("vec"),
        F.concat(F.lit("doc-"), F.col("id")).alias("payload"),
        F.lit(0).alias("cell"),  # stale layout: must be re-derived
        F.lit(0).alias("sub"),
    )

    out, extra = S.ann_requantize_transform(k=2, iters=1, cap_rows=8)(df)
    assert {"c_id", "vec", "payload", "cell", "sub"} <= set(out.columns)
    rows = {r["c_id"]: r["payload"] for r in out.collect()}
    assert len(rows) == 40 and rows[7] == "doc-7"
    assert "centroids" in extra and "layout_id" in extra

    out2, extra2 = S.ann_reassign_transform("/nonexistent-root", cap_rows=8)(df)
    assert {"c_id", "vec", "payload"} <= set(out2.columns)
    assert out2.count() == 40


def test_ann_index_flat_layout_upgrade_retention(spark, tmp_path):
    """ADVICE r6 (discipline carried into the r9 manifest protocol):
    upgrading a PRE-MANIFEST layout — flat partition dirs, or
    sidecar-era ``gen<N>`` dirs + ``_index_params.json`` — must give
    the legacy files one-rebuild-cycle retention (an in-flight reader
    that resolved the old layout may still be scanning them), and a
    crashed writer's stale sidecar ``.tmp`` must be cleaned up, not
    skipped forever."""
    import json
    import os

    from pyspark.sql import functions as F

    from mo_etl_spark.operators import similarity as S

    def table(n):
        return spark.range(n).select(
            F.col("id").alias("c_id"),
            F.array(F.lit(1.0), F.lit(2.0)).alias("vec"),
            (F.col("id") % 2).alias("bucket"),
        )

    # legacy layout: flat partition dirs directly under path, PLUS a
    # sidecar-era generation dir + pointer sidecar, plus a crashed
    # writer's .tmp — everything a pre-r9 cache could contain at once
    path = str(tmp_path / "idx")
    table(8).write.partitionBy("bucket").parquet(path)
    table(6).write.partitionBy("bucket").parquet(os.path.join(path, "gen1"))
    with open(os.path.join(path, S.INDEX_SIDECAR), "w") as f:
        json.dump({"kind": "lsh_vec", "live": "gen1"}, f)
    with open(os.path.join(path, S.INDEX_SIDECAR + ".tmp"), "w") as f:
        f.write("{crashed")
    # dot-prefixed entries (hadoop .crc files) are never live data —
    # the protocol skips them everywhere, so retention ignores them
    legacy_entries = {
        e for e in os.listdir(path)
        if not e.startswith((S.INDEX_SIDECAR + ".tmp", "."))
    }
    assert legacy_entries  # the layout under test really exists

    # a sidecar-era index is reported STALE (manifest absent), and
    # load refuses it loudly — the upgrade is one ordinary rebuild
    src = os.path.join(path, "_SUCCESS")
    params = {"kind": "lsh_vec", "n_planes": 4, "seed": 42}
    assert S.index_is_stale(path, src, params)
    with pytest.raises(ValueError, match="no _MANIFEST"):
        S.load_ann_index(spark, path, params)

    # upgrade (gen 1): legacy files RETAINED one cycle, stale .tmp gone
    S.write_ann_index(table(8), path, ["bucket"], params)
    assert S.load_ann_index(spark, path, params).count() == 8
    assert legacy_entries <= set(os.listdir(path))
    assert not os.path.exists(os.path.join(path, S.INDEX_SIDECAR + ".tmp"))

    # next rebuild (gen 2): the legacy predecessor is garbage-collected
    # wholesale, base1 retained as the in-flight-reader predecessor
    S.write_ann_index(table(16), path, ["bucket"], params)
    assert S.load_ann_index(spark, path, params).count() == 16
    assert not (legacy_entries & set(os.listdir(path)))
    assert os.path.isdir(os.path.join(path, "base1"))


def test_lsh_hotbucket_subsplit_equal_and_capped(spark, tmp_path):
    """r7: the persisted LSH index gets the same hot-key cap as IVF —
    hyperplane buckets are unbalanced by nature (correlated embeddings
    share sign patterns), so a planted hot bucket (~40% of the corpus
    in one direction) must split into capped (bucket, sub) partitions
    with serving results identical to the unsplit path."""
    from pyspark.sql import functions as F

    from mo_etl_spark.operators import similarity as S

    # ids < 80 share a direction (same sign pattern -> same bucket)
    corpus = spark.range(200).select(
        F.col("id").alias("c_id"),
        F.when(
            F.col("id") < 80,
            F.array(F.lit(1.0), F.lit(1.0), F.col("id").cast("double") / 1000),
        )
        .otherwise(
            F.array(
                F.sin(F.col("id").cast("double")),
                F.cos(F.col("id") * F.lit(2.0)),
                F.sin(F.col("id") * F.lit(3.0)),
            )
        )
        .alias("vec"),
    )
    q = corpus.where(F.col("c_id") % 10 == 0).select(
        F.col("c_id").alias("q_id"), "vec"
    )
    idx = (
        S.hyperplane_lsh_buckets(
            corpus.select(F.col("c_id").alias("vec_id"), F.col("vec").alias("embedding")),
            dim=3, n_planes=3,
        )
        .withColumnRenamed("vec_id", "c_id")
        .join(corpus, "c_id")
    )
    hot = idx.groupBy("bucket").count().orderBy(F.desc("count")).first()
    assert hot["count"] >= 80  # the plant worked

    split, ns = S.ivf_subsplit(idx, cap_rows=25, cell_col="bucket")
    path = str(tmp_path / "lsh_hot")
    bucket_map = {
        str(r["bucket"]): int(r["n_subs"])
        for r in ns.where(F.col("n_subs") > 1).collect()
    }
    params = {"kind": "lsh_vec", "n_planes": 3, "seed": 42, "cell_subs": bucket_map}
    S.write_ann_index(split, path, ["bucket", "sub"], params)
    indexed = S.load_ann_index(spark, path, {"kind": "lsh_vec"})
    stored = S.cell_subs_from_params(spark, S.index_params(path), col="bucket")
    subs = (
        indexed.select("bucket").distinct()
        .join(stored, "bucket", "left")
        .select("bucket", F.coalesce("n_subs", F.lit(1)).alias("n_subs"))
    )

    got = S.lsh_topk(
        q, None, k=5, dim=3, n_planes=3, indexed_corpus=indexed, bucket_subs=subs
    )
    want = S.lsh_topk(q, None, k=5, dim=3, n_planes=3, indexed_corpus=idx)
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in want.collect()
    )
    per_sub = indexed.groupBy("bucket", "sub").count().collect()
    # sub assignment is hash-based, so per-sub sizes are cap-bounded in
    # EXPECTATION (ceil(size/cap) subs); allow the hash's variance while
    # still proving the straggler is gone (80-row bucket -> <= ~cap-rows
    # tasks, not one 80-row task)
    assert max(r["count"] for r in per_sub) <= 25 * 1.5
    assert sum(1 for r in per_sub if r["bucket"] == hot["bucket"]) >= 4

    # ADVICE r7: a PARTIAL subs map (the sidecar stores only n_subs>1
    # buckets) must serve identically — probed unsplit buckets default
    # to n_subs=1 instead of being inner-joined away (an absent LSH
    # bucket is non-empty, unlike an absent IVF cell)
    got_partial = S.lsh_topk(
        q, None, k=5, dim=3, n_planes=3, indexed_corpus=indexed, bucket_subs=stored
    )
    assert sorted(tuple(r) for r in got_partial.collect()) == sorted(
        tuple(r) for r in want.collect()
    )


def test_lsh_recall_gate_discriminates_expansion_bug(spark):
    """VERDICT r7 next-round #3 'done' criterion: llm_recall_lsh_at5's
    bound must TRIP for a planted bucket/sub expansion bug.  Re-run
    the gate's exact pipeline but with an all-ones subs map (the bug:
    split buckets serve only sub 0) — recall_ok must flip to False
    while the healthy gate passes (its CORRECTNESS entry)."""
    from pyspark.sql import functions as F

    from mo_etl_spark.operators import similarity as S
    from mo_etl_spark.suites.llm import _emb, _recall_assert, llm_recall_lsh_at5
    from mo_etl_spark.tables import cache_path

    sf = "/root/testdata/sf0.01"
    healthy = llm_recall_lsh_at5(spark, sf).first()
    assert healthy["recall_ok"] is True

    emb = _emb(spark, sf)
    q = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    idx_path = cache_path(sf, "lsh_recall_gate__p4_s42_c24")
    indexed = S.load_ann_index(
        spark, idx_path, {"kind": "lsh_vec", "n_planes": 4, "seed": 42},
        schema="c_id BIGINT, vec ARRAY<FLOAT>, bucket INT, sub INT",
    )
    assert indexed.where(F.col("sub") > 0).count() > 0  # splits exist
    broken_map = spark.createDataFrame(
        [(b, 1) for b in range(16)], "bucket BIGINT, n_subs INT"
    )
    broken = S.lsh_topk(
        q, None, k=5, dim=64, n_planes=4, seed=42, multiprobe=3,
        indexed_corpus=indexed, bucket_subs=broken_map,
    )
    assert _recall_assert(spark, sf, broken, bound=0.28).first()["recall_ok"] is False
