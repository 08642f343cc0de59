"""sf0.1 -> sf1 (10x) measured scaling table for the heavy operator
families (VERDICT r3 item #1): jaccard-prefix join, simhash banding,
substring spans/cut, sessionize (plain + routed), as-of join, IVF and
PQ serving, PageRank, DBSCAN neighbor stage, connected components
(both routes).

``gen``  — builds a 10x dataset at ``<checkout>/.scratch/sf1`` from
  /root/testdata/sf0.1 (read-only) by unioning 10 key-offset replicas.
  Replica perturbations keep the DUPLICATE/DENSITY STRUCTURE constant
  (the point is weak scaling of the algorithm, not an artificial 10x
  inflation of every dup cluster):
  - documents: every token suffixed with ``~r`` in replica r, so
    cross-replica shingle/minhash/simhash similarity is zero and each
    replica carries the same internal near-dup geometry as sf0.1;
  - embeddings: vectors rotated by r positions (norm-preserving, so
    cross-replica cosine decorrelates while per-replica geometry is
    identical);
  - events: user ids offset per replica — 10x users, same per-user
    session history;
  - lineitem: order/part/supp keys offset per replica — the supply
    graph becomes 10 disjoint copies.

``run`` — times each operator at both scales (min of ``--reps`` warm
  runs after one discarded warm-up of the session) and prints one JSON
  line {op: {sf01, sf1, ratio}}.  DBSCAN's neighbor stage is measured
  on synthesized constant-DENSITY integer grids (domain side grows
  with sqrt(n)) — the honest weak-scaling setup for a spatial join;
  CC edges are deterministic 5-chains sized to the doc count.

Pass criterion (BASELINE.md): every linear-claimed op <= ~12x.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from mo_etl_spark.session import ENGINE_ROOT  # noqa: E402

#: generated datasets and their indexes (kept out of the fixture cache)
SCRATCH = os.path.join(ENGINE_ROOT, ".scratch")
SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(SCRATCH, "sf1")
SF3 = os.path.join(SCRATCH, "sf3")  # 30x — the r5 extra decade (item #6)
REPLICAS = 10


def _read(spark, d, t):
    df = spark.read.parquet(os.path.join(d, f"{t}.parquet"))
    if t == "events" and dict(df.dtypes).get("ts") == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def gen(spark, replicas: int = REPLICAS, out: str = SF1,
        tables: tuple[str, ...] = ("documents", "embeddings", "events", "lineitem")) -> None:
    os.makedirs(out, exist_ok=True)

    def union_all(parts):
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return u

    if "documents" in tables:
        docs = _read(spark, SF01, "documents")
        parts = []
        for r in range(replicas):
            d = docs.withColumn("doc_id", F.col("doc_id") + F.lit(r * 10_000_000))
            if r:
                suffixed = F.array_join(
                    F.transform(
                        F.split("text", " "), lambda w: F.concat(w, F.lit(f"~{r}"))
                    ),
                    " ",
                )
                d = d.withColumn("text", suffixed)
            parts.append(d)
        union_all(parts).repartition(8).write.mode("overwrite").parquet(
            f"{out}/documents.parquet"
        )

    if "embeddings" in tables:
        emb = _read(spark, SF01, "embeddings")
        parts = []
        for r in range(replicas):
            e = emb.withColumn("vec_id", F.col("vec_id") + F.lit(r * 10_000_000))
            if r:
                # norm-preserving rotation; wraps past 63 so 64+ replicas
                # stay valid (identical to the r4 form for r <= 63)
                rr = (r - 1) % 63 + 1
                rot = F.concat(
                    F.slice("embedding", rr + 1, 64 - rr), F.slice("embedding", 1, rr)
                )
                e = e.withColumn("embedding", rot)
            parts.append(e)
        union_all(parts).repartition(8).write.mode("overwrite").parquet(
            f"{out}/embeddings.parquet"
        )

    if "events" in tables:
        ev = _read(spark, SF01, "events")
        parts = [
            ev.withColumn("event_id", F.col("event_id") + F.lit(r * 1_000_000_000))
            .withColumn("user_id", F.col("user_id") + F.lit(r * 10_000_000))
            for r in range(replicas)
        ]
        union_all(parts).repartition(16).write.mode("overwrite").parquet(
            f"{out}/events.parquet"
        )

    if "lineitem" in tables:
        li = _read(spark, SF01, "lineitem")
        parts = [
            li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(r * 1_000_000_000))
            .withColumn("l_partkey", F.col("l_partkey") + F.lit(r * 10_000_000))
            .withColumn("l_suppkey", F.col("l_suppkey") + F.lit(r * 10_000_000))
            for r in range(replicas)
        ]
        union_all(parts).repartition(32).write.mode("overwrite").parquet(
            f"{out}/lineitem.parquet"
        )
    print("generated", out)


def _grid_points(spark, n: int):
    """Constant-density integer points: domain side scales with
    sqrt(n) so eps-neighborhood sizes stay constant across scales."""
    import math

    side = int(math.sqrt(n) * 4000)  # ~16 neighbors within r=6000
    return spark.range(n).select(
        F.col("id").alias("pid"),
        F.pmod(F.col("id") * 48271, F.lit(side)).cast("long").alias("x"),
        F.pmod(F.col("id") * 16807, F.lit(side)).cast("long").alias("y"),
    )


def workloads(spark, d: str, scale: float, ops: list[str] | None = None):
    """(name, thunk) pairs; each thunk runs the operator to completion
    (count) at directory ``d``; ``scale`` sizes the synthesized CC /
    DBSCAN inputs (1.0 at sf0.1, 10.0 at sf1, 30.0 at sf3).  ``ops``
    gates the untimed index builds — a 30x run measuring four
    work-dominated ops must not pay four unrelated index snapshots."""

    def wanted(*names: str) -> bool:
        return ops is None or any(n in ops for n in names)
    from mo_etl_spark.operators.dedup import (
        connected_components,
        cut_duplicated_spans,
        duplicated_spans,
        jaccard_prefix_pairs,
        minhash_lsh_pairs,
        minhash_md5_band_index,
        minhash_md5_incremental_pairs,
        simhash_hamming_pairs,
    )
    from mo_etl_spark.operators.graph import (
        pagerank,
        pagerank_bucketed,
        pagerank_cobucketed,
    )
    from mo_etl_spark.operators.joins import asof_join
    from mo_etl_spark.operators.similarity import (
        as_double,
        ivf_cells,
        ivf_topk,
        ivfpq_topk,
        hyperplane_lsh_buckets,
        lsh_topk,
        pq_codes_wide,
        pq_topk,
    )
    from mo_etl_spark.operators.global_order import ntile_two_pass
    from mo_etl_spark.operators.spatial import grid_radius_join
    from mo_etl_spark.operators.timeseries import sessionize_skew, sessionize_two_phase

    docs = _read(spark, d, "documents").select("doc_id", "text")
    # the synthetic corpus has a 31-token vocabulary (documented at
    # suites/llm._with_near_dups): ALL-pairs token overlap is
    # degenerate, so the TRUE pair count is quadratic in corpus size —
    # a data property, not an operator property.  Weak-scale the
    # token-similarity family the way the contract queries do: each
    # replica contributes its 500-doc slice (identical internal dup
    # geometry), so pair truth grows exactly linearly and the measured
    # ratio isolates the banding/prefix machinery.
    docs_b = docs.where(F.pmod("doc_id", F.lit(10_000_000)) < 500)
    # table reads gated like the index builds: a 30x dir carries only
    # the tables its requested ops scan
    ev = _read(spark, d, "events") if wanted(
        "sessionize_plain", "sessionize_routed", "asof_backward"
    ) else None
    emb = _read(spark, d, "embeddings")
    li = _read(spark, d, "lineitem") if wanted(
        "pagerank_8it", "pagerank_bucketed_8it", "pagerank_cobucketed_8it",
        "ntile_two_pass",
    ) else None

    corpus = emb.select(
        F.col("vec_id").alias("c_id"), as_double(F.col("embedding")).alias("vec")
    )
    # FIXED 100-query serving load at both scales (vec_id < 2000 exists
    # identically in replica 0 of every scale): serving cost scaling
    # with CORPUS size is the claim under test — a %-only filter would
    # grow the query set 10x with the corpus and measure load x corpus
    queries = emb.where(
        (F.col("vec_id") < 2000) & (F.col("vec_id") % 20 == 0)
    ).select(F.col("vec_id").alias("q_id"), as_double(F.col("embedding")).alias("vec"))
    cents = corpus.where(F.col("c_id") < 64).select(
        F.col("c_id").alias("cent_id"), F.col("vec")
    )
    pq_cents = corpus.where(F.col("c_id") < 16).select(
        F.col("c_id").alias("cent_id"), F.col("vec")
    )

    ev_left = ev.where(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "ts"
    ) if ev is not None else None
    ev_right = ev.where(F.col("event_id") % 2 == 1).select(
        "user_id", "ts", "value"
    ) if ev is not None else None

    # incremental dedup, the daily shape: a FIXED 250-doc batch probes a
    # persisted band index + DPP-pruned bucket-partitioned corpus that
    # grow 10x (docs_b slices, like the rest of the token family — the
    # ~r token suffixes zero cross-replica similarity, so the matched
    # buckets stay replica-0-bounded and the measurement isolates
    # "what does a day's batch cost as the corpus grows").  Index and
    # corpus table builds are the once-per-snapshot cost and run
    # UNTIMED here, exactly as in production.
    nb_incr = 64
    tag = d.rstrip("/").rsplit("/", 1)[-1]
    words = F.split(F.col("text"), " ")
    trunc = F.array_join(
        F.slice(words, 1, F.greatest((F.size(words) * 4 / 5).cast("int"), F.lit(1))),
        " ",
    )
    incr_batch = docs.where(F.col("doc_id") < 250).select(
        (F.col("doc_id") + 100_000_000).alias("doc_id"), trunc.alias("text")
    )
    idx_p = f"{SCRATCH}/incr_idx_{tag}"
    corp_p = f"{SCRATCH}/incr_corp_{tag}_nb{nb_incr}"
    if wanted("incr_batch_fixed") and not os.path.exists(os.path.join(idx_p, "_SUCCESS")):
        minhash_md5_band_index(docs_b, k=16, bands=8).write.mode(
            "overwrite"
        ).parquet(idx_p)
    if wanted("incr_batch_fixed") and not os.path.exists(os.path.join(corp_p, "_SUCCESS")):
        docs_b.unionByName(incr_batch).withColumn(
            "db", F.pmod("doc_id", F.lit(nb_incr))
        ).write.partitionBy("db").mode("overwrite").parquet(corp_p)
    incr_index = spark.read.parquet(idx_p) if wanted("incr_batch_fixed") else None
    incr_corpus = spark.read.parquet(corp_p) if wanted("incr_batch_fixed") else None

    # STREAMED incremental dedup, ONE TRIGGER (VERDICT r5 item #1's
    # scale evidence): the probe-keyed per-batch state layout
    # (suites/streaming_real._incr_dedup_apply_batch) with PRODUCTION
    # bucket sizing — bucket COUNTS scale with the corpus so bucket
    # SIZE stays constant, which is the documented deployment rule
    # (streaming_real._INCR_NB docstring).  The corpus is SYNTHESIZED
    # at constant duplicate density with a per-doc-unique token space
    # (the same honest weak-scaling setup as the DBSCAN grids / CC
    # chains): the sfN documents table's 31-token vocabulary makes
    # every doc a band-collision candidate of every other (a 32-doc
    # batch drew 145k candidates covering ALL id buckets — profiled),
    # which measures the degenerate-corpus regime, not the daily-crawl
    # one where a batch's candidates are sparse.  Docs 2g/2g+1 share
    # 18 of 20 group-unique tokens (Jaccard 0.818 >= the 0.8
    # threshold); the timed trigger applies a FIXED 32-doc truncation
    # batch, whose candidates touch <= ~96 of the id buckets at every
    # scale — matched-bucket probe + verify then read a
    # corpus-independent byte volume and per-trigger wall is ~flat at
    # 10x corpus.  State seeding is the once-per-snapshot cost,
    # untimed, exactly like the index builds.  Partition discovery of
    # the multi-thousand-dir state runs driver-side (threshold raised
    # below): sequential local-fs listing is sub-second where the
    # default parallel-discovery Spark job pays ~25 s in tiny tasks —
    # an object-store deployment would keep the parallel listing.
    nb_s = int(256 * scale)
    nib_s = int(512 * scale)
    sroot = f"{SCRATCH}/stream_incr_{tag}_nb{nb_s}_ib{nib_s}"
    sidx, sarr, spr = f"{sroot}/idx", f"{sroot}/arr", f"{sroot}/pairs"
    stream_batch = None
    sdocs = None
    if wanted(
        "stream_incr_trigger",
        "dedup_probe_frozen_spec",
        "dedup_probe_evolved_spec",
    ):
        n_sdocs = int(20_000 * scale)
        tok = (
            "transform(sequence(0, 19), j -> concat("
            "'t', cast(id div 2 as string), '_', cast(j as string),"
            " CASE WHEN j >= 18 AND id % 2 = 1 THEN 'b' ELSE '' END))"
        )
        sdocs = spark.range(n_sdocs).select(
            F.col("id").alias("doc_id"),
            F.array_join(F.expr(tok), " ").alias("text"),
        )
    if wanted("stream_incr_trigger"):
        from mo_etl_spark.operators.dedup import band_bucket
        # seed gate checks ALL THREE state tables (ADVICE r6): a crash
        # between the seed writes must rebuild, not silently reuse a
        # half-seeded state (idx/pairs missing while arr exists)
        if not all(
            os.path.exists(os.path.join(p, "base", "_SUCCESS"))
            for p in (sidx, sarr, spr)
        ):
            for p in (sidx, sarr, spr):
                shutil.rmtree(p, ignore_errors=True)
            banded_full = minhash_md5_band_index(sdocs, k=16, bands=8).withColumn(
                "ib", band_bucket("band", "bk", nib_s)
            )
            banded_full.repartition(F.col("ib")).write.mode(
                "overwrite"
            ).partitionBy("ib").parquet(os.path.join(sidx, "base"))
            sdocs.withColumn("db", F.pmod("doc_id", F.lit(nb_s))).repartition(
                F.col("db")
            ).write.mode("overwrite").partitionBy("db").parquet(
                os.path.join(sarr, "base")
            )
            # spec stamps (r8 partition-spec evolution): the spec-aware
            # probe reads an UNSTAMPED dir unpruned — stamping the
            # hand-built bases keeps this the matched-bucket
            # measurement it has always been
            open(os.path.join(sidx, "base", f"_spec_{nib_s}"), "w").close()
            open(os.path.join(sarr, "base", f"_spec_{nb_s}"), "w").close()
            spark.createDataFrame(
                [], "id_a BIGINT, id_b BIGINT, jaccard DOUBLE"
            ).write.mode("overwrite").parquet(os.path.join(spr, "base"))
        swords = F.split(F.col("text"), " ")
        strunc = F.array_join(F.slice(swords, 1, 16), " ")
        stream_batch = sdocs.where(F.col("doc_id") < 32).select(
            (F.col("doc_id") + 100_000_000).alias("doc_id"),
            strunc.alias("text"),
        ).localCheckpoint(eager=True)

    def _stream_incr_trigger():
        # local-fs partition discovery of the multi-thousand-dir state
        # runs driver-side (threshold raised); SAVE/RESTORE the conf so
        # later timed workloads in the same session see the default
        # parallel-discovery behaviour (ADVICE r6)
        key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "1000000")
        try:
            from mo_etl_spark.suites.streaming_real import _incr_dedup_apply_batch

            # a FULL trigger every rep: since r8 a replay whose b<id>
            # dir is complete is a NO-OP, so without this reps 2+
            # would skip the sink write (and the verify it forces) and
            # min-of-reps would time a partial trigger
            for p in (sidx, sarr, spr):
                shutil.rmtree(os.path.join(p, "b0"), ignore_errors=True)
            return _incr_dedup_apply_batch(
                spark, sidx, sarr, spr, stream_batch, 0, nb=nb_s, n_ib=nib_s
            )
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)

    # r8 PARTITION-SPEC EVOLUTION counterfactual: the SAME synthetic
    # corpus seeded zero-copy into TWO batched states at a FROZEN
    # creation-time spec (n=16 — right at 1x: ~10k band rows/bucket,
    # outgrown 30x later); one state is left frozen, the other gets
    # ONE adaptive re-bucket maintenance pass (untimed, once per
    # snapshot, like every index build here).  The timed op is a
    # small 8-doc trigger (near-real-time ingest shape — 64 band
    # keys): against the frozen state its "matched buckets" are ALL
    # 16 buckets of a corpus-linear index, so probe bytes grow with
    # the corpus; against the evolved state (16 -> 512 at 30x) the
    # matched fraction shrinks as the spec grows and probe bytes stay
    # ~flat.  This is the measured claim behind
    # stream_real_dedup_rebucket: adaptive re-bucketing is what makes
    # "corpus-flat per trigger" true WITHOUT a production-sized
    # upfront guess.
    SPEC_N0 = 16
    spec_root = f"{SCRATCH}/spec_evo_{tag}"
    spec_batch = None
    if wanted("dedup_probe_frozen_spec", "dedup_probe_evolved_spec"):
        from mo_etl_spark import streaming as SS
        from mo_etl_spark.operators.dedup import band_bucket

        snap_i = f"{spec_root}/snap_idx"
        snap_a = f"{spec_root}/snap_arr"
        snap_p = f"{spec_root}/snap_pairs"
        if not all(
            os.path.exists(os.path.join(p, "_SUCCESS"))
            for p in (snap_i, snap_a, snap_p)
        ):
            for p in (snap_i, snap_a, snap_p):
                shutil.rmtree(p, ignore_errors=True)
            minhash_md5_band_index(sdocs, k=16, bands=8).withColumn(
                "ib", band_bucket("band", "bk", SPEC_N0)
            ).repartition(F.col("ib")).write.mode("overwrite").partitionBy(
                "ib"
            ).parquet(snap_i)
            sdocs.withColumn(
                "db", F.pmod("doc_id", F.lit(SPEC_N0))
            ).repartition(F.col("db")).write.mode("overwrite").partitionBy(
                "db"
            ).parquet(snap_a)
            spark.createDataFrame(
                [], "id_a BIGINT, id_b BIGINT, jaccard DOUBLE"
            ).write.mode("overwrite").parquet(snap_p)
        for variant in ("frozen", "evolved"):
            vr = f"{spec_root}/{variant}"
            if not os.path.exists(os.path.join(vr, "idx", "_MANIFEST")):
                for t, snap in (
                    ("idx", snap_i), ("arr", snap_a), ("pairs", snap_p)
                ):
                    shutil.rmtree(f"{vr}/{t}", ignore_errors=True)
                    SS.seed_batched(
                        f"{vr}/{t}",
                        snap,
                        extra={"spec_n": SPEC_N0} if t != "pairs" else None,
                    )
        evo = f"{spec_root}/evolved"
        if not os.path.exists(os.path.join(evo, "idx", "base1")):
            # the maintenance pass (untimed): caps chosen so 1x stays
            # at its creation spec (evolution is a no-op when the
            # guess fits) and 30x grows 16 -> 512
            SS.compact_batched(
                spark, f"{evo}/idx", min_dirs=0, partition_cols=["ib"],
                gc_grace_sec=0.0,
                transform=SS.rebucket_transform(
                    "ib", lambda n: band_bucket("band", "bk", n),
                    SS.current_spec(f"{evo}/idx", SPEC_N0), cap_rows=12_000,
                    prior_extra=SS.read_manifest_extra(f"{evo}/idx"),
                ),
            )
            SS.compact_batched(
                spark, f"{evo}/arr", min_dirs=0, partition_cols=["db"],
                gc_grace_sec=0.0,
                transform=SS.rebucket_transform(
                    "db", lambda n: F.pmod("doc_id", F.lit(n)),
                    SS.current_spec(f"{evo}/arr", SPEC_N0), cap_rows=2_000,
                    prior_extra=SS.read_manifest_extra(f"{evo}/arr"),
                ),
            )
        swords8 = F.split(F.col("text"), " ")
        spec_batch = sdocs.where(F.col("doc_id") < 8).select(
            (F.col("doc_id") + 200_000_000).alias("doc_id"),
            F.array_join(F.slice(swords8, 1, 16), " ").alias("text"),
        ).localCheckpoint(eager=True)

    def _spec_probe(variant: str):
        import shutil as _sh

        vr = f"{spec_root}/{variant}"
        key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "1000000")
        try:
            from mo_etl_spark.suites.streaming_real import _incr_dedup_apply_batch

            # a FULL trigger every rep (the r8 complete-dir replay
            # no-op would otherwise skip the sink write — and with it
            # the verify it forces — on reps 2+)
            for t in ("idx", "arr", "pairs"):
                _sh.rmtree(f"{vr}/{t}/b0", ignore_errors=True)
            return _incr_dedup_apply_batch(
                spark, f"{vr}/idx", f"{vr}/arr", f"{vr}/pairs",
                spec_batch, 0, nb=SPEC_N0, n_ib=SPEC_N0,
            )
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)

    # exchange-free PageRank route (VERDICT r5 item #4): dst-bucketed
    # persisted edge table, built untimed once per graph snapshot
    pr_bkt_t = f"pr_bkt_{tag}".replace(".", "_").replace("-", "_")
    pr_cob_t = f"pr_cob_{tag}".replace(".", "_").replace("-", "_")

    # persisted IVF index with vectors, partitioned by cell (untimed
    # once-per-snapshot build, like production)
    ivf_idx_p = f"{SCRATCH}/ivf_vec_idx_{tag}"
    if wanted("ivf_serve_pruned", "ivf_retract_serve") and not os.path.exists(
        os.path.join(ivf_idx_p, "_SUCCESS")
    ):
        ivf_cells(corpus, cents).join(corpus, "c_id").write.partitionBy(
            "cell"
        ).mode("overwrite").parquet(ivf_idx_p)
    ivf_indexed = (
        spark.read.parquet(ivf_idx_p)
        if wanted("ivf_serve_pruned", "ivf_retract_serve")
        else None
    )
    # r8 retraction serve: a FIXED pending tombstone set (1000 ids —
    # takedown/erasure load does not grow with the corpus) broadcast
    # anti-joined above the probed-cell-pruned index scan
    retract_ids = (
        spark.range(0, 50_000, 50).select(F.col("id").alias("c_id"))
        if wanted("ivf_retract_serve")
        else None
    )

    # IVF-PQ code index: cell assignment + 8-byte code arrays,
    # partitioned by cell (untimed once-per-snapshot build)
    ivfpq_idx_p = f"{SCRATCH}/ivfpq_code_idx_{tag}"
    if wanted("ivfpq_serve") and not os.path.exists(os.path.join(ivfpq_idx_p, "_SUCCESS")):
        pq_codes_wide(corpus, pq_cents).join(
            ivf_cells(corpus, cents), "c_id"
        ).write.partitionBy("cell").mode("overwrite").parquet(ivfpq_idx_p)
    ivfpq_indexed = spark.read.parquet(ivfpq_idx_p) if wanted("ivfpq_serve") else None

    # LSH bucket index with vectors, partitioned by bucket (6 planes =
    # 64 buckets; untimed once-per-snapshot build).  Buckets come from
    # the raw embeddings table, so rename to the (c_id, vec) serving
    # schema after assignment.
    lsh_idx_p = f"{SCRATCH}/lsh_vec_idx_{tag}"
    if wanted("lsh_serve_pruned") and not os.path.exists(os.path.join(lsh_idx_p, "_SUCCESS")):
        hyperplane_lsh_buckets(
            emb.select("vec_id", "embedding"), dim=64, n_planes=6
        ).withColumnRenamed("vec_id", "c_id").join(
            corpus, "c_id"
        ).write.partitionBy("bucket").mode("overwrite").parquet(lsh_idx_p)
    lsh_indexed = spark.read.parquet(lsh_idx_p) if wanted("lsh_serve_pruned") else None

    # HOT-CELL serving pair (VERDICT r4 item #2's scale evidence): the
    # same corpus with 30% of vectors PLANTED into cell 0 (pmod(id,10)
    # < 3 after nearest-centroid assignment), persisted twice — once
    # plain (one giant cell partition = one straggler scoring task)
    # and once sub-split at cap 1024 via ivf_subsplit (bounded
    # (cell, sub) tasks).  Both untimed once-per-snapshot builds; the
    # timed rows serve the identical fixed 100-query load, so the
    # split/nosplit delta and the corpus-growth ratio are the claims.
    hot_subs = None
    hot_split_indexed = hot_plain_indexed = None
    if wanted("ivf_hot_split", "ivf_hot_nosplit"):
        from mo_etl_spark.operators.similarity import ivf_subsplit

        hot_cells = ivf_cells(corpus, cents).withColumn(
            "cell",
            F.when(F.pmod("c_id", F.lit(10)) < 3, F.lit(0)).otherwise(F.col("cell")),
        )
        hot_plain_p = f"{SCRATCH}/ivf_hot_plain_{tag}"
        hot_split_p = f"{SCRATCH}/ivf_hot_split_{tag}"
        if not os.path.exists(os.path.join(hot_plain_p, "_SUCCESS")):
            hot_cells.join(corpus, "c_id").write.partitionBy("cell").mode(
                "overwrite"
            ).parquet(hot_plain_p)
        if not os.path.exists(os.path.join(hot_split_p, "_SUCCESS")):
            split, ns = ivf_subsplit(hot_cells.join(corpus, "c_id"), cap_rows=1024)
            split.repartition("cell", "sub").write.partitionBy("cell", "sub").mode(
                "overwrite"
            ).parquet(hot_split_p)
            ns.coalesce(1).write.mode("overwrite").parquet(hot_split_p + "_ns")
        hot_plain_indexed = spark.read.parquet(hot_plain_p)
        hot_split_indexed = spark.read.parquet(hot_split_p)
        hot_subs = spark.read.parquet(hot_split_p + "_ns")

    n_cc = int(100_000 * scale)
    cc_edges = spark.range(n_cc).select(
        F.col("id").alias("id_a"), (F.col("id") - F.col("id") % 5).alias("id_b")
    )
    n_pts = int(15_000 * scale)
    pts = _grid_points(spark, n_pts)
    ctr = pts.select(
        F.col("pid").alias("cid"), F.col("x").alias("cx"), F.col("y").alias("cy")
    )

    edges = None
    if li is not None:
        edges = li.select(
            F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
        )
        edges = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        if wanted("pagerank_bucketed_8it") and not spark.catalog.tableExists(
            pr_bkt_t
        ):
            # iters=0: build the dst-bucketed table only (untimed,
            # once per graph snapshot — the production shape)
            pagerank_bucketed(edges, iters=0, table=pr_bkt_t)
        if wanted("pagerank_cobucketed_8it") and not spark.catalog.tableExists(
            pr_cob_t
        ):
            pagerank_cobucketed(edges, iters=0, table=pr_cob_t)

    return [
        (
            "jaccard_prefix",
            lambda: jaccard_prefix_pairs(docs_b, threshold=0.8).count(),
        ),
        (
            "minhash_lsh",
            lambda: minhash_lsh_pairs(
                docs_b, k=16, bands=8, verify_threshold=0.8
            ).count(),
        ),
        ("simhash_hamming", lambda: simhash_hamming_pairs(docs_b).count()),
        ("substring_spans", lambda: duplicated_spans(docs).count()),
        (
            # sum(length(cleaned_text)) forces the reassembly columns:
            # a bare count() lets Catalyst prune the cut work away
            "substring_cut",
            lambda: cut_duplicated_spans(docs)
            .agg(F.sum(F.length("cleaned_text")))
            .collect(),
        ),
        (
            "incr_batch_fixed",
            lambda: minhash_md5_incremental_pairs(
                incr_index,
                incr_batch,
                incr_corpus,
                k=16,
                bands=8,
                verify_threshold=0.8,
                corpus_bucket_col="db",
                n_buckets=nb_incr,
            ).count(),
        ),
        ("sessionize_plain", lambda: sessionize_two_phase(ev).count()),
        ("sessionize_routed", lambda: sessionize_skew(ev).count()),
        (
            "asof_backward",
            lambda: asof_join(
                ev_left, ev_right, ["user_id"], "ts", "ts", direction="backward"
            ).count(),
        ),
        (
            "ivf_serve",
            lambda: ivf_topk(
                queries,
                corpus,
                cents,
                k=10,
                nprobe=4,
                cells=ivf_cells(corpus, cents),
            ).count(),
        ),
        (
            "pq_serve",
            lambda: pq_topk(queries, corpus, pq_cents, k=10).count(),
        ),
        (
            # r4 DPP serving: the same fixed 100-query load against a
            # PERSISTED (c_id, vec, cell) index partitioned by cell —
            # probed partitions only, no raw-corpus scan
            "ivf_serve_pruned",
            lambda: ivf_topk(
                queries, None, cents, k=10, nprobe=4, indexed_corpus=ivf_indexed
            ).count(),
        ),
        (
            # r8 vector retraction: the same pruned serve with a fixed
            # 1000-id pending tombstone set anti-joined above the scan
            # — retraction must not change the corpus-flat cost shape
            "ivf_retract_serve",
            lambda: ivf_topk(
                queries, None, cents, k=10, nprobe=4,
                indexed_corpus=ivf_indexed.join(
                    F.broadcast(retract_ids), "c_id", "left_anti"
                ),
            ).count(),
        ),
        (
            # r4 IVF-PQ: the same load over the 8-byte-code table,
            # probed cells only — the billion-vector layout's cost shape
            "ivfpq_serve",
            lambda: ivfpq_topk(
                queries, cents, pq_cents, ivfpq_indexed, k=10, nprobe=4
            ).count(),
        ),
        (
            # r4 LSH persisted serving: probed buckets of the
            # bucket-partitioned (c_id, vec, bucket) table
            "lsh_serve_pruned",
            lambda: lsh_topk(
                queries, None, k=10, dim=64, n_planes=6,
                indexed_corpus=lsh_indexed,
            ).count(),
        ),
        (
            # skewed-corpus serving WITHOUT the hot-cell cap: cell 0
            # holds ~37% of the corpus and scores in ONE cogroup task
            "ivf_hot_nosplit",
            lambda: ivf_topk(
                queries, None, cents, k=10, nprobe=4,
                indexed_corpus=hot_plain_indexed,
            ).count(),
        ),
        (
            # same load, same skew, (cell, sub)-capped index: the hot
            # cell scores as ceil(n/1024) bounded tasks
            "ivf_hot_split",
            lambda: ivf_topk(
                queries, None, cents, k=10, nprobe=4,
                indexed_corpus=hot_split_indexed, cell_subs=hot_subs,
            ).count(),
        ),
        ("pagerank_8it", lambda: pagerank(edges, iters=8).count()),
        (
            # the exchange-free route graph_pagerank_supply takes past
            # its size gate: broadcast rank joins into the persisted
            # dst-bucketed edges, zero per-iteration exchanges
            "pagerank_bucketed_8it",
            lambda: pagerank_bucketed(
                edges, iters=8, table=pr_bkt_t, reuse_existing=True
            ).count(),
        ),
        (
            # r7: the BEYOND-broadcast route — ranks never broadcast,
            # src-bucketed edges read in place, only narrow rank/
            # contribution rows move per iteration
            "pagerank_cobucketed_8it",
            lambda: pagerank_cobucketed(
                edges, iters=8, table=pr_cob_t, reuse_existing=True
            ).count(),
        ),
        (
            # one streamed incremental-dedup trigger against the
            # probe-keyed state (fixed batch; replay-idempotent, so
            # reps overwrite the same b0 subdirs)
            "stream_incr_trigger",
            _stream_incr_trigger,
        ),
        (
            # r8 spec-evolution counterfactual: the same 8-doc trigger
            # against state whose creation-time bucket count (16) was
            # never revisited — probe bytes grow with the corpus
            "dedup_probe_frozen_spec",
            lambda: _spec_probe("frozen"),
        ),
        (
            # ...vs after ONE adaptive re-bucket maintenance pass
            # (16 -> 512 at 30x, untimed like every index build):
            # matched-bucket bytes stay ~corpus-flat
            "dedup_probe_evolved_spec",
            lambda: _spec_probe("evolved"),
        ),
        (
            # the r4 global-order rewrite's scaling claim: exact global
            # ntile over every lineitem row with ZERO single-partition
            # windows — total order via the unique (orderkey, linenumber)
            # tie-break
            "ntile_two_pass",
            lambda: ntile_two_pass(
                li.select("l_orderkey", "l_linenumber", "l_extendedprice"),
                5,
                [
                    F.col("l_extendedprice"),
                    F.col("l_orderkey"),
                    F.col("l_linenumber"),
                ],
                out="q5",
            )
            .groupBy("q5")
            .count()
            .collect(),
        ),
        (
            "dbscan_neighbors",
            lambda: grid_radius_join(
                pts, ctr, g=6000, r=6000, broadcast_centers=False
            ).count(),
        ),
        (
            "cc_local",
            lambda: connected_components(cc_edges, n_edges=n_cc).count(),
        ),
        (
            "cc_distributed",
            lambda: connected_components(
                cc_edges, n_edges=n_cc, local_cutoff=0, max_iter=20
            ).count(),
        ),
    ]


def run(spark, reps: int, dirs: list[str], ops: list[str] | None) -> None:
    """Appends one JSON line per (op, scale) measurement to stdout —
    tools/scale_report.py merges the lines into the ratio table."""
    spark.range(1_000_000).select(F.sum("id")).collect()  # session warm-up
    for d, scale, key in ((SF01, 1.0, "sf01"), (SF1, 10.0, "sf1"), (SF3, 30.0, "sf3")):
        if key not in dirs:
            continue
        for name, thunk in workloads(spark, d, scale, ops):
            if ops and name not in ops:
                continue
            best = None
            for _ in range(reps):
                t0 = time.time()
                thunk()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            load1 = os.getloadavg()[0]
            print(
                json.dumps(
                    {"op": name, "scale": key, "sec": round(best, 2), "load": load1}
                ),
                flush=True,
            )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("cmd", choices=["gen", "gen30", "run"])
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--dirs", default="sf01,sf1")
    ap.add_argument("--ops", default=None)
    args = ap.parse_args()
    from mo_etl_spark.session import get_spark

    spark = get_spark(app_name="scale-table")
    if args.cmd == "gen":
        gen(spark)
    elif args.cmd == "gen30":
        # the r5 extra decade: only the tables the 30x ops read
        gen(spark, replicas=30, out=SF3,
            tables=("documents", "embeddings", "lineitem"))
    else:
        run(
            spark,
            args.reps,
            args.dirs.split(","),
            args.ops.split(",") if args.ops else None,
        )


if __name__ == "__main__":
    main()
