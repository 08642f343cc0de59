"""M7 LLM-data-pipeline contract queries (SURVEY.md §2.11).

The corpus ``documents`` table has NO exact or near duplicates (500
distinct normalized hashes — verified), so the dedup queries build a
deterministic augmented corpus inside the query: exact-dup variants
(case/whitespace-mangled copies, id+10000) and near-dup variants
(first ~80% of words, id+20000).  The oracle performs the IDENTICAL
construction in SQL, so the operators are exercised on data that
actually contains what they detect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mo_etl_spark.operators import dedup as D
from mo_etl_spark.operators import similarity as S
from mo_etl_spark.operators import text as X
from mo_etl_spark.operators.multimodal import decode_batch, with_binary_payload
from mo_etl_spark.registry import query
from mo_etl_spark.session import prepare
from mo_etl_spark.tables import cache_path, derived, load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    prepare(spark)
    return load_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    prepare(spark)
    return load_table(spark, sf_dir, "embeddings")


def _with_exact_dups(docs: DataFrame) -> DataFrame:
    """documents ∪ mangled copies of docs 0..99 (id+10000): upper-cased
    with doubled spaces — same normalized content."""
    mangled = (
        docs.where(F.col("doc_id") < 100)
        .select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.concat(F.lit("  "), F.upper(F.regexp_replace("text", " ", "  "))).alias("text"),
        )
    )
    return docs.select("doc_id", "text").unionByName(mangled)


_SQL_EXACT_DUPS = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 10000 AS doc_id,
           concat('  ', upper(regexp_replace(text, ' ', '  ', 'g'))) AS text
    FROM documents WHERE doc_id < 100
"""


def _with_near_dups(docs: DataFrame) -> DataFrame:
    """documents (doc_id < 500) ∪ truncated copies of docs 0..99
    (id+20000): first 80% of whitespace tokens — token-jaccard >= 0.8
    against the source.

    The base corpus is bounded at 500 docs: the synthetic corpus has a
    31-token vocabulary (verified), which makes all-pairs token overlap
    degenerate — every doc shares tokens with every other, so the pair
    count grows quadratically with NO discriminating signal.  At sf0.01
    (the t2 correctness scale) documents has exactly 500 rows, so the
    bound is a no-op there; it keeps the bench workload sf-independent
    instead of quadratic in a meaningless dimension.  Realistic
    vocabularies use the operator's df_cap to bound hot tokens instead.
    """
    base = docs.where(F.col("doc_id") < 500)
    words = F.split(F.col("text"), " ")
    trunc = F.array_join(
        F.slice(words, 1, F.greatest(F.floor(F.size(words) * 4 / 5).cast("int"), F.lit(1))), " "
    )
    near = base.where(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 20000).alias("doc_id"), trunc.alias("text")
    )
    return base.select("doc_id", "text").unionByName(near)


_SQL_NEAR_DUPS = """
    SELECT doc_id, text FROM documents WHERE doc_id < 500
    UNION ALL
    SELECT doc_id + 20000 AS doc_id,
           array_to_string(
             list_slice(string_split(text, ' '), 1,
                        greatest(CAST(floor(len(string_split(text, ' ')) * 4 / 5) AS INT), 1)),
             ' ') AS text
    FROM documents WHERE doc_id < 100
"""


@query(
    "llm_dedup_exact",
    oracle=f"""
    WITH corpus AS ({_SQL_EXACT_DUPS})
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash,
           min(doc_id) AS keeper_id,
           count(*) AS n_dups
    FROM corpus
    GROUP BY 1
    """,
    tags=("dedup_exact",),
)
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalized-content hash groupBy; keeper = min id.
    100 mangled copies collapse onto their sources (n_dups=2)."""
    return D.dedup_exact(_with_exact_dups(_docs(spark, sf_dir)))


@query(
    "llm_dedup_ngram_jaccard",
    oracle=f"""
    WITH corpus AS ({_SQL_NEAR_DUPS}),
    toks AS (
        SELECT doc_id AS id, unnest(list_distinct(string_split(
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))) AS tok
        FROM corpus
    ),
    sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY id),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        FROM toks a JOIN toks b USING (tok)
        WHERE a.id < b.id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
           round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
    """,
    tags=("dedup_ngram_jaccard",),
)
def llm_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-Jaccard near-dup pairs via inverted-index join (the
    scalable exact method; candidate count bounded by shared-token
    pairs, not C(N,2))."""
    return D.jaccard_pairs(_with_near_dups(_docs(spark, sf_dir)), threshold=0.5)


@query(
    "llm_dedup_cluster",
    oracle=f"""
    WITH RECURSIVE corpus AS (
        {_SQL_NEAR_DUPS}
        UNION ALL
        SELECT doc_id + 10000 AS doc_id,
               concat('  ', upper(regexp_replace(text, ' ', '  ', 'g'))) AS text
        FROM documents WHERE doc_id < 100
    ),
    toks AS (
        SELECT doc_id AS id, unnest(list_distinct(string_split(
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))) AS tok
        FROM corpus
    ),
    sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY id),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        FROM toks a JOIN toks b USING (tok)
        WHERE a.id < b.id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.99
    ),
    edges AS (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION ALL
        SELECT id_b, id_a FROM pairs
    ),
    reach AS (
        SELECT s AS id, s AS peer FROM edges
        UNION
        SELECT r.id, e.d AS peer FROM reach r JOIN edges e ON e.s = r.peer
    ),
    comp AS (SELECT id, min(peer) AS component FROM reach GROUP BY id)
    SELECT id, component, count(*) OVER (PARTITION BY component) AS csize
    FROM comp
    """,
    tags=("dedup_cluster", "connected_components"),
)
def llm_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-group assignment — the stage AFTER pair generation that
    every production dedup pipeline needs: connected components over
    near-dup pairs, component label = min reachable doc id (the
    keeper).  Spark side is min-label propagation + pointer jumping
    (operators/dedup.connected_components, O(log n) rounds); the
    oracle is the same closure via a DuckDB recursive CTE.  Corpus =
    base docs ∪ truncated near-dups ∪ mangled exact-dups, so
    components chain multi-hop (largest is >30 nodes at sf0.01)."""
    corpus = _with_near_dups(_docs(spark, sf_dir)).unionByName(
        _with_exact_dups(_docs(spark, sf_dir)).where(F.col("doc_id") >= 10000)
    )
    pairs = D.jaccard_pairs(corpus, threshold=0.99)
    return D.connected_components(pairs)


@query(
    "llm_dedup_substring",
    oracle=f"""
    WITH corpus AS ({_SQL_NEAR_DUPS}),
    tok AS (
        SELECT doc_id, string_split(
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ts
        FROM corpus
    ),
    starts AS (
        SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 7)) AS pos
        FROM tok WHERE len(ts) >= 8
    ),
    sh AS (
        SELECT doc_id, CAST(pos AS BIGINT) AS pos,
               md5(array_to_string(list_slice(ts, pos, pos + 7), ' ')) AS sh
        FROM starts
    ),
    freq AS (SELECT sh, count(*) AS cnt FROM sh GROUP BY sh),
    dup AS (SELECT doc_id, pos FROM sh JOIN freq USING (sh) WHERE cnt >= 2),
    runs AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM dup
    )
    SELECT doc_id, min(pos) AS start_pos, max(pos) + 7 AS end_pos,
           max(pos) + 7 - min(pos) + 1 AS span_len
    FROM runs GROUP BY doc_id, grp
    """,
    tags=("dedup_substring",),
)
def llm_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (Lee et al. 2022): maximal duplicated
    8-token spans across the corpus, found via shingle-hash global
    counts + per-doc gaps-and-islands — the span-granular complement
    of the document-level dedup family.  The truncated near-dup
    copies (id+20000) plant genuine long duplicated prefixes, so each
    source doc 0..99 reports the shared region, not the whole doc."""
    return D.duplicated_spans(_with_near_dups(_docs(spark, sf_dir)), k=8, min_count=2)


@query(
    "llm_dedup_substring_cut",
    oracle=f"""
    WITH corpus AS ({_SQL_NEAR_DUPS}),
    tok AS (
        SELECT doc_id, string_split(
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ts
        FROM corpus
    ),
    starts AS (
        SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 7)) AS pos
        FROM tok WHERE len(ts) >= 8
    ),
    sh AS (
        SELECT doc_id, CAST(pos AS BIGINT) AS pos,
               md5(array_to_string(list_slice(ts, pos, pos + 7), ' ')) AS sh
        FROM starts
    ),
    freq AS (SELECT sh, count(*) AS cnt FROM sh GROUP BY sh),
    dup AS (SELECT doc_id, pos, sh FROM sh JOIN freq USING (sh) WHERE cnt >= 2),
    runs AS (
        SELECT doc_id, pos, sh,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM dup
    ),
    spans AS (
        SELECT doc_id, min(pos) AS start_pos, max(pos) + 7 AS end_pos,
               arg_min(sh, pos) AS lead_sh
        FROM runs GROUP BY doc_id, grp
    ),
    cuts AS (
        SELECT doc_id, start_pos, end_pos FROM (
            SELECT *, row_number() OVER (
                PARTITION BY lead_sh ORDER BY doc_id, start_pos) AS rk
            FROM spans
        ) WHERE rk > 1
    ),
    toks AS (
        SELECT doc_id, CAST(pos AS BIGINT) AS pos, ts[pos] AS tok
        FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS pos FROM tok)
    ),
    kept AS (
        SELECT doc_id, pos, tok FROM toks
        WHERE NOT EXISTS (SELECT 1 FROM cuts c
                          WHERE c.doc_id = toks.doc_id
                            AND toks.pos BETWEEN c.start_pos AND c.end_pos)
    ),
    agg AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS orig_tokens FROM tok),
    cleaned AS (
        SELECT doc_id, count(*) AS kept_tokens,
               array_to_string(list(tok ORDER BY pos), ' ') AS cleaned_text
        FROM kept GROUP BY doc_id
    )
    SELECT a.doc_id, a.orig_tokens,
           a.orig_tokens - COALESCE(c.kept_tokens, 0) AS cut_tokens,
           COALESCE(c.cleaned_text, '') AS cleaned_text
    FROM agg a LEFT JOIN cleaned c USING (doc_id)
    """,
    tags=("dedup_substring",),
)
def llm_dedup_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply substring dedup: cut each maximal duplicated 8-token span
    from every doc except its keeper (min doc_id, then min start, per
    lead shingle) and reassemble the survivors — the keep-one-
    occurrence cut of Lee et al. 2022.  Source docs 0..99 keep their
    text; the planted truncated copies lose the shared prefix."""
    return D.cut_duplicated_spans(_with_near_dups(_docs(spark, sf_dir)), k=8, min_count=2)


@query(
    "llm_dedup_minhash",
    oracle=f"""
    WITH corpus AS ({_SQL_NEAR_DUPS}),
    toks AS (
        SELECT doc_id AS id, unnest(list_distinct(string_split(
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))) AS tok
        FROM corpus
    ),
    sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY id),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        FROM toks a JOIN toks b USING (tok)
        WHERE a.id < b.id
        GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
           true AS all_found_sound,
           true AS planted_recovered,
           true AS recall_ge_half
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
    """,
    tags=("dedup_minhash", "lsh_banding"),
)
def llm_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32)+LSH(8 bands) candidates, exact-Jaccard verified at
    0.5 (operators/dedup.minhash_lsh_pairs — xxhash64 family, the cheap
    scale path; llm_dedup_minhash_checked is the md5 twin whose full
    pair set is oracle-reproduced).

    xxhash64 has no DuckDB twin, so the contract is the deterministic-
    assertion form (VERDICT r1 item #3): Spark computes the EXACT
    jaccard-pair truth set alongside the sketch output and emits
    - n_true_pairs: exact |{pairs j>=0.5}| — the oracle recomputes it;
    - all_found_sound: every LSH-found pair is in the truth set;
    - planted_recovered: all 100 planted truncation near-dups found;
    - recall_ge_half: overall recall >= 0.5 (measured 0.77 at sf0.01 —
      banding at 8 bands of 4 is tuned for j>=0.8 dups, not the
      degenerate 31-token-vocabulary tail at j~0.5)."""
    corpus = _with_near_dups(_docs(spark, sf_dir))
    found = D.minhash_lsh_pairs(corpus)
    truth = D.jaccard_pairs(corpus, threshold=0.5).select("id_a", "id_b")
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    n_found = found.agg(
        F.count(F.lit(1)).alias("n_found"),
        F.sum(
            ((F.col("id_b") - F.col("id_a") == 20000) & (F.col("id_a") < 100)).cast("long")
        ).alias("n_planted"),
    )
    n_sound = (
        found.join(truth, ["id_a", "id_b"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_sound"))
    )
    return (
        n_true.crossJoin(F.broadcast(n_found))
        .crossJoin(F.broadcast(n_sound))
        .select(
            "n_true_pairs",
            (F.col("n_sound") == F.col("n_found")).alias("all_found_sound"),
            (F.col("n_planted") == 100).alias("planted_recovered"),
            (F.col("n_found") * 2 >= F.col("n_true_pairs")).alias("recall_ge_half"),
        )
    )


@query(
    "llm_dedup_simhash",
    oracle="""
    SELECT CAST((SELECT count(*) FROM documents WHERE doc_id < 500)
              + (SELECT count(*) FROM documents WHERE doc_id < 100) AS BIGINT)
             AS n_docs,
           true AS planted_hamming_small,
           true AS planted_max_lt_32,
           true AS planted_closer_than_adjacent
    """,
    tags=("dedup_simhash",),
)
def llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints (sign-sum of xxhash64 token hashes;
    operators/dedup.simhash64 — llm_dedup_simhash_checked is the md5
    twin whose every bit is oracle-reproduced).

    Deterministic-assertion contract: planted 80%-truncation near-dups
    must land hamming-close (measured avg 6.4, max 15 at sf0.01) and
    strictly closer than adjacent-id base pairs (avg 14.2) — the
    locality property that makes SimHash a dedup key at 100 TB."""
    corpus = _with_near_dups(_docs(spark, sf_dir))
    # the 64-agg fingerprint subtree is consumed FIVE times below
    # (both join sides twice + the count) — materialize the narrow
    # (id, simhash) proxy once so Catalyst plans and the executor
    # computes it once (guide §3.3 plan truncation / §8 lightweight
    # proxy; measured: the duplicated subtree cost ~14 s of driver
    # planning alone on a warm run; eager: a lazy checkpoint only
    # truncates AFTER materialization, and the one consuming action
    # would still plan all five copies; blocks are non-replicated
    # executor storage, freed when driver GC drops this DataFrame)
    fp = D.simhash64(corpus).localCheckpoint(eager=True)
    a, b = fp.alias("a"), fp.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    planted = (
        a.join(b, F.col("a.id") + 20000 == F.col("b.id"))
        .agg(F.avg(ham).alias("p_avg"), F.max(ham).alias("p_max"))
    )
    adjacent = (
        a.join(b, F.col("a.id") + 1 == F.col("b.id"))
        .where(F.col("a.id") < 499)
        .agg(F.avg(ham).alias("adj_avg"))
    )
    n = fp.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        n.crossJoin(F.broadcast(planted))
        .crossJoin(F.broadcast(adjacent))
        .select(
            "n_docs",
            (F.col("p_avg") <= 10.0).alias("planted_hamming_small"),
            (F.col("p_max") < 32).alias("planted_max_lt_32"),
            (F.col("p_avg") < F.col("adj_avg")).alias("planted_closer_than_adjacent"),
        )
    )


@query(
    "llm_dedup_minhash_checked",
    oracle=D.minhash_md5_oracle_sql(_SQL_NEAR_DUPS, k=16, bands=8, verify_threshold=0.8),
    tags=("dedup_minhash", "lsh_banding"),
)
def llm_dedup_minhash_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH with the md5 hash family (permutation i of token t =
    md5('i:t'), signature = lexicographic min) so the ENTIRE sketch
    pipeline — signatures, band keys, bucket join, exact-Jaccard verify
    — is hash-checked against the DuckDB oracle, not rows-only.  16
    hashes / 8 bands of 2 (recall 1-(1-j^2)^8 ~ 0.9997 at j=0.8)
    recovers every planted near-dup above the verify threshold;
    the xxhash64 variant (llm_dedup_minhash) stays the cheaper scale
    path."""
    return D.minhash_md5_lsh_pairs(
        _with_near_dups(_docs(spark, sf_dir)), k=16, bands=8, verify_threshold=0.8
    )


_SQL_INCR_CORPUS = """
    SELECT doc_id, text FROM documents WHERE doc_id < 400
    UNION ALL
    SELECT doc_id + 20000 AS doc_id,
           array_to_string(
             list_slice(string_split(text, ' '), 1,
                        greatest(CAST(floor(len(string_split(text, ' ')) * 4 / 5) AS INT), 1)),
             ' ') AS text
    FROM documents WHERE doc_id < 50
    UNION ALL
    SELECT doc_id, text FROM documents WHERE doc_id >= 400 AND doc_id < 500
"""


def _incr_new_batch(docs: DataFrame) -> DataFrame:
    """The daily-crawl batch shared by the incremental-dedup family
    (llm_dedup_incremental_{minhash,pruned} and the stream feed in
    suites/streaming_real.py): 50 truncated near-dups of indexed docs
    (ids +20000) plus the 100 fresh docs 400-500.  Must stay in
    lockstep with _SQL_INCR_CORPUS's batch arm."""
    words = F.split(F.col("text"), " ")
    trunc = F.array_join(
        F.slice(words, 1, F.greatest((F.size(words) * 4 / 5).cast("int"), F.lit(1))),
        " ",
    )
    return (
        docs.where(F.col("doc_id") < 50)
        .select((F.col("doc_id") + 20000).alias("doc_id"), trunc.alias("text"))
        .unionByName(
            docs.where((F.col("doc_id") >= 400) & (F.col("doc_id") < 500)).select(
                "doc_id", "text"
            )
        )
    )


@query(
    "llm_dedup_incremental_minhash",
    oracle=D.minhash_md5_incremental_oracle_sql(
        _SQL_INCR_CORPUS, new_pred="id >= 400", k=16, bands=8, verify_threshold=0.8
    ),
    tags=("dedup_minhash", "lsh_banding", "incremental_etl", "dedup_incremental"),
)
def llm_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the daily-crawl shape: a new batch (50
    truncated near-dups of indexed docs + 100 fresh docs) dedups
    against a 400-doc corpus whose LSH band index was built ONCE and
    PERSISTED (parquet under .cache, reused across invocations — at
    100 TB it sits bucketed by (band, bk)).  Only the new batch is
    hashed; the probe joins new bands against index ∪ new bands, so
    cost scales with the batch, not the corpus, and candidates are
    verified with exact Jaccard computed only for candidate pairs.
    The oracle replays signatures, banding, the new-vs-all join, and
    the verification end to end — the incremental pipeline itself is
    hash-checked."""
    docs = _docs(spark, sf_dir)
    base = docs.where(F.col("doc_id") < 400).select("doc_id", "text")
    new_batch = _incr_new_batch(docs)
    # sketch params are PART of the cache key (ADVICE r2), DERIVED
    # from the one set of variables passed to the index builder and
    # the probe (ADVICE r3 #2): editing k/bands/base here cannot
    # leave a stale-keyed index that silently drops candidates
    k, bands, base_lt = 16, 8, 400
    idx_path = derived(
        sf_dir,
        f"minhash_band_index__k{k}_b{bands}_base{base_lt}",
        "documents",
        lambda p: D.minhash_md5_band_index(base, k=k, bands=bands)
        .write.mode("overwrite")
        .parquet(p),
    )
    index = spark.read.parquet(idx_path)
    corpus = base.unionByName(new_batch)
    return D.minhash_md5_incremental_pairs(
        index, new_batch, corpus, k=k, bands=bands, verify_threshold=0.8
    )


#: bucket counts of the pruned incremental-dedup layout: corpus doc-id
#: buckets (db) and band-index probe-key buckets (ib)
_INCR_PRUNED_NB, _INCR_PRUNED_IB = 16, 32


def _incr_pruned_tables(
    sf_dir: str, base: DataFrame, new_batch: DataFrame
) -> tuple[str, str]:
    """The persisted pruned-layout tables shared by
    llm_dedup_incremental_pruned and llm_dedup_incremental_retract: the
    400-doc base's band index partitioned by its probe key ib, and the
    bucket-partitioned corpus snapshot (the persisted table a daily
    pipeline maintains) partitioned by db.  Cache keys carry the sketch
    params and bucket counts, so a layout change can never probe a
    stale table."""
    k, bands, nb, n_ib = 16, 8, _INCR_PRUNED_NB, _INCR_PRUNED_IB

    def write(df: DataFrame, pcol: str):
        return lambda p: df.repartition(F.col(pcol)).write.mode(
            "overwrite"
        ).partitionBy(pcol).parquet(p)

    idx_path = derived(
        sf_dir,
        f"minhash_band_index__k{k}_b{bands}_base400_ib{n_ib}",
        "documents",
        write(
            D.minhash_md5_band_index(base, k=k, bands=bands).withColumn(
                "ib", D.band_bucket("band", "bk", n_ib)
            ),
            "ib",
        ),
    )
    corp_path = derived(
        sf_dir,
        f"incr_corpus_bucketed__nb{nb}_base400",
        "documents",
        write(
            base.unionByName(new_batch).withColumn("db", F.pmod("doc_id", F.lit(nb))),
            "db",
        ),
    )
    return idx_path, corp_path


@query(
    "llm_dedup_incremental_pruned",
    oracle=D.minhash_md5_incremental_oracle_sql(
        _SQL_INCR_CORPUS, new_pred="id >= 400", k=16, bands=8, verify_threshold=0.8
    ),
    tags=("dedup_minhash", "lsh_banding", "incremental_etl", "dedup_incremental"),
)
def llm_dedup_incremental_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-dedup verify join in its AT-SCALE form: the
    corpus is a PERSISTED parquet table partitioned by a doc-id bucket
    (db = pmod(doc_id, 16)), and exact-Jaccard verification reads only
    the partitions holding candidate docs — Dynamic Partition Pruning
    off the broadcast candidate set, plan-pinned in
    tests/test_plans.py.  The band INDEX is likewise persisted
    partitioned by its probe key ib = pmod(xxhash64(band, bk), 32)
    (r6: the "index sits bucketed by (band, bk)" docstring claim, now
    mechanized like the stream's) and the probe reads only the
    batch's own band buckets via a static ``ib IN (...)`` filter.
    Same pipeline, same oracle, identical pair set as
    llm_dedup_incremental_minhash (both bucket keys are pure
    functions of join keys, so the added conditions cannot change
    either join) — what changes is the 100-TB cost shape: a daily
    batch pays |batch| + matched buckets of both tables, never a full
    scan of either."""
    docs = _docs(spark, sf_dir)
    base = docs.where(F.col("doc_id") < 400).select("doc_id", "text")
    new_batch = _incr_new_batch(docs)
    k, bands, nb, n_ib = 16, 8, _INCR_PRUNED_NB, _INCR_PRUNED_IB
    idx_path, corp_path = _incr_pruned_tables(sf_dir, base, new_batch)
    # the batch's own band buckets: a bounded collect (≤ min(bands ×
    # |batch|, n_ib) values) — the banding plan is NOT checkpointed,
    # so its source filters keep the DPP build side selective (the
    # Filter-node constraint pinned in tests/test_plans.py)
    banded = D.minhash_md5_band_index(new_batch, k=k, bands=bands)
    ib_vals = sorted(
        r["ib"]
        for r in banded.select(D.band_bucket("band", "bk", n_ib).alias("ib"))
        .distinct()
        .collect()
    )
    index = (
        spark.read.parquet(idx_path)
        .where(F.col("ib").isin(ib_vals) if ib_vals else F.lit(False))
        .select("id", "band", "bk")
    )
    corpus = spark.read.parquet(corp_path)
    return D.minhash_md5_incremental_pairs(
        index,
        new_batch,
        corpus,
        k=k,
        bands=bands,
        verify_threshold=0.8,
        corpus_bucket_col="db",
        n_buckets=nb,
        new_banded=banded,
    )


_SQL_INCR_CORPUS_RETRACT = """
    SELECT doc_id, text FROM documents WHERE doc_id < 400 AND doc_id % 37 <> 0
    UNION ALL
    SELECT doc_id + 20000 AS doc_id,
           array_to_string(
             list_slice(string_split(text, ' '), 1,
                        greatest(CAST(floor(len(string_split(text, ' ')) * 4 / 5) AS INT), 1)),
             ' ') AS text
    FROM documents WHERE doc_id < 50
    UNION ALL
    SELECT doc_id, text FROM documents WHERE doc_id >= 400 AND doc_id < 500
"""


@query(
    "llm_dedup_incremental_retract",
    oracle=D.minhash_md5_incremental_oracle_sql(
        _SQL_INCR_CORPUS_RETRACT, new_pred="id >= 400", k=16, bands=8,
        verify_threshold=0.8,
    ),
    tags=("dedup_incremental", "dedup_minhash", "lsh_banding", "incremental_etl"),
)
def llm_dedup_incremental_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup with RETRACTIONS (r6, lifecycle completed
    r7): documents deleted upstream (takedowns, GDPR erasure, re-crawl
    replacement) must stop matching WITHOUT rebuilding the persisted
    index.  Mechanism: a TOMBSTONE table of deleted ids (here every
    37th base doc, including doc 0, whose near-dup twin is in today's
    batch — so retraction provably removes pairs) broadcast-anti-joins
    the band index at probe time (minhash_md5_incremental_pairs
    ``tombstones=``) — the merge-on-read delete of Delta/Iceberg.

    Retraction composes with the PRUNED route (VERDICT r6 what's-wrong
    #2): this query probes the SAME ib-partitioned index and
    db-bucketed corpus as llm_dedup_incremental_pruned — static
    ``ib IN`` index pruning and DPP verify reads are untouched because
    the anti-join sits above the pruned scans (plan-pinned in
    tests/test_plans.py).  The tombstone set stays small by
    construction: the batched-table form of the index folds it
    physically at the next streaming.compact_batched(tombstone_col=
    "id") pass and RESETS the side table per generation
    (fold unit-proven in tests/test_streaming.py), so probes never
    pay a growing anti-join forever.  The oracle replays the pipeline
    over the retained corpus: a tombstoned doc contributes no bands,
    no candidates, no pairs — hash-checked, not assumed."""
    docs = _docs(spark, sf_dir)
    base = docs.where(F.col("doc_id") < 400).select("doc_id", "text")
    new_batch = _incr_new_batch(docs)
    deleted = (
        docs.where((F.col("doc_id") < 400) & (F.pmod("doc_id", F.lit(37)) == 0))
        .select("doc_id")
    )
    k, bands, nb, n_ib = 16, 8, _INCR_PRUNED_NB, _INCR_PRUNED_IB
    # SAME persisted pruned-layout tables as llm_dedup_incremental_
    # pruned — the point is that retraction needs no rebuild and no
    # layout downgrade
    idx_path, corp_path = _incr_pruned_tables(sf_dir, base, new_batch)
    banded = D.minhash_md5_band_index(new_batch, k=k, bands=bands)
    ib_vals = sorted(
        r["ib"]
        for r in banded.select(D.band_bucket("band", "bk", n_ib).alias("ib"))
        .distinct()
        .collect()
    )
    index = (
        spark.read.parquet(idx_path)
        .where(F.col("ib").isin(ib_vals) if ib_vals else F.lit(False))
        .select("id", "band", "bk")
    )
    corpus = spark.read.parquet(corp_path)
    return D.minhash_md5_incremental_pairs(
        index,
        new_batch,
        corpus,
        k=k,
        bands=bands,
        verify_threshold=0.8,
        corpus_bucket_col="db",
        n_buckets=nb,
        new_banded=banded,
        tombstones=deleted.withColumnRenamed("doc_id", "id"),
    )


@query(
    "llm_dedup_simhash_checked",
    oracle=D.simhash_md5_oracle_sql(_SQL_NEAR_DUPS),
    tags=("dedup_simhash",),
)
def llm_dedup_simhash_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-reproducible 64-bit SimHash fingerprints: token hash =
    first 16 md5 hex chars, per-bit +/-1 votes, fingerprint emitted as
    a 64-char bit string — every bit hash-checked against DuckDB
    computing the identical arithmetic."""
    return D.simhash_md5_bits(_with_near_dups(_docs(spark, sf_dir)))


@query(
    "llm_dedup_simhash_hamming",
    oracle=D.simhash_md5_oracle_sql(_SQL_NEAR_DUPS, max_distance=3),
    tags=("dedup_simhash", "hamming_ball", "lsh_banding"),
)
def llm_dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS at hamming distance <= 3 via 4x16-bit
    chunk banding (pigeonhole-complete for distance < 4) + exact
    hamming verify.  The oracle verifies over all pairs directly —
    equality proves the banded plan loses no pairs while shuffling only
    4N + bucket-pair rows."""
    return D.simhash_hamming_pairs(_with_near_dups(_docs(spark, sf_dir)), max_distance=3)


_SQL_COSINE = """
    round(
      list_sum(list_transform(range(1, 65),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(range(1, 65),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(range(1, 65),
               i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))
    , 6)
"""


@query(
    "llm_sim_topk",
    oracle=f"""
    SELECT * FROM (
      SELECT a.vec_id AS q_id, b.vec_id AS c_id,
             {_SQL_COSINE} AS cos_sim,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY {_SQL_COSINE} DESC, b.vec_id) AS rnk
      FROM embeddings a CROSS JOIN embeddings b
      WHERE a.vec_id <> b.vec_id AND a.vec_id < 50)
    WHERE rnk <= 5
    """,
    tags=("sim_topk",),
)
def llm_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 neighbors for the first 50 query
    vectors via the blocked-GEMM kernel (float64 matmul per block pair,
    map-side partial top-k); order by (rounded cos, c_id) is total.
    Registered through topk_routed — the size-routed default — so the
    SAME query auto-switches to IVF cells past the corpus cutoff; at
    contract scale the exact branch runs and the oracle is exact."""
    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec"))
    return S.topk_routed(q, c, k=5).select("q_id", "c_id", "cos_sim", "rnk")


@query(
    "llm_knn_classify",
    oracle=f"""
    WITH topk AS (
      SELECT * FROM (
        SELECT a.vec_id AS q_id, b.vec_id AS c_id,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_SQL_COSINE} DESC, b.vec_id) AS rnk
        FROM embeddings a CROSS JOIN embeddings b
        WHERE a.vec_id <> b.vec_id AND a.vec_id < 500)
      WHERE rnk <= 10
    ),
    votes AS (
      SELECT t.q_id, e.label, count(*) AS votes
      FROM topk t JOIN embeddings e ON e.vec_id = t.c_id
      GROUP BY 1, 2
    )
    SELECT q_id, label AS pred_label, votes FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY votes DESC, label) AS r
      FROM votes)
    WHERE r = 1
    """,
    tags=("knn_classify",),
)
def llm_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-NN majority-label classification (ties -> smaller label).
    Query side bounded to vec_id < 500 (= the whole table at the t2
    scale; keeps the bench's brute-force pair count linear in corpus
    size, not quadratic — the LSH-bucketed variant is the scale path)."""
    emb = _emb(spark, sf_dir)
    return S.knn_classify(emb, k=10, query_filter=F.col("vec_id") < 500)


@query(
    "llm_embed_normalize",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(range(1, 65),
                 i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))), 6) AS norm,
           round(CAST(embedding[1] AS DOUBLE)
                 / sqrt(list_sum(list_transform(range(1, 65),
                       i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))), 6) AS e1_normed
    FROM embeddings
    """,
    tags=("embed_normalize",),
)
def llm_embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization via higher-order functions (no UDF)."""
    emb = _emb(spark, sf_dir)
    v = S.as_double(F.col("embedding"))
    return emb.select(
        "vec_id",
        F.round(S.l2_norm(v), 6).alias("norm"),
        F.round(F.element_at(S.normalize(v), 1), 6).alias("e1_normed"),
    )


@query(
    "llm_sim_lsh_buckets",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS total_vecs,
           true AS buckets_le_4096,
           true AS all_buckets_nonempty
    FROM embeddings
    """,
    tags=("sim_lsh",),
)
def llm_sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for ANN: sign-random-projection buckets (12 planes,
    seed 42).  Candidate generation joins on the bucket id instead of
    cross-joining the corpus.

    The seeded hyperplanes have no DuckDB twin, so the contract is the
    deterministic-assertion form over the bucket histogram: the
    partition must be lossless (sum of bucket sizes == corpus size —
    the oracle recomputes that exactly) and well-formed (<= 2^12
    buckets, none empty)."""
    b = S.hyperplane_lsh_buckets(_emb(spark, sf_dir), dim=64)
    hist = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_vecs"))
    return hist.agg(
        F.sum("n_vecs").alias("total_vecs"),
        (F.count(F.lit(1)) <= 4096).alias("buckets_le_4096"),
        (F.min("n_vecs") >= 1).alias("all_buckets_nonempty"),
    )


_STOPS_SQL = "'" + "','".join(X.EN_STOPWORDS) + "'"


@query(
    "llm_text_stats",
    oracle="""
    SELECT doc_id,
           length(text) AS n_chars,
           len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS n_tokens,
           round(CAST(length(text) AS DOUBLE)
                 / len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')), 6) AS mean_tok_len,
           length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_alpha,
           length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits
    FROM documents
    """,
    tags=("text_stats",),
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char-class statistics — all JVM-side regex/array ops."""
    docs = _docs(spark, sf_dir)
    t = F.col("text")
    n_toks = X.token_count(t)
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        n_toks.alias("n_tokens"),
        F.round(F.length(t) / n_toks, 6).alias("mean_tok_len"),
        F.length(F.regexp_replace(F.lower(t), r"[^a-z]", "")).alias("n_alpha"),
        F.length(F.regexp_replace(t, r"[^0-9]", "")).alias("n_digits"),
    )


@query(
    "llm_text_quality_lang",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks,
             length(text) AS n_chars
      FROM documents
    )
    SELECT doc_id,
           round(CAST(len(list_filter(toks, x -> x IN ({_STOPS_SQL}))) AS DOUBLE) / len(toks), 6) AS stop_ratio,
           CASE WHEN CAST(len(list_filter(toks, x -> x IN ({_STOPS_SQL}))) AS DOUBLE) / len(toks) >= 0.05
                THEN 'en' ELSE 'unk' END AS lang_pred,
           round((CASE WHEN n_chars BETWEEN 100 AND 1000 THEN 1.0 ELSE 0.5 END
                  + CASE WHEN CAST(n_chars AS DOUBLE)/len(toks) BETWEEN 3 AND 12 THEN 1.0 ELSE 0.5 END
                  + CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)/n_chars) / 3.0, 6) AS quality
    FROM t
    """,
    tags=("lang_id", "quality_score"),
)
def llm_text_quality_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-heuristic language ID + composite quality score."""
    docs = _docs(spark, sf_dir)
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.round(X.stopword_ratio(t), 6).alias("stop_ratio"),
        X.lang_id(t).alias("lang_pred"),
        X.quality_score(t).alias("quality"),
    )


@query(
    "llm_stratified_sample",
    oracle="""
    SELECT doc_id, source
    FROM documents
    WHERE ((doc_id % 97) * (2654435761 % 97)) % 97 * 100
          < (CASE WHEN source = 'src0' THEN 50
                  WHEN source = 'src1' THEN 25
                  WHEN source = 'src2' THEN 0
                  ELSE 10 END) * 97
    """,
    tags=("sampling", "stratified"),
)
def llm_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling (corpus mixing): 50% of src0,
    25% of src1, src2 dropped entirely, 10% of everything else — stable
    nested slices by multiplicative id hash, predicate evaluated in the
    scan stage (operators/text.stratified_sample)."""
    sampled = X.stratified_sample(
        _docs(spark, sf_dir), rates={"src0": 50, "src1": 25, "src2": 0}
    )
    return sampled.select("doc_id", "source")


@query(
    "llm_corpus_temperature_mix",
    oracle="""
    WITH src AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    tot AS (SELECT sum(sqrt(n_docs)) AS z FROM src),
    plan AS (
        SELECT source, n_docs, round(sqrt(n_docs) / z, 6) AS weight
        FROM src, tot
    ),
    plan2 AS (
        SELECT *, least(CAST(floor(weight * 1000 * 1000 / n_docs) AS BIGINT),
                        1000) AS rate_permille
        FROM plan
    ),
    samp AS (
        SELECT d.source, count(*) AS n_sampled
        FROM documents d JOIN plan2 p USING (source)
        WHERE ((d.doc_id % 9973) * (2654435761 % 9973)) % 9973 * 1000
              < p.rate_permille * 9973
        GROUP BY d.source
    )
    SELECT p.source, p.n_docs, p.weight, p.rate_permille,
           COALESCE(s.n_sampled, 0) AS n_sampled
    FROM plan2 p LEFT JOIN samp s USING (source)
    """,
    tags=("sampling", "corpus_mix", "temperature"),
)
def llm_corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted domain rebalancing (w_i ∝ n_i^0.5, the
    mBERT/XLM-R multilingual upsampling rule) with the realized
    deterministic sample: per source its weight, the per-mille rate
    hitting a 1000-doc budget, and the docs the Knuth-hash filter
    actually kept (operators/text.temperature_mix — integer keep
    decision, floor taken after 6dp weight rounding so both engines
    floor the same double)."""
    return X.temperature_mix(_docs(spark, sf_dir), budget=1000)


@query(
    "llm_quality_repetition",
    oracle="""
    WITH base AS (
      SELECT doc_id AS id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ),
    g2 AS (
      SELECT id, unnest(list_transform(range(1, greatest(len(t), 1)),
                   i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS g
      FROM base
    ),
    c2 AS (SELECT id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
    m2 AS (SELECT id, max(c) AS top, sum(c) AS tot,
                  sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS rep
           FROM c2 GROUP BY id),
    g3 AS (
      SELECT id, unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                   i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS g
      FROM base
    ),
    c3 AS (SELECT id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
    m3 AS (SELECT id, max(c) AS top, sum(c) AS tot,
                  sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS rep
           FROM c3 GROUP BY id),
    sizes AS (
      SELECT id, len(t) AS n_tokens,
             CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS dr
      FROM base
    )
    SELECT s.id AS doc_id, s.n_tokens,
           round(s.dr, 6) AS distinct_ratio,
           round(CAST(m2.top AS DOUBLE) / m2.tot, 6) AS top2_frac,
           round(CAST(m2.rep AS DOUBLE) / m2.tot, 6) AS rep2_frac,
           round(CAST(m3.top AS DOUBLE) / m3.tot, 6) AS top3_frac,
           (coalesce(round(CAST(m2.top AS DOUBLE) / m2.tot, 6), 0) <= 0.20
            AND coalesce(round(CAST(m3.top AS DOUBLE) / m3.tot, 6), 0) <= 0.18) AS keep
    FROM sizes s
    LEFT JOIN m2 USING (id)
    LEFT JOIN m3 USING (id)
    """,
    tags=("quality_gopher", "repetition"),
)
def llm_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (top/repeated n-gram fractions +
    distinct-token ratio + keep decision) — operators/text.py
    repetition_metrics; explode->groupBy plan, shuffle linear in corpus
    token count."""
    return X.repetition_metrics(_docs(spark, sf_dir))


@query(
    "llm_text_tokenize_fingerprint",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens,
           md5(array_to_string(list_sort(list_distinct(string_split(
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))), ' ')) AS fingerprint
    FROM documents
    """,
    tags=("token_count", "fingerprint"),
)
def llm_text_tokenize_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting + key-collision fingerprint."""
    docs = _docs(spark, sf_dir)
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.size(X.bpe_ish_tokens(t)).alias("n_bpe_tokens"),
        X.fingerprint(t).alias("fingerprint"),
    )


@query(
    "llm_tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
      FROM documents
    ),
    tf AS (SELECT source, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
    docfreq AS (SELECT tok, count(DISTINCT source) AS df FROM toks GROUP BY 1),
    n AS (SELECT count(DISTINCT source) AS n_sources FROM documents)
    SELECT * FROM (
      SELECT tf.source, tf.tok,
             round(tf * ln(CAST(n.n_sources AS DOUBLE) / df), 6) AS tfidf,
             row_number() OVER (PARTITION BY tf.source
                                ORDER BY round(tf * ln(CAST(n.n_sources AS DOUBLE) / df), 6) DESC, tf.tok) AS rnk
      FROM tf JOIN docfreq USING (tok) CROSS JOIN n)
    WHERE rnk <= 5
    """,
    tags=("tfidf_terms",),
)
def llm_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 tf-idf terms per source — explode/groupBy/join, no ML lib.
    idf denominator = per-source document frequency."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "source", F.explode(D.tokens(F.col("text"))).alias("tok")
    )
    tf = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("tok").agg(F.countDistinct("source").alias("df"))
    n_sources = docs.select(F.countDistinct("source").alias("n_sources"))
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(n_sources))
        .select(
            "source",
            "tok",
            F.round(
                F.col("tf") * F.log(F.col("n_sources").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    return D.top_k_rows(
        scored, ["source"], [F.col("tfidf").desc(), F.col("tok")], 5
    ).select("source", "tok", "tfidf", "rnk")


@query(
    "llm_multimodal_decode",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
    tags=("multimodal_col",),
)
def llm_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: payload + metadata struct, then an
    Arrow-batched mapInPandas 'decode' (deterministic stub).  The md5/
    byte-length outputs are oracle-checked; width/height are stub-only
    and excluded from the contract columns."""
    docs = with_binary_payload(_docs(spark, sf_dir))
    return decode_batch(docs).select("doc_id", "n_bytes", "content_md5")


@query(
    "llm_dedup_embed_cosine",
    oracle="""
    WITH aug AS (
        SELECT vec_id,
               list_transform(range(1, 65),
                              i -> CAST(embedding[i] AS DOUBLE)) AS v
        FROM embeddings
        UNION ALL
        SELECT vec_id + 10000,
               list_transform(range(1, 65),
                   i -> CASE WHEN i = 1 THEN CAST(embedding[1] AS DOUBLE) + 0.1
                             ELSE CAST(embedding[i] AS DOUBLE) END)
        FROM embeddings WHERE vec_id < 50
    ), pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
                     / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
                        * sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))),
                     6) AS cos
        FROM aug a JOIN aug b ON a.vec_id < b.vec_id
    )
    SELECT id_b AS dup_id, min(id_a) AS keep_id, max(cos) AS cos_sim
    FROM pairs WHERE cos >= 0.99
    GROUP BY id_b
    """,
    tags=("dedup_embed_cosine",),
)
def llm_dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup (SURVEY.md §2.11).  The corpus
    has no natural near-dups (max pairwise cosine 0.51 — verified), so
    the query plants deterministic ones: vectors 0..49 re-appear as
    vec_id+10000 with component 1 shifted by +0.1 (cosine ~0.9999).
    Detection: all-pairs cosine >= 0.99 -> keep-min-id decision table,
    registered through embed_dups_routed (the size-routed default): at
    contract scale the exact branch runs; past the corpus cutoff the
    SAME query auto-switches to the SemDeDup within-cell join."""
    emb = _emb(spark, sf_dir)
    v = S.as_double(F.col("embedding"))
    base = emb.select("vec_id", v.alias("v"))
    perturbed = emb.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            v, lambda x, i: F.when(i == 0, x + F.lit(0.1)).otherwise(x)
        ).alias("v"),
    )
    return D.embed_dups_routed(base.unionByName(perturbed), threshold=0.99)


_SQL_COS_EC = _SQL_COSINE.replace("a.embedding", "ea.embedding").replace(
    "b.embedding", "ec.embedding"
)


_SQL_IVF_ORACLE_HEAD = f"""
    WITH cents_ AS (
      SELECT vec_id AS cent_id, embedding FROM embeddings WHERE vec_id < 16
    ),
    cells AS (
      SELECT c_id, cent_id AS cell FROM (
        SELECT ea.vec_id AS c_id, ec.cent_id,
               row_number() OVER (PARTITION BY ea.vec_id
                                  ORDER BY {_SQL_COS_EC} DESC, ec.cent_id) AS r
        FROM embeddings ea CROSS JOIN cents_ ec)
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
      JOIN embeddings b ON b.vec_id = cand.c_id)
    WHERE rnk <= 5
"""


@query(
    "llm_sim_ivf_topk",
    oracle=_SQL_IVF_ORACLE_HEAD,
    tags=("sim_ivf",),
)
def llm_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN top-5 for the first 50 queries: 16 deterministic
    coarse centroids (vec_id < 16 — a k-means quantizer at scale),
    nprobe=4.  Scoring meets only vectors in probed cells — the
    sublinear scale path, exact within cells (operators/similarity.py
    ivf_topk).  The oracle reproduces assignment, probing, and scoring
    in SQL, so cell pruning itself is hash-checked."""
    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec"))
    cents_ = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("vec")
    )
    return S.ivf_topk(q, c, cents_, k=5, nprobe=4).select(
        "q_id", "c_id", "cos_sim", "rnk"
    )


@query(
    "llm_sim_ivf_persisted",
    oracle=_SQL_IVF_ORACLE_HEAD,
    tags=("sim_ivf", "index_persistence", "incremental_etl"),
)
def llm_sim_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF serving from a PERSISTED index — build-once/serve-many, the
    production vector-search shape: the cell-assignment table
    (similarity.ivf_cells) is written to parquet once per corpus
    snapshot and every query batch reads it back instead of
    re-assigning the corpus (at 100 TB it sits partitioned by cell and
    only probed cells are scanned).  Results are identical to the
    inline build — same oracle as llm_sim_ivf_topk hash-checks the
    served answers."""
    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    cents_lt = 16
    cents_ = emb.where(F.col("vec_id") < cents_lt).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("vec")
    )
    idx_path = _ivf_vec_index(spark, sf_dir, cents_lt)
    indexed = S.load_ann_index(
        spark, idx_path, _ivf_index_params(cents_lt), schema="c_id BIGINT, vec ARRAY<FLOAT>, cell INT, sub INT"
    )
    cell_subs = S.resolve_cell_subs(spark, idx_path)
    return S.ivf_topk(
        q, None, cents_, k=5, nprobe=4, indexed_corpus=indexed, cell_subs=cell_subs
    ).select("q_id", "c_id", "cos_sim", "rnk")


#: hot-cell cap for the persisted IVF index (VERDICT r4 item #2): no
#: (cell, sub) partition holds more than this many vectors, so a
#: skewed corpus cannot turn one cell into a straggler scoring task.
#: 64 splits the sf0.1 cells (~125 vectors) in two while keeping the
#: partition-dir count (and per-trigger file-open + tiny-cogroup
#: overhead) near the unsplit plan — a 16-row cap measured +1.4 s per
#: serve at sf0.1 from ~133 sliver partitions.  A production corpus
#: sizes this to executor memory (the planted-30%-hot-cell behavior is
#: pinned by tests/test_new_ops.py and the SCALE_r05 rows).
_IVF_SUB_CAP = 64


def _ivf_index_params(cents_lt: int) -> dict:
    """The build-param contract between the IVF index writer and every
    serving read (batch + streaming): quantizer spec and layout.  A
    serve-time mismatch raises in similarity.load_ann_index instead of
    silently probing the wrong cells (ADVICE r4)."""
    return {
        "kind": "ivf_vec",
        "cents": f"vec_id<{cents_lt}",
        "partition": "cell,sub",
        "sub_cap": _IVF_SUB_CAP,
    }


def _ivf_vec_index(spark: SparkSession, sf_dir: str, cents_lt: int = 16) -> str:
    """Build-if-stale the persisted IVF serving index — (c_id, vec,
    cell), partitioned by cell — and return its path.  Centroid spec
    is part of the cache key (ADVICE r2), DERIVED from the same
    variable that builds the quantizer (ADVICE r3 #2): a different
    coarse quantizer must invalidate the persisted cells.  The index
    carries the vectors, so serving reads NO raw corpus: probed cells
    broadcast against the cell-partitioned table and DPP prunes the
    scan to probed partitions (plan-pinned in tests/test_plans.py).
    Shared by llm_sim_ivf_persisted and the streaming serving loop in
    suites/streaming_real.py."""
    import os

    emb = _emb(spark, sf_dir)
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec"))
    cents_ = emb.where(F.col("vec_id") < cents_lt).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("vec")
    )
    idx_path = cache_path(sf_dir, f"ivf_vec_index__cents_lt{cents_lt}")
    src = os.path.join(sf_dir, "embeddings.parquet")
    # param-aware staleness (ADVICE r5): a changed _IVF_SUB_CAP or
    # centroid spec rebuilds instead of failing the load guard forever
    if S.index_is_stale(idx_path, src, _ivf_index_params(cents_lt)):
        split, ns = S.ivf_subsplit(
            S.ivf_cells(c, cents_).join(c, "c_id"), cap_rows=_IVF_SUB_CAP
        )
        cell_subs = {str(r["cell"]): r["n_subs"] for r in ns.collect()}
        S.write_ann_index(
            split,
            idx_path,
            ["cell", "sub"],
            {**_ivf_index_params(cents_lt), "cell_subs": cell_subs},
        )
    return idx_path


@query(
    "llm_chunk_documents",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
      FROM documents
    ),
    idx AS (
      SELECT doc_id, w,
             unnest(generate_series(0, CAST(ceil(len(w) / 40.0) AS INT) - 1)) AS chunk_idx
      FROM toks
    )
    SELECT doc_id, chunk_idx,
           array_to_string(list_slice(w, chunk_idx*40 + 1, chunk_idx*40 + 50), ' ') AS chunk_text,
           least(len(w) - chunk_idx*40, 50) AS n_tokens
    FROM idx
    """,
    tags=("chunking",),
)
def llm_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (50-token windows every 40 —
    context-window prep).  Narrow fan-out: each partition chunks
    independently, no shuffle (operators/text.py chunk_tokens)."""
    return X.chunk_tokens(_docs(spark, sf_dir))


@query(
    "llm_pii_scrub",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or 555-0147' AS text
      FROM documents
    )
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(text,
                 '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\\b\\d{3}-\\d{4}\\b', '<PHONE>', 'g')) AS scrubbed_md5,
           len(regexp_extract_all(text,
                 '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
             + len(regexp_extract_all(text, '\\b\\d{3}-\\d{4}\\b')) AS n_redactions
    FROM seeded
    """,
    tags=("pii_scrub",),
)
def llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over a corpus with planted emails/phones (the
    synthetic text has none — seeded deterministically per doc, same
    construction in the oracle).  Output is the scrub-result hash plus
    the redaction count; all JVM-side regex."""
    docs = _docs(spark, sf_dir)
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-0147"),
        ).alias("text"),
    )
    email_pat, phone_pat = (p for p, _ in X.PII_PATTERNS)
    return seeded.select(
        "doc_id",
        F.md5(X.pii_scrub(F.col("text"))).alias("scrubbed_md5"),
        (
            F.size(F.regexp_extract_all("text", F.lit(email_pat), F.lit(0)))
            + F.size(F.regexp_extract_all("text", F.lit(phone_pat), F.lit(0)))
        ).cast("long").alias("n_redactions"),
    )


@query(
    "llm_deterministic_sample",
    oracle="""
    SELECT doc_id, n_chars
    FROM documents
    WHERE (doc_id * 2654435761) % 97 < 10
    """,
    tags=("sampling",),
)
def llm_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% corpus slice by Knuth-multiplicative id hash — stable
    across runs/partitionings/engines, no shuffle, filter pushes to the
    scan (operators/text.py deterministic_sample)."""
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return X.deterministic_sample(docs)


@query(
    "llm_quality_classifier",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
             len(t) AS n_tokens,
             CAST(list_sum(list_transform(t,
               x -> CAST(CONCAT('0x', substr(md5(x), 1, 8)) AS BIGINT) - 2147483648
             )) AS BIGINT) AS w_sum
      FROM toks
    )
    SELECT doc_id, n_tokens, w_sum,
           round(1.0 / (1.0 + exp(-(CAST(w_sum AS DOUBLE)
                 / (n_tokens * 2147483648.0)))), 6) AS score,
           w_sum > 0 AS keep
    FROM scored
    """,
    tags=("quality_score", "quality_classifier", "text_analysis",
          "filter_pipeline"),
)
def llm_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style LINEAR quality classifier (the RefinedWeb / DCLM
    corpus-filter pattern: a cheap linear model over hashed
    bag-of-words decides keep/drop before any expensive stage).  The
    plumbing is the real part and is exactly production-shaped:
    hashing trick (token -> md5 32-bit bucket, no vocabulary
    broadcast), sparse dot product via higher-order array functions
    (ZERO shuffle — pure projection, scales as scan work), mean
    pooling, logistic link.  The deterministic hash WEIGHTS stand in
    for trained ones (a real model drops its weight map into the same
    slot as a broadcast join or a literal map).  Integer weight sums
    make keep/drop decisions exact across engines; only the displayed
    sigmoid is rounded (exp last-ulp)."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")
    wi = lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long") - F.lit(
        2147483648
    )
    w_sum = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + wi(t))
    n = F.size(toks)
    scored = docs.select(
        "doc_id", n.alias("n_tokens"), w_sum.alias("w_sum")
    )
    x = F.col("w_sum").cast("double") / (F.col("n_tokens") * F.lit(2147483648.0))
    return scored.select(
        "doc_id",
        "n_tokens",
        "w_sum",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-x)), 6).alias("score"),
        (F.col("w_sum") > 0).alias("keep"),
    )


@query(
    "llm_train_val_split",
    oracle="""
    WITH h AS (
      SELECT doc_id, lang,
             CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               AS hv
      FROM documents
    )
    SELECT doc_id, lang,
           hv % 100 AS bucket,
           CASE WHEN hv % 100 < 80 THEN 'train'
                WHEN hv % 100 < 90 THEN 'val'
                ELSE 'test' END AS split,
           hv % 5 AS fold
    FROM h
    """,
    tags=("sampling", "train_val_split", "k_fold"),
)
def llm_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split + k-fold assignment — the
    staple every training pipeline needs BEFORE any model sees data.
    Membership is a pure function of the document id (md5 32-bit
    bucket), so it is stable across runs, partitionings, engines, and
    corpus growth (a new doc never moves an old one between splits —
    unlike randomSplit, which reshuffles on every change and silently
    leaks val into train).  80/10/10 + 5 folds; no shuffle at all —
    the split is a projection, and downstream consumers filter on it
    with predicate pushdown when it lands in the partition column."""
    docs = _docs(spark, sf_dir)
    hv = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    b = hv % 100
    return docs.select(
        "doc_id",
        "lang",
        b.alias("bucket"),
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
        (hv % 5).alias("fold"),
    )


@query(
    "llm_split_leakage",
    oracle=f"""
    WITH corpus AS ({_SQL_NEAR_DUPS}),
    toks AS (
        SELECT doc_id AS id, unnest(list_distinct(string_split(
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))) AS tok
        FROM corpus
    ),
    sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY id),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        FROM toks a JOIN toks b USING (tok)
        WHERE a.id < b.id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
    ),
    splits AS (
        SELECT doc_id AS id,
               CASE WHEN hv % 100 < 80 THEN 'train'
                    WHEN hv % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id,
                     CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                          AS BIGINT) AS hv
              FROM corpus)
    )
    SELECT least(sa.split, sb.split) AS split_lo,
           greatest(sa.split, sb.split) AS split_hi,
           count(*) AS n_pairs
    FROM pairs p
    JOIN splits sa ON sa.id = p.id_a
    JOIN splits sb ON sb.id = p.id_b
    WHERE sa.split <> sb.split
    GROUP BY 1, 2
    """,
    tags=("train_val_split", "dedup_ngram_jaccard", "decontamination"),
)
def llm_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split decontamination check — the step AFTER splitting that
    every training pipeline needs: near-duplicate pairs (exact token
    Jaccard >= 0.5 via the inverted-index join) whose members landed
    in DIFFERENT train/val/test splits, counted per split boundary.
    The md5 split rule is llm_train_val_split's; any nonzero row is
    val/test contamination a doc-level split cannot see."""
    corpus = _with_near_dups(_docs(spark, sf_dir))
    pairs = D.jaccard_pairs(corpus, threshold=0.5).select("id_a", "id_b")
    hv = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    b = hv % 100
    splits = corpus.select(
        F.col("doc_id").alias("id"),
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
    )
    sa = splits.select(F.col("id").alias("id_a"), F.col("split").alias("split_a"))
    sb = splits.select(F.col("id").alias("id_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .where(F.col("split_a") != F.col("split_b"))
        .groupBy(
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _lsh_bucket_sql(dim: int = 64, n_planes: int = 4, seed: int = 42) -> str:
    """DuckDB expression reproducing hyperplane_lsh_buckets' bucket id
    with the same deterministic plane constants (full-precision repr
    round-trips float64 exactly)."""
    from mo_etl_spark.operators.similarity import lsh_planes

    terms = []
    for i, p in enumerate(lsh_planes(dim, n_planes, seed)):
        dot = " + ".join(
            f"({p[j]!r} * CAST(embedding[{j + 1}] AS DOUBLE))" for j in range(dim)
        )
        terms.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(terms)


@query(
    "llm_sim_lsh_topk",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {_lsh_bucket_sql()} AS bucket
      FROM embeddings
    )
    SELECT q_id, c_id, cos_sim, rnk FROM (
      SELECT a.vec_id AS q_id, b.vec_id AS c_id,
             {_SQL_COSINE} AS cos_sim,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY {_SQL_COSINE} DESC, b.vec_id) AS rnk
      FROM bucketed a JOIN bucketed b USING (bucket)
      WHERE a.vec_id < 50 AND a.vec_id <> b.vec_id)
    WHERE rnk <= 5
    """,
    tags=("sim_lsh_topk",),
)
def llm_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end LSH-bucketed ANN top-5: sign-random-projection with
    4 planes (16 buckets — sized so single-probe still yields
    candidates at the t2 corpus size), candidates = same-bucket pairs,
    GEMM scoring within bucket.  The oracle reproduces the bucketing
    with the identical plane constants, so the sketch itself is
    hash-checked — the LSH analog of llm_sim_ivf_topk."""
    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec"))
    return S.lsh_topk(q, c, k=5, dim=64, n_planes=4).select(
        "q_id", "c_id", "cos_sim", "rnk"
    )


@query(
    "llm_sim_lsh_persisted",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {_lsh_bucket_sql()} AS bucket
      FROM embeddings
    )
    SELECT q_id, c_id, cos_sim, rnk FROM (
      SELECT a.vec_id AS q_id, b.vec_id AS c_id,
             {_SQL_COSINE} AS cos_sim,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY {_SQL_COSINE} DESC, b.vec_id) AS rnk
      FROM bucketed a JOIN bucketed b USING (bucket)
      WHERE a.vec_id < 50 AND a.vec_id <> b.vec_id)
    WHERE rnk <= 5
    """,
    tags=("sim_lsh_topk", "index_persistence"),
)
def llm_sim_lsh_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH serving from a PERSISTED bucket index — the training-free
    sibling of llm_sim_ivf_persisted: the (c_id, vec, bucket) table is
    written once per corpus snapshot, partitioned by (bucket, sub),
    and a query batch reads ONLY its probed buckets (bucket set
    broadcast → Dynamic Partition Pruning on the index scan; no
    corpus-side hashing or corpus-wide join at serve time).

    HOT-BUCKET CAP (r7): hyperplane buckets are unbalanced by nature
    — correlated embeddings park a large corpus fraction in a few
    buckets, the same straggler IVF cells were capped for in r5 — so
    the build runs the SAME ivf_subsplit (cell_col="bucket",
    cap_rows), stores the (bucket, n_subs) map in the sidecar, and
    serving expands each probed bucket to all its subs: scoring tasks
    bounded at ~cap_rows however skewed the hash is, results provably
    split-invariant (planted-hot-bucket test in tests/test_new_ops).
    Same planes, same answers, same oracle as the inline
    llm_sim_lsh_topk."""
    import os

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    n_planes, seed, cap_rows = 4, 42, 256
    idx_path = cache_path(sf_dir, f"lsh_vec_index__p{n_planes}_s{seed}")
    src = os.path.join(sf_dir, "embeddings.parquet")
    lsh_params = {
        "kind": "lsh_vec", "n_planes": n_planes, "seed": seed, "dim": 64,
        "partition": "bucket,sub", "cap_rows": cap_rows,
    }
    # param-aware staleness (ADVICE r5): plane/seed/cap changes rebuild
    # (the r6 bucket-only layout fails the partition param and is
    # rebuilt sub-split on first touch)
    if S.index_is_stale(idx_path, src, lsh_params):
        c_all = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec"))
        split, ns = S.ivf_subsplit(
            S.hyperplane_lsh_buckets(emb, dim=64, n_planes=n_planes, seed=seed)
            .withColumnRenamed("vec_id", "c_id")
            .join(c_all, "c_id"),
            cap_rows,
            cell_col="bucket",
        )
        bucket_map = {
            str(r["bucket"]): int(r["n_subs"])
            for r in ns.where(F.col("n_subs") > 1).collect()
        }
        S.write_ann_index(
            split, idx_path, ["bucket", "sub"],
            {**lsh_params, "cell_subs": bucket_map},
        )
    # the query side hashes with (n_planes, seed) — load_ann_index
    # refuses a bucket table built with different planes (ADVICE r4:
    # the mismatch would silently return wrong/empty neighbor sets)
    indexed = S.load_ann_index(spark, idx_path, lsh_params, schema="c_id BIGINT, vec ARRAY<FLOAT>, bucket INT, sub INT")
    # the ONE sub-map reader (r8): the sidecar stores only buckets
    # that split; the serve expansion left-joins it and defaults
    # absent probed buckets to n_subs=1
    subs = S.resolve_cell_subs(spark, idx_path, col="bucket")
    return S.lsh_topk(
        q, None, k=5, dim=64, n_planes=n_planes, seed=seed,
        indexed_corpus=indexed, bucket_subs=subs,
    ).select("q_id", "c_id", "cos_sim", "rnk")


@query(
    "llm_sim_lsh_multiprobe",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {_lsh_bucket_sql(n_planes=6)} AS bucket
      FROM embeddings
    ),
    probes AS (
      SELECT vec_id AS pq_id, xor(bucket, f.f) AS bucket
      FROM bucketed, (SELECT unnest([0, 1, 2, 4]) AS f) f
      WHERE vec_id < 50
    )
    SELECT q_id, c_id, cos_sim, rnk FROM (
      SELECT p.pq_id AS q_id, b.vec_id AS c_id,
             {_SQL_COSINE.replace("a.embedding", "a2.embedding")} AS cos_sim,
             row_number() OVER (PARTITION BY p.pq_id
                                ORDER BY {_SQL_COSINE.replace("a.embedding", "a2.embedding")} DESC, b.vec_id) AS rnk
      FROM probes p
      JOIN bucketed b USING (bucket)
      JOIN embeddings a2 ON a2.vec_id = p.pq_id
      WHERE p.pq_id <> b.vec_id)
    WHERE rnk <= 5
    """,
    tags=("sim_lsh_multiprobe",),
)
def llm_sim_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe LSH top-5: 6 planes (64 buckets) with 3 extra
    bit-flip probes per query — more candidates than single-probe at
    the same bucket granularity, the standard recall lever.  Oracle
    reproduces planes, probing (xor on the same bits), and scoring."""
    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec"))
    return S.lsh_topk(q, c, k=5, dim=64, n_planes=6, multiprobe=3).select(
        "q_id", "c_id", "cos_sim", "rnk"
    )


@query(
    "llm_dedup_jaccard_dfcap",
    oracle=f"""
    WITH corpus AS ({_SQL_NEAR_DUPS}),
    toks AS (
        SELECT doc_id AS id, unnest(list_distinct(string_split(
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))) AS tok
        FROM corpus
    ),
    sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY id),
    rare AS (SELECT tok FROM (SELECT tok, count(*) AS df FROM toks GROUP BY tok)
             WHERE df <= 460),
    capped AS (SELECT id, tok FROM toks JOIN rare USING (tok)),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        FROM capped a JOIN capped b USING (tok)
        WHERE a.id < b.id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
           round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
    """,
    tags=("dedup_ngram_jaccard", "df_cap"),
)
def llm_dedup_jaccard_dfcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard near-dup with the document-frequency cap engaged (the
    100 TB skew bound: tokens in > 460 docs never enter the pair
    join, cutting the hot-token candidate blowup).  Sizes stay
    uncapped, so the score is a conservative underestimate — the
    oracle reproduces exactly that hybrid."""
    return D.jaccard_pairs(
        _with_near_dups(_docs(spark, sf_dir)), threshold=0.5, df_cap=460
    )


@query(
    "llm_dedup_jaccard_prefix",
    oracle=f"""
    WITH corpus AS ({_SQL_NEAR_DUPS}),
    toks AS (
        SELECT doc_id AS id, unnest(list_distinct(string_split(
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))) AS tok
        FROM corpus
    ),
    sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY id),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        FROM toks a JOIN toks b USING (tok)
        WHERE a.id < b.id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
           round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.6
    """,
    tags=("dedup_ngram_jaccard", "prefix_filter", "set_similarity_join"),
)
def llm_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity join with PREFIX FILTERING (All-Pairs/PPJoin):
    only each doc's rarest ``|d| - ceil(0.6|d|) + 1`` tokens enter the
    inverted index, which provably loses no pair at J >= 0.6 — unlike
    the df_cap this optimization is EXACT, so the oracle is the plain
    full-index Jaccard SQL.  The pruning is the scale story: indexed
    tokens are the low-frequency ones, so the candidate join's
    per-token fan-out collapses (unit test proves candidates shrink
    and the result is identical to the unpruned operator)."""
    return D.jaccard_prefix_pairs(_with_near_dups(_docs(spark, sf_dir)), threshold=0.6)


@query(
    "llm_multimodal_frames",
    oracle="""
    WITH base AS (
      SELECT doc_id, text,
             CAST(octet_length(encode(text)) % 5 + 1 AS BIGINT) AS n_frames
      FROM documents
    )
    SELECT doc_id,
           CAST(f.i AS BIGINT) AS frame_idx,
           CAST(f.i * 1000 AS BIGINT) AS frame_ts_ms,
           md5(text || '#' || CAST(f.i AS VARCHAR)) AS frame_md5
    FROM base, LATERAL (SELECT unnest(generate_series(0, n_frames - 1)) AS i) f
    """,
    tags=("multimodal_col", "frame_sample"),
)
def llm_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: binary payload fans out to one
    row per sampled frame via mapInPandas (stubbed decoder, real
    fan-out/batch/hash plumbing — operators/multimodal.py).  Frame
    hashes are byte-reproducible, so the oracle checks the fan-out."""
    from mo_etl_spark.operators.multimodal import frame_sample_batch

    docs = with_binary_payload(_docs(spark, sf_dir))
    return frame_sample_batch(docs)


@query(
    "llm_multimodal_resize",
    oracle="""
    SELECT doc_id,
           16 AS thumb_w, 16 AS thumb_h,
           md5(text || '@16x16') AS thumb_md5
    FROM documents
    """,
    tags=("multimodal_col", "resize"),
)
def llm_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing: mapInPandas thumbnail stage with a
    deterministic stub thumbnail (payload tagged with target size), so
    the emitted content hash is oracle-checkable."""
    from mo_etl_spark.operators.multimodal import resize_batch

    docs = with_binary_payload(_docs(spark, sf_dir))
    return resize_batch(docs, size=(16, 16))


def _km_cos(e: str, c: str) -> str:
    return (
        f"round(list_sum(list_transform(range(1,65), i -> {e}.v[i] * {c}.v[i]))"
        f" / (sqrt(list_sum(list_transform(range(1,65), i -> {e}.v[i] * {e}.v[i])))"
        f" * sqrt(list_sum(list_transform(range(1,65), i -> {c}.v[i] * {c}.v[i])))), 6)"
    )


def _kpp_seed_ctes(k: int, sample_cap: int = 4096) -> tuple[list[str], str]:
    """Unrolled CTE replay of similarity.kmeanspp_seeds: the md5-ordered
    sample, seed 1 = its first row, seed j+1 = argmin over non-seeds of
    the running max cosine to chosen seeds (rounded 6dp, ties ->
    smaller id).  Every chain CTE is MATERIALIZED — the b/s chain
    references each step twice, and letting the optimizer inline it
    re-derives earlier rounds combinatorially (measured minutes vs
    seconds at 500 vectors)."""
    ctes = [
        f"samp AS MATERIALIZED (SELECT vec_id, v FROM emb"
        f" ORDER BY md5(concat('seed:', CAST(vec_id AS VARCHAR))), vec_id"
        f" LIMIT {sample_cap})",
        "s1 AS MATERIALIZED (SELECT vec_id, v FROM samp"
        " ORDER BY md5(concat('seed:', CAST(vec_id AS VARCHAR))), vec_id LIMIT 1)",
    ]
    for j in range(2, k + 1):
        if j == 2:
            ctes.append(
                f"b1 AS MATERIALIZED (SELECT e.vec_id, {_km_cos('e', 's')} AS best"
                " FROM samp e CROSS JOIN s1 s)"
            )
        else:
            ctes.append(
                f"b{j - 1} AS MATERIALIZED (SELECT b.vec_id,"
                f" greatest(b.best, {_km_cos('e', 's')}) AS best"
                f" FROM b{j - 2} b JOIN samp e USING (vec_id)"
                f" CROSS JOIN s{j - 1} s)"
            )
        prior = " UNION ALL ".join(
            f"SELECT vec_id FROM s{i}" for i in range(1, j)
        )
        ctes.append(
            f"s{j} AS MATERIALIZED (SELECT e.vec_id, e.v FROM samp e"
            f" JOIN b{j - 1} b USING (vec_id)"
            f" WHERE e.vec_id NOT IN ({prior})"
            f" ORDER BY b.best, e.vec_id LIMIT 1)"
        )
    union = " UNION ALL ".join(f"SELECT vec_id, v FROM s{i}" for i in range(1, k + 1))
    return ctes, f"c0 AS (SELECT vec_id AS cent_id, v FROM ({union}))"


def _kmeans_sql(k: int = 8, iters: int = 2) -> str:
    """SQL replay of kmeans_train: the trainer's deterministic design
    (hash-seeded farthest-point init, rounded centroid updates, fixed
    iterations) makes full training expressible as unrolled CTEs — so
    TRAINING ITSELF is hash-checked, seeding included, not just an
    assignment given fixed centroids."""
    seed_ctes, c0 = _kpp_seed_ctes(k)
    parts = [
        "emb AS (SELECT vec_id, list_transform(range(1,65),"
        " i -> CAST(embedding[i] AS DOUBLE)) AS v FROM embeddings)",
        *seed_ctes,
        c0,
    ]
    cur = "c0"
    for it in range(1, iters + 1):
        parts.append(
            f"a{it} AS (SELECT vec_id, cell FROM ("
            f" SELECT e.vec_id, c.cent_id AS cell,"
            f" row_number() OVER (PARTITION BY e.vec_id"
            f" ORDER BY {_km_cos('e', 'c')} DESC, c.cent_id) AS r"
            f" FROM emb e CROSS JOIN {cur} c) t WHERE r = 1)"
        )
        parts.append(
            f"u{it} AS (SELECT a.cell, d.i, round(avg(e.v[d.i]), 6) AS val"
            f" FROM a{it} a JOIN emb e USING (vec_id)"
            f" CROSS JOIN (SELECT unnest(range(1,65)) AS i) d"
            f" GROUP BY a.cell, d.i)"
        )
        parts.append(
            f"c{it} AS (SELECT cell AS cent_id, list(val ORDER BY i) AS v"
            f" FROM u{it} GROUP BY cell)"
        )
        cur = f"c{it}"
    return (
        "WITH " + ",\n".join(parts) + f"""
    SELECT vec_id, cell, cos_sim FROM (
      SELECT e.vec_id, c.cent_id AS cell, {_km_cos('e', 'c')} AS cos_sim,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {_km_cos('e', 'c')} DESC, c.cent_id) AS r
      FROM emb e CROSS JOIN {cur} c) t
    WHERE r = 1
    """
    )


@query(
    "llm_sim_kmeans_assign",
    oracle=_kmeans_sql(k=8, iters=2),
    tags=("sim_ivf", "kmeans", "quantizer_training"),
)
def llm_sim_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-quantizer TRAINING + final cell assignment, end to end
    hash-checked: kmeans_train (2 Lloyd's iterations, cosine
    assignment, rounded centroid updates) then every vector's trained
    cell + cosine.  The oracle replays the identical training in
    unrolled SQL CTEs — deterministic by construction (id-based init,
    no RNG, fixed iterations)."""
    emb = _emb(spark, sf_dir)
    cents = S.kmeans_train(emb, k=8, iters=2)
    final = S.brute_force_topk(
        emb.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")),
        cents.select(F.col("cent_id").alias("c_id"), F.col("cv").alias("vec")),
        k=1,
        exclude_self=False,
        n_q_blocks=4,
        n_c_blocks=1,
    )
    return final.select(
        F.col("q_id").alias("vec_id"), F.col("c_id").alias("cell"), "cos_sim"
    )


@query(
    "llm_multimodal_audio",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) * 100 AS n_samples,
           concat_ws('|',
            CAST(CONCAT('0x', substr(md5(text || chr(0)), 1, 8)) AS BIGINT),
            CAST(CONCAT('0x', substr(md5(text || chr(1)), 1, 8)) AS BIGINT),
            CAST(CONCAT('0x', substr(md5(text || chr(2)), 1, 8)) AS BIGINT),
            CAST(CONCAT('0x', substr(md5(text || chr(3)), 1, 8)) AS BIGINT)
           ) AS features
    FROM documents
    """,
    tags=("multimodal_col", "udf_mapinpandas"),
)
def llm_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature-extraction plumbing (SURVEY.md §2.11): Arrow-
    batched mapInPandas emitting an MFCC-shaped fixed-width feature
    vector per payload.  The extractor is a deterministic content-hash
    stub (librosa/torchaudio drop into the same slot), which makes even
    the float features oracle-checkable: each one is a 32-bit integer
    over 2^32 — exact in IEEE754 — and DuckDB reproduces the identical
    md5-derived ints from the same utf-8 payload bytes.  The contract
    projection serializes the feature vector back to its raw 32-bit
    ints joined with '|' (v*2^32 is exact in IEEE754) — the driver's
    pandas canonicalizer cannot sort ndarray cells."""
    from mo_etl_spark.operators.multimodal import audio_features_batch

    docs = with_binary_payload(_docs(spark, sf_dir))
    feats = audio_features_batch(docs)
    as_int = F.transform(
        "features", lambda v: F.round(v * F.lit(4294967296.0)).cast("long").cast("string")
    )
    return feats.select(
        "doc_id", "n_samples", F.array_join(as_int, "|").alias("features")
    )


@query(
    "llm_url_canonicalize",
    oracle="""
    WITH urls AS (
      SELECT doc_id,
             concat('https://',
                    CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END,
                    '.Example.COM',
                    CASE WHEN doc_id % 3 = 0 THEN ':8080' ELSE '' END,
                    '/docs/', CAST(doc_id AS VARCHAR), '?lang=', lang, '#frag') AS url
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id, url,
           regexp_extract(url, 'https?://([^/:?#]+)', 1) AS host,
           regexp_extract(url, 'https?://[^/?#]*(/[^?#]*)', 1) AS path,
           regexp_extract(url, '\\?([^#]*)', 1) AS query,
           concat(lower(regexp_extract(url, 'https?://([^/:?#]+)', 1)),
                  regexp_extract(url, 'https?://[^/?#]*(/[^?#]*)', 1)) AS canonical
    FROM urls
    """,
    tags=("url_canonicalize", "text_analysis", "pii_scrub"),
)
def llm_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (training-data cleaning staple: dedup keys
    and crawl-frontier identity need case-folded hosts, ports/fragments
    stripped, path preserved).  Spark side uses the JVM ``parse_url``
    expression (HOST excludes the port, PATH excludes query/fragment —
    codegen, no UDF); the oracle reproduces the exact component grammar
    with regexes.  Synthetic URLs derive deterministically from the
    corpus with planted case/port/fragment noise."""
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 200)
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 2 == 0, F.upper("source")).otherwise(F.col("source")),
        F.lit(".Example.COM"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("#frag"),
    )
    u = docs.select("doc_id", url.alias("url"))
    host = F.parse_url("url", F.lit("HOST"))
    path = F.parse_url("url", F.lit("PATH"))
    return u.select(
        "doc_id",
        "url",
        host.alias("host"),
        path.alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.concat(F.lower(host), path).alias("canonical"),
    )


@query(
    "llm_embed_quantize_int8",
    oracle="""
    SELECT vec_id,
           array_to_string(list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE)
                  / (list_max(list_transform(embedding,
                       y -> abs(CAST(y AS DOUBLE)))) / 127.0) + 0.5) AS BIGINT)
           ), '|') AS q8,
           CAST(round(list_max(list_transform(embedding,
                  y -> abs(CAST(y AS DOUBLE)))) / 127.0 * 1e9) AS BIGINT) AS scale_e9
    FROM embeddings
    WHERE vec_id < 200
    """,
    tags=("embed_quantize", "embed_normalize"),
)
def llm_embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (4x memory / IO cut for
    100 TB vector stores; dot products then run in integer SIMD):
    per-vector scale = max|x|/127, q = floor(x/scale + 0.5).  floor
    (not round) keeps the formula bit-identical across engines — both
    sides do the same double ops in the same order, so even the stored
    scale (as integer nano-units) hash-matches.  Pure higher-order
    functions, no UDF, no shuffle at all."""
    emb = _emb(spark, sf_dir).where(F.col("vec_id") < 200)
    absmax = F.array_max(F.transform("embedding", lambda y: F.abs(y.cast("double"))))
    scale = absmax / F.lit(127.0)
    q8 = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") / scale + F.lit(0.5)).cast("long")
    )
    # serialized with array_join: the driver's pandas canonicalizer
    # cannot sort ndarray cells (CORRECTNESS_r01 sampled ERR class)
    return emb.select(
        "vec_id",
        F.array_join(F.transform(q8, lambda v: v.cast("string")), "|").alias("q8"),
        F.round(scale * F.lit(1e9)).cast("long").alias("scale_e9"),
    )


_SQL_Q8 = """
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE)
                    / (list_max(list_transform(embedding,
                         y -> abs(CAST(y AS DOUBLE)))) / 127.0) + 0.5) AS BIGINT)
             ) AS q8
      FROM embeddings
"""


@query(
    "llm_sim_topk_int8",
    oracle=f"""
    WITH q8 AS ({_SQL_Q8}),
    scored AS (
      SELECT a.vec_id AS q_id, b.vec_id AS c_id,
             list_sum(list_transform(range(1, 65),
                      i -> a.q8[i] * b.q8[i])) AS dot_i8,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_sum(list_transform(range(1, 65),
                        i -> a.q8[i] * b.q8[i])) DESC, b.vec_id) AS rnk
      FROM q8 a JOIN q8 b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < 50
    )
    SELECT q_id, c_id, dot_i8, rnk FROM scored WHERE rnk <= 5
    """,
    tags=("sim_topk", "embed_quantize", "int8_search"),
)
def llm_sim_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized similarity search — the int8 serving path the
    quantize op exists for: scores are INTEGER dot products over the
    int8 codes, so ranking is bit-exact across engines with no float
    stabilization at all (ties broken by candidate id).  At corpus
    scale the same scores run as an int8 GEMM in the blocked-cogroup
    kernel; this exact form is the oracle-checkable baseline."""
    emb = _emb(spark, sf_dir)
    absmax = F.array_max(F.transform("embedding", lambda y: F.abs(y.cast("double"))))
    scale = absmax / F.lit(127.0)
    q8 = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") / scale + F.lit(0.5)).cast("long")
    )
    codes = emb.select(F.col("vec_id"), q8.alias("q8"))
    a = codes.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("q8").alias("qa")
    )
    b = codes.select(F.col("vec_id").alias("c_id"), F.col("q8").alias("qb"))
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v
    )
    from pyspark.sql import Window

    scored = (
        a.crossJoin(b)
        .where(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id", dot.alias("dot_i8"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("dot_i8"), F.asc("c_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("q_id", "c_id", "dot_i8", "rnk")
    )


@query(
    "llm_pack_sequences",
    oracle="""
    WITH toks AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents WHERE doc_id < 500
    ),
    placed AS (
      SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
      FROM toks
    )
    SELECT doc_id, n_tokens, start_off,
           CAST(floor(start_off / 512) AS BIGINT) AS start_bin,
           CAST(floor((start_off + n_tokens - 1) / 512) AS BIGINT) AS end_bin,
           CAST(start_off % 512 AS BIGINT) AS offset_in_bin
    FROM placed
    """,
    tags=("sequence_packing", "chunking", "window_agg"),
)
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window sequence PACKING (pretraining data layout):
    documents are concatenated in a stable order and sliced into
    fixed 512-token bins, docs straddling boundaries — the standard
    packed-pretraining layout.  Each doc's global start offset is an
    exclusive prefix sum computed the 100-TB way
    (``prefix_sum_two_pass``, operators/global_order.py): per-shard
    cumsums after a range shuffle on doc_id, merged with a broadcast
    of per-shard token totals — the same partial-merge trick as
    agg_partial_merge, with no single-partition window anywhere in
    the plan.  Emits per doc its start offset, first/last bin, and
    offset within the first bin."""
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 500)
    from mo_etl_spark.operators.global_order import prefix_sum_two_pass

    toks = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    placed = prefix_sum_two_pass(
        toks, [F.col("doc_id")], F.col("n_tokens"), "start_off"
    )
    budget = F.lit(512)
    return placed.select(
        "doc_id",
        "n_tokens",
        "start_off",
        F.floor(F.col("start_off") / budget).alias("start_bin"),
        F.floor((F.col("start_off") + F.col("n_tokens") - 1) / budget).alias("end_bin"),
        (F.col("start_off") % budget).alias("offset_in_bin"),
    )


@query(
    "llm_weighted_sample",
    oracle="""
    WITH prio AS (
      SELECT doc_id, n_chars,
             CAST((doc_id * 2654435761) % 1048576 AS DOUBLE)
               / 1048576.0 / n_chars AS priority
      FROM documents
      WHERE n_chars > 0
    )
    SELECT doc_id, n_chars, round(priority, 9) AS priority
    FROM prio
    ORDER BY priority, doc_id
    LIMIT 100
    """,
    tags=("sampling", "weighted_sample"),
)
def llm_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED sampling (corpus mixing by quality/length
    weights): priority = u / weight with u a Knuth-multiplicative unit
    hash of the id — heavier docs get systematically smaller
    priorities, and the keep-set (lowest-priority top-k) is a pure
    function of ids, so reruns, repartitions, and both engines agree
    bit-for-bit (u is a 20-bit dyadic rational; ONE double division
    per row, identical on both sides).  No shuffle before the top-k:
    Catalyst plans TakeOrderedAndProject."""
    docs = _docs(spark, sf_dir).where(F.col("n_chars") > 0)
    u = ((F.col("doc_id") * F.lit(2654435761)) % F.lit(1048576)).cast("double") / F.lit(
        1048576.0
    )
    prio = u / F.col("n_chars")
    return (
        docs.select("doc_id", "n_chars", F.round(prio, 9).alias("priority"))
        .orderBy("priority", "doc_id")
        .limit(100)
    )


@query(
    "llm_sim_pq_topk",
    oracle="""
    WITH ss AS (SELECT unnest(range(0, 8)) AS s),
    cb AS (
      SELECT ss.s, e.vec_id AS cent_id,
             list_transform(range(1, 9),
                            i -> CAST(e.embedding[ss.s * 8 + i] AS DOUBLE)) AS csub
      FROM ss CROSS JOIN embeddings e WHERE e.vec_id < 16
    ),
    dbsub AS (
      SELECT ss.s, e.vec_id AS c_id,
             list_transform(range(1, 9),
                            i -> CAST(e.embedding[ss.s * 8 + i] AS DOUBLE)) AS sub
      FROM ss CROSS JOIN embeddings e
    ),
    qsub AS (
      SELECT ss.s, e.vec_id AS q_id,
             list_transform(range(1, 9),
                            i -> CAST(e.embedding[ss.s * 8 + i] AS DOUBLE)) AS qsubv
      FROM ss CROSS JOIN embeddings e WHERE e.vec_id < 50
    ),
    codes AS (
      SELECT c_id, s, cent_id AS code FROM (
        SELECT d.c_id, d.s, cb.cent_id,
               row_number() OVER (
                 PARTITION BY d.c_id, d.s
                 ORDER BY round(list_sum(list_transform(range(1, 9),
                           i -> (d.sub[i] - cb.csub[i]) * (d.sub[i] - cb.csub[i]))), 6),
                          cb.cent_id) AS r
        FROM dbsub d JOIN cb ON d.s = cb.s)
      WHERE r = 1
    ),
    lut AS (
      SELECT q.q_id, cb.s, cb.cent_id,
             list_sum(list_transform(range(1, 9),
                      i -> q.qsubv[i] * cb.csub[i])) AS pdot
      FROM qsub q JOIN cb ON q.s = cb.s
    ),
    scored AS (
      SELECT l.q_id, c.c_id,
             round(list_sum(list(l.pdot ORDER BY l.s)), 6) AS adc_dot
      FROM codes c JOIN lut l ON l.s = c.s AND l.cent_id = c.code
      WHERE l.q_id <> c.c_id
      GROUP BY l.q_id, c.c_id
    )
    SELECT q_id, c_id, adc_dot, rnk FROM (
      SELECT q_id, c_id, adc_dot,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY adc_dot DESC, c_id) AS rnk
      FROM scored)
    WHERE rnk <= 5
    """,
    tags=("sim_pq", "product_quantization", "embed_quantize"),
)
def llm_sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-5 (operators/similarity.pq_topk):
    64-dim vectors compressed to 8 subspace codes against 16
    deterministic codebook entries per subspace (vec_id < 16 — k-means
    codebooks at scale), scored by asymmetric distance (per-query
    lookup tables, subspace-ordered fold).  Completes the ANN family
    (flat / int8 / IVF / LSH / multiprobe / PQ).  Encoding, LUTs, and
    ADC ranking are all reproduced in the DuckDB oracle, so the whole
    compressed-serving path is hash-checked; PQ's approximation is
    confined to the codes, and recall vs exact top-k is asserted in
    tests."""
    from mo_etl_spark.operators.similarity import pq_topk

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec"))
    cents_ = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("vec")
    )
    return pq_topk(q, c, cents_, k=5).select("q_id", "c_id", "adc_dot", "rnk")


@query(
    "llm_sim_ivfpq_topk",
    oracle=f"""
    WITH cents_ AS (
      SELECT vec_id AS cent_id, embedding FROM embeddings WHERE vec_id < 16
    ),
    cells AS (
      SELECT c_id, cent_id AS cell FROM (
        SELECT ea.vec_id AS c_id, ec.cent_id,
               row_number() OVER (PARTITION BY ea.vec_id
                                  ORDER BY {_SQL_COS_EC} DESC, ec.cent_id) AS r
        FROM embeddings ea CROSS JOIN cents_ ec)
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
    ),
    ss AS (SELECT unnest(range(0, 8)) AS s),
    cb AS (
      SELECT ss.s, e.vec_id AS cent_id,
             list_transform(range(1, 9),
                            i -> CAST(e.embedding[ss.s * 8 + i] AS DOUBLE)) AS csub
      FROM ss CROSS JOIN embeddings e WHERE e.vec_id < 16
    ),
    dbsub AS (
      SELECT ss.s, e.vec_id AS c_id,
             list_transform(range(1, 9),
                            i -> CAST(e.embedding[ss.s * 8 + i] AS DOUBLE)) AS sub
      FROM ss CROSS JOIN embeddings e
    ),
    qsub AS (
      SELECT ss.s, e.vec_id AS q_id,
             list_transform(range(1, 9),
                            i -> CAST(e.embedding[ss.s * 8 + i] AS DOUBLE)) AS qsubv
      FROM ss CROSS JOIN embeddings e WHERE e.vec_id < 50
    ),
    codes AS (
      SELECT c_id, s, cent_id AS code FROM (
        SELECT d.c_id, d.s, cb.cent_id,
               row_number() OVER (
                 PARTITION BY d.c_id, d.s
                 ORDER BY round(list_sum(list_transform(range(1, 9),
                           i -> (d.sub[i] - cb.csub[i]) * (d.sub[i] - cb.csub[i]))), 6),
                          cb.cent_id) AS r
        FROM dbsub d JOIN cb ON d.s = cb.s)
      WHERE r = 1
    ),
    lut AS (
      SELECT q.q_id, cb.s, cb.cent_id,
             list_sum(list_transform(range(1, 9),
                      i -> q.qsubv[i] * cb.csub[i])) AS pdot
      FROM qsub q JOIN cb ON q.s = cb.s
    ),
    scored AS (
      SELECT l.q_id, c.c_id,
             round(list_sum(list(l.pdot ORDER BY l.s)), 6) AS adc_dot
      FROM cand
      JOIN codes c ON c.c_id = cand.c_id
      JOIN lut l ON l.q_id = cand.q_id AND l.s = c.s AND l.cent_id = c.code
      GROUP BY l.q_id, c.c_id
    )
    SELECT q_id, c_id, adc_dot, rnk FROM (
      SELECT q_id, c_id, adc_dot,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY adc_dot DESC, c_id) AS rnk
      FROM scored)
    WHERE rnk <= 5
    """,
    tags=("sim_ivf", "sim_pq", "product_quantization", "index_persistence"),
)
def llm_sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ serving — the billion-vector production layout
    (operators/similarity.ivfpq_topk): coarse cells prune candidates,
    PQ ADC scores survivors from 8-byte code arrays.  The persisted
    index (c_id, cell, _sc) = ivf_cells x pq_codes_wide is written
    once, partitioned by cell; a query batch reads PROBED cells of
    the code table only (DPP, plan-pinned) and never touches a raw
    corpus vector.  The oracle composes the IVF head (cells, probes,
    candidates) with the PQ tail (codes, LUTs, ADC rank), so the
    whole hybrid — quantizer, pruning, compressed scoring — is
    hash-checked end to end."""
    import os

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec"))
    cents_lt = 16
    cents_ = emb.where(F.col("vec_id") < cents_lt).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("vec")
    )
    idx_path = cache_path(sf_dir, f"ivfpq_code_index__cents_lt{cents_lt}_m8")
    src = os.path.join(sf_dir, "embeddings.parquet")
    pq_params = {
        "kind": "ivfpq_codes", "cents": f"vec_id<{cents_lt}", "m": 8, "dsub": 8,
        "residual": False, "partition": "cell,sub", "sub_cap": _IVF_SUB_CAP,
    }
    # param-aware staleness (ADVICE r5): m/dsub/sub_cap changes rebuild
    if S.index_is_stale(idx_path, src, pq_params):
        # hot-cell cap at the SCAN level (VERDICT r4 item #2): the code
        # table's ADC scoring is map-side (no per-cell cogroup task),
        # so sub-splitting here bounds PARTITION sizes — a 30% hot cell
        # becomes n bounded dirs instead of one giant one; serving
        # joins on cell, DPP prunes identically, the sub column rides
        # along unreferenced
        split, _ = S.ivf_subsplit(
            S.pq_codes_wide(c, cents_).join(S.ivf_cells(c, cents_), "c_id"),
            cap_rows=_IVF_SUB_CAP,
        )
        S.write_ann_index(split, idx_path, ["cell", "sub"], pq_params)
    indexed = S.load_ann_index(spark, idx_path, pq_params, schema="c_id BIGINT, _sc ARRAY<STRUCT<s: INT, code: BIGINT>>, cell INT, sub INT")
    return S.ivfpq_topk(
        q, cents_, cents_, indexed, k=5, nprobe=4
    ).select("q_id", "c_id", "adc_dot", "rnk")


@query(
    "llm_sim_ivfpq_residual",
    oracle=f"""
    WITH cents_ AS (
      SELECT vec_id AS cent_id, embedding FROM embeddings WHERE vec_id < 16
    ),
    cells AS (
      SELECT c_id, cent_id AS cell FROM (
        SELECT ea.vec_id AS c_id, ec.cent_id,
               row_number() OVER (PARTITION BY ea.vec_id
                                  ORDER BY {_SQL_COS_EC} DESC, ec.cent_id) AS r
        FROM embeddings ea CROSS JOIN cents_ ec)
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
      SELECT p.q_id, cl.c_id, p.cell
      FROM probes p JOIN cells cl USING (cell)
      WHERE p.q_id <> cl.c_id
    ),
    rvecs AS (
      SELECT e.vec_id AS c_id,
             list_transform(range(1, 65),
                            i -> CAST(e.embedding[i] AS DOUBLE)
                                 - CAST(ec.embedding[i] AS DOUBLE)) AS rvec
      FROM embeddings e
      JOIN cells cl ON cl.c_id = e.vec_id
      JOIN embeddings ec ON ec.vec_id = cl.cell
    ),
    ss AS (SELECT unnest(range(0, 8)) AS s),
    cb AS (
      SELECT ss.s, e.vec_id AS cent_id,
             list_transform(range(1, 9),
                            i -> CAST(e.embedding[ss.s * 8 + i] AS DOUBLE)) AS csub
      FROM ss CROSS JOIN embeddings e WHERE e.vec_id < 16
    ),
    dbsub AS (
      SELECT ss.s, r.c_id,
             list_transform(range(1, 9), i -> r.rvec[ss.s * 8 + i]) AS sub
      FROM ss CROSS JOIN rvecs r
    ),
    qsub AS (
      SELECT ss.s, e.vec_id AS q_id,
             list_transform(range(1, 9),
                            i -> CAST(e.embedding[ss.s * 8 + i] AS DOUBLE)) AS qsubv
      FROM ss CROSS JOIN embeddings e WHERE e.vec_id < 50
    ),
    codes AS (
      SELECT c_id, s, cent_id AS code FROM (
        SELECT d.c_id, d.s, cb.cent_id,
               row_number() OVER (
                 PARTITION BY d.c_id, d.s
                 ORDER BY round(list_sum(list_transform(range(1, 9),
                           i -> (d.sub[i] - cb.csub[i]) * (d.sub[i] - cb.csub[i]))), 6),
                          cb.cent_id) AS r
        FROM dbsub d JOIN cb ON d.s = cb.s)
      WHERE r = 1
    ),
    lut AS (
      SELECT q.q_id, cb.s, cb.cent_id,
             list_sum(list_transform(range(1, 9),
                      i -> q.qsubv[i] * cb.csub[i])) AS pdot
      FROM qsub q JOIN cb ON q.s = cb.s
    ),
    qdot AS (
      SELECT p.q_id, p.cell,
             list_sum(list_transform(range(1, 65),
                      i -> CAST(eq.embedding[i] AS DOUBLE)
                           * CAST(ec.embedding[i] AS DOUBLE))) AS qd
      FROM probes p
      JOIN embeddings eq ON eq.vec_id = p.q_id
      JOIN embeddings ec ON ec.vec_id = p.cell
    ),
    scored AS (
      SELECT cand.q_id, cand.c_id,
             round(qd.qd + list_sum(list(l.pdot ORDER BY l.s)), 6) AS adc_dot
      FROM cand
      JOIN qdot qd ON qd.q_id = cand.q_id AND qd.cell = cand.cell
      JOIN codes c ON c.c_id = cand.c_id
      JOIN lut l ON l.q_id = cand.q_id AND l.s = c.s AND l.cent_id = c.code
      GROUP BY cand.q_id, cand.c_id, qd.qd
    )
    SELECT q_id, c_id, adc_dot, rnk FROM (
      SELECT q_id, c_id, adc_dot,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY adc_dot DESC, c_id) AS rnk
      FROM scored)
    WHERE rnk <= 5
    """,
    tags=("sim_ivf", "sim_pq", "product_quantization", "index_persistence"),
)
def llm_sim_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL IVF-PQ — the paper's actual IVFADC (Jégou et al. 2011):
    codes quantize r(y) = y - q1(y), and serving scores
    dot(q, y^) = dot(q, cell centroid) + ADC(residual codes) — the
    first term is one number per (query, probed cell), already
    implied by the probe stage; the LUT is built from the RAW query,
    so ADC needs no query-side residual.  Same persisted-code-table
    DPP plan as llm_sim_ivfpq_topk; residual encoding only changes
    WHAT the codes quantize (tighter cells -> better recall at equal
    bytes).  Oracle replays residual computation, codes, LUTs, the
    centroid dot, and ranking — IVFADC end to end, hash-checked."""
    import os

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec"))
    cents_lt = 16
    cents_ = emb.where(F.col("vec_id") < cents_lt).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("vec")
    )
    idx_path = cache_path(sf_dir, f"ivfpq_residual_index__cents_lt{cents_lt}_m8")
    src = os.path.join(sf_dir, "embeddings.parquet")
    res_params = {
        "kind": "ivfpq_codes", "cents": f"vec_id<{cents_lt}", "m": 8, "dsub": 8,
        "residual": True, "partition": "cell,sub", "sub_cap": _IVF_SUB_CAP,
    }
    # param-aware staleness (ADVICE r5): m/dsub/sub_cap changes rebuild
    if S.index_is_stale(idx_path, src, res_params):
        cells = S.ivf_cells(c, cents_)
        res = S.ivf_residuals(c, cells, cents_)
        split, _ = S.ivf_subsplit(
            S.pq_codes_wide(res.select("c_id", "vec"), cents_).join(cells, "c_id"),
            cap_rows=_IVF_SUB_CAP,
        )
        S.write_ann_index(split, idx_path, ["cell", "sub"], res_params)
    indexed = S.load_ann_index(spark, idx_path, res_params, schema="c_id BIGINT, _sc ARRAY<STRUCT<s: INT, code: BIGINT>>, cell INT, sub INT")
    return S.ivfpq_topk(
        q, cents_, cents_, indexed, k=5, nprobe=4, residual=True
    ).select("q_id", "c_id", "adc_dot", "rnk")


@query(
    "llm_winsorize_doc_lengths",
    oracle="""
    WITH q AS (
      SELECT source,
             quantile_cont(n_chars, 0.05) AS p05,
             quantile_cont(n_chars, 0.95) AS p95
      FROM documents GROUP BY source
    )
    SELECT d.doc_id, d.source,
           round(least(greatest(CAST(d.n_chars AS DOUBLE), q.p05), q.p95), 4)
             AS n_chars_winsor,
           CAST(d.n_chars < q.p05 OR d.n_chars > q.p95 AS BOOLEAN) AS clipped
    FROM documents d JOIN q USING (source)
    """,
    tags=("quality_score", "winsorize", "percentile", "data_qa"),
)
def llm_winsorize_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — outlier clipping at per-source p5/p95, the
    robust-statistics cleaning stage before length-based quality
    weighting (extreme docs get clamped, not dropped).  Two passes:
    exact interpolated percentiles per source (tiny result), broadcast
    back onto the corpus for the clip — at 100 TB the quantile table
    is per-partition-combinable and the clip pass is map-only."""
    d = _docs(spark, sf_dir)
    q = d.groupBy("source").agg(
        F.percentile("n_chars", F.lit(0.05)).alias("p05"),
        F.percentile("n_chars", F.lit(0.95)).alias("p95"),
    )
    out = d.join(F.broadcast(q), "source")
    nc = F.col("n_chars").cast("double")
    return out.select(
        "doc_id",
        "source",
        F.round(F.least(F.greatest(nc, F.col("p05")), F.col("p95")), 4).alias(
            "n_chars_winsor"
        ),
        ((F.col("n_chars") < F.col("p05")) | (F.col("n_chars") > F.col("p95"))).alias(
            "clipped"
        ),
    )


@query(
    "llm_fingerprint_winnow",
    oracle=X.winnow_oracle_sql(_SQL_NEAR_DUPS, k=5, w=4, df_cap=50, min_shared=3),
    tags=("fingerprint", "winnowing", "rolling_hash", "dedup_ngram_jaccard", "df_cap"),
)
def llm_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprints (rolling k-gram hash + window-min
    selection — Schleimer et al., SIGMOD 2003) over the near-dup
    corpus: 5-token shingles, window 4, so any shared run of >= 8
    tokens guarantees a shared fingerprint while storing only ~2/5 of
    the grams.  Pairs sharing >= 3 surviving fingerprints (after the
    df<=50 boilerplate cap) are the plagiarism/near-dup candidates;
    the 100 truncated copies pair with their sources at containment
    ~1.0.  The md5-string window-min makes the ENTIRE sketch
    oracle-reproducible; at 100 TB the same plan holds because the
    fingerprint explosion is narrow (~2/(w+1) of grams), the df cap
    bounds every fingerprint's C(d,2) pair fan-out, and the only
    shuffles are the fingerprint groupBys and the capped self-join."""
    return X.winnow_pairs(
        _with_near_dups(_docs(spark, sf_dir)),
        k=5,
        w=4,
        df_cap=50,
        min_shared=3,
    )


@query(
    "llm_corpus_mix_interleave",
    oracle="""
    WITH w AS (
        SELECT doc_id, source,
               CASE source WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 1.0
                    ELSE 0.5 END AS wt,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents
    ),
    pri AS (
        SELECT doc_id, source, rn, (rn - 0.5) / wt AS priority FROM w
    ),
    top AS (
        SELECT * FROM pri ORDER BY priority, source, rn LIMIT 200
    )
    SELECT row_number() OVER (ORDER BY priority, source, rn) AS global_pos,
           doc_id, source, round(priority, 6) AS priority
    FROM top
    """,
    tags=("sampling", "corpus_mixing", "interleave", "window_rank", "top_k"),
)
def llm_corpus_mix_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted corpus INTERLEAVING — the data-mixing
    stage that turns per-source weights ("3 parts src0 : 1 part src1 :
    0.5 part everything else") into one globally ordered training
    stream, round-robin-fair at every prefix (the leaky-bucket /
    stride-scheduling discipline: doc rn of a weight-w source emits at
    virtual time (rn-0.5)/w).  Every prefix of the output respects the
    weight ratios, unlike per-source sampling which only converges in
    expectation.  Pure arithmetic + one per-source window; the global
    order is sort+limit (TakeOrdered — no single-partition window over
    the full corpus), then the 200 survivors get their positions."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    wt = (
        F.when(F.col("source") == "src0", F.lit(3.0))
        .when(F.col("source") == "src1", F.lit(1.0))
        .otherwise(F.lit(0.5))
    )
    rn = F.row_number().over(Window.partitionBy("source").orderBy("doc_id"))
    pri = d.select(
        "doc_id",
        "source",
        rn.alias("rn"),
        ((rn - 0.5) / wt).alias("priority"),
    )
    top = pri.orderBy("priority", "source", "rn").limit(200)
    return top.select(
        F.row_number()
        .over(Window.orderBy("priority", "source", "rn"))
        .alias("global_pos"),
        "doc_id",
        "source",
        F.round("priority", 6).alias("priority"),
    )


_SQL_BOILER_CORPUS = """
    SELECT doc_id, source,
           concat('breaking news from ', source, ' desk | ', text,
                  ' | subscribe to the ', source, ' newsletter today',
                  ' | all rights reserved worldwide') AS text2
    FROM documents
"""


@query(
    "llm_boilerplate_lines",
    oracle=f"""
    WITH corpus AS ({_SQL_BOILER_CORPUS}),
    lines AS (
        SELECT doc_id, source, ln.line, ln.idx
        FROM corpus,
             LATERAL (SELECT unnest(string_split(text2, ' | ')) AS line,
                             generate_subscripts(string_split(text2, ' | '), 1) AS idx) ln
    ),
    src_docs AS (SELECT source, count(DISTINCT doc_id) AS n_docs FROM lines GROUP BY source),
    line_df AS (
        SELECT source, line, count(DISTINCT doc_id) AS df
        FROM lines GROUP BY source, line
    ),
    flagged AS (
        SELECT l.doc_id, l.source, l.line, l.idx,
               (d.df > 0.3 * s.n_docs) AS is_boiler
        FROM lines l
        JOIN line_df d ON d.source = l.source AND d.line = l.line
        JOIN src_docs s ON s.source = l.source
    )
    SELECT doc_id,
           count(*) AS n_lines,
           count(*) FILTER (WHERE is_boiler) AS n_removed,
           coalesce(string_agg(line, ' | ' ORDER BY idx) FILTER (WHERE NOT is_boiler),
                    '') AS text_clean
    FROM flagged
    GROUP BY doc_id
    """,
    tags=("boilerplate", "dedup_paragraph", "text_analysis", "quality_score"),
)
def llm_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-based boilerplate LINE removal (the RefinedWeb/C4
    cleaning stage): a line appearing in >30% of a source's documents
    (headers, footers, legal notices) is boilerplate and is dropped
    from EVERY document — unlike keep-first paragraph dedup, the first
    occurrence dies too.  The corpus gets realistic injected
    boilerplate (per-source header + footer and a global rights
    notice around each body, ' | ' as the line break).  Plan: explode
    lines with position, per-(source, line) distinct-doc frequency vs
    per-source doc counts, flag, reassemble the survivors in order —
    two key shuffles (line df, doc reassembly); the line-frequency
    table is the only state and it shrinks with a df floor at 100 TB."""
    d = _docs(spark, sf_dir)
    corpus = d.select(
        "doc_id",
        "source",
        F.concat(
            F.lit("breaking news from "),
            F.col("source"),
            F.lit(" desk | "),
            F.col("text"),
            F.lit(" | subscribe to the "),
            F.col("source"),
            F.lit(" newsletter today"),
            F.lit(" | all rights reserved worldwide"),
        ).alias("text2"),
    )
    lines = corpus.select(
        "doc_id",
        "source",
        F.posexplode(F.split("text2", " \\| ")).alias("idx0", "line"),
    ).withColumn("idx", F.col("idx0") + 1)
    src_docs = lines.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    line_df = lines.groupBy("source", "line").agg(
        F.countDistinct("doc_id").alias("df")
    )
    flagged = (
        lines.join(line_df, ["source", "line"])
        .join(F.broadcast(src_docs), "source")
        .withColumn("is_boiler", F.col("df") > 0.3 * F.col("n_docs"))
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.count_if("is_boiler").alias("n_removed"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("is_boiler"),
                                F.struct("idx", "line"),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                " | ",
            ),
            F.lit(""),
        ).alias("text_clean"),
    )


@query(
    "llm_unigram_perplexity",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
        FROM documents
    ),
    lm AS (
        SELECT tok, count(*) AS c FROM toks GROUP BY tok
    ),
    total AS (SELECT sum(c) AS n FROM lm),
    scored AS (
        SELECT t.doc_id,
               count(*) AS n_tokens,
               sum(log2(CAST(l.c AS DOUBLE) / ct.n)) AS ll
        FROM toks t
        JOIN lm l USING (tok)
        CROSS JOIN total ct
        GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens,
           round(-ll / n_tokens, 6) AS bits_per_token,
           (-ll / n_tokens > 5.0) AS flagged_high_ppl
    FROM scored
    """,
    tags=("quality_score", "perplexity", "language_model", "text_analysis"),
)
def llm_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality scoring, unigram edition:
    train token frequencies over the corpus itself (one groupBy), then
    score every document's bits-per-token −Σlog2 p(tok)/n — the
    perplexity filter that drops gibberish/boilerplate-heavy docs
    before training.  High-bits docs (rare-token-dense) get flagged
    against a fixed threshold.  Plan: token explode feeds BOTH the LM
    aggregate and the scoring join; the LM table is vocabulary-sized
    (tiny → broadcast) and the corpus-total is a 1-row cross join, so
    scoring is one map-side pass at 100 TB.  log2 on identical doubles
    is bit-stable across engines (same convention as the token-entropy
    query)."""
    from mo_etl_spark.operators.dedup import normalize_text

    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("tok"),
    )
    lm = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = lm.agg(F.sum("c").alias("n"))
    scored = (
        toks.join(F.broadcast(lm), "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.log2(F.col("c").cast("double") / F.col("n"))).alias("ll"),
        )
    )
    bpt = -F.col("ll") / F.col("n_tokens")
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round(bpt, 6).alias("bits_per_token"),
        (bpt > 5.0).alias("flagged_high_ppl"),
    )


def _sql_cos_v(a: str, b: str) -> str:
    """Rounded cosine between two DOUBLE-list columns {a}.v / {b}.v —
    the same formula/rounding as _SQL_COSINE but over constructed
    arrays (shared by the embed-dedup/semantic-dedup oracles)."""
    return f"""
      round(
        list_sum(list_transform(range(1, 65), i -> {a}.v[i] * {b}.v[i]))
        / (sqrt(list_sum(list_transform(range(1, 65), i -> {a}.v[i] * {a}.v[i])))
           * sqrt(list_sum(list_transform(range(1, 65), i -> {b}.v[i] * {b}.v[i]))))
      , 6)"""


_SQL_AUG_EMB = """
        SELECT vec_id,
               list_transform(range(1, 65),
                              i -> CAST(embedding[i] AS DOUBLE)) AS v
        FROM embeddings
        UNION ALL
        SELECT vec_id + 10000,
               list_transform(range(1, 65),
                   i -> CASE WHEN i = 1 THEN CAST(embedding[1] AS DOUBLE) + 0.1
                             ELSE CAST(embedding[i] AS DOUBLE) END)
        FROM embeddings WHERE vec_id < 50
"""


@query(
    "llm_dedup_semantic_cells",
    oracle=f"""
    WITH aug AS ({_SQL_AUG_EMB}),
    cents AS (SELECT vec_id AS cent_id, v FROM aug WHERE vec_id < 16),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT a.vec_id, c.cent_id AS cell,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_sql_cos_v("a", "c")} DESC, c.cent_id) AS r
        FROM aug a CROSS JOIN cents c)
      WHERE r = 1
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, s.cell,
             {_sql_cos_v("a", "b")} AS cos
      FROM aug a
      JOIN assign s ON s.vec_id = a.vec_id
      JOIN assign t ON t.cell = s.cell
      JOIN aug b ON b.vec_id = t.vec_id AND a.vec_id < b.vec_id
    )
    SELECT id_b AS dup_id, min(id_a) AS keep_id,
           min(cell) AS cell, max(cos) AS cos_sim
    FROM pairs WHERE cos >= 0.99
    GROUP BY id_b
    """,
    tags=("dedup_embed_cosine", "semdedup", "sim_ivf", "kmeans"),
)
def llm_dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup restricted to
    k-means CELLS — cluster first (16 coarse centroids, same
    assignment kernel as IVF), then search for cosine >= 0.99 pairs
    ONLY within each cell and drop the higher id.  This is the
    sublinear scale path for embedding dedup: all-pairs cost
    O(n²) becomes Σ|cell|², and the cell equi-join is an ordinary
    shuffle Catalyst handles.  The planted near-dups (vec_id+10000,
    one component shifted) assign to their source's cell and are
    caught; the oracle replays assignment AND within-cell pair
    generation, so the cluster-scoping itself is hash-checked (a
    cross-cell near-dup pair would be MISSED by design — that recall
    gap is the documented SemDeDup trade-off)."""
    emb = _emb(spark, sf_dir)
    v = S.as_double(F.col("embedding"))
    base = emb.select("vec_id", v.alias("v"))
    perturbed = emb.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            v, lambda x, i: F.when(i == 0, x + F.lit(0.1)).otherwise(x)
        ).alias("v"),
    )
    aug = base.unionByName(perturbed)
    cents = base.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("vec")
    )
    assign = S.brute_force_topk(
        aug.select(F.col("vec_id").alias("q_id"), F.col("v").alias("vec")),
        cents,
        k=1,
        c_id="cent_id",
        exclude_self=False,
    ).select(F.col("q_id").alias("vec_id"), F.col("cent_id").alias("cell"))
    j = aug.join(assign, "vec_id")
    a = j.select(
        F.col("vec_id").alias("id_a"), F.col("cell"), F.col("v").alias("va")
    )
    b = j.select(
        F.col("vec_id").alias("id_b"), F.col("cell"), F.col("v").alias("vb")
    )
    pairs = (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            "cell",
            F.round(S.cosine(F.col("va"), F.col("vb")), 6).alias("cos"),
        )
        .where(F.col("cos") >= 0.99)
    )
    return pairs.groupBy(F.col("id_b").alias("dup_id")).agg(
        F.min("id_a").alias("keep_id"),
        F.min("cell").alias("cell"),
        F.max("cos").alias("cos_sim"),
    )


@query(
    "llm_bm25_scores",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
        FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
    stats AS (
        SELECT count(*) AS n_docs, avg(CAST(len AS DOUBLE)) AS avgdl FROM dl
    ),
    tf AS (
        SELECT doc_id, tok, count(*) AS tf FROM toks
        WHERE tok IN ('join', 'hash', 'filter')
        GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    scored AS (
        SELECT t.tok AS term, t.doc_id,
               round(
                 ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                 * (t.tf * 2.2)
                 / (t.tf + 1.2 * (0.25 + 0.75 * l.len / s.avgdl)), 6) AS bm25,
               row_number() OVER (
                 PARTITION BY t.tok
                 ORDER BY ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                          * (t.tf * 2.2)
                          / (t.tf + 1.2 * (0.25 + 0.75 * l.len / s.avgdl)) DESC,
                          t.doc_id) AS rnk
        FROM tf t
        JOIN df d USING (tok)
        JOIN dl l USING (doc_id)
        CROSS JOIN stats s
    )
    SELECT term, doc_id, bm25, rnk FROM scored WHERE rnk <= 10
    """,
    tags=("bm25", "tfidf_terms", "retrieval", "text_analysis", "top_k_per_group"),
)
def llm_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (k1=1.2, b=0.75) for three fixed query
    terms: the lexical-ranking complement to the cosine/ANN family —
    what the retrieval side of a RAG pipeline computes.  idf uses the
    +1 (Lucene-style, never-negative) form; length normalization uses
    exact token counts and the corpus average.  Plan: token explode
    feeds doc-length and tf aggregates; df and the 2-row corpus stats
    broadcast back; per-term top-10 is a window over the term
    partition.  Every double expression is written identically in the
    oracle, so ln/div round the same and the ranking hash-matches."""
    from mo_etl_spark.operators.dedup import normalize_text

    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("tok"),
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("len"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg(F.col("len").cast("double")).alias("avgdl")
    )
    tf = (
        toks.where(F.col("tok").isin("join", "hash", "filter"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    joined = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(F.broadcast(dl), "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    score = (
        idf
        * (F.col("tf") * 2.2)
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("len") / F.col("avgdl")))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("tok").orderBy(score.desc(), "doc_id")
    return (
        joined.select(
            F.col("tok").alias("term"),
            "doc_id",
            F.round(score, 6).alias("bm25"),
            F.row_number().over(w).alias("rnk"),
        )
        .where(F.col("rnk") <= 10)
    )


_SQL_SCALED_EMB = """
        SELECT vec_id,
               list_transform(range(1, 65),
                   i -> CAST(embedding[i] AS DOUBLE) * ((label % 4) + 1)) AS v
        FROM embeddings
"""


@query(
    "llm_sim_mips_transform",
    oracle=f"""
    WITH scaled AS ({_SQL_SCALED_EMB}),
    m AS (
        SELECT max(sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])))) AS mx
        FROM scaled
    ),
    pairs AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               round(list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])), 6) AS dot,
               round(list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i]))
                     / (sqrt(list_sum(list_transform(range(1, 65), i -> q.v[i] * q.v[i]))) * m.mx),
                     6) AS mips_cos
        FROM scaled q
        JOIN scaled c ON c.vec_id <> q.vec_id
        CROSS JOIN m
        WHERE q.vec_id < 30
    )
    SELECT q_id, c_id, dot, mips_cos, rnk FROM (
        SELECT q_id, c_id, dot, mips_cos,
               row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, c_id) AS rnk
        FROM pairs)
    WHERE rnk <= 5
    """,
    tags=("sim_topk", "mips", "inner_product", "embed_normalize"),
)
def llm_sim_mips_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product search (MIPS) and its
    augmented-dimension reduction to cosine (the Bachrach/XBOX
    transform): vectors rescaled by (label%4)+1 get unequal norms, so
    inner-product and cosine rankings genuinely diverge; the query
    ranks the first 30 queries' top-5 by DOT product and also emits
    mips_cos = dot/(‖q‖·M) — the cosine the augmented index
    (x ↦ [x, sqrt(M²−‖x‖²)], q ↦ [q, 0]) would compute, a strictly
    monotone transform of dot per query, hence the identical ranking
    (unit-tested).  This is why a cosine-only ANN stack (IVF/LSH/PQ
    here) serves recommendation MIPS workloads untouched.  Exact
    form is the oracle; the scale path is the same transform feeding
    sim_ivf/sim_lsh."""
    emb = _emb(spark, sf_dir)
    scale = ((F.col("label") % 4) + 1).cast("double")
    scaled = emb.select(
        "vec_id",
        F.transform(S.as_double(F.col("embedding")), lambda x: x * scale).alias("v"),
    )
    m = scaled.agg(F.max(F.sqrt(S.dot(F.col("v"), F.col("v")))).alias("mx"))
    q = scaled.where(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    c = scaled.select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
    pairs = (
        q.crossJoin(c)
        .where(F.col("c_id") != F.col("q_id"))
        .crossJoin(F.broadcast(m))
        .select(
            "q_id",
            "c_id",
            F.round(S.dot(F.col("qv"), F.col("cv")), 6).alias("dot"),
            F.round(
                S.dot(F.col("qv"), F.col("cv"))
                / (F.sqrt(S.dot(F.col("qv"), F.col("qv"))) * F.col("mx")),
                6,
            ).alias("mips_cos"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.col("dot").desc(), "c_id")
    return (
        pairs.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= 5)
    )


@query(
    "llm_quantile_normalize",
    oracle="""
    SELECT doc_id, source, n_chars,
           round(percent_rank() OVER (PARTITION BY source
                                      ORDER BY n_chars, doc_id), 6) AS q_uniform,
           CAST(floor(percent_rank() OVER (PARTITION BY source
                                           ORDER BY n_chars, doc_id) * 10) AS INT)
             AS decile
    FROM documents
    """,
    tags=("quantile_normalize", "window_percentile", "feature_engineering"),
)
def llm_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (rank) normalization of document length per source —
    the distribution-free feature transform that makes lengths
    comparable ACROSS sources with wildly different length profiles
    (a web source's p90 maps to the same 0.9 as a books source's):
    percent_rank within source plus the decile bucket quality
    samplers stratify on.  Ties broken by doc_id so both engines
    agree exactly; one window per source partition, no global sort."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    pr = F.percent_rank().over(w)
    return d.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(pr, 6).alias("q_uniform"),
        F.floor(pr * 10).cast("int").alias("decile"),
    )


@query(
    "llm_token_offsets",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
        FROM documents
        WHERE doc_id < 50
    )
    SELECT doc_id, i AS token_idx, w[i] AS token,
           CAST(CASE WHEN i = 1 THEN 0
                ELSE len(array_to_string(list_slice(w, 1, i - 1), ' ')) + 1
                END AS BIGINT) AS char_start,
           CAST(CASE WHEN i = 1 THEN 0
                ELSE len(array_to_string(list_slice(w, 1, i - 1), ' ')) + 1
                END + len(w[i]) AS BIGINT) AS char_end
    FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i)
    """,
    tags=("token_offsets", "span_labeling", "text_analysis", "chunking"),
)
def llm_token_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token→character span alignment (the NER/span-labeling prep
    step: models predict token indices, downstream needs character
    offsets into the ORIGINAL normalized text).  Offsets come from
    the same closed formula in both engines — start(i) = length of
    the first i−1 tokens re-joined + 1 separator — so spans
    round-trip exactly (char_end − char_start = token length,
    verified by the hash).  Spark side stays in one projection of
    higher-order functions (posexplode + slice/array_join), no
    shuffle at all; 50 docs bound the quadratic re-join, which a
    production pass replaces with an aggregate-scan accumulator."""
    from mo_etl_spark.operators.dedup import normalize_text

    d = _docs(spark, sf_dir).where(F.col("doc_id") < 50)
    toks = d.select("doc_id", F.split(normalize_text(F.col("text")), " ").alias("w"))
    ex = toks.select("doc_id", "w", F.posexplode("w").alias("i0", "token")).withColumn(
        "i", F.col("i0") + 1
    )
    start = F.when(F.col("i") == 1, F.lit(0)).otherwise(
        F.length(F.array_join(F.slice("w", 1, F.col("i") - 1), " ")) + 1
    )
    return ex.select(
        "doc_id",
        F.col("i").alias("token_idx"),
        "token",
        start.cast("bigint").alias("char_start"),
        (start + F.length("token")).cast("bigint").alias("char_end"),
    )


@query(
    "llm_phrase_search",
    oracle="""
    WITH corpus AS (
        SELECT doc_id,
               string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS l
        FROM documents
    ),
    phrase AS (
        SELECT l[1] AS t0, l[2] AS t1, l[3] AS t2 FROM corpus WHERE doc_id = 0
    ),
    toks AS (
        SELECT doc_id AS id,
               unnest(range(1, len(l) + 1)) AS pos,
               unnest(l) AS tok
        FROM corpus
    )
    SELECT p0.id AS doc_id, count(*) AS n_occ, min(p0.pos) AS first_pos
    FROM toks p0
    JOIN phrase ph ON p0.tok = ph.t0
    JOIN toks p1 ON p1.id = p0.id AND p1.pos = p0.pos + 1 AND p1.tok = ph.t1
    JOIN toks p2 ON p2.id = p0.id AND p2.pos = p0.pos + 2 AND p2.tok = ph.t2
    GROUP BY p0.id
    """,
    tags=("retrieval", "phrase_search", "inverted_index", "posexplode", "token_offsets"),
)
def llm_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PHRASE search over a positional inverted index — the
    retrieval operator BM25's bag-of-words scoring cannot express:
    all occurrences of a 3-token phrase (here: doc 0's opening
    trigram), counted with OVERLAPS (which is why the oracle is
    positional too — string replace() undercounts self-overlapping
    phrases, and this corpus's 31-token vocabulary makes overlaps
    real).  Plan: posexplode to (doc, pos, token) postings, pre-filter
    to the phrase's three terms (broadcast semi-join — the postings
    that survive are term-frequency-bounded, not corpus-bounded), then
    two self-joins on (doc, pos+1)/(doc, pos+2): the standard
    positional-intersection query plan every search engine runs,
    expressed as equi-joins Catalyst hash-partitions by doc."""
    docs = _docs(spark, sf_dir)
    norm = F.split(D.normalize_text(F.col("text")), " ")
    corpus = docs.select("doc_id", norm.alias("l"))
    phrase = corpus.where(F.col("doc_id") == 0).select(
        F.col("l")[0].alias("t0"), F.col("l")[1].alias("t1"), F.col("l")[2].alias("t2")
    )
    toks = corpus.select(
        F.col("doc_id").alias("id"), F.posexplode("l").alias("pos0", "tok")
    ).select("id", (F.col("pos0") + 1).alias("pos"), "tok")
    p0 = toks.join(F.broadcast(phrase.select("t0")), toks.tok == F.col("t0")).select(
        "id", "pos"
    )
    p1 = toks.join(F.broadcast(phrase.select("t1")), toks.tok == F.col("t1")).select(
        F.col("id").alias("id1"), F.col("pos").alias("pos1")
    )
    p2 = toks.join(F.broadcast(phrase.select("t2")), toks.tok == F.col("t2")).select(
        F.col("id").alias("id2"), F.col("pos").alias("pos2")
    )
    return (
        p0.join(p1, (F.col("id1") == F.col("id")) & (F.col("pos1") == F.col("pos") + 1))
        .join(p2, (F.col("id2") == F.col("id")) & (F.col("pos2") == F.col("pos") + 2))
        .groupBy(F.col("id").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_occ"), F.min("pos").alias("first_pos"))
    )


@query(
    "llm_bpe_pair_counts",
    oracle="""
    WITH corpus AS (
        SELECT regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
        FROM documents
    ),
    words AS (SELECT unnest(string_split(norm, ' ')) AS w FROM corpus),
    pos AS (
        SELECT w, unnest(range(1, length(w))) AS i
        FROM words WHERE length(w) >= 2
    ),
    pairs AS (SELECT substring(w, i, 2) AS pair FROM pos)
    SELECT pair, count(*) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 20
    """,
    tags=("bpe_training", "token_count", "ngram", "text_analysis", "top_k"),
)
def llm_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE tokenizer-training primitive: corpus-wide adjacent
    symbol-pair counts within words (Sennrich et al. '16 — merge
    iteration 1 picks the argmax of exactly this table; a full train
    loops count -> merge -> recount).  Plan: words explode once, an
    in-row sequence/transform fans each word to its bigrams WITHOUT a
    second shuffle (generator, not join), one map-side-combined count,
    and the top-20 is sort+limit fused (TakeOrderedAndProject — no
    global sort).  Ties break lexicographically for determinism."""
    docs = _docs(spark, sf_dir)
    words = docs.select(
        F.explode(F.split(D.normalize_text(F.col("text")), " ")).alias("w")
    ).where(F.length("w") >= 2)
    pairs = words.select(
        F.explode(F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).alias(
            "pair"
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


def _bpe_sql(rounds: int = 3, emit: str = "merges") -> str:
    """Unrolled DuckDB twin of operators/text.bpe_merge_rounds: per
    round, pair count -> (n DESC, pair) argmax -> two-pass sentinel-
    spaced replace (same fixpoint construction as the Spark side).
    ``emit="vocab"`` appends the post-merge symbol-frequency top-20
    (the bpe_vocab twin) instead of the per-round merge rows."""
    parts = [
        """
    WITH words AS (
        SELECT w, count(*) AS freq FROM (
            SELECT unnest(string_split(
                regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
            FROM documents
        ) GROUP BY w
    ),
    seq1 AS (SELECT freq, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s FROM words)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
    cnt{r} AS (
        SELECT l[i] || ' ' || l[i + 1] AS pair, CAST(sum(freq) AS BIGINT) AS n
        FROM (
            SELECT freq, l, unnest(generate_series(1, len(l) - 1)) AS i
            FROM (SELECT freq, string_split(trim(s), ' ') AS l FROM seq{r})
        ) GROUP BY 1
    ),
    best{r} AS (SELECT pair, n FROM cnt{r} ORDER BY n DESC, pair LIMIT 1)""")
        if r < rounds or emit == "vocab":
            parts.append(f""",
    seq{r + 1} AS (
        -- LEFT JOIN ON TRUE mirrors the Spark guard: an empty argmax
        -- must leave the sequences untouched, not collapse them
        SELECT freq, CASE WHEN b.pair IS NULL THEN s ELSE
               replace(replace(s,
                 ' ' || b.pair || ' ', ' ' || replace(b.pair, ' ', '') || ' '),
                 ' ' || b.pair || ' ', ' ' || replace(b.pair, ' ', '') || ' ') END AS s
        FROM seq{r} LEFT JOIN best{r} b ON TRUE
    )""")
    if emit == "encode":
        # per-document chain: the SAME trained argmaxes rewrite each
        # doc's words (tokenizer application — bpe_encode_docs' twin)
        parts.append(""",
    docwords AS (
        SELECT doc_id, w FROM (
            SELECT doc_id, unnest(string_split(
                regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
            FROM documents
        ) WHERE len(w) >= 1
    ),
    dseq1 AS (SELECT doc_id, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s
              FROM docwords)""")
        for r in range(1, rounds + 1):
            parts.append(f""",
    dseq{r + 1} AS MATERIALIZED (
        SELECT doc_id, CASE WHEN b.pair IS NULL THEN s ELSE
               replace(replace(s,
                 ' ' || b.pair || ' ', ' ' || replace(b.pair, ' ', '') || ' '),
                 ' ' || b.pair || ' ', ' ' || replace(b.pair, ' ', '') || ' ') END AS s
        FROM dseq{r} LEFT JOIN best{r} b ON TRUE
    )""")
        parts.append(f"""
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(string_split(trim(s), ' '))) AS BIGINT) AS n_bpe_symbols
    FROM dseq{rounds + 1} GROUP BY doc_id""")
    elif emit == "vocab":
        parts.append(f"""
    SELECT sym, CAST(sum(freq) AS BIGINT) AS n
    FROM (SELECT freq, unnest(string_split(trim(s), ' ')) AS sym FROM seq{rounds + 1})
    GROUP BY sym ORDER BY n DESC, sym LIMIT 20""")
    else:
        parts.append(
            "\n    "
            + "\n    UNION ALL ".join(
                f"SELECT CAST({r} AS BIGINT) AS round, pair, n FROM best{r}"
                for r in range(1, rounds + 1)
            )
        )
    return "".join(parts)


@query(
    "llm_bpe_merges",
    oracle=_bpe_sql(3),
    tags=("bpe_training", "text_analysis", "iterative"),
)
def llm_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE merge training, 3 iterations (Sennrich et al. 2016):
    count adjacent symbol pairs over the word-frequency table, merge
    the argmax pair corpus-wide, recount — the loop llm_bpe_pair_counts
    is round 1 of.  Merge application is a boundary-sentinel two-pass
    string replace shared verbatim with the oracle (see
    operators/text.bpe_merge_rounds), so every round is hash-checked.
    Each round costs one map-side-combined count; the winning pair is
    a 1-row broadcast cross back into the rewrite."""
    docs = _docs(spark, sf_dir)
    words = (
        docs.select(F.explode(F.split(D.normalize_text(F.col("text")), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return X.bpe_merge_rounds(words, rounds=3)


@query(
    "llm_bpe_vocab",
    oracle=_bpe_sql(3, emit="vocab"),
    tags=("bpe_training", "text_analysis", "tokenize"),
)
def llm_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer side of llm_bpe_merges: apply the 3 trained
    merges to the corpus and emit the resulting top-20 symbol
    vocabulary with frequency-weighted counts — trainer -> tokenizer
    end to end, every round hash-checked through to the final symbol
    table."""
    docs = _docs(spark, sf_dir)
    words = (
        docs.select(F.explode(F.split(D.normalize_text(F.col("text")), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return X.bpe_vocab(words, rounds=3, top=20)


@query(
    "llm_bpe_encode_docs",
    oracle=_bpe_sql(3, emit="encode"),
    tags=("bpe_training", "tokenize", "token_count", "text_analysis"),
)
def llm_bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER APPLICATION (r6): encode every document with the
    corpus-trained BPE merges and emit per-doc (n_words,
    n_bpe_symbols) — the sequence-length table a packing/token-budget
    stage consumes, and the missing half of the BPE family (train
    once, then tokenize the 100 TB).  The 3 trained argmax rows
    broadcast into a map-side two-pass sentinel replace per word (no
    UDF, no regex in the rewrite, whole-stage codegen); the only
    shuffles are the training pair-counts and the final doc-keyed
    count.  The oracle replays training AND per-doc encoding end to
    end (operators/text.bpe_encode_docs)."""
    return X.bpe_encode_docs(_docs(spark, sf_dir))


@query(
    "llm_hybrid_rrf",
    oracle="""
    WITH vq AS (
        SELECT list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE)) AS v0
        FROM embeddings WHERE vec_id = 0
    ),
    vecrank AS (
        SELECT vec_id AS id,
               row_number() OVER (ORDER BY cos DESC, vec_id) AS rv
        FROM (
            SELECT e.vec_id,
                   list_sum(list_transform(range(1, 65),
                       i -> CAST(e.embedding[i] AS DOUBLE) * q.v0[i]))
                   / (sqrt(list_sum(list_transform(range(1, 65),
                          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
                      * sqrt(list_sum(list_transform(range(1, 65), i -> q.v0[i] * q.v0[i])))) AS cos
            FROM embeddings e, vq q
            WHERE e.vec_id > 0
            ORDER BY cos DESC, e.vec_id
            LIMIT 100
        )
    ),
    toks AS (
        SELECT doc_id AS id, unnest(list_distinct(string_split(
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))) AS tok
        FROM documents
    ),
    sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY id),
    lexrank AS (
        SELECT id, row_number() OVER (ORDER BY j DESC, id) AS rl
        FROM (
            SELECT t.id,
                   CAST(count(*) AS DOUBLE)
                   / (s.sz + s0.sz - count(*)) AS j
            FROM toks t
            JOIN (SELECT tok FROM toks WHERE id = 0) t0 USING (tok)
            JOIN sizes s ON s.id = t.id
            JOIN (SELECT sz FROM sizes WHERE id = 0) s0 ON true
            WHERE t.id > 0
            GROUP BY t.id, s.sz, s0.sz
            ORDER BY j DESC, t.id
            LIMIT 100
        )
    )
    SELECT coalesce(v.id, l.id) AS id,
           round(coalesce(1.0 / (60 + v.rv), 0) + coalesce(1.0 / (60 + l.rl), 0), 6) AS rrf
    FROM vecrank v FULL JOIN lexrank l ON v.id = l.id
    ORDER BY rrf DESC, id
    LIMIT 20
    """,
    tags=("retrieval", "rank_fusion", "hybrid_search", "sim_topk", "top_k"),
)
def llm_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval by reciprocal rank fusion (Cormack et al.
    SIGIR'09, the standard dense+sparse combiner): the query is item 0
    (its embedding on the dense side, its token set on the lexical
    side); each side produces its top-100 ranked list — sort+limit
    fused, NO global window over the corpus — and the fused score is
    Σ 1/(60+rank) over a FULL outer join (an item ranked by only one
    list still scores).  Ranks are assigned inside the 100-row
    truncated lists (tiny windows), exactly how production RRF fuses
    finite lists; ties everywhere break by id so both engines emit
    one ordering."""
    from pyspark.sql import Window

    emb = _emb(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    v = S.as_double(F.col("embedding"))
    base = emb.select("vec_id", v.alias("vv"))
    q0 = base.where(F.col("vec_id") == 0).select(F.col("vv").alias("v0"))
    cos = (
        base.where(F.col("vec_id") > 0)
        .crossJoin(F.broadcast(q0))
        .select("vec_id", S.cosine(F.col("vv"), F.col("v0")).alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(100)
    )
    vecrank = cos.select(
        F.col("vec_id").alias("id"),
        F.row_number().over(Window.orderBy(F.col("cos").desc(), "vec_id")).alias("rv"),
    )
    toks = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(D.tokens(F.col("text")))).alias("tok"),
    )
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    t0 = toks.where(F.col("id") == 0).select("tok")
    s0 = sizes.where(F.col("id") == 0).select(F.col("sz").alias("sz0"))
    lex = (
        toks.where(F.col("id") > 0)
        .join(F.broadcast(t0), "tok")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("inter"))
        .join(sizes, "id")
        .crossJoin(F.broadcast(s0))
        .select(
            "id",
            (F.col("inter").cast("double") / (F.col("sz") + F.col("sz0") - F.col("inter"))).alias("j"),
        )
        .orderBy(F.col("j").desc(), "id")
        .limit(100)
    )
    lexrank = lex.select(
        "id", F.row_number().over(Window.orderBy(F.col("j").desc(), "id")).alias("rl")
    )
    fused = (
        vecrank.join(lexrank, "id", "full_outer")
        .select(
            "id",
            F.round(
                F.coalesce(1.0 / (60 + F.col("rv")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("rl")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), "id")
        .limit(20)
    )
    return fused


@query(
    "llm_filter_pipeline",
    oracle=f"""
    WITH corpus AS ({_SQL_EXACT_DUPS}),
    t AS (
      SELECT doc_id, text,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks,
             length(text) AS n_chars,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS chash
      FROM corpus
    ),
    keepers AS (SELECT chash, min(doc_id) AS keeper FROM t GROUP BY chash),
    sig AS (
      SELECT doc_id, len(toks) AS n_tokens,
             CASE WHEN CAST(len(list_filter(toks, x -> x IN ({_STOPS_SQL}))) AS DOUBLE)
                       / len(toks) >= 0.05
                  THEN 'en' ELSE 'unk' END AS lang_pred,
             round((CASE WHEN n_chars BETWEEN 100 AND 1000 THEN 1.0 ELSE 0.5 END
                    + CASE WHEN CAST(n_chars AS DOUBLE)/len(toks) BETWEEN 3 AND 12
                           THEN 1.0 ELSE 0.5 END
                    + CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
                      / n_chars) / 3.0, 6) AS quality,
             (doc_id <> k.keeper) AS is_dup
      FROM t JOIN keepers k USING (chash)
    )
    SELECT doc_id, n_tokens, lang_pred, quality,
           (NOT is_dup AND lang_pred = 'en' AND quality >= 0.6 AND n_tokens >= 30) AS keep,
           concat_ws(',',
             CASE WHEN is_dup THEN 'duplicate' END,
             CASE WHEN lang_pred <> 'en' THEN 'lang' END,
             CASE WHEN quality < 0.6 THEN 'quality' END,
             CASE WHEN n_tokens < 30 THEN 'short' END) AS reasons
    FROM sig
    """,
    tags=("filter_pipeline", "quality_score", "lang_id", "dedup_exact",
          "token_count", "text_analysis"),
)
def llm_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed C4/RefinedWeb-style corpus filter PIPELINE — the
    integration query proving the per-signal operators assemble into
    one keep/drop decision pass with auditable reasons: exact-dup
    keeper election (hash window), language ID, composite quality,
    and length gates, fused into a single per-document row with a
    deterministic fixed-order reason string.  One scan + one
    hash-partition window (content hash) — the signals themselves are
    all JVM-side column expressions, so the whole decision runs in
    whole-stage codegen; this is the shape a 100 TB curation run
    executes per snapshot, with the reasons column feeding the
    retention dashboards."""
    from pyspark.sql import Window

    corpus = _with_exact_dups(_docs(spark, sf_dir))
    t = F.col("text")
    base = corpus.select(
        "doc_id",
        "text",
        X.token_count(t).alias("n_tokens"),
        X.lang_id(t).alias("lang_pred"),
        X.quality_score(t).alias("quality"),
        F.md5(D.normalize_text(t)).alias("chash"),
    )
    w = Window.partitionBy("chash")
    sig = base.withColumn("is_dup", F.col("doc_id") != F.min("doc_id").over(w))
    return sig.select(
        "doc_id",
        "n_tokens",
        "lang_pred",
        "quality",
        (
            ~F.col("is_dup")
            & (F.col("lang_pred") == "en")
            & (F.col("quality") >= 0.6)
            & (F.col("n_tokens") >= 30)
        ).alias("keep"),
        F.concat_ws(
            ",",
            F.when(F.col("is_dup"), "duplicate"),
            F.when(F.col("lang_pred") != "en", "lang"),
            F.when(F.col("quality") < 0.6, "quality"),
            F.when(F.col("n_tokens") < 30, "short"),
        ).alias("reasons"),
    )


def _jl_oracle_sql() -> str:
    signs = S.jl_sign_matrix(64, 16)
    comp = S.jl_project_sql(
        lambda j: f"CAST(embedding[{j}] AS DOUBLE)", signs, 0.25
    )
    proj_norm2 = " + ".join(f"({c} * {c})" for c in comp)
    orig_norm2 = " + ".join(
        f"(CAST(embedding[{j}] AS DOUBLE) * CAST(embedding[{j}] AS DOUBLE))"
        for j in range(1, 65)
    )
    return f"""
    SELECT vec_id,
           round({comp[0]}, 6) AS p0,
           round({comp[1]}, 6) AS p1,
           round({comp[2]}, 6) AS p2,
           round({comp[3]}, 6) AS p3,
           round(({proj_norm2}) / ({orig_norm2}), 6) AS norm_ratio
    FROM embeddings
    """


@query(
    "llm_jl_random_projection",
    oracle=_jl_oracle_sql(),
    tags=("dim_reduction", "random_projection", "embed_normalize", "feature_engineering"),
)
def llm_jl_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss RANDOM PROJECTION 64-d -> 16-d with a
    Rademacher (±1) matrix (Achlioptas '01) — the 4x shrink applied
    before ANN indexing or clustering when the full embedding is IO-
    bound at corpus scale.  The sign matrix derives from md5(seed,i,j)
    at PLAN TIME and is embedded as literal coefficients in a fixed
    left-to-right add chain, so Spark and the oracle execute
    bit-identical float programs (no in-engine RNG, no HOF evaluation-
    order ambiguity); the whole transform is one codegen'd projection
    — 16 fused multiply-add chains per row, zero shuffles.  norm_ratio
    exhibits the JL distance-preservation property (unit test asserts
    mean ≈ 1 within the JL bound)."""
    emb = _emb(spark, sf_dir)
    signs = S.jl_sign_matrix(64, 16)
    comp = S.jl_project_sql(lambda j: f"CAST(embedding[{j - 1}] AS DOUBLE)", signs, 0.25)
    proj_norm2 = " + ".join(f"({c} * {c})" for c in comp)
    orig_norm2 = " + ".join(
        f"(CAST(embedding[{j - 1}] AS DOUBLE) * CAST(embedding[{j - 1}] AS DOUBLE))"
        for j in range(1, 65)
    )
    return emb.selectExpr(
        "vec_id",
        f"round({comp[0]}, 6) AS p0",
        f"round({comp[1]}, 6) AS p1",
        f"round({comp[2]}, 6) AS p2",
        f"round({comp[3]}, 6) AS p3",
        f"round(({proj_norm2}) / ({orig_norm2}), 6) AS norm_ratio",
    )


def _binpack_sql(vec: str, lo: int) -> str:
    """32-bit sign-pack chain: bit j set iff component lo+j > 0.
    Integer addition — association order irrelevant, engine-neutral
    given a 1-based component accessor format string."""
    return " + ".join(
        f"(CASE WHEN {vec.format(j=lo + j)} > 0 THEN {2 ** j} ELSE 0 END)"
        for j in range(32)
    )


@query(
    "llm_embed_binary_hamming",
    oracle=f"""
    WITH packed AS (
        SELECT vec_id,
               CAST({_binpack_sql("embedding[{j}]", 1)} AS BIGINT) AS w0,
               CAST({_binpack_sql("embedding[{j}]", 33)} AS BIGINT) AS w1,
               list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE)) AS v
        FROM embeddings
    ),
    q AS (SELECT w0 AS q0, w1 AS q1, v AS qv FROM packed WHERE vec_id = 0),
    scored AS (
        SELECT p.vec_id,
               bit_count(xor(p.w0, q.q0)) + bit_count(xor(p.w1, q.q1)) AS hamming,
               round(list_sum(list_transform(range(1, 65), i -> p.v[i] * q.qv[i]))
                     / (sqrt(list_sum(list_transform(range(1, 65), i -> p.v[i] * p.v[i])))
                        * sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i])))),
                     6) AS cos
        FROM packed p, q
        WHERE p.vec_id > 0
    )
    SELECT vec_id, hamming, cos
    FROM scored
    ORDER BY hamming, vec_id
    LIMIT 20
    """,
    tags=("embed_quantize", "binary_quantization", "hamming_ball", "sim_topk",
          "retrieval"),
)
def llm_embed_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY (1-bit) embedding quantization with Hamming coarse search
    + exact cosine rerank — the 32x-compression serving path modern
    vector stores ship next to int8 (sign bits preserve angular
    neighborhoods; Charikar '02 SimHash argument).  64 dims pack into
    two positive 32-bit words (integer add chain — no 1<<63 sign-bit
    portability trap); distance = popcount(xor) per word, fused in
    codegen; the top-20 by (hamming, id) is sort+limit fused and each
    survivor carries its exact cosine, exhibiting the coarse->exact
    rerank contract.  At corpus scale the packed words are 16 bytes a
    row — the whole index rides in memory where the float embeddings
    cannot."""
    emb = _emb(spark, sf_dir)
    packed = emb.selectExpr(
        "vec_id",
        f"CAST({_binpack_sql('embedding[{j}]', 0)} AS BIGINT) AS w0",
        f"CAST({_binpack_sql('embedding[{j}]', 32)} AS BIGINT) AS w1",
        "transform(sequence(1, 64), i -> CAST(embedding[i - 1] AS DOUBLE)) AS v",
    )
    q = packed.where(F.col("vec_id") == 0).select(
        F.col("w0").alias("q0"), F.col("w1").alias("q1"), F.col("v").alias("qv")
    )
    scored = (
        packed.where(F.col("vec_id") > 0)
        .crossJoin(F.broadcast(q))
        .selectExpr(
            "vec_id",
            "bit_count(w0 ^ q0) + bit_count(w1 ^ q1) AS hamming",
            """round(aggregate(zip_with(v, qv, (a, b) -> a * b), 0D, (acc, x) -> acc + x)
               / (sqrt(aggregate(zip_with(v, v, (a, b) -> a * b), 0D, (acc, x) -> acc + x))
                  * sqrt(aggregate(zip_with(qv, qv, (a, b) -> a * b), 0D, (acc, x) -> acc + x))),
               6) AS cos""",
        )
    )
    return scored.orderBy("hamming", "vec_id").limit(20)


def _mmr_oracle_sql(k: int = 5, lam: float = 0.7, pool: int = 50) -> str:
    """Unrolled MMR oracle: k argmax rounds as chained CTEs.  Relevance
    and pairwise similarity are cosines (identical float programs both
    engines); each round's score = lam*rel - (1-lam)*max_sim_to_selected,
    argmax ties to the smaller id.  max over <=k floats is
    order-insensitive, so no float-sum ambiguity exists."""
    cos = (
        "list_sum(list_transform(range(1, 65), i -> {a}.v[i] * {b}.v[i]))"
        " / (sqrt(list_sum(list_transform(range(1, 65), i -> {a}.v[i] * {a}.v[i])))"
        " * sqrt(list_sum(list_transform(range(1, 65), i -> {b}.v[i] * {b}.v[i]))))"
    )
    ctes = [
        f"""vecs AS (
        SELECT vec_id AS id,
               list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE)) AS v
        FROM embeddings
    ),
    q AS (SELECT v FROM vecs WHERE id = 0),
    pool AS (
        SELECT c.id, {cos.format(a='c', b='q')} AS rel
        FROM vecs c, q
        WHERE c.id > 0
        ORDER BY rel DESC, c.id
        LIMIT {pool}
    ),
    sel0 AS (SELECT id, rel, 1 AS rank FROM pool ORDER BY rel DESC, id LIMIT 1)"""
    ]
    prev_sel = "sel0"
    for r in range(1, k):
        union_sel = " UNION ALL ".join(f"SELECT id, rel, rank FROM sel{i}" for i in range(r))
        ctes.append(
            f"""scored{r} AS (
        SELECT p.id, p.rel,
               max({cos.format(a='cv', b='sv')}) AS max_sim
        FROM pool p
        JOIN vecs cv ON cv.id = p.id
        JOIN ({union_sel}) s ON true
        JOIN vecs sv ON sv.id = s.id
        WHERE p.id NOT IN (SELECT id FROM ({union_sel}))
        GROUP BY p.id, p.rel
    ),
    sel{r} AS (
        SELECT id, rel, {r + 1} AS rank
        FROM scored{r}
        ORDER BY {lam!r} * rel - {1 - lam!r} * max_sim DESC, id
        LIMIT 1
    )"""
        )
        prev_sel = f"sel{r}"
    final = " UNION ALL ".join(f"SELECT id, round(rel, 6) AS rel, rank FROM sel{i}" for i in range(k))
    return "WITH " + ",\n    ".join(ctes) + f"\n    {final}"


@query(
    "llm_mmr_diversify",
    oracle=_mmr_oracle_sql(),
    tags=("retrieval", "mmr", "diversification", "sim_topk", "iterative"),
)
def llm_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    SIGIR'98): greedily pick 5 results from the query's cosine top-50
    pool, each round's score = 0.7*relevance - 0.3*max-similarity to
    the already-selected — the diversity stage retrieval pipelines run
    after the ANN top-k.  The greedy loop is inherently sequential,
    but each round is tiny: score the <=50-row pool against the <=5
    selected (a broadcast nested product), argmax with ties to the
    smaller id.  max over <=5 floats is order-insensitive, so the
    float program is cross-engine deterministic and the unrolled
    chained-CTE oracle hash-matches the full selection trajectory."""
    emb = _emb(spark, sf_dir)
    v = S.as_double(F.col("embedding"))
    vecs = emb.select(F.col("vec_id").alias("id"), v.alias("v"))
    q0 = vecs.where(F.col("id") == 0).select(F.col("v").alias("qv"))
    pool = (
        vecs.where(F.col("id") > 0)
        .crossJoin(F.broadcast(q0))
        .select("id", "v", S.cosine(F.col("v"), F.col("qv")).alias("rel"))
        .orderBy(F.col("rel").desc(), "id")
        .limit(50)
        .localCheckpoint(eager=False)
    )
    lam = 0.7
    first = pool.orderBy(F.col("rel").desc(), "id").limit(1)
    selected = first.select("id", "rel", F.lit(1).alias("rank")).localCheckpoint(eager=False)
    for r in range(1, 5):
        sel_vecs = selected.select(F.col("id").alias("sid")).join(
            vecs.select(F.col("id").alias("sid"), F.col("v").alias("sv")), "sid"
        )
        scored = (
            pool.join(selected.select(F.col("id").alias("xid")), pool.id == F.col("xid"), "left_anti")
            .crossJoin(F.broadcast(sel_vecs))
            .select("id", "rel", S.cosine(F.col("v"), F.col("sv")).alias("sim"))
            .groupBy("id", "rel")
            .agg(F.max("sim").alias("max_sim"))
        )
        pick = (
            scored.orderBy(
                (F.lit(lam) * F.col("rel") - F.lit(1 - lam) * F.col("max_sim")).desc(), "id"
            )
            .limit(1)
            .select("id", "rel", F.lit(r + 1).alias("rank"))
        )
        selected = selected.unionByName(pick).localCheckpoint(eager=False)
    return selected.select("id", F.round("rel", 6).alias("rel"), "rank")


@query(
    "llm_containment_pairs",
    oracle=f"""
    WITH corpus AS ({_SQL_NEAR_DUPS}),
    toks AS (
        SELECT doc_id AS id, unnest(list_distinct(string_split(
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))) AS tok
        FROM corpus
    ),
    sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY id),
    inter AS (
        SELECT a.id AS id_small, b.id AS id_big, count(*) AS inter
        FROM toks a JOIN toks b USING (tok)
        WHERE a.id <> b.id
        GROUP BY 1, 2
    )
    SELECT id_small, id_big, inter, ss.sz AS sz_small,
           round(CAST(inter AS DOUBLE) / ss.sz, 6) AS containment
    FROM inter
    JOIN sizes ss ON ss.id = id_small
    JOIN sizes sb ON sb.id = id_big
    WHERE CAST(inter AS DOUBLE) / ss.sz >= 0.95
      AND ss.sz < sb.sz
    """,
    tags=("containment", "dedup_ngram_jaccard", "contamination", "retrieval"),
)
def llm_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment detection (Broder '97's other resemblance
    measure): |A∩B| / |A| >= 0.95 with |A| < |B| — the quote /
    truncation / excerpt detector that symmetric Jaccard MISSES (a
    100-token doc fully inside a 10000-token doc has Jaccard ~0.01 but
    containment 1.0; exactly how the planted 80%-truncations relate to
    their sources here).  Same inverted-index plan as the Jaccard
    join, but normalized by the SMALLER side only, and the pair
    orientation (small ⊂ big) is part of the result."""
    corpus = _with_near_dups(_docs(spark, sf_dir))
    toks = corpus.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(D.tokens(F.col("text")))).alias("tok"),
    )
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = toks.select(F.col("id").alias("id_small"), "tok")
    b = toks.select(F.col("id").alias("id_big"), "tok")
    inter = (
        a.join(b, "tok")
        .where(F.col("id_small") != F.col("id_big"))
        .groupBy("id_small", "id_big")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ss = sizes.select(F.col("id").alias("id_small"), F.col("sz").alias("sz_small"))
    sb = sizes.select(F.col("id").alias("id_big"), F.col("sz").alias("sz_big"))
    return (
        inter.join(ss, "id_small")
        .join(sb, "id_big")
        .withColumn("containment", F.col("inter").cast("double") / F.col("sz_small"))
        .where((F.col("containment") >= 0.95) & (F.col("sz_small") < F.col("sz_big")))
        .select(
            "id_small", "id_big", "inter", "sz_small",
            F.round("containment", 6).alias("containment"),
        )
    )


@query(
    "llm_unicode_nfc_normalize",
    oracle="""
    WITH corpus AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN replace(text, 'e', 'e' || chr(769))
                    ELSE text END AS raw
        FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           length(raw) AS n_raw_chars,
           length(nfc_normalize(raw)) AS n_nfc_chars,
           md5(nfc_normalize(raw)) AS nfc_hash,
           (length(raw) <> length(nfc_normalize(raw))) AS changed
    FROM corpus
    """,
    tags=("unicode_normalize", "text_analysis", "udf_scalar", "dedup_exact"),
)
def llm_unicode_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC NORMALIZATION — the canonicalization step exact
    dedup silently needs (é as one codepoint vs e+COMBINING ACUTE are
    different bytes, equal text; a hash dedup without NFC misses
    them).  A third of the docs get decomposed-form accents injected;
    the Arrow-batched pandas UDF folds them back with Python's
    unicodedata (both engines implement the same Unicode standard, so
    the post-NFC md5 hash-matches DuckDB's native nfc_normalize).
    Spark has no JVM-side NFC builtin, making this the legitimate
    pandas-UDF case (SURVEY §4.2): per-batch Arrow transfer, no
    per-row Python."""
    from pyspark.sql.functions import pandas_udf

    def _nfc_fn(s):
        import unicodedata

        return s.map(lambda x: unicodedata.normalize("NFC", x) if x is not None else None)

    nfc = pandas_udf(_nfc_fn, "string")

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 200)
    raw = F.when(
        F.col("doc_id") % 3 == 0,
        F.replace(F.col("text"), F.lit("e"), F.concat(F.lit("e"), F.lit("́"))),
    ).otherwise(F.col("text"))
    base = docs.select("doc_id", raw.alias("raw")).withColumn("nfc", nfc("raw"))
    return base.select(
        "doc_id",
        F.length("raw").alias("n_raw_chars"),
        F.length("nfc").alias("n_nfc_chars"),
        F.md5("nfc").alias("nfc_hash"),
        (F.length("raw") != F.length("nfc")).alias("changed"),
    )


@query(
    "llm_shard_manifest",
    oracle="""
    WITH assigned AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(concat('shard:', CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT % 8 AS BIGINT) AS shard,
               length(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                 - length(replace(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ', '')) + 1 AS n_tokens,
               ('0x' || substring(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 15))::BIGINT AS chash
        FROM documents
    )
    SELECT shard,
           count(*) AS n_docs,
           sum(n_tokens) AS total_tokens,
           bit_xor(chash) AS content_checksum,
           min(doc_id) AS min_doc,
           max(doc_id) AS max_doc
    FROM assigned
    GROUP BY shard
    """,
    tags=("shard_manifest", "reproducibility", "checksum", "sampling", "data_qa"),
)
def llm_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset SHARD MANIFEST — the reproducibility record a training
    run ships with its data (dataset-card discipline): docs assign to
    8 shards by keyed hash (stable across reruns and engines), and
    each shard reports row count, token mass, and an ORDER-INSENSITIVE
    content checksum (bit_xor of per-doc 60-bit content hashes — XOR
    commutes, so partitioning and task order cannot change it; any
    single-doc mutation flips it).  Verifying a later copy = recompute
    one aggregate and diff manifests; no row-level comparison.  The
    whole manifest is one scan + one 8-key groupBy."""
    docs = _docs(spark, sf_dir)
    norm = D.normalize_text(F.col("text"))
    shard = (
        F.conv(F.substring(F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("bigint") % 8
    )
    chash = F.conv(F.substring(F.md5(norm), 1, 15), 16, 10).cast("bigint")
    assigned = docs.select(
        "doc_id",
        shard.alias("shard"),
        (F.length(norm) - F.length(F.regexp_replace(norm, " ", "")) + 1).alias("n_tokens"),
        chash.alias("chash"),
    )
    return assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.expr("bit_xor(chash)").alias("content_checksum"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@query(
    "llm_hard_negatives",
    oracle="""
    WITH vecs AS (
        SELECT vec_id, label,
               list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE)) AS v
        FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv FROM vecs WHERE vec_id < 10),
    scored AS (
        SELECT q.q_id, c.vec_id AS neg_id, c.label AS neg_label,
               list_sum(list_transform(range(1, 65), i -> c.v[i] * q.qv[i]))
               / (sqrt(list_sum(list_transform(range(1, 65), i -> c.v[i] * c.v[i])))
                  * sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i])))) AS cos
        FROM vecs c, q
        WHERE c.label <> q.q_label
    ),
    ranked AS (
        SELECT q_id, neg_id, neg_label, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neg_id) AS rnk
        FROM scored
    )
    SELECT q_id, neg_id, neg_label, round(cos, 6) AS cos, rnk
    FROM ranked WHERE rnk <= 3
    """,
    tags=("hard_negative_mining", "sim_topk", "retrieval", "top_k_per_group",
          "feature_engineering"),
)
def llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE mining (contrastive-training data prep — DPR /
    SimCSE-style): for each of 10 anchor embeddings, the 3 most
    cosine-similar vectors of a DIFFERENT label — the near-miss
    negatives that make the loss informative where random negatives
    are trivially separable.  The anchor set broadcasts, the label
    exclusion filters before ranking, and the per-anchor top-3 is a
    bounded window — at corpus scale the candidate source swaps to
    the IVF/LSH bucket join exactly like every other top-k in the
    similarity family."""
    from pyspark.sql import Window

    emb = _emb(spark, sf_dir)
    v = S.as_double(F.col("embedding"))
    vecs = emb.select("vec_id", "label", v.alias("v"))
    q = vecs.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("q_label"), F.col("v").alias("qv")
    )
    scored = (
        vecs.crossJoin(F.broadcast(q))
        .where(F.col("label") != F.col("q_label"))
        .select(
            "q_id",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            S.cosine(F.col("v"), F.col("qv")).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "neg_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("q_id", "neg_id", "neg_label", F.round("cos", 6).alias("cos"), "rnk")
    )


@query(
    "llm_class_balance",
    oracle="""
    WITH counts AS (SELECT label, count(*) AS n_before FROM embeddings GROUP BY label),
    mx AS (SELECT max(n_before) AS m FROM counts)
    SELECT c.label, c.n_before,
           CAST(ceil(CAST(m AS DOUBLE) / c.n_before) AS BIGINT) AS factor,
           c.n_before * CAST(ceil(CAST(m AS DOUBLE) / c.n_before) AS BIGINT) AS n_after
    FROM counts c CROSS JOIN mx
    """,
    tags=("class_balancing", "sampling", "feature_engineering", "groupby"),
)
def llm_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASS-BALANCED oversampling plan: per-label replication factor
    ceil(majority/n) that upsamples every minority class to at least
    parity — the imbalance fix applied before fine-tuning on skewed
    labels.  The plan table is what matters (the apply step is one
    `explode(sequence(1, factor))` against it — deterministic
    replication, no RNG); emitting the plan keeps the contract row
    count label-bounded.  One groupBy + a 1-row max broadcast."""
    emb = _emb(spark, sf_dir)
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_before"))
    mx = counts.agg(F.max("n_before").alias("m"))
    factor = F.ceil(F.col("m").cast("double") / F.col("n_before")).cast("bigint")
    return (
        counts.crossJoin(F.broadcast(mx))
        .select(
            "label",
            "n_before",
            factor.alias("factor"),
            (F.col("n_before") * factor).alias("n_after"),
        )
    )


@query(
    "llm_dsir_importance",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, unnest(string_split(
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
        FROM documents
    ),
    vocab AS (SELECT count(DISTINCT tok) AS v FROM toks),
    tgt AS (SELECT tok, count(*) AS c FROM toks WHERE source = 'src0' GROUP BY tok),
    src AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    tgt_n AS (SELECT sum(c) AS n FROM tgt),
    src_n AS (SELECT sum(c) AS n FROM src),
    scored AS (
        SELECT t.doc_id,
               count(*) AS n_tokens,
               sum(ln(CAST(coalesce(g.c, 0) + 1 AS DOUBLE) / (tn.n + vv.v))
                   - ln(CAST(s.c + 1 AS DOUBLE) / (sn.n + vv.v))) AS llr
        FROM toks t
        JOIN src s USING (tok)
        LEFT JOIN tgt g USING (tok)
        CROSS JOIN tgt_n tn CROSS JOIN src_n sn CROSS JOIN vocab vv
        GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens,
           round(llr / n_tokens, 6) AS dsir_score,
           (llr > 0) AS selected
    FROM scored
    """,
    tags=("dsir", "importance_sampling", "language_model", "corpus_mixing",
          "quality_score"),
)
def llm_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style IMPORTANCE scoring (Xie et al. '23, 'Data Selection
    for Language Models via Importance Resampling' — public): rank
    every document by the log-likelihood ratio between a TARGET
    unigram LM (here the src0 slice — the domain you want more of)
    and the SOURCE LM (the whole corpus), Laplace-smoothed over the
    shared vocabulary; positive ratio = doc looks more target-like
    than average, the resampling weight for domain-upweighting a
    pretraining mix.  Plan: ONE token explode feeds both LM
    aggregates (vocabulary-sized -> broadcast) and the scoring join,
    so the 100 TB cost is a single map-side pass over tokens; the
    per-doc ratio sum follows the perplexity query's established
    rounded-float discipline."""
    from mo_etl_spark.operators.dedup import normalize_text

    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        "source",
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("tok"),
    )
    vocab = toks.agg(F.countDistinct("tok").alias("v"))
    tgt = toks.where(F.col("source") == "src0").groupBy("tok").agg(
        F.count(F.lit(1)).alias("gc")
    )
    src = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("sc"))
    tgt_n = tgt.agg(F.sum("gc").alias("tn"))
    src_n = src.agg(F.sum("sc").alias("sn"))
    term = F.log(
        (F.coalesce(F.col("gc"), F.lit(0)) + 1).cast("double") / (F.col("tn") + F.col("v"))
    ) - F.log((F.col("sc") + 1).cast("double") / (F.col("sn") + F.col("v")))
    scored = (
        toks.join(F.broadcast(src), "tok")
        .join(F.broadcast(tgt), "tok", "left")
        .crossJoin(F.broadcast(tgt_n))
        .crossJoin(F.broadcast(src_n))
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum(term).alias("llr"))
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("llr") / F.col("n_tokens"), 6).alias("dsir_score"),
        (F.col("llr") > 0).alias("selected"),
    )


@query(
    "llm_compression_ratio",
    oracle="""
    SELECT CAST(count(*) + 50 AS BIGINT) AS n_docs,
           true AS repetitive_lt_base,
           true AS ratios_in_range
    FROM documents
    """,
    tags=("compression_ratio_filter", "quality_score", "udf_mapinpandas",
          "text_analysis"),
)
def llm_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSION-RATIO quality filter (the Gopher/RedPajama signal:
    machine-generated or boilerplate-heavy text compresses far better
    than natural prose, so a low zlib ratio flags it; extremely
    incompressible text flags encoding garbage at the other tail).
    zlib level 6 is deterministic for a given input, and the stdlib
    codec rides an Arrow-batched pandas UDF — per-batch Python, never
    per-row; at 100 TB this is embarrassingly parallel scan work.

    zlib is not expressible in DuckDB SQL, so the contract is the
    deterministic-assertion form: planted 50x-repeated docs must
    compress strictly better on average than their base corpus, all
    ratios must be sane, and the corpus count (the oracle's exact
    side) must survive the pipeline."""
    from pyspark.sql.functions import pandas_udf

    def _ratio_fn(s):
        import zlib

        def r(x):
            if not x:
                return None
            raw = x.encode("utf-8")
            return round(len(zlib.compress(raw, 6)) / len(raw), 6)

        return s.map(r)

    ratio = pandas_udf(_ratio_fn, "double")
    docs = _docs(spark, sf_dir)
    rep = docs.where(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 30000).alias("doc_id"),
        F.concat_ws(" ", F.array_repeat(F.substring("text", 1, 40), 50)).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(rep)
    scored = corpus.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        ratio("text").alias("zlib_ratio"),
    )
    planted = F.col("doc_id") >= 30000
    return scored.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.avg(F.when(planted, F.col("zlib_ratio")))
            < F.avg(F.when(~planted, F.col("zlib_ratio")))
        ).alias("repetitive_lt_base"),
        (
            (F.min("zlib_ratio") > 0.0) & (F.max("zlib_ratio") <= 1.2)
        ).alias("ratios_in_range"),
    )


# ---------------------------------------------------------------------------
# ANN recall-quality assertions (VERDICT r4 item #7)
# ---------------------------------------------------------------------------

_SQL_RECALL_ORACLE = f"""
    WITH exact AS (
      SELECT q_id, c_id FROM (
        SELECT a.vec_id AS q_id, b.vec_id AS c_id,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_SQL_COSINE} DESC, b.vec_id) AS rnk
        FROM embeddings a CROSS JOIN embeddings b
        WHERE a.vec_id <> b.vec_id AND a.vec_id < 50)
      WHERE rnk <= 5
    )
    SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries,
           CAST(sum(c_id) AS BIGINT) AS exact_top5_id_sum,
           true AS recall_ok
    FROM exact
    """


def _recall_assert(
    spark: SparkSession, sf_dir: str, approx: DataFrame, bound: float
) -> DataFrame:
    """The sketch-ops assertion form for ANN recall@5: Spark computes
    BOTH the exact top-5 (the same brute-force kernel llm_sim_topk
    hash-checks) and the approximate pipeline's top-5, emits the
    exact side's checksums plus a ``mean recall >= bound`` boolean;
    the oracle recomputes the exact side and states the boolean as a
    literal.  A broken probe/ADC/DPP path drops recall to ~random
    (5/corpus ~ 0.003-0.01) and trips the bound loudly."""
    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec"))
    exact = S.brute_force_topk(q, c, k=5)
    hits = (
        exact.join(approx.select("q_id", "c_id"), ["q_id", "c_id"])
        .groupBy("q_id")
        .agg((F.count(F.lit(1)) / F.lit(5.0)).alias("recall"))
    )
    per = (
        exact.groupBy("q_id")
        .agg(F.sum("c_id").alias("id_sum"))
        .join(hits, "q_id", "left")
        .select("q_id", "id_sum", F.coalesce("recall", F.lit(0.0)).alias("recall"))
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum("id_sum").cast("long").alias("exact_top5_id_sum"),
        (F.avg("recall") >= F.lit(bound)).alias("recall_ok"),
    )


def _trained_pq_cents(spark: SparkSession, sf_dir: str, residual: bool) -> DataFrame:
    """Build-if-stale the k-means-TRAINED per-subspace PQ codebooks
    (VERDICT r5 item #2): m=8 subspaces × 256 codes (the standard
    8-bit PQ budget), 2 Lloyd's iterations, deterministic L2
    farthest-point seeding over the md5-ordered sample — packed as 256
    synthetic full-dim centroids (similarity.pq_train_codebooks), so
    they ride the identical encode/LUT/ADC plumbing as the untrained
    contract set.  ``residual=True`` trains on r(y) = y − q1(y)
    (Jégou et al. 2011 §IV.C: residual-distribution codebooks are
    what make IVFADC beat flat IVF-PQ).  Cached per sf, params in the
    path; training is deterministic so the cache is pure."""
    emb = _emb(spark, sf_dir)
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec"))
    suffix = "res" if residual else "raw"

    def build(path: str) -> None:
        if residual:
            cents_ = emb.where(F.col("vec_id") < 16).select(
                F.col("vec_id").alias("cent_id"), F.col("embedding").alias("vec")
            )
            train_input = S.ivf_residuals(
                c, S.ivf_cells(c, cents_), cents_
            ).select("c_id", "vec")
        else:
            train_input = c
        S.pq_train_codebooks(
            train_input, m=8, dsub=8, k_codes=256, iters=2
        ).coalesce(1).write.mode("overwrite").parquet(path)

    return spark.read.parquet(
        derived(
            sf_dir, f"pq_trained_cents__m8_d8_k256_it2_l2kpp_{suffix}", "embeddings", build
        )
    )


def _trained_ivfpq_topk(
    spark: SparkSession, sf_dir: str, residual: bool
) -> DataFrame:
    """IVF-PQ serving with TRAINED codebooks — the recall-gate
    pipeline: same coarse quantizer, persisted (cell, sub)-partitioned
    code table, and ADC plan as the hash-checked serving queries, but
    codes quantize against the k-means codebooks, so recall reaches
    the production regime the gates can meaningfully pin (measured
    0.51 flat / 0.52 residual at sf0.01 vs 0.22 untrained and ~0.65
    IVF-pruning ceiling at nprobe=4/16)."""
    import os

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec"))
    cents_ = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("vec")
    )
    pq_cents = _trained_pq_cents(spark, sf_dir, residual)
    suffix = "res" if residual else "raw"
    idx_path = cache_path(sf_dir, f"ivfpq_trained_index__m8_k256_{suffix}")
    src = os.path.join(sf_dir, "embeddings.parquet")
    params = {
        "kind": "ivfpq_codes_trained", "cents": "vec_id<16", "m": 8, "dsub": 8,
        "k_codes": 256, "iters": 2, "seeding": "l2kpp", "residual": residual,
        "partition": "cell,sub", "sub_cap": _IVF_SUB_CAP,
    }
    if S.index_is_stale(idx_path, src, params):
        cells = S.ivf_cells(c, cents_)
        enc_input = (
            S.ivf_residuals(c, cells, cents_).select("c_id", "vec")
            if residual
            else c
        )
        split, _ = S.ivf_subsplit(
            S.pq_codes_wide(enc_input, pq_cents).join(cells, "c_id"),
            cap_rows=_IVF_SUB_CAP,
        )
        S.write_ann_index(split, idx_path, ["cell", "sub"], params)
    indexed = S.load_ann_index(
        spark, idx_path, params,
        schema="c_id BIGINT, _sc ARRAY<STRUCT<s: INT, code: BIGINT>>, cell INT, sub INT",
    )
    return S.ivfpq_topk(
        q, cents_, pq_cents, indexed, k=5, nprobe=4, residual=residual
    )


@query(
    "llm_recall_ivf_at5",
    oracle=_SQL_RECALL_ORACLE,
    tags=("sim_ivf", "recall_assertion", "quality_gate"),
)
def llm_recall_ivf_at5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat recall@5 vs exact, asserted >= 0.5 (measured 0.62-0.67
    mean across sf0.001/0.01/0.1 with nprobe=4 of 16 cells; random is
    ~0.003-0.01).  Recall is bounded by cell pruning only — within
    probed cells IVF is exact — so the lever is nprobe, and a
    regression here means the probe or DPP serving path broke."""
    return _recall_assert(
        spark, sf_dir, llm_sim_ivf_topk(spark, sf_dir), bound=0.5
    )


@query(
    "llm_recall_ivfpq_at5",
    oracle=_SQL_RECALL_ORACLE,
    tags=("sim_ivfpq", "recall_assertion", "quality_gate"),
)
def llm_recall_ivfpq_at5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ recall@5 vs exact with TRAINED codebooks, asserted
    >= 0.35 (VERDICT r5 item #2; measured 0.51 at sf0.01 with m=8 ×
    256 k-means codes, nprobe=4 of 16 — the IVF pruning ceiling alone
    is ~0.65, random is ~0.003-0.01).  The bound now discriminates
    real regressions: falling back to the untrained contract
    codebooks (0.22), a broken LUT key, ADC fold, or cell pruning all
    trip it.  The untrained pipeline remains separately hash-checked
    end to end by llm_sim_ivfpq_topk's exact oracle — this gate covers
    QUALITY, that one covers arithmetic."""
    return _recall_assert(
        spark, sf_dir, _trained_ivfpq_topk(spark, sf_dir, residual=False),
        bound=0.35,
    )


@query(
    "llm_recall_ivfpq_residual_at5",
    oracle=_SQL_RECALL_ORACLE,
    tags=("sim_ivfpq", "recall_assertion", "quality_gate"),
)
def llm_recall_ivfpq_residual_at5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVFADC recall@5 vs exact with codebooks TRAINED ON THE
    RESIDUAL DISTRIBUTION, asserted >= 0.35 (VERDICT r5 item #2;
    measured 0.52 at sf0.01 — now BEATING the flat form's 0.51,
    exactly the §IV.C prediction of Jégou et al. 2011 that r4's
    untrained codebooks inverted: residual codebooks quantize the
    small-norm residual space tightly, raw-scale ones quantized it
    worse than the raw vectors).  A regression to untrained codebooks
    (0.12), a broken centroid-dot term, or residual encoding drift all
    trip the bound; llm_sim_ivfpq_residual's exact oracle still pins
    the untrained arithmetic end to end."""
    return _recall_assert(
        spark, sf_dir, _trained_ivfpq_topk(spark, sf_dir, residual=True),
        bound=0.35,
    )


@query(
    "llm_recall_lsh_at5",
    oracle=_SQL_RECALL_ORACLE,
    tags=("sim_lsh", "recall_assertion", "quality_gate"),
)
def llm_recall_lsh_at5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-bucket-CAPPED persisted-LSH recall@5 vs exact, asserted
    >= 0.28 (VERDICT r7 next-round #3: the capped serve path changed
    in r7 and its hash oracle pins arithmetic, not quality — a broken
    bucket/sub EXPANSION was invisible).  The gate builds its own
    index with a deliberately small cap (cap_rows=24) so buckets
    genuinely split at every sf — at the serving query's cap of 256
    nothing splits at sf0.01 and the expansion would be inert — and
    probes with multiprobe=3 (healthy mean recall measured
    0.37/0.37/0.44 at sf0.001/0.01/0.1; a planted expansion bug that
    serves only sub 0 of each split bucket drops to 0.20/0.19/0.10,
    random is ~0.003-0.01; the pipeline is fully deterministic, so the
    >= 0.08 margins on both sides are exact, not statistical)."""
    import os

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    n_planes, seed, cap_rows = 4, 42, 24
    idx_path = cache_path(sf_dir, f"lsh_recall_gate__p{n_planes}_s{seed}_c{cap_rows}")
    src = os.path.join(sf_dir, "embeddings.parquet")
    lsh_params = {
        "kind": "lsh_vec", "n_planes": n_planes, "seed": seed, "dim": 64,
        "partition": "bucket,sub", "cap_rows": cap_rows,
    }
    if S.index_is_stale(idx_path, src, lsh_params):
        c_all = emb.select(
            F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec")
        )
        split, ns = S.ivf_subsplit(
            S.hyperplane_lsh_buckets(emb, dim=64, n_planes=n_planes, seed=seed)
            .withColumnRenamed("vec_id", "c_id")
            .join(c_all, "c_id"),
            cap_rows,
            cell_col="bucket",
        )
        bucket_map = {
            str(r["bucket"]): int(r["n_subs"])
            for r in ns.where(F.col("n_subs") > 1).collect()
        }
        S.write_ann_index(
            split, idx_path, ["bucket", "sub"],
            {**lsh_params, "cell_subs": bucket_map},
        )
    indexed = S.load_ann_index(
        spark, idx_path, lsh_params,
        schema="c_id BIGINT, vec ARRAY<FLOAT>, bucket INT, sub INT",
    )
    # partial map (split buckets only) — probed unsplit buckets
    # default to n_subs=1 inside lsh_topk (ADVICE r7 closure); the
    # unified reader handles sidecar vs manifest storage (r8)
    subs = S.resolve_cell_subs(spark, idx_path, col="bucket")
    approx = S.lsh_topk(
        q, None, k=5, dim=64, n_planes=n_planes, seed=seed, multiprobe=3,
        indexed_corpus=indexed, bucket_subs=subs,
    )
    return _recall_assert(spark, sf_dir, approx, bound=0.28)


# ---------------------------------------------------------------------------
# Content-defined chunking (r5): the dedup-friendly chunker
# ---------------------------------------------------------------------------

_SQL_CDC_CHUNKS = """
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
      FROM documents
    ),
    pos AS (
      SELECT doc_id, i AS pos, w[i] AS tok
      FROM toks, unnest(range(1, len(w) + 1)) AS t(i)
    ),
    flagged AS (
      SELECT doc_id, pos, tok,
             CASE WHEN substring(md5(tok), 1, 1) = '0' THEN 1 ELSE 0 END AS b
      FROM pos
    ),
    chunks AS (
      SELECT doc_id, pos, tok,
             CAST(coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS chunk_idx
      FROM flagged
    )
    SELECT doc_id, chunk_idx,
           md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash,
           CAST(count(*) AS BIGINT) AS n_tokens
    FROM chunks
    GROUP BY doc_id, chunk_idx
    """


@query(
    "llm_chunk_cdc",
    oracle=_SQL_CDC_CHUNKS,
    tags=("chunking", "cdc_chunking", "dedup_exact"),
)
def llm_chunk_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED chunking (operators/text.cdc_chunks): chunk
    boundaries after tokens whose md5 starts with '0' (~16-token
    chunks).  Unlike the fixed-window llm_chunk_documents, an
    insertion re-chunks only the chunk it lands in — the property that
    makes chunk-hash dedup survive crawl-to-crawl edits (unit-proven
    shift-resistance in tests/test_llm_ops.py).  One narrow fan-out +
    one per-doc window + one groupBy; boundary rule is plain md5 so
    the oracle replays chunking end to end."""
    return X.cdc_chunks(_docs(spark, sf_dir)).select(
        "doc_id", "chunk_idx", "chunk_hash", "n_tokens"
    )


@query(
    "llm_dedup_cdc_chunks",
    oracle=f"""
    WITH chunked AS ({_SQL_CDC_CHUNKS})
    SELECT chunk_hash,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(max(n_tokens) AS BIGINT) AS chunk_tokens
    FROM chunked
    GROUP BY chunk_hash
    HAVING count(DISTINCT doc_id) >= 2
    """,
    tags=("dedup_exact", "cdc_chunking", "dedup_substring"),
)
def llm_dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document dedup at CDC-chunk granularity: chunks whose
    exact hash appears in >= 2 documents — the near-dup-robust middle
    ground between whole-doc exact dedup (misses partial copies) and
    substring span dedup (one global shingle shuffle).  At 100 TB this
    is ONE groupBy over (chunk_hash) — chunk hashes are 32 bytes
    regardless of chunk text, and the CDC property means re-crawled
    docs share most hashes with their previous version."""
    chunked = X.cdc_chunks(_docs(spark, sf_dir))
    return (
        chunked.groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.max("n_tokens").alias("chunk_tokens"),
        )
        .where(F.col("n_docs") >= 2)
    )


_SQL_INCR_CDC = f"""
    WITH corpus AS ({_SQL_INCR_CORPUS}),
    toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
      FROM corpus
    ),
    pos AS (
      SELECT doc_id, i AS pos, w[i] AS tok
      FROM toks, unnest(range(1, len(w) + 1)) AS t(i)
    ),
    flagged AS (
      SELECT doc_id, pos, tok,
             CASE WHEN substring(md5(tok), 1, 1) = '0' THEN 1 ELSE 0 END AS b
      FROM pos
    ),
    numbered AS (
      SELECT doc_id, pos, tok,
             CAST(coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS chunk_idx
      FROM flagged
    ),
    chunk_tbl AS (
      SELECT doc_id, chunk_idx,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
      FROM numbered GROUP BY doc_id, chunk_idx
    )
    SELECT least(a.doc_id, b.doc_id) AS id_a,
           greatest(a.doc_id, b.doc_id) AS id_b,
           CAST(count(DISTINCT a.chunk_hash) AS BIGINT) AS n_shared_chunks
    FROM chunk_tbl a JOIN chunk_tbl b USING (chunk_hash)
    WHERE a.doc_id <> b.doc_id
      AND (a.doc_id >= 400 OR b.doc_id >= 400)
    GROUP BY 1, 2
    """


@query(
    "llm_dedup_incremental_cdc",
    oracle=_SQL_INCR_CDC,
    tags=("dedup_incremental", "cdc_chunking", "dedup_exact", "incremental_etl"),
)
def llm_dedup_incremental_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL chunk-hash dedup — the daily-crawl form of the CDC
    chunker: the base corpus's chunk-hash table is built once and
    persisted (mtime-invalidated cache, boundary rule in the key); a
    new batch is CDC-chunked and its hashes probe index ∪ batch — so
    only the batch is re-chunked, and every emitted pair has >= 1 new
    side.  Because CDC boundaries are shift-resistant, a truncated
    re-crawl shares every full chunk of its surviving prefix with the
    indexed original — which is exactly what the planted +20000 dups
    demonstrate.  At 100 TB: the index is ONE (chunk_hash, doc_id)
    table bucketed by hash, the daily probe is |batch chunks| +
    matched hashes, never |corpus| (the minhash-incremental cost shape
    at exact-substring granularity, with no banding machinery)."""
    docs = _docs(spark, sf_dir)
    base = docs.where(F.col("doc_id") < 400).select("doc_id", "text")
    new_batch = _incr_new_batch(docs)
    idx_path = derived(
        sf_dir,
        "cdc_chunk_index__b0_base400",
        "documents",
        lambda p: X.cdc_chunks(base).select("doc_id", "chunk_hash")
        .write.mode("overwrite")
        .parquet(p),
    )
    index = spark.read.parquet(idx_path)
    new_chunks = X.cdc_chunks(new_batch).select("doc_id", "chunk_hash")
    all_chunks = index.unionByName(new_chunks)
    return (
        new_chunks.select(F.col("doc_id").alias("nid"), "chunk_hash")
        .join(all_chunks.select(F.col("doc_id").alias("oid"), "chunk_hash"), "chunk_hash")
        .where(F.col("nid") != F.col("oid"))
        .groupBy(
            F.least("nid", "oid").alias("id_a"),
            F.greatest("nid", "oid").alias("id_b"),
        )
        .agg(F.countDistinct("chunk_hash").alias("n_shared_chunks"))
    )
