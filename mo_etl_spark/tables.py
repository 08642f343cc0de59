"""Canonical test-corpus tables (TESTDATA.md / FIXTURES.md).

The reference's notion of a "container" (u, jx_base containers; docs
queried `from` a named collection) maps to named DataFrames / temp
views here.
"""

from __future__ import annotations

import glob
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from mo_etl_spark.session import CACHE_ROOT

TABLES = (
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
)

#: dimension tables small enough to broadcast at EVERY scale factor
#: (region/nation are fixed-size; supplier/part grow ~linearly but stay
#: dimension-scale — at 100 TB fact scale these remain << the 64 MB
#: broadcast threshold relative to lineitem/orders/events)
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: per-session PLAN memo (r12 optimization; guide §1.2 per-task→driver
#: work, §7.3 driver-side planning cost): ``spark.read.parquet`` pays a
#: driver-side file listing + parquet footer schema inference on EVERY
#: call — measured 140-250 ms per table — and a 361-query bench session
#: calls load_table 1000+ times.  The memo returns the SAME unresolved
#: scan plan for repeat calls; every execution still reads the parquet
#: from disk (this caches a plan object, never data or results).  Keyed
#: by the Spark application and path, and holding the source mtime it
#: was built at: a rewritten snapshot replaces its entry instead of
#: adding one, and a new SparkContext (even one whose JVM session object
#: reuses a Python ``id``) never sees a stopped one's plans.  The engine
#: runs one session per application, with its reader confs set by
#: ``prepare``.
_PLAN_MEMO: dict[tuple[str, str], tuple[float, DataFrame]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan: Catalyst pushes predicates and prunes
    columns into the scan (verify via .explain → PushedFilters/ReadSchema).

    events.ts has shipped as TIMESTAMP(NANOS) (Spark reads it as long
    under the nanosAsLong conf in session.py) and as naive
    TIMESTAMP(MICROS) (Spark reads TIMESTAMP_NTZ).  Both are normalized
    here to a UTC TIMESTAMP_LTZ so every downstream epoch/window
    expression (unix_micros, F.window) sees one type; with
    spark.sql.session.timeZone=UTC the NTZ->LTZ cast is exact.
    """
    from pyspark.sql import functions as F

    path = f"{sf_dir}/{name}.parquet"
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = -1.0
    key = (spark.sparkContext.applicationId, path)
    memo = _PLAN_MEMO.get(key)
    if memo is not None and memo[0] == mtime:
        return memo[1]
    df = spark.read.parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _PLAN_MEMO[key] = (mtime, df)
    return df


def table_rows(sf_dir: str, name: str) -> int:
    """Row count of the table ``load_table(spark, sf_dir, name)`` scans,
    summed from its parquet footers: no Spark job, for callers that
    size a plan by its input (e.g. ``topk_routed(n_rows=...)``)."""
    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    files = [path] if os.path.isfile(path) else glob.glob(f"{path}/**/*.parquet", recursive=True)
    return sum(pq.read_metadata(f).num_rows for f in files)


def cache_path(sf_dir: str, name: str) -> str:
    """Where the derived artifact ``name`` of the scale factor at
    ``sf_dir`` lives: ``CACHE_ROOT/<last component of sf_dir>/<name>``."""
    return os.path.join(CACHE_ROOT, sf_dir.rstrip("/").rsplit("/", 1)[-1], name)


def table_tag(sf_dir: str) -> str:
    """The scale factor's cache-dir name as a table-name token: managed
    tables share one warehouse across scale factors."""
    tag = os.path.basename(os.path.dirname(cache_path(sf_dir, "")))
    return tag.replace(".", "_").replace("-", "_")


def is_stale(done: str, src: str | None) -> bool:
    """True when the completion marker ``done`` is missing or older
    than the source file ``src`` (``None``: no source, only presence)."""
    return not os.path.exists(done) or (
        src is not None and os.path.getmtime(done) < os.path.getmtime(src)
    )


def derived(
    sf_dir: str,
    name: str,
    src: str | None,
    build: Callable[[str], object],
    done: str = "_SUCCESS",
) -> str:
    """Path of the persisted artifact ``cache_path(sf_dir, name)``,
    built by ``build(path)`` only when ``<path>/<done>`` is missing or
    older than the source table ``<sf_dir>/<src>.parquet`` — the one
    build-if-stale rule of the engine's source-invalidated caches.
    ``src=None`` builds once (a constant seed); ``done`` names the
    marker a multi-dir artifact writes last (e.g. ``"b3/_SUCCESS"``)."""
    path = cache_path(sf_dir, name)
    source = None if src is None else os.path.join(sf_dir, f"{src}.parquet")
    if is_stale(os.path.join(path, done), source):
        build(path)
    return path


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose the corpus as temp views so ``spark.sql`` works directly
    (the engine's SQL surface — SURVEY.md §2.1 register_views)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
