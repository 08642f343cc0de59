"""SparkSession construction and per-session semantics configuration.

jx semantics (SURVEY.md §1.4) require non-ANSI math (division by zero /
overflow -> NULL, never error) — the reference's `mo_math` (u) is
null-decisive throughout.  Spark 4 defaults ANSI *on*, so both our own
sessions and driver-provided sessions are normalized via ``prepare``.

Sessions built by ``get_spark`` also run their Python workers through
the engine's daemon module, ``mo_etl_spark.pyworker``.  Spark puts
``spark-core_*.jar`` and ``pyspark.zip`` on the workers' ``sys.path``,
and every Python task calls ``importlib.invalidate_caches()``; before
CPython 3.12 that re-reads their directories once per ``zipimporter``
(one per package imported from them: 16 reads, ~0.2 s of CPU) on every
task, and the daemon skips the re-read while an archive is unchanged.
The daemon module is a static conf, so a session that ``get_spark``
did not create (a driver-provided one) keeps Spark's stock workers;
``prepare`` cannot change that.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the directory holding the ``mo_etl_spark`` package; Python workers
#: need it on their path to import the daemon module and the engine's UDFs
ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the one root of every derived on-disk artifact: fixture caches (per
#: scale factor, ``tables.cache_path``), stream scratch dirs, the
#: managed-table warehouse and the embedded metastore.  Taken from the
#: checkout, so an exported tree or a worktree keeps its own caches.
CACHE_ROOT = os.path.join(ENGINE_ROOT, ".cache")

#: runtime-settable confs applied to ANY session our queries run under
RUNTIME_CONFS = {
    # jx null math: 1/0 -> Null, bad casts -> Null (mo_math semantics (u))
    "spark.sql.ansi.enabled": "false",
    # deterministic timestamp behavior vs the DuckDB oracle
    "spark.sql.session.timeZone": "UTC",
    # runtime re-planning: partition coalescing, skew-join splitting
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Arrow for any pandas interchange (LLM ops use pandas UDFs)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet carries TIMESTAMP(NANOS) which the Spark reader
    # rejects; read as long and convert in tables.load_table
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def prepare(spark: SparkSession) -> SparkSession:
    """Apply jx-semantics runtime confs to an existing session.

    Called at the top of every registered query so driver-provided
    sessions (unknown config) execute with engine semantics.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not runtime-settable on this build — keep going
    return spark


def _heap_sizes(phys_bytes: int) -> tuple[int, int]:
    """Default driver heap and initial heap, in GB, for a host with
    ``phys_bytes`` of physical memory: half of it, capped at 24 GB (a
    24 GB default on a 16 GB host let a long session's JVM grow until
    the kernel OOM-killed it), and an initial heap of a third of that."""
    heap = max(1, min(24, (phys_bytes // 2) >> 30))
    return heap, max(1, heap // 3)


def get_spark(
    app_name: str = "mo-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Defaults target the test rig (local[$SPARK_GRAFT_CPUS]); on a real
    cluster the same confs apply, with shuffle partitions sized by the
    driver instead (AQE coalesces the rest).  ``extra_confs`` are set
    on the builder after the engine's own (e.g. the event log for a
    profiling tool); static confs among them only take effect when this
    call creates the SparkContext.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)

    heap, xms = _heap_sizes(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # single-JVM local mode: driver heap IS the executor heap; a
        # small heap turns long multi-query sessions into GC storms
        # (measured: 74-query bench 105-157s at 8g vs ~90s at 24g)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{heap}g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # managed tables (bucketed-join tests) live under the cache
        # root, and the embedded-metastore derby files go with them —
        # keeps the repo root clean of spark-warehouse/ and metastore_db/
        .config("spark.sql.warehouse.dir", os.path.join(CACHE_ROOT, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Dderby.system.home={os.path.join(CACHE_ROOT, 'derby')} "
            # batch-throughput GC: long multi-query sessions accumulate
            # codegen classes + broadcast refs; ParallelGC trades pause
            # latency (irrelevant here) for throughput, and a generous
            # metaspace stops class-unloading churn from 150+ unique
            # codegen'd plans (measured: random 5-40s stalls under G1)
            + os.environ.get(
                "SPARK_GRAFT_GC_OPTS",
                f"-XX:+UseParallelGC -XX:MaxMetaspaceSize=2g -Xms{xms}g",
            ),
        )
        .config("spark.python.daemon.module", "mo_etl_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", ENGINE_ROOT)
    )
    for k, v in {**RUNTIME_CONFS, **(extra_confs or {})}.items():
        builder = builder.config(k, v)
    return prepare(builder.getOrCreate())


from contextlib import contextmanager  # noqa: E402


@contextmanager
def narrowed_shuffle(spark: SparkSession, n: int = 8):
    """Temporarily narrow ``spark.sql.shuffle.partitions`` for
    workloads whose per-partition overhead dwarfs the data at
    contract scale — chiefly streaming state stores, where every
    availableNow micro-batch pays a per-partition state-file cost
    (provider open, snapshot, commit): the stream-stream join measured
    13.7 s -> 3.0 s warm at width 8.  The width is restored on exit;
    at 100 TB the caller sizes the width to state volume instead (AQE
    still coalesces batch reduce sides).  Only affects plans EXECUTED
    inside the block — callers must run their actions within it.
    (Batch iterative graph algorithms were measured too: their cold
    cost is codegen+scan, not width — narrowing does NOT help there.)
    """
    old = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield spark
    finally:
        if old is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old)
