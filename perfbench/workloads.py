"""The benchmark's workloads.

A workload runs in passes.  A query workload's pass runs each of its
registered queries once, in an order drawn from the seed, each to a
``noop`` sink; one op is one query.  ``txn_ingest``'s pass is a fresh
micro-batch ingest table driven through the public
``mo_etl_spark.streaming`` functions; one op is one trigger.
"""

from __future__ import annotations

import os
import random
import sys
import time
from urllib.parse import urlparse

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: TPC-H-shaped joins and scans plus jx queries: JVM and Catalyst work,
#: ``tables.load_table`` and the jx compiler, no Python workers
OLAP_QUERIES = (
    "q6_forecast_revenue",
    "join_q3_shipping_priority",
    "jx_groupby_aggs",
    "jx_edges_day_cube",
)

#: LLM dedup and similarity queries and a grouped-pandas query:
#: Arrow/pandas Python workers and the dedup and similarity operators
LLM_QUERIES = (
    "llm_dedup_exact",
    "llm_sim_topk",
    "udf_grouped_map_sequence",
)


class QueryWorkload:
    def __init__(self, names: tuple[str, ...], warm_passes: int, tail_q: float,
                 min_ops: int):
        self.names = names
        self.warm_passes = warm_passes
        self.tail_q = tail_q
        self.min_ops = min_ops

    def setup(self, ctx) -> None:
        from mo_etl_spark.registry import all_queries

        specs = all_queries()
        self._fns = {n: specs[n].fn for n in self.names}

    def check(self, ctx) -> tuple[int, int]:
        """Run every query once, collect it and compare it with its
        DuckDB twin.  Returns (attempted, failed)."""
        import __spark_entry__
        from mo_etl_spark.tables import TABLES
        from oracle import Oracle

        oracle = Oracle(ROOT, ctx.sf_dir, TABLES, __spark_entry__.oracle_sql())
        failed = 0
        try:
            for name in self._order(ctx.rng):
                try:
                    pdf = self._fns[name](ctx.spark, ctx.sf_dir).toPandas()
                    why = oracle.mismatch(name, pdf)
                except Exception as e:  # a failed query is a counted failure
                    why = f"raised {e!r}"[:300]
                if why:
                    failed += 1
                    print(f"# perfbench check FAIL {name}: {why}", file=sys.stderr)
        finally:
            oracle.close()
        return len(self.names), failed

    def _order(self, rng: random.Random) -> list[str]:
        order = list(self.names)
        rng.shuffle(order)
        return order

    def run_pass(self, ctx, rec, tag: str) -> list[tuple[str, float | None]]:
        """One pass; per op its name and latency (None when it failed)."""
        out = []
        for i, name in enumerate(self._order(ctx.rng)):
            with rec.op(f"{tag}.{i}"):
                t0 = time.perf_counter()
                try:
                    with rec.phase("query.build"):
                        df = self._fns[name](ctx.spark, ctx.sf_dir)
                    with rec.phase("query.exec"):
                        df.write.mode("overwrite").format("noop").save()
                    out.append((name, time.perf_counter() - t0))
                except Exception as e:
                    print(f"# perfbench op FAIL {name}: {e!r}"[:400], file=sys.stderr)
                    out.append((name, None))
        return out


class TxnIngest:
    """Seeded micro-batch ingest into a transactional batched table.

    Each pass seeds a fresh table from one shared snapshot and runs
    ``triggers`` triggers.  A trigger writes batch i
    (``idempotent_batch_write``), commits it (``txn_commit``), reads the
    table back at the committed watermark (``read_batched``) through a
    count / key-sum aggregate checked in closed form, and runs
    ``maintain_batched``, which compacts every ``max_dirs - 1``
    triggers."""

    SCHEMA = "key BIGINT, grp INT, val DOUBLE"

    def __init__(self, triggers: int, max_dirs: int, seed_rows: int,
                 batch_rows: tuple[int, int], warm_passes: int, tail_q: float,
                 min_ops: int):
        self.triggers = triggers
        self.max_dirs = max_dirs
        self.seed_rows = seed_rows
        self.batch_rows = batch_rows
        self.warm_passes = warm_passes
        self.tail_q = tail_q
        self.min_ops = min_ops

    def _rows(self, start: int, n: int):
        from pyspark.sql import functions as F

        return self._spark.range(start, start + n).select(
            F.col("id").alias("key"),
            (F.col("id") % 97).cast("int").alias("grp"),
            (F.col("id") * 0.5).alias("val"),
        )

    def setup(self, ctx) -> None:
        """Table seeding: the snapshot every pass's table starts from."""
        self._spark = ctx.spark
        self._root = os.path.join(ctx.work, "txn")
        self._snapshot = os.path.join(self._root, "snapshot")
        self._rows(0, self.seed_rows).coalesce(1).write.parquet(self._snapshot)
        self._passes = 0

    def check(self, ctx) -> tuple[int, int]:
        # every read-back is checked inside its own trigger
        return 0, 0

    def run_pass(self, ctx, rec, tag: str) -> list[tuple[str, float | None]]:
        from pyspark.sql import functions as F

        from mo_etl_spark import streaming as st

        self._passes += 1
        base = os.path.join(self._root, f"pass{self._passes}")
        table, group = os.path.join(base, "table"), os.path.join(base, "group")
        st.seed_batched(table, self._snapshot)
        st.txn_commit(group, -1, {"t": table})
        count, key_sum = self.seed_rows, self.seed_rows * (self.seed_rows - 1) // 2
        nxt = self.seed_rows
        out = []
        for i in range(self.triggers):
            n = ctx.rng.randint(*self.batch_rows)
            start = nxt + ctx.rng.randint(0, 1000)
            nxt = start + n
            count += n
            key_sum += n * start + n * (n - 1) // 2
            with rec.op(f"{tag}.{i}"):
                t0 = time.perf_counter()
                try:
                    with rec.phase("query.build"):
                        batch = self._rows(start, n)
                    with rec.phase("streaming.write"):
                        st.idempotent_batch_write(batch, table, i)
                    with rec.phase("streaming.commit"):
                        st.txn_commit(group, i, {"t": table})
                    with rec.phase("streaming.resolve"):
                        wm = st.txn_watermark(group)
                        df = st.read_batched(
                            ctx.spark, table, schema=self.SCHEMA, max_batch=wm
                        )
                    with rec.phase("streaming.read_exec"):
                        got = df.agg(F.count("*"), F.sum("key")).collect()[0]
                    with rec.phase("streaming.maintain"):
                        groups = st.maintain_batched(
                            ctx.spark, table, max_dirs=self.max_dirs, max_batch=wm
                        )
                    wall = time.perf_counter() - t0
                except Exception as e:
                    print(f"# perfbench trigger FAIL {tag}.{i}: {e!r}"[:400],
                          file=sys.stderr)
                    out.append(("trigger", None))
                    continue
            if rec.traced:
                op = f"{tag}.{i}"
                rec.note("streaming.dirs_per_read", _dirs_read(df, table), op)
                rec.note("streaming.compactions", 1.0 if groups else 0.0, op)
            if (got[0], got[1]) != (count, key_sum):
                print(f"# perfbench trigger FAIL {tag}.{i}: read back "
                      f"{tuple(got)} want {(count, key_sum)}", file=sys.stderr)
                out.append(("trigger", None))
            else:
                out.append(("compaction" if groups else "trigger", wall))
        return out


def _dirs_read(df, table: str) -> float:
    """How many live directories (bases and batch dirs) a read unioned."""
    dirs = set()
    for uri in df.inputFiles():
        path = urlparse(uri).path
        rel = os.path.relpath(path, table)
        dirs.add(rel.split(os.sep)[0] if not rel.startswith("..") else os.path.dirname(path))
    return float(len(dirs))


WORKLOADS = {
    "query_mix": lambda: QueryWorkload(
        OLAP_QUERIES + LLM_QUERIES, warm_passes=3, tail_q=0.8, min_ops=50
    ),
    "txn_ingest": lambda: TxnIngest(
        triggers=10, max_dirs=4, seed_rows=50_000, batch_rows=(4000, 6000),
        warm_passes=3, tail_q=0.8, min_ops=50,
    ),
}
