"""SCALE_r10 measurement (VERDICT r9 item #7): change-feed consumer
cost with a FIXED-SIZE delta at 1x vs 30x upstream table size.

Three components measured separately, min of 2 reps each, fresh MV per
rep (seeding untimed), loadavg recorded:

- cdf_diff_only: diff_batched(gen1, gen2) materialized — two key-pruned
  snapshot scans + the keyed anti passes.  Sublinear in bytes (column
  pruning), NOT flat: this is the honest cost of computing the feed
  without commit-time change files.
- cdf_mv_apply_merge: apply_change_feed — the diff plus a FULL MV
  rewrite.  Table-linear by construction; the number documents WHY the
  batched mode exists.
- cdf_mv_apply_batched: apply_change_feed_batched — the diff plus
  delta-sized writes only (one insert batch dir, one tombstone file,
  the cursor).  The apply-minus-diff component is what "cost scales
  with the delta" is allowed to mean, and it is ~flat.

Usage: python tools/scale_cdf.py [--small 200000] [--large 6000000]
Prints one JSON line per (op, scale) run plus a merged summary.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mo_etl_spark.session import ENGINE_ROOT  # noqa: E402

DELTA_INS = 5_000
DELTA_DEL = 2_000
#: this tool's upstream tables and mirrors; removed when the run ends
SCRATCH = os.path.join(ENGINE_ROOT, ".scratch", "scale_cdf")


def build_upstream(spark, root: str, n: int) -> None:
    from pyspark.sql import functions as F

    from mo_etl_spark import streaming as S

    shutil.rmtree(root, ignore_errors=True)
    S.idempotent_batch_write(
        spark.range(n).select(
            F.col("id").alias("k"), F.pmod("id", F.lit(32)).alias("ib")
        ),
        root, 0, partition_cols=["ib"],
    )
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=3600.0
    )  # gen1: n rows
    # the FIXED delta, independent of n: DELTA_INS new keys above the
    # table, DELTA_DEL retractions of existing keys
    S.idempotent_batch_write(
        spark.range(10_000_000_000, 10_000_000_000 + DELTA_INS).select(
            F.col("id").alias("k"), F.pmod("id", F.lit(32)).alias("ib")
        ),
        root, 1, partition_cols=["ib"],
    )
    S.append_tombstones(
        spark.range(0, DELTA_DEL * 50, 50).select(F.col("id").alias("k")),
        root,
    )
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"],
        tombstone_col="k", gc_grace_sec=3600.0,
    )  # gen2: n - DELTA_DEL + DELTA_INS rows
    # gen3 (r11, VERDICT r10 item #4): a STEADY maintenance rebucket —
    # spec stays 32 (cap far above the hottest bucket), but one
    # old-spec in-flight batch (written under spec 16, the
    # writer-in-flight shape) gets normalized by the unconditional
    # recompute.  The moved rows are DELTA-sized, so the change file
    # the fold emits (change_feed=True) is too — the realistic
    # "consumer lagging across a maintenance window" case.  A
    # spec-DOUBLING pass moves ~half the table and its change file is
    # honestly move-proportional; that case is documented, not claimed
    # flat.
    S.idempotent_batch_write(
        spark.range(20_000_000_000, 20_000_000_000 + DELTA_INS).select(
            F.col("id").alias("k"), F.pmod("id", F.lit(16)).alias("ib")
        ),
        root, 2, partition_cols=["ib"],
    )
    S.stamp_spec(root, 2, 16)
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=3600.0,
        change_feed=True,
        transform=S.rebucket_transform(
            "ib", lambda m: F.pmod("k", F.lit(m)), 32,
            cap_rows=1 << 62, prior_extra=S.read_manifest_extra(root),
        ),
    )  # gen3: transform with change file; moved rows = the b2 stragglers


def measure(spark, root: str, scale: str, out) -> None:
    from mo_etl_spark import streaming as S

    schema = "k BIGINT, ib BIGINT"

    def rep(op, fn, setup=None):
        best = None
        for _ in range(2):
            if setup is not None:
                setup()
            t0 = time.time()
            fn()
            sec = round(time.time() - t0, 3)
            best = sec if best is None or sec < best else best
        rec = {
            "op": op, "scale": scale, "sec": best,
            "load": round(os.getloadavg()[0], 1),
        }
        out.append(rec)
        print(json.dumps(rec), flush=True)

    rep(
        "cdf_diff_only",
        lambda: S.diff_batched(
            spark, root, 1, 2, ["k"], schema, partitioned=True
        ).write.mode("overwrite").format("noop").save(),
    )

    def run_cf():
        df = S.diff_batched_adjacent(spark, root, 1, 2, ["k"], schema)
        assert df is not None  # plain-fold window: fast path must apply
        df.write.mode("overwrite").format("noop").save()

    rep("cdf_diff_changefiles", run_cf)

    mv = f"{SCRATCH}/mv_merge_{scale}"

    def seed_merge():
        shutil.rmtree(mv, ignore_errors=True)
        S.materialize_snapshot(spark, root, mv, 1, schema, partitioned=True)

    rep(
        "cdf_mv_apply_merge",
        lambda: S.apply_change_feed(
            spark, root, mv, 2, ["k"], schema, partitioned=True
        ),
        setup=seed_merge,
    )

    mvb = f"{SCRATCH}/mv_batched_{scale}"

    def seed_batched():
        shutil.rmtree(mvb, ignore_errors=True)
        S.materialize_snapshot_batched(
            spark, root, mvb, 1, partitioned=True, schema=schema
        )

    rep(
        "cdf_mv_apply_batched",
        lambda: S.apply_change_feed_batched(
            spark, root, mvb, 2, "k", schema, partitioned=True
        ),
        setup=seed_batched,
    )

    mvc = f"{SCRATCH}/mv_batched_cf_{scale}"

    def seed_batched_cf():
        shutil.rmtree(mvc, ignore_errors=True)
        S.materialize_snapshot_batched(
            spark, root, mvc, 1, partitioned=True, schema=schema
        )

    rep(
        "cdf_mv_apply_batched_changefiles",
        lambda: S.apply_change_feed_batched(
            spark, root, mvc, 2, "k", schema, partitioned=True,
            change_files=True,
        ),
        setup=seed_batched_cf,
    )

    # r11: the TRANSFORM-window pair — a consumer lagging across a
    # steady maintenance rebucket (gen3 carries a change file).  The
    # change-file path composes the plain gen2 with the transform gen3
    # per-generation; the snapshot diff is what the same window cost
    # before (the fallback, table-bound).
    def run_cf_tw():
        df = S.diff_batched_adjacent(spark, root, 1, 3, ["k"], schema)
        assert df is not None  # transform gen has its change file
        df.write.mode("overwrite").format("noop").save()

    rep("cdf_diff_transform_window_changefiles", run_cf_tw)
    rep(
        "cdf_diff_transform_window_snapshot",
        lambda: S.diff_batched(
            spark, root, 1, 3, ["k"], schema, partitioned=True
        ).write.mode("overwrite").format("noop").save(),
    )

    mvt = f"{SCRATCH}/mv_batched_tw_{scale}"

    def seed_batched_tw():
        shutil.rmtree(mvt, ignore_errors=True)
        S.materialize_snapshot_batched(
            spark, root, mvt, 1, partitioned=True, schema=schema
        )

    rep(
        "cdf_mv_apply_batched_transform_cf",
        lambda: S.apply_change_feed_batched(
            spark, root, mvt, 3, "k", schema, partitioned=True,
            change_files=True,
        ),
        setup=seed_batched_tw,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", type=int, default=200_000)
    ap.add_argument("--large", type=int, default=6_000_000)
    args = ap.parse_args()
    from mo_etl_spark.session import get_spark

    spark = get_spark(app_name="scale_cdf")
    os.makedirs(SCRATCH, exist_ok=True)
    out: list[dict] = []
    for scale, n in (("sf01", args.small), ("sf3", args.large)):
        root = f"{SCRATCH}/tbl_{scale}"
        build_upstream(spark, root, n)
        measure(spark, root, scale, out)
    # merged summary: per-op ratio30 (large/small, fixed delta)
    ops: dict[str, dict] = {}
    for rec in out:
        cur = ops.setdefault(rec["op"], {})
        k = rec["scale"]
        if k not in cur or rec["sec"] < cur[k]:
            cur[k] = rec["sec"]
            cur[f"load_{k}"] = rec["load"]
    for op, v in ops.items():
        if v.get("sf01"):
            v["ratio30"] = round(v["sf3"] / v["sf01"], 2)
    print(json.dumps({"summary": ops}, sort_keys=True))
    shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    main()
