"""SCALE_r11 addendum (schema evolution): rename/drop cost at 1x vs
30x table size, min of 2 reps, loadavg recorded.

- evolve_metadata_only: evolve_schema(rename) — the metadata-only
  commit (per-dir footer reads + one manifest PUT).  The claim is
  FLAT: cost tracks live-dir count, not rows.
- read_evolved_agg vs read_plain_agg: full-table aggregate through
  read_batched_evolved vs the plain partitioned read — both
  table-linear; the ratio documents the per-dir op application
  overhead (should be ~1x).
- evolve_normalize_fold: the physical rewrite the metadata op AVOIDS
  — table-linear by construction; the number documents why
  metadata-only evolution matters at 100 TB.

Usage: python tools/scale_evolve.py [--small 500000] [--large 15000000]
Prints one JSON line per (op, scale) plus a merged summary.
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

#: this tool's tables; removed when the run ends
SCRATCH = os.path.join(ENGINE_ROOT, ".scratch", "scale_evolve")


def build(spark, root: str, n: int) -> None:
    from pyspark.sql import functions as F

    from mo_etl_spark import streaming as S

    shutil.rmtree(root, ignore_errors=True)
    S.idempotent_batch_write(
        spark.range(n).select(
            F.col("id").alias("k"),
            (F.col("id") * 7).alias("v"),
            F.pmod("id", F.lit(32)).alias("ib"),
        ),
        root, 0, partition_cols=["ib"],
    )
    S.compact_batched(
        spark, root, min_dirs=0, partition_cols=["ib"], gc_grace_sec=3600.0
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", type=int, default=500_000)
    ap.add_argument("--large", type=int, default=15_000_000)
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from mo_etl_spark import streaming as S
    from mo_etl_spark.session import get_spark

    spark = get_spark(app_name="scale_evolve", shuffle_partitions=32)
    out: dict[str, dict] = {}
    scales = [("small", args.small), ("large", args.large)]
    for label, n in scales:
        times: dict[str, float] = {}
        for rep in range(args.reps):
            root = f"{SCRATCH}/{label}_{rep}"
            build(spark, root, n)
            t0 = time.time()
            S.evolve_schema(spark, root, rename={"v": "w"})
            t_meta = time.time() - t0
            sch = "k BIGINT, w BIGINT, ib BIGINT"
            t0 = time.time()
            S.read_batched_evolved(spark, root, sch).agg(
                F.count(F.lit(1)), F.sum("w")
            ).collect()
            t_ev = time.time() - t0
            t0 = time.time()
            S.read_batched(
                spark, root, partitioned=True,
                schema="k BIGINT, v BIGINT, ib BIGINT",
            ).agg(F.count(F.lit(1)), F.sum("k")).collect()
            t_plain = time.time() - t0
            t0 = time.time()
            S.compact_batched(
                spark, root, min_dirs=0, partition_cols=["ib"],
                gc_grace_sec=3600.0,
                transform=S.normalize_schema_transform(root),
            )
            t_norm = time.time() - t0
            for k, v in (
                ("evolve_metadata_only", t_meta),
                ("read_evolved_agg", t_ev),
                ("read_plain_agg", t_plain),
                ("evolve_normalize_fold", t_norm),
            ):
                times[k] = min(times.get(k, 1e9), v)
            shutil.rmtree(root, ignore_errors=True)
        load = os.getloadavg()[0]
        for k, v in times.items():
            rec = out.setdefault(k, {})
            rec[f"{label}_sec"] = round(v, 3)
            rec[f"load_{label}"] = round(load, 1)
            print(json.dumps({"op": k, "scale": label, "sec": round(v, 3)}))
    for k, rec in out.items():
        if rec.get("small_sec"):
            rec["ratio30"] = round(rec["large_sec"] / rec["small_sec"], 2)
    print(json.dumps({"ops": out}))
    shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    main()
