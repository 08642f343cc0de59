"""Local oracle-parity harness mimicking the driver's t2 gate.

Runs every registered query on Spark AND its DuckDB oracle twin on the
same parquet, compares row count, column-name set, and an
order-insensitive multiset of canonicalized rows (columns sorted by
name — same convention as the driver).  REPRESENTATION-EXACT: both
sides go through pandas (``toPandas()`` / ``.df()``) and cell values
keep their type tag (int vs float vs bool vs str), so a DuckDB HUGEINT
rendered as float64 fails here exactly as it fails the driver
(CORRECTNESS_r01 root cause; VERDICT r1 item #2 demanded this).
Float mismatches are still *reported* with max-abs-diff to speed
diagnosis, but they are failures — no tolerance.

Before the timed loop the first listed query runs once untimed, so
session and JIT warm-up land in the summary's ``warmup_s`` instead of
that query's ``sec``.

Usage:
    python tools/check.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import datetime as dt
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd


def canon_cell(v):
    """Type-tagged canonical form: int vs float vs bool stay distinct."""
    if v is None:
        return ("null",)
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return ("null",)  # pandas numeric-null convention
        return ("f", v)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, pd.Timestamp):
        return ("t", v.isoformat())
    if isinstance(v, dt.datetime):
        return ("t", pd.Timestamp(v).isoformat())
    if isinstance(v, dt.date):
        return ("d", v.isoformat())
    if isinstance(v, (bytes, bytearray)):
        return ("y", bytes(v).hex())
    if isinstance(v, dt.timedelta):
        return ("td", v.total_seconds())
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return ("dec", str(v))
    except Exception:
        pass
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("a", tuple(canon_cell(x) for x in v))
    if isinstance(v, dict):
        return ("m", tuple(sorted((k, canon_cell(x)) for k, x in v.items())))
    if v is pd.NaT:
        return ("null",)
    return ("o", repr(v))


def canon_pdf(pdf: pd.DataFrame):
    cols = sorted(pdf.columns)
    sub = pdf[cols]
    rows = [tuple(canon_cell(v) for v in rec) for rec in sub.itertuples(index=False)]
    rows.sort(key=repr)
    return cols, rows


def float_distance(a, b):
    """None if rows differ non-numerically; else max abs float diff."""
    if a == b:
        return 0.0
    if (
        isinstance(a, tuple)
        and isinstance(b, tuple)
        and len(a) == len(b)
        and len(a) > 0
        and not isinstance(a[0], str)
    ):
        ds = [float_distance(x, y) for x, y in zip(a, b)]
        return None if any(d is None for d in ds) else max(ds, default=0.0)
    if (
        isinstance(a, tuple)
        and isinstance(b, tuple)
        and len(a) == 2
        and len(b) == 2
        and a[0] in ("f", "i")
        and b[0] in ("f", "i")
        and a[0] == b[0]
    ):
        try:
            return abs(float(a[1]) - float(b[1]))
        except Exception:
            return None
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--driver-default",
        action="store_true",
        help="run under a PLAIN SparkSession.builder session (Spark-4 "
        "defaults: ANSI on, unknown timezone/conf state) — the gate "
        "proving every query normalizes any session it is handed",
    )
    ap.add_argument(
        "--json",
        default=None,
        help="also write per-query results to this JSON file "
        "(committed as CHECK_r{N}.json evidence)",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entrymod
    from mo_etl_spark.session import get_spark
    from mo_etl_spark.tables import TABLES

    if args.driver_default:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").appName("check-dd").getOrCreate()
    else:
        spark = get_spark(app_name="check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or list(qs)

    # one untimed run of the first query takes session and JIT warm-up
    # out of the per-query `sec` of whichever query happens to run first
    t0 = time.time()
    if names:
        try:
            qs[names[0]](spark, args.sf).toPandas()
        except Exception:
            pass  # the timed loop reports it
    warmup_s = round(time.time() - t0, 2)

    n_pass = n_fail = n_rows_only = 0
    failures = []
    results: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf)
            spdf = sdf.toPandas()
        except Exception:
            print(f"FAIL  {name}: spark raised")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            results[name] = {"status": "FAIL", "problems": ["spark raised"]}
            continue
        if name not in oracles:
            print(f"ROWS  {name}: rows={len(spdf)} (no oracle) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            results[name] = {"status": "ROWS", "rows": len(spdf)}
            continue
        try:
            dpdf = con.sql(oracles[name]).df()
        except Exception:
            print(f"FAIL  {name}: duckdb raised")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            results[name] = {"status": "FAIL", "problems": ["duckdb raised"]}
            continue

        problems = []
        if len(spdf) != len(dpdf):
            problems.append(f"rowcount spark={len(spdf)} duckdb={len(dpdf)}")
        if sorted(spdf.columns) != sorted(dpdf.columns):
            problems.append(
                f"cols spark={sorted(spdf.columns)} duckdb={sorted(dpdf.columns)}"
            )
        if not problems:
            _, cs = canon_pdf(spdf)
            _, cd = canon_pdf(dpdf)
            if cs != cd:
                maxdiff, first = 0.0, None
                for i, (a, b) in enumerate(zip(cs, cd)):
                    if a != b:
                        d = float_distance(a, b)
                        if d is None:
                            first = (i, a, b)
                            maxdiff = None
                            break
                        maxdiff = max(maxdiff, d)
                if maxdiff is not None:
                    problems.append(f"float mismatch max_abs_diff={maxdiff:.3g}")
                else:
                    i, a, b = first or (0, cs[0] if cs else (), cd[0] if cd else ())
                    problems.append(
                        f"value mismatch at sorted-row {i}:\n"
                        f"  spark : {a!r}\n  duckdb: {b!r}"
                    )
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_fail += 1
            failures.append(name)
            results[name] = {
                "status": "FAIL",
                "rows": len(spdf),
                "problems": problems,
                "sec": round(time.time() - t0, 2),
            }
        else:
            print(f"PASS  {name}: rows={len(spdf)} [{time.time()-t0:.1f}s]")
            n_pass += 1
            results[name] = {
                "status": "PASS",
                "rows": len(spdf),
                "sec": round(time.time() - t0, 2),
            }

    print(
        f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail of {len(names)}"
        f" (warm-up {warmup_s}s)"
    )
    if failures:
        print("failures:", " ".join(failures))
    if args.json:
        import json

        with open(args.json, "w") as f:
            json.dump(
                {
                    "sf": args.sf,
                    "session": "driver-default" if args.driver_default else "engine",
                    "n_pass": n_pass,
                    "n_fail": n_fail,
                    "n_rows_only": n_rows_only,
                    "n_total": len(names),
                    "warmup_s": warmup_s,
                    "failures": failures,
                    "queries": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {args.json}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
