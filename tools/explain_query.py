"""Dump .explain('formatted') for named queries to files (guide §7.2).

Used to produce plans/r11/<query>_{before,after}.txt. For streaming
lifecycle queries the captured plan is the returned DataFrame's (the
final serve/summary read over the state the stream built) — the
in-trigger plans are exercised by running the query function itself.

Usage: python tools/explain_query.py --out plans/r11 --suffix before name...
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--out", default="plans/r11")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    os.makedirs(args.out, exist_ok=True)
    import __spark_entry__ as entrymod
    from mo_etl_spark.session import get_spark

    spark = get_spark(app_name="explain")
    qs = entrymod.queries()
    for name in args.names:
        df = qs[name](spark, args.sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
