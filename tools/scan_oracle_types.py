"""Scan every registered DuckDB oracle for result-column types that the
driver's pandas-based canonicalizer mangles:

- HUGEINT (int128): DuckDB widens ``sum(<integer>)``; pandas renders it
  float64, so the driver's exact-representation hash differs from
  Spark's int64 even when values are equal (CORRECTNESS_r01 root cause).
- LIST / STRUCT / MAP: the driver's ``sort_values`` canonicalizer dies
  on numpy.ndarray cells (the sampled ERR).
- DECIMAL: pandas object-Decimal vs Spark float64 — representation risk.

Prints one line per offending (query, column, type) and a summary, and
with ``--emit`` writes ``mo_etl_spark/oracle_fixups.py`` containing the
static CAST map that ``oracle_sql()`` applies.

Usage: python tools/scan_oracle_types.py [--sf /root/testdata/sf0.001] [--emit]
"""

from __future__ import annotations

import argparse
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BAD_PREFIXES = ("HUGEINT", "UHUGEINT")
NESTED_MARKERS = ("[]", "STRUCT", "MAP(")


def scan(sf: str):
    import duckdb

    from mo_etl_spark.registry import all_queries
    from mo_etl_spark.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )

    hugeint: dict[str, list[str]] = defaultdict(list)
    nested: dict[str, list[str]] = defaultdict(list)
    decimal_: dict[str, list[str]] = defaultdict(list)
    errors: dict[str, str] = {}
    n_oracles = 0
    for name, spec in sorted(all_queries().items()):
        if spec.oracle is None:
            continue
        n_oracles += 1
        try:
            rel = con.sql(spec.oracle)
            cols, types = rel.columns, [str(t) for t in rel.types]
        except Exception as e:  # noqa: BLE001
            errors[name] = repr(e)[:200]
            continue
        for c, ty in zip(cols, types):
            tyu = ty.upper()
            if tyu.startswith(BAD_PREFIXES):
                hugeint[name].append(c)
            elif any(m in tyu for m in NESTED_MARKERS):
                nested[name].append(c)
            elif tyu.startswith("DECIMAL"):
                decimal_[name].append(c)
    return n_oracles, hugeint, nested, decimal_, errors


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--emit", action="store_true")
    args = ap.parse_args()

    n, hugeint, nested, decimal_, errors = scan(args.sf)
    for name, cols in sorted(hugeint.items()):
        print(f"HUGEINT  {name}: {', '.join(cols)}")
    for name, cols in sorted(nested.items()):
        print(f"NESTED   {name}: {', '.join(cols)}")
    for name, cols in sorted(decimal_.items()):
        print(f"DECIMAL  {name}: {', '.join(cols)}")
    for name, err in sorted(errors.items()):
        print(f"ERROR    {name}: {err}")
    print(
        f"\n{n} oracles: {len(hugeint)} hugeint, {len(nested)} nested, "
        f"{len(decimal_)} decimal, {len(errors)} error"
    )

    if args.emit:
        lines = [
            '"""AUTO-GENERATED by tools/scan_oracle_types.py --emit.',
            "",
            "Map of query name -> oracle result columns that DuckDB types as",
            "HUGEINT (int128).  ``oracle_sql()`` wraps these with",
            "``SELECT * REPLACE (CAST(col AS BIGINT) AS col)`` so the driver's",
            "pandas canonicalizer sees int64 on both engines.",
            '"""',
            "",
            "BIGINT_CASTS: dict[str, tuple[str, ...]] = {",
        ]
        for name, cols in sorted(hugeint.items()):
            lines.append(f"    {name!r}: {tuple(cols)!r},")
        lines.append("}")
        from mo_etl_spark.session import ENGINE_ROOT

        out = os.path.join(ENGINE_ROOT, "mo_etl_spark", "oracle_fixups.py")
        with open(out, "w") as f:
            f.write("\n".join(lines) + "\n")
        print(f"wrote {out} ({len(hugeint)} entries)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
