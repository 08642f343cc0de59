"""Regenerate INVENTORY.md: the query-by-query contract map (name ->
SURVEY.md §2 operator tags -> oracle status -> one-line description
from the query docstring).  Run after adding queries:

    python tools/gen_inventory.py > INVENTORY.md
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from mo_etl_spark.registry import all_queries

    qs = all_queries()
    lines = [
        "# INVENTORY — driver-contract queries (generated by tools/gen_inventory.py)",
        "",
        f"{len(qs)} queries; oracle column: SQL = DuckDB-hash-checked, "
        "rows = rows-only (sketch/stream-only by design).",
        "",
        "| Query | Oracle | §2 operator tags | What it proves |",
        "|---|---|---|---|",
    ]
    for name in sorted(qs):
        spec = qs[name]
        doc_lines = (spec.fn.__doc__ or "").strip().splitlines() or [""]
        doc = doc_lines[0].rstrip(".")
        oracle = "SQL" if spec.oracle else "rows"
        tags = ", ".join(spec.tags) or "—"
        lines.append(f"| `{name}` | {oracle} | {tags} | {doc} |")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
