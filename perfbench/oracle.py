"""Result check against each query's DuckDB oracle twin.

Both sides are converted to pandas and compared as the repository's
parity gate, ``tools/check.py``, compares them: row count, column names
and the sorted rows of its type-tagged canonical cells (``canon_pdf``),
so an int rendered as a float is a mismatch.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import pandas as pd


def load_canon_pdf(root: str):
    """``canon_pdf`` of the parity gate in the repository at ``root``.

    check.py puts its own repository root first on ``sys.path`` when it
    is imported; the path is restored, so the engine already imported
    from ``root`` stays the one every later import sees."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_parity_gate", os.path.join(root, "tools", "check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod.canon_pdf


class Oracle:
    """DuckDB views over the fixture tables plus the registered twins."""

    def __init__(self, root: str, sf_dir: str, tables, oracle_sql: dict[str, str]):
        import duckdb

        self._canon_pdf = load_canon_pdf(root)
        self._con = duckdb.connect()
        for t in tables:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        self._sql = oracle_sql

    def mismatch(self, name: str, spark_pdf: pd.DataFrame) -> str | None:
        """None when the Spark result equals the oracle's, else why not."""
        want = self._con.sql(self._sql[name]).df()
        if len(spark_pdf) != len(want):
            return f"rows spark={len(spark_pdf)} oracle={len(want)}"
        got_cols, got_rows = self._canon_pdf(spark_pdf)
        want_cols, want_rows = self._canon_pdf(want)
        if got_cols != want_cols:
            return f"columns spark={got_cols} oracle={want_cols}"
        if got_rows != want_rows:
            return "row values differ"
        return None

    def close(self) -> None:
        self._con.close()
