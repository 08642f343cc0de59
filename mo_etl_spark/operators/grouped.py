"""Grouped pandas maps, one Python call per Arrow batch (§2.10 UDF surface).

``groupBy(keys).applyInPandas(fn, schema)`` ships every group through
its own Arrow -> pandas -> Arrow round trip: for a stage of many small
groups that per-group plumbing, not ``fn``, is the cost (150 groups of
~67 rows on a 4-core host: ~8 ms per group against a 1.6 ms body).  ``grouped_pandas``
keeps the ``fn(one group's frame) -> frame`` contract but runs it inside
ONE ``mapInPandas`` over key-sorted partitions: each Arrow batch is
converted once, cut into its key runs, and the results of one batch go
back as one frame.

The module imports nothing heavier than pandas: pyspark is only
reached through the DataFrame passed in.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd

#: Spark type (``DataFrame.dtypes`` name) -> the dtype ``applyInPandas``
#: hands ``fn`` for a group with no nulls in that column.  Arrow -> pandas
#: widens a column with any null in the BATCH (ints to float64, booleans
#: to object), so a null in one group would otherwise leak into the
#: dtype of every other group of its batch.
_NULL_FREE_DTYPES = {
    "tinyint": "int8",
    "smallint": "int16",
    "int": "int32",
    "bigint": "int64",
    "boolean": "bool",
}

#: float64 holds every integer up to this magnitude exactly
_FLOAT_EXACT = 2**53


def spread_groups(df, *keys: str):
    """Pin full parallelism for a Python-compute-heavy keyed stage
    (``grouped_pandas`` and the pandas-window query
    ``udf_grouped_agg_over_window``).  AQE's partition coalescing sizes
    post-shuffle partitions by BYTES (advisory/minPartitionSize), which
    is right for JVM operators but starves a stage whose cost is
    per-row Python time — a ~3 MB events shuffle coalesced to 3-5
    partitions serializes an O(n) Python walk onto a few cores
    (measured: 5 tasks carrying 12-16 s of summed task time, wall ~4x
    the ideal).  An explicit keyed repartition to the cluster's default
    parallelism is exempt from AQE coalescing and is the stage's one
    exchange (HashPartitioning(keys, N) satisfies a keyed window's
    distribution for any N).  On a real cluster defaultParallelism is
    the executor-core total, so the pin stays scale-adaptive."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *keys)


def grouped_pandas(
    df,
    keys: str | Sequence[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
):
    """``df.groupBy(keys).applyInPandas(fn, schema)``, with Python
    called once per Arrow batch instead of once per group.

    Plan: ``spread_groups`` (one keyed exchange, not coalesced by AQE),
    ``sortWithinPartitions(keys)`` (the sort ``applyInPandas`` does
    internally), then one ``mapInPandas`` that cuts each batch into its
    key runs and calls ``fn`` once per group.  The last run of a batch
    is carried into the next one, so a group spanning batches still
    reaches ``fn`` whole.

    ``fn`` sees what ``applyInPandas`` gives it: exactly one group,
    every column of ``df``, a fresh ``RangeIndex``; null keys form
    their own group; an integral or boolean column keeps its null-free
    dtype in a group without nulls even when its batch has some.  Two
    limits follow from the batch-wide conversion: a float key's NaN and
    null both arrive as NaN and share one group, and a null-free group
    with integers beyond +-2**53 in a batch with nulls raises
    ``ValueError`` (pandas widened them to float64, which cannot hold
    them exactly).  An empty input gives an empty result of
    ``schema``."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    restore = {c: _NULL_FREE_DTYPES[t] for c, t in df.dtypes if t in _NULL_FREE_DTYPES}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            starts = _run_starts(pdf, keys)
            widened = _widened(pdf, restore)
            # the last run may continue in the next batch: hold it back
            carry = pdf.iloc[starts[-1] :]
            yield from _concat_results(
                fn(_group(pdf.iloc[a:b], widened)) for a, b in zip(starts[:-1], starts[1:])
            )
        if carry is not None:
            yield from _concat_results([fn(_group(carry, _widened(carry, restore)))])

    return spread_groups(df, *keys).sortWithinPartitions(*keys).mapInPandas(run, schema)


def _run_starts(pdf: pd.DataFrame, keys: list[str]) -> np.ndarray:
    """Row offsets where each key run of a key-sorted frame begins
    (nulls compare equal to each other)."""
    new = np.zeros(len(pdf), dtype=bool)
    new[0] = True
    for k in keys:
        col = pdf[k]
        v = col.to_numpy()
        na = col.isna().to_numpy()
        new[1:] |= ~((v[1:] == v[:-1]) | (na[1:] & na[:-1]))
    return np.flatnonzero(new)


def _widened(pdf: pd.DataFrame, restore: dict[str, str]) -> list[tuple[str, str]]:
    """The (column, null-free dtype) pairs this batch's nulls widened."""
    return [(c, dtype) for c, dtype in restore.items() if pdf[c].dtype != dtype]


def _group(rows: pd.DataFrame, widened: list[tuple[str, str]]) -> pd.DataFrame:
    """One group as ``fn`` receives it: its own copy, a fresh
    ``RangeIndex``, and widened columns without nulls cast back."""
    g = rows.reset_index(drop=True)
    for c, dtype in widened:
        col = g[c]
        if col.isna().any():
            continue
        if col.dtype.kind == "f" and np.abs(col.to_numpy()).max() > _FLOAT_EXACT:
            raise ValueError(
                f"grouped_pandas: column {c!r} holds integers beyond 2**53 in an "
                "Arrow batch with nulls; pandas widened it to float64, which "
                "cannot hold them exactly"
            )
        g[c] = col.astype(dtype)
    return g


def _concat_results(frames) -> Iterator[pd.DataFrame]:
    """One output frame per run of consecutive non-empty results with
    the same columns and dtypes (usually the whole batch): a mixed run
    would be re-typed by ``pd.concat``, where ``applyInPandas``
    converts each group's frame as it is."""
    run: list[pd.DataFrame] = []
    sig = None
    for f in frames:
        if not len(f):
            continue
        s = tuple(zip(f.columns, f.dtypes))
        if run and s != sig:
            yield _cat(run)
            run = []
        run.append(f)
        sig = s
    if run:
        yield _cat(run)


def _cat(frames: list[pd.DataFrame]) -> pd.DataFrame:
    return frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
