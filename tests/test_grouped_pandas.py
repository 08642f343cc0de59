"""``grouped_pandas`` equals ``groupBy(keys).applyInPandas(fn, schema)``.

Each case runs the wrapper and the stock grouped map on the same data
and compares the sorted rows.  Every ``fn`` is a nested function, so
the workers receive it by value (they cannot import a test module).
"""

from __future__ import annotations

import pytest

from mo_etl_spark.operators.grouped import grouped_pandas


def _both(df, keys, fn, schema):
    keys = [keys] if isinstance(keys, str) else keys
    got = grouped_pandas(df, keys, fn, schema).collect()
    want = df.groupBy(*keys).applyInPandas(fn, schema).collect()
    return sorted(got, key=repr), sorted(want, key=repr)


@pytest.fixture
def small_batches(spark):
    """Arrow batches of 3 rows: most groups below span batches."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "3")
    yield
    spark.conf.set(conf, old)


def _summary():
    """fn giving one row per group: key, size, id sum, and the ids seen."""

    def fn(pdf):
        import pandas as pd

        return pd.DataFrame(
            {
                "k": [pdf["k"].iloc[0]],
                "n": [len(pdf)],
                "s": [int(pdf["id"].sum())],
                "ids": [",".join(str(i) for i in sorted(pdf["id"]))],
            }
        )

    return fn


_SUMMARY = "k long, n long, s long, ids string"


def test_groups_spanning_batches_and_null_key(spark, small_batches):
    # group sizes 1..12 (k = 0..11) plus 5 rows with a null key, over
    # 3-row batches: runs are cut mid-group and carried over, the null
    # group among them
    df = spark.range(78 + 5).selectExpr(
        "CASE WHEN id >= 78 THEN NULL "
        "ELSE CAST(floor((sqrt(8 * id + 1) - 1) / 2) AS BIGINT) END AS k",
        "id",
    )
    got, want = _both(df, "k", _summary(), _SUMMARY)
    assert got == want
    assert len(got) == 13
    null = [r for r in got if r.k is None]
    assert len(null) == 1 and null[0].n == 5


def test_null_key_is_its_own_group(spark):
    df = spark.createDataFrame(
        [(None, 1), (1, 2), (None, 3), (2, 4), (1, 5), (None, 6)], "k long, id long"
    )
    got, want = _both(df, "k", _summary(), _SUMMARY)
    assert got == want
    assert [(r.k, r.n) for r in got if r.k is None] == [(None, 3)]


def test_two_column_key(spark, small_batches):
    df = spark.range(60).selectExpr("id % 3 AS a", "CAST(id % 4 AS INT) AS b", "id")

    def fn(pdf):
        import pandas as pd

        return pd.DataFrame(
            {"a": [pdf["a"].iloc[0]], "b": [pdf["b"].iloc[0]], "n": [len(pdf)],
             "s": [int(pdf["id"].sum())]}
        )

    got, want = _both(df, ["a", "b"], fn, "a long, b int, n long, s long")
    assert got == want
    assert len(got) == 12 and all(r.n == 5 for r in got)


def test_empty_input(spark):
    df = spark.range(10).selectExpr("id % 2 AS k", "id").where("id < 0")
    out = grouped_pandas(df, "k", _summary(), _SUMMARY)
    assert out.collect() == []
    assert out.schema == df.groupBy("k").applyInPandas(_summary(), _SUMMARY).schema


def test_fn_returning_empty_frames(spark, small_batches):
    df = spark.range(40).selectExpr("id % 7 AS k", "id")

    def fn(pdf):
        import pandas as pd

        if pdf["k"].iloc[0] % 2:
            return pd.DataFrame()
        return pdf.assign(n=len(pdf))[["k", "id", "n"]]

    got, want = _both(df, "k", fn, "k long, id long, n long")
    assert got == want
    assert {r.k for r in got} == {0, 2, 4, 6}


def test_bigint_keeps_int64_beside_a_null_group(spark):
    """A BIGINT null in one group widens the whole Arrow batch to
    float64; every other group must still see int64, as with
    applyInPandas, and the null group float64."""
    df = spark.range(400).selectExpr(
        "id % 40 AS k", "CASE WHEN id = 17 THEN NULL ELSE id END AS v",
        "id % 3 = 0 AS flag",
    ).union(spark.createDataFrame([(5, 5, None)], "k long, v long, flag boolean"))

    def fn(pdf):
        import pandas as pd

        return pd.DataFrame(
            {"k": [pdf["k"].iloc[0]], "v_dtype": [str(pdf["v"].dtype)],
             "flag_dtype": [str(pdf["flag"].dtype)]}
        )

    got, want = _both(df, "k", fn, "k long, v_dtype string, flag_dtype string")
    assert got == want
    assert {(r.k, r.v_dtype) for r in got if r.v_dtype != "int64"} == {(17, "float64")}
    assert {(r.k, r.flag_dtype) for r in got if r.flag_dtype != "bool"} == {(5, "object")}


def test_bigint_beyond_float_precision_beside_a_null_group_raises(spark):
    """float64 cannot give those groups their exact BIGINTs back:
    the wrapper raises rather than hand ``fn`` rounded values."""
    df = spark.range(400).selectExpr(
        "id % 40 AS k", "CASE WHEN id = 17 THEN NULL ELSE id + (1L << 60) END AS v"
    )

    def fn(pdf):
        return pdf[["k"]].head(1)

    with pytest.raises(Exception, match=r"beyond 2\*\*53"):
        grouped_pandas(df, "k", fn, "k long").collect()


def test_results_of_mixed_dtypes_keep_their_values(spark):
    """One group returns its BIGINT column as float64 (a null), the
    others as int64 beyond 2**53: concatenating them would round the
    int64 values, where applyInPandas converts each frame as it is."""
    df = spark.range(40).selectExpr("id AS k")

    def fn(pdf):
        import numpy as np
        import pandas as pd

        k = int(pdf["k"].iloc[0])
        return pd.DataFrame({"k": [k], "v": [np.nan if k == 17 else (1 << 60) + k]})

    got, want = _both(df, "k", fn, "k long, v long")
    assert got == want
    assert {r.k: r.v for r in got}[3] == (1 << 60) + 3


def test_fn_sees_a_fresh_range_index(spark):
    # default batches: most groups start mid-batch
    df = spark.range(400).selectExpr("id % 40 AS k", "id")

    def fn(pdf):
        import pandas as pd

        ok = isinstance(pdf.index, pd.RangeIndex) and pdf.index.equals(pd.RangeIndex(len(pdf)))
        return pd.DataFrame({"k": [pdf["k"].iloc[0]], "ok": [ok]})

    got, want = _both(df, "k", fn, "k long, ok boolean")
    assert got == want
    assert all(r.ok for r in got)
