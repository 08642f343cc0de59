"""jx output formats (list/table/cube) and the fluent Q surface."""

from __future__ import annotations

import pytest

from mo_etl_spark.jx import Q, jx_run
from mo_etl_spark.jx.formats import format_cube, format_table


@pytest.fixture(scope="module")
def sales(spark):
    return spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 3), ("b", "x", 4)],
        "shop string, item string, qty int",
    )


def test_format_table(sales):
    df = jx_run({"from": sales, "select": ["shop", "qty"], "sort": ["shop", "qty"]})
    out = format_table(df)
    assert out["header"] == ["shop", "qty"]
    assert out["data"] == [["a", 1], ["a", 2], ["b", 3], ["b", 4]]


def test_format_cube_complete(spark, sales):
    df = jx_run(
        {
            "from": sales,
            "edges": ["shop", "item"],
            "select": [{"name": "n", "aggregate": "count"},
                       {"name": "total", "value": "qty", "aggregate": "sum"}],
        },
        spark=spark,
    )
    cube = format_cube(df, ["shop", "item"], ["n", "total"])
    shops = cube["edges"][0]["domain"]["partitions"]
    items = cube["edges"][1]["domain"]["partitions"]
    assert shops == ["a", "b"] and items == ["x", "y"]
    # dense matrices incl. the empty (b, y) part
    assert cube["data"]["n"] == [[1, 1], [2, 0]]
    assert cube["data"]["total"] == [[1, 2], [7, None]]


def test_fluent_chain(sales):
    out = (
        Q(sales)
        .where({"gt": ["qty", 1]})
        .groupby("shop")
        .select({"name": "n", "aggregate": "count"},
                {"name": "total", "value": "qty", "aggregate": "sum"})
        .sort("shop")
        .run()
    )
    assert out == [
        {"shop": "a", "n": 1, "total": 2},
        {"shop": "b", "n": 2, "total": 7},
    ]


def test_fluent_where_conjunction(sales):
    df = Q(sales).where({"eq": {"shop": "b"}}).where({"gt": ["qty", 3]}).df()
    assert [r["qty"] for r in df.collect()] == [4]


def test_fluent_is_immutable(sales):
    base = Q(sales).groupby("shop").select({"name": "n", "aggregate": "count"})
    a = base.sort("shop").limit(1)
    assert base.query().get("limit") is None
    assert a.query()["limit"] == 1


def test_zstd_codec_lands_in_parquet_metadata(spark, sf_dir):
    """The compression option must actually reach the files: every
    column chunk of the zstd sink reports ZSTD."""
    import glob

    import pyarrow.parquet as pq

    from mo_etl_spark.suites.sources import sink_parquet_zstd
    from mo_etl_spark.tables import cache_path

    sink_parquet_zstd(spark, sf_dir).collect()
    files = glob.glob(cache_path(sf_dir, "orders_zstd") + "/*.parquet")
    assert files
    md = pq.ParquetFile(files[0]).metadata
    codecs = {
        md.row_group(rg).column(c).compression
        for rg in range(md.num_row_groups)
        for c in range(md.num_columns)
    }
    assert codecs == {"ZSTD"}
