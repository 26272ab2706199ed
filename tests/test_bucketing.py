"""Bucketed-table co-location: a join between two tables bucketed on
the same key with the same bucket count must plan WITHOUT any shuffle
exchange — the 100 TB repeated-join strategy (write once bucketed,
join/aggregate forever shuffle-free)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from svs_spark.operators.bucketing import (
    colocated_join,
    join_is_shuffle_free,
    write_bucketed_table,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    wh = tmp_path_factory.mktemp("bucketed_wh")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity", "l_extendedprice"
    )
    write_bucketed_table(orders, "b_orders", "o_orderkey", 8,
                         sort_by="o_orderkey", path=str(wh / "b_orders"))
    write_bucketed_table(lineitem, "b_lineitem", "o_orderkey", 8,
                         sort_by="o_orderkey", path=str(wh / "b_lineitem"))
    yield "b_orders", "b_lineitem"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_colocated_join_no_shuffle(spark, bucketed_tables):
    lt, rt = bucketed_tables
    j = colocated_join(spark, lt, rt, "o_orderkey")
    assert join_is_shuffle_free(j), (
        j._jdf.queryExecution().executedPlan().toString()[:2000]
    )


def test_colocated_join_correct(spark, bucketed_tables):
    lt, rt = bucketed_tables
    j = colocated_join(spark, lt, rt, "o_orderkey")
    plain = spark.read.parquet(f"{SF_DIR}/orders.parquet").join(
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
            F.col("l_orderkey").alias("o_orderkey"), "l_quantity",
            "l_extendedprice",
        ),
        "o_orderkey",
    )
    assert j.count() == plain.count()


def test_bucketed_aggregation_no_shuffle(spark, bucketed_tables):
    """groupBy on the bucket key also skips the exchange."""
    _, rt = bucketed_tables
    agg = spark.table(rt).groupBy("o_orderkey").agg(
        F.sum("l_quantity").alias("q")
    )
    assert join_is_shuffle_free(agg), (
        agg._jdf.queryExecution().executedPlan().toString()[:2000]
    )


class TestWarehouseBucketedLayout:
    """A bucketed warehouse table stays bucketed for its whole life —
    empty or not — and bucket rewrites refuse a plain table."""

    def test_empty_bucketed_table_is_readable(self, spark, tmp_path):
        from svs_spark.sources.warehouse import Warehouse

        wh = Warehouse(spark, str(tmp_path / "wh"))
        empty = spark.createDataFrame([], "k long, payload string")
        wh.write_bucketed("t", empty, "k", 8)
        assert wh.bucket_meta("t") == {"key_col": "k", "n_buckets": 8}
        got = wh.read("t")
        assert got.count() == 0 and got.columns == ["k", "payload"]
        wh.overwrite_buckets(
            "t", [3], spark.createDataFrame([(3, "a")], "k long, payload string")
        )
        assert [tuple(r) for r in wh.read("t").collect()] == [(3, "a")]

    def test_overwrite_every_bucket_empty_keeps_layout(self, spark, tmp_path):
        from svs_spark.sources.warehouse import Warehouse

        wh = Warehouse(spark, str(tmp_path / "wh"))
        rows = spark.createDataFrame([(1, "a"), (2, "b")], "k long, payload string")
        wh.write_bucketed("t", rows, "k", 8)
        wh.overwrite_buckets("t", [1, 2], rows.limit(0))
        assert wh.bucket_meta("t") == {"key_col": "k", "n_buckets": 8}
        assert wh.read("t").count() == 0
        assert wh.read_buckets("t", [1]).count() == 0

    def test_overwrite_buckets_on_plain_table_raises(self, spark, tmp_path):
        from svs_spark.sources.warehouse import Warehouse

        wh = Warehouse(spark, str(tmp_path / "wh"))
        rows = spark.createDataFrame([(1, "a")], "k long, payload string")
        wh.write("t", rows)
        with pytest.raises(ValueError, match="not bucketed"):
            wh.overwrite_buckets("t", [1], rows)
        assert [tuple(r) for r in wh.read("t").collect()] == [(1, "a")]
