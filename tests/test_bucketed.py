"""Bucketed-table tests: the zero-shuffle co-located join contract.

The plan assertion is the point — at 100 TB a bucket-aware join reads
co-located files with no Exchange, while the same join over plain
parquet shuffles both sides every run."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skopje_spark.plans import num_shuffles, plan_text
from skopje_spark.sinks.bucketed import bucketed_join, write_bucketed


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    orders = spark.range(2000).select(
        F.col("id").alias("o_key"), (F.col("id") % 7).alias("o_flag")
    )
    lines = spark.range(6000).select(
        (F.col("id") % 2000).alias("o_key"), (F.col("id") % 13).alias("qty")
    )
    write_bucketed(orders, "t_orders_bkt", "o_key", n_buckets=4)
    write_bucketed(lines, "t_lines_bkt", "o_key", n_buckets=4)
    yield "t_orders_bkt", "t_lines_bkt"
    for t in ("t_orders_bkt", "t_lines_bkt"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_join_has_zero_shuffles(spark, bucketed_tables):
    lt, rt = bucketed_tables
    joined = bucketed_join(spark, lt, rt, "o_key")
    assert num_shuffles(joined) == 0, plan_text(joined)
    # and it's the sort-merge path, not a hidden broadcast
    assert "SortMergeJoin" in plan_text(joined)


def test_unbucketed_same_join_shuffles_both_sides(spark):
    # 4 source partitions, like the 4 buckets: on one core a
    # single-partition source needs no exchange at all
    a = spark.range(0, 2000, 1, 4).select(F.col("id").alias("o_key")).hint("merge")
    b = spark.range(0, 6000, 1, 4).select((F.col("id") % 2000).alias("o_key"))
    joined = a.join(b, "o_key")
    # same join shape over unbucketed sources: exchanges on both sides
    assert num_shuffles(joined) >= 2


def test_bucketed_join_rows_match_plain_join(spark, bucketed_tables):
    lt, rt = bucketed_tables
    got = (
        bucketed_join(spark, lt, rt, "o_key")
        .groupBy("o_flag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("qty").alias("s"))
        .collect()
    )
    orders = spark.range(2000).select(
        F.col("id").alias("o_key"), (F.col("id") % 7).alias("o_flag")
    )
    lines = spark.range(6000).select(
        (F.col("id") % 2000).alias("o_key"), (F.col("id") % 13).alias("qty")
    )
    want = (
        orders.join(lines, "o_key")
        .groupBy("o_flag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("qty").alias("s"))
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_bucketed_aggregation_reuses_bucketing(spark, bucketed_tables):
    """groupBy on the bucket key of a bucketed table needs no exchange
    either — partial+final agg collapse into one colocated pass."""
    _, rt = bucketed_tables
    agg = spark.table(rt).groupBy("o_key").agg(F.sum("qty").alias("s"))
    assert num_shuffles(agg) == 0, plan_text(agg)
