"""Bucketed co-located joins: both sides bucketed on the join key must
join WITHOUT any shuffle exchange — the physical plan is the proof."""

import pytest
from pyspark.sql import functions as F

from opl_spark.plans import formatted_plan
from opl_spark.sources import load_table
from opl_spark.sources.bucketing import write_bucketed


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    loc = tmp_path_factory.mktemp("bucketed")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bktest LOCATION '{loc}'")
    orders = load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "custkey"
    )
    customer = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "custkey"
    )
    write_bucketed(orders, "bktest.orders_b", "custkey", num_buckets=8)
    write_bucketed(customer, "bktest.customer_b", "custkey", num_buckets=8)
    yield "bktest.orders_b", "bktest.customer_b"
    spark.sql("DROP DATABASE bktest CASCADE")


def test_bucketed_join_has_no_exchange(spark, sf_dir, bucketed_tables):
    left, right = bucketed_tables
    # at test scale Catalyst prefers broadcasting the tiny side (which
    # is right, but hides the layout) — force the sort-merge path the
    # bucketing exists for at 100 TB
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(left).join(spark.table(right), ["custkey"])
        agg = joined.groupBy("c_mktsegment").agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total")
        )
        plan = formatted_plan(joined)
        # the join itself must be exchange-free: both sides arrive
        # pre-hash-partitioned by the bucket layout
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # correctness: identical to the unbucketed join
    plain = (
        load_table(spark, sf_dir, "orders")
        .join(
            load_table(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total"))
    )
    assert sorted(map(tuple, agg.collect())) == sorted(map(tuple, plain.collect()))
