"""Bucketed co-located joins: same-key same-count bucketed tables must
join with ZERO shuffle exchanges (the on-disk hash layout replaces the
Exchange) — asserted on the physical plan, broadcast disabled so the
test can't pass by broadcasting."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, explain, shuffles
from timeseries_spark.sources.io import write_bucketed


@pytest.fixture(scope="module")
def bucketed(spark):
    # managed tables land in the session's default warehouse (static conf);
    # gitignored and dropped after the module
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    write_bucketed(orders, "orders_b", "o_custkey", 8, sort_cols="o_custkey")
    write_bucketed(
        customer, "customer_b", "c_custkey", 8, sort_cols="c_custkey"
    )
    yield spark.table("orders_b"), spark.table("customer_b")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS customer_b")


def test_bucketed_join_has_no_shuffle(spark, bucketed):
    orders_b, customer_b = bucketed
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = orders_b.join(
            customer_b, orders_b.o_custkey == customer_b.c_custkey
        ).groupBy("c_mktsegment").count()
        p = explain(joined)
        # join itself: no Exchange before the SortMergeJoin inputs; the
        # only allowed exchange is the downstream groupBy's
        assert "SortMergeJoin" in p
        assert shuffles(p) <= 1  # groupBy only — zero for the join
        # correctness unchanged vs the unbucketed plan
        plain = (
            spark.read.parquet(f"{SF_DIR}/orders.parquet")
            .join(
                spark.read.parquet(f"{SF_DIR}/customer.parquet"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .groupBy("c_mktsegment")
            .count()
        )
        assert {tuple(r) for r in joined.collect()} == {
            tuple(r) for r in plain.collect()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_groupby_has_no_shuffle(spark, bucketed):
    """Aggregation on the bucket key also elides its Exchange."""
    orders_b, _ = bucketed
    agg = orders_b.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("s"))
    p = explain(agg)
    assert (p.count("Exchange") - p.count("BroadcastExchange")) == 0
