"""Skew mitigation operators: salted results must equal unsalted results
exactly (sums, counts, multiset of collected values, join output)."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from timeseries_spark.operators.skew import (
    salted_collect_list,
    salted_join,
    salted_sum,
)


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet")


def test_salted_sum_matches_plain(lineitem):
    plain = {
        r["l_returnflag"]: (r["n"], round(r["s"], 6))
        for r in lineitem.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("s"))
        .collect()
    }
    salted = {
        r["l_returnflag"]: (r["n"], round(r["l_quantity_sum"], 6))
        for r in salted_sum(
            lineitem, ["l_returnflag"], ["l_quantity"], buckets=8
        ).collect()
    }
    assert plain == salted


def test_salted_collect_list_same_multiset(lineitem):
    plain = {
        r["l_returnflag"]: sorted(r["v"])
        for r in lineitem.groupBy("l_returnflag")
        .agg(F.collect_list("l_quantity").alias("v"))
        .collect()
    }
    salted = {
        r["l_returnflag"]: sorted(r["values"])
        for r in salted_collect_list(
            lineitem, ["l_returnflag"], "l_quantity", buckets=8
        ).collect()
    }
    assert plain == salted


def test_salted_join_matches_plain(spark, lineitem):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    plain = (
        lineitem.join(orders, "l_orderkey")
        .groupBy("o_orderpriority")
        .count()
        .collect()
    )
    salted = (
        salted_join(lineitem, orders, ["l_orderkey"], buckets=4)
        .groupBy("o_orderpriority")
        .count()
        .collect()
    )
    assert {tuple(r) for r in plain} == {tuple(r) for r in salted}


def test_salted_join_left_keeps_unmatched(spark, lineitem):
    some_orders = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .filter(F.col("o_orderkey") % 2 == 0)
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    )
    out = salted_join(lineitem, some_orders, ["l_orderkey"], buckets=4, how="left")
    assert out.count() == lineitem.count()
    assert out.filter(F.col("o_orderpriority").isNull()).count() > 0
