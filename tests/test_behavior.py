"""Behavior analytics: strict-order funnels + retention cohorts —
order semantics on hand-checkable fixtures and keyed plan shapes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from timeseries_spark.operators.behavior import funnel_counts, retention_cohorts


def test_funnel_strict_order_semantics(spark):
    rows = [
        # u1 converts fully in order
        (1, "view", 10), (1, "click", 20), (1, "purchase", 30),
        # u2 clicked BEFORE their first view -> stops at view
        (2, "click", 5), (2, "view", 10),
        # u3 views only
        (3, "view", 10),
        # u4 purchases with no view at all -> not even stage 1
        (4, "purchase", 10),
        # u5: second click after view counts even though first was before
        (5, "click", 1), (5, "view", 2), (5, "click", 3),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts long")
    out = funnel_counts(
        df, "user_id", "event_type", "ts", ["view", "click", "purchase"]
    ).collect()[0]
    assert out["n_view"] == 4          # u1 u2 u3 u5
    assert out["n_click"] == 2         # u1, u5 (u2's click precedes view)
    assert out["n_purchase"] == 1      # u1
    assert out["rate_click"] == 0.5
    assert out["rate_purchase"] == 0.5
    with pytest.raises(ValueError):
        funnel_counts(df, "user_id", "event_type", "ts", ["view"])
    with pytest.raises(ValueError):
        funnel_counts(df, "user_id", "event_type", "ts", ["view", "view"])


def test_funnel_empty_stage_rate_null(spark):
    df = spark.createDataFrame(
        [(1, "view", 10)], "user_id long, event_type string, ts long"
    )
    out = funnel_counts(
        df, "user_id", "event_type", "ts", ["view", "click"]
    ).collect()[0]
    assert out["n_view"] == 1 and out["n_click"] == 0
    assert out["rate_click"] == 0.0


def test_retention_triangle(spark):
    rows = [
        (1, 1), (1, 2), (1, 9),   # cohort 1, returns offset 1 (9 > cap)
        (2, 1), (2, 3),           # cohort 1, returns offset 2
        (3, 2), (3, 2),           # duplicate activity collapses
    ]
    df = spark.createDataFrame(rows, "user_id long, day int")
    got = {
        (r["cohort_day"], r["day_offset"]): r["n_users"]
        for r in retention_cohorts(
            df, "user_id", F.col("day"), max_offset=7
        ).collect()
    }
    assert got[(1, 0)] == 2 and got[(2, 0)] == 1
    assert got[(1, 1)] == 1 and got[(1, 2)] == 1
    assert (1, 8) not in got  # capped at max_offset
    with pytest.raises(ValueError):
        retention_cohorts(df, "user_id", F.col("day"), max_offset=-1)


def test_behavior_plans_keyed(plan):
    for name in ("funnel_view_click_purchase", "retention_cohorts"):
        p = plan(name)
        assert "CartesianProduct" not in p, name
