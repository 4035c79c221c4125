"""Time-series toolkit: OHLC resampling, gap interpolation, EMA,
rolling anomaly — unit semantics on hand-checkable fixtures plus
100 TB plan shapes (single-shuffle agg, keyed windows, no cartesian).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import shuffles
from timeseries_spark.operators.timeseries import (
    counter_rate,
    downsample_m4,
    ema,
    linear_interpolate,
    resample_ohlc,
    rolling_mad_score,
    rolling_median,
    rolling_zscore,
    series_gaps,
    time_weighted_avg,
)


def test_interpolate_interior_and_edges(spark):
    rows = [
        ("a", 1, 10.0), ("a", 2, None), ("a", 3, None), ("a", 4, 40.0),
        ("a", 5, None),          # trailing edge -> nearest (prev) fill
        ("b", 1, None), ("b", 2, 8.0),  # leading edge -> nearest (next) fill
        ("c", 1, None),          # all-null key -> stays null
    ]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    got = {
        (r["k"], r["t"]): r["filled"]
        for r in linear_interpolate(df, ["k"], "t", "v").collect()
    }
    assert got[("a", 2)] == 20.0 and got[("a", 3)] == 30.0  # exact lerp
    assert got[("a", 5)] == 40.0
    assert got[("b", 1)] == 8.0
    assert got[("c", 1)] is None


def test_ema_matches_recurrence(spark):
    xs = [4043.85, 3989.69, 2904.04, 4001.68, 2671.88]
    df = spark.createDataFrame(
        [("a", i + 1, x) for i, x in enumerate(xs)], "k string, t int, v double"
    )
    got = [
        r["ema"]
        for r in ema(df, ["k"], "t", "v", alpha=0.3).orderBy("t").collect()
    ]
    acc = xs[0]
    expect = [acc]
    for x in xs[1:]:
        acc = 0.3 * x + 0.7 * acc
        expect.append(acc)
    import math

    for g, e in zip(got, expect):
        assert g == math.floor(e * 10000 + 0.5) / 10000


def test_ohlc_deterministic_under_ts_ties(spark):
    rows = [
        ("a", "2024-01-01 10:00:00", 1, 5.0),
        ("a", "2024-01-01 10:00:00", 2, 9.0),  # same ts: event_id breaks tie
        ("a", "2024-01-01 12:00:00", 3, 1.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts string, eid long, v double")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    out = resample_ohlc(
        df, ["k"], F.dayofmonth("ts"), "ts", "v", "eid"
    ).collect()[0]
    assert out["open"] == 5.0 and out["close"] == 1.0
    assert out["high"] == 9.0 and out["low"] == 1.0 and out["n"] == 3


def test_rolling_zscore_spike_flagged_constant_not(spark):
    rows = [("a", t, 10.0) for t in range(1, 7)] + [("a", 7, 100.0)]
    rows += [("c", t, 5.0) for t in range(1, 5)]  # zero variance -> z NULL
    df = spark.createDataFrame(rows, "k string, t int, v double")
    out = {
        (r["k"], r["t"]): r
        for r in rolling_zscore(df, ["k"], "t", "v", 7, 2.0).collect()
    }
    assert out[("a", 7)]["is_anomaly"] is True
    assert out[("a", 3)]["is_anomaly"] is False  # constant prefix: z NULL
    assert out[("a", 3)]["z"] is None
    assert all(out[("c", t)]["z"] is None for t in range(1, 5))


def test_ohlc_plan_single_shuffle_partial_agg(plan):
    """One hash-agg shuffle at bucket grain, with map-side partial
    min_by/max_by — not a sort-based plan, no SinglePartition."""
    p = plan("resample_ohlc")
    assert shuffles(p) == 1
    assert "SinglePartition" not in p
    assert "partial_min_by" in p or "HashAggregate" in p


def test_timeseries_windows_stay_keyed(plan):
    """Gap-fill / EMA / anomaly windows partition by series key — a
    SinglePartition window would funnel 100 TB through one task."""
    for name in ("gapfill_interpolate", "ema_daily", "rolling_anomaly"):
        p = plan(name)
        assert "SinglePartition" not in p, name
        assert "CartesianProduct" not in p, name


def test_rolling_median_odd_even_null_windows(spark):
    rows = [
        ("a", 1, 10.0),            # window [10] -> 10
        ("a", 2, 30.0),            # window [10,30] -> 20 (even: mean of mid 2)
        ("a", 3, 20.0),            # window [10,20,30] -> 20 (odd: center)
        ("a", 4, 1000.0),          # window [10,20,30,1000] -> 25 (spike-robust)
        ("b", 1, None),            # all-NULL window -> NULL, not an error
        ("b", 2, 7.0),             # NULL skipped: window [7] -> 7
    ]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    got = {
        (r["k"], r["t"]): r["roll_median"]
        for r in rolling_median(df, ["k"], "t", "v", n_rows=7).collect()
    }
    assert got[("a", 1)] == 10.0
    assert got[("a", 2)] == 20.0
    assert got[("a", 3)] == 20.0
    assert got[("a", 4)] == 25.0
    assert got[("b", 1)] is None
    assert got[("b", 2)] == 7.0
    with pytest.raises(ValueError):
        rolling_median(df, ["k"], "t", "v", n_rows=0)


def test_rolling_median_window_stays_keyed(plan):
    p = plan("rolling_median_daily")
    assert "SinglePartition" not in p
    assert "CartesianProduct" not in p


def test_counter_rate_reset_and_gap(spark):
    rows = [
        ("a", 0, 100), ("a", 1, 150),   # normal: +50 over 1 tick
        ("a", 2, 30),                   # reset: post-reset value = 30
        ("a", 5, 90),                   # 3-tick gap: +60 / 3 = 20/tick
    ]
    df = spark.createDataFrame(rows, "k string, tick int, counter long")
    got = {
        r["tick"]: (r["increase"], r["rate"])
        for r in counter_rate(df, ["k"], "tick", "counter").collect()
    }
    assert got[0] == (None, None)        # no predecessor
    assert got[1] == (50.0, 50.0)
    assert got[2] == (30.0, 30.0)        # counter went down -> reset
    assert got[5] == (60.0, 20.0)        # rate divides by tick distance


def test_twa_step_semantics_vs_plain_avg(spark):
    # value 0 held 90 us, then 10 held 10 us (to bucket end at 100):
    # twa = (0*90 + 10*10)/100 = 1.0 while plain avg = 5.0
    rows = [("a", 0, 0.0, 100), ("a", 90, 10.0, 100)]
    df = spark.createDataFrame(
        rows, "k string, tus long, v double, bend long"
    )
    out = time_weighted_avg(
        df, ["k"], "tus", "v", "bend", tiebreak_col="tus"
    ).collect()[0]
    assert out["twa"] == 1.0
    assert out["plain_avg"] == 5.0
    assert out["n_samples"] == 2


def test_m4_keeps_extreme_timestamps(spark):
    rows = [
        ("a", 10, 1, 5.0),
        ("a", 20, 2, 9.0),   # max at t=20
        ("a", 30, 3, 1.0),   # min at t=30
        ("a", 40, 4, 4.0),
    ]
    df = spark.createDataFrame(rows, "k string, t long, eid long, v double")
    out = downsample_m4(
        df, ["k"], F.lit(0), "t", "v", "eid"
    ).collect()[0]
    assert (out["t_first"], out["v_first"]) == (10, 5.0)
    assert (out["t_last"], out["v_last"]) == (40, 4.0)
    assert (out["t_min"], out["v_min"]) == (30, 1.0)
    assert (out["t_max"], out["v_max"]) == (20, 9.0)
    assert out["n"] == 4


def test_series_gaps_detects_runs(spark):
    rows = [("a", 1), ("a", 2), ("a", 5), ("a", 9), ("b", 3)]
    df = spark.createDataFrame(rows, "k string, day int")
    got = sorted(
        (r["k"], r["gap_start"], r["gap_end"], r["n_missing"])
        for r in series_gaps(df, ["k"], "day").collect()
    )
    assert got == [("a", 3, 4, 2), ("a", 6, 8, 3)]  # no gaps for b
    with pytest.raises(ValueError):
        series_gaps(df, ["k"], "day", expected_step=0)


def test_rolling_mad_robust_where_zscore_masked(spark):
    # two spikes in one window: the first inflates mean/stddev enough
    # that the second's z-score drops, but median/MAD still flags both
    base = [8.0, 12.0, 9.0, 11.0, 10.0]
    rows = [("a", t + 1, v) for t, v in enumerate(base)] + [
        ("a", 6, 100.0), ("a", 7, 100.0)
    ]
    rows += [("c", t, 5.0) for t in range(1, 4)]  # constant key
    df = spark.createDataFrame(rows, "k string, t int, v double")
    mad = {
        (r["k"], r["t"]): r
        for r in rolling_mad_score(df, ["k"], "t", "v", 7, 3.5).collect()
    }
    # hand-checked: t=6 window med 10.5, MAD 1.5 -> score ~40.2;
    #               t=7 window med 11, MAD 2 -> score ~30.0
    assert mad[("a", 6)]["is_anomaly"] is True
    assert mad[("a", 7)]["is_anomaly"] is True
    z = {
        r["t"]: r
        for r in rolling_zscore(
            df.filter(F.col("k") == "a"), ["k"], "t", "v", 7, 3.5
        ).collect()
    }
    assert z[7]["is_anomaly"] is False  # masked by the first spike
    # constant window -> MAD 0 -> score NULL, not a division blowup
    assert mad[("c", 3)]["robust_score"] is None
    with pytest.raises(ValueError):
        rolling_mad_score(df, ["k"], "t", "v", 0, 3.5)


def test_new_timeseries_plans_stay_keyed(plan):
    for name in (
        "counter_rate_hourly", "twa_daily", "downsample_m4",
        "series_gaps_daily", "rolling_mad_daily",
    ):
        p = plan(name)
        assert "SinglePartition" not in p, name
        assert "CartesianProduct" not in p, name


def test_ema_alpha_validation(spark):
    df = spark.createDataFrame([("a", 1, 1.0)], "k string, t int, v double")
    import pytest as _pt

    with _pt.raises(ValueError):
        ema(df, ["k"], "t", "v", alpha=0.0)
    with _pt.raises(ValueError):
        ema(df, ["k"], "t", "v", alpha=1.5)


def test_cusum_detects_level_shift(spark):
    from timeseries_spark.operators.timeseries import cusum

    # mean of the 8 values is 15: first half deviates -5, second +5 ->
    # cusum_up climbs 5 per step after the shift, cusum_down before it
    rows = [("a", t, 10.0) for t in range(1, 5)] + [
        ("a", t, 20.0) for t in range(5, 9)
    ]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    got = {r["t"]: r for r in cusum(df, ["k"], "t", "v").collect()}
    assert got[4]["cusum_down"] == 20.0 and got[4]["cusum_up"] == 0.0
    assert got[8]["cusum_up"] == 20.0 and got[8]["cusum_down"] == 0.0
    # noise around the mean collapses both sides toward zero
    assert got[1]["cusum_up"] == 0.0


def test_trend_acf_plans_single_pass(plan):
    for name in ("series_trend", "acf_daily", "cusum_daily"):
        p = plan(name)
        assert "SinglePartition" not in p, name
        assert "CartesianProduct" not in p, name


def test_psi_zero_for_identical_halves_large_for_shifted(spark):
    from timeseries_spark.operators.timeseries import psi_drift

    # identical distribution both sides -> PSI exactly 0 (p == q per bin)
    same = [("a", float(v % 10) * 10, s) for v in range(100) for s in (0, 1)]
    # shifted: baseline all low bin, compare all high bin
    shifted = [("b", 5.0, 0)] * 50 + [("b", 95.0, 1)] * 50
    df = spark.createDataFrame(
        same + shifted, "k string, v double, side int"
    )
    got = {
        r["k"]: r
        for r in psi_drift(
            df, ["k"], "v", F.col("side"), lo=0.0, hi=100.0, n_bins=10
        ).collect()
    }
    assert got["a"]["psi"] == 0.0
    assert got["b"]["psi"] > 1.0  # way past the 0.25 'shifted' bar
    assert got["b"]["n_baseline"] == 50 and got["b"]["n_compare"] == 50
    with pytest.raises(ValueError):
        psi_drift(df, ["k"], "v", F.col("side"), 0.0, 100.0, 0)
    with pytest.raises(ValueError):
        psi_drift(df, ["k"], "v", F.col("side"), 0.0, 100.0, 10, smoothing=0)


def test_seasonal_naive_eval_prefers_true_season(spark):
    from timeseries_spark.operators.timeseries import seasonal_naive_eval

    # period-3 sawtooth: seasonal (lag-3) forecast is exact, naive is not
    vals = [10.0, 20.0, 30.0] * 4
    df = spark.createDataFrame(
        [("a", t + 1, v) for t, v in enumerate(vals)],
        "k string, t int, v double",
    )
    out = seasonal_naive_eval(df, ["k"], "t", "v", season=3).collect()[0]
    assert out["mae_seasonal"] == 0.0
    assert out["mae_naive"] > 0
    assert out["seasonal_vs_naive"] == 0.0
    assert out["n_scored"] == 9  # rows where both lags exist
    with pytest.raises(ValueError):
        seasonal_naive_eval(df, ["k"], "t", "v", season=1)


def test_drift_eval_plans_keyed(plan):
    for name in ("psi_value_drift", "seasonal_naive_eval"):
        p = plan(name)
        assert "SinglePartition" not in p, name
        assert "CartesianProduct" not in p, name


def test_holt_matches_recurrence_and_catches_trend(spark):
    from timeseries_spark.operators.timeseries import holt_linear

    xs = [4043.85, 3989.69, 2904.04, 4001.68, 2671.88]
    df = spark.createDataFrame(
        [("a", i + 1, x) for i, x in enumerate(xs)], "k string, t int, v double"
    )
    got = {
        r["t"]: r
        for r in holt_linear(df, ["k"], "t", "v", 0.5, 0.3).collect()
    }
    import math

    l, b = xs[0], 0.0
    snap = lambda x: math.floor(x * 10000 + 0.5) / 10000  # noqa: E731
    assert got[1]["level"] == snap(l) and got[1]["trend"] == 0.0
    for t, x in enumerate(xs[1:], start=2):
        nl = 0.5 * x + 0.5 * (l + b)
        b = 0.3 * (nl - l) + 0.7 * b
        l = nl
        assert got[t]["level"] == snap(l), t
        assert got[t]["trend"] == snap(b), t
        assert got[t]["forecast_next"] == snap(l + b), t

    # a perfectly linear ramp: trend converges toward the true slope
    # and the forecast tracks the next value far better than an EMA
    ramp = spark.createDataFrame(
        [("r", t, float(10 * t)) for t in range(1, 21)],
        "k string, t int, v double",
    )
    out = {r["t"]: r for r in holt_linear(ramp, ["k"], "t", "v", 0.5, 0.3).collect()}
    assert abs(out[20]["trend"] - 10.0) < 1.0
    assert abs(out[20]["forecast_next"] - 210.0) < 3.0
    with pytest.raises(ValueError):
        holt_linear(ramp, ["k"], "t", "v", 0.0, 0.3)
    with pytest.raises(ValueError):
        holt_linear(ramp, ["k"], "t", "v", 0.5, 1.5)


def test_holt_plan_stays_keyed(plan):
    p = plan("holt_daily")
    assert "SinglePartition" not in p
    assert "CartesianProduct" not in p


def test_winsorize_clamps_only_tails(spark):
    from timeseries_spark.operators.timeseries import winsorize

    vals = [float(v) for v in range(1, 101)]  # 1..100
    df = spark.createDataFrame(
        [("a", i, v) for i, v in enumerate(vals)], "k string, i int, v double"
    )
    out = {r["v"]: r for r in winsorize(df, ["k"], "v", 0.05, 0.95).collect()}
    # p05 of 1..100 = 5.95, p95 = 95.05 (linear interpolation)
    assert out[1.0]["clamped"] == 5.95 and out[1.0]["was_clipped"] is True
    assert out[100.0]["clamped"] == 95.05 and out[100.0]["was_clipped"] is True
    assert out[50.0]["clamped"] == 50.0 and out[50.0]["was_clipped"] is False
    assert sum(1 for r in out.values() if r["was_clipped"]) == 10
    with pytest.raises(ValueError):
        winsorize(df, ["k"], "v", 0.5, 0.5)


def test_winsorize_plan_broadcasts_bands(plan):
    p = plan("winsorized_values")
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p
