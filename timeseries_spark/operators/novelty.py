"""Novelty detection over dense yearly score series.

Semantics from the reference (timeseries.py:530-635, 735-833):

1. ``peak(keys, y) = score(y) - lag(score)(y)`` over the year-ordered series
   (undated bucket mapped to the sentinel year, NaN/NULL scores as 0);
   keep positive peaks only.
2. Each peak radiates a logistic decay over ``pos = 0..window`` years:
   ``peak / (1 + exp(scale * (pos - shift)))``.
3. ``novelty(keys, y) = round(max over radiating peaks, 3)`` on every score
   row, NULL novelty as 0, sentinel year restored to NULL.

Physical design — deliberately NOT the reference's plan. The reference
runs lag-window → filter → posexplode → groupBy → right-join back onto the
score table, which (a) shuffles three more times and (b) evaluates the
whole upstream scoring subtree twice unless it is persisted
(timeseries.py:766-768). A dense yearly series is tiny per key (~30
elements), so this operator instead collects each key's series into ONE
array and computes peaks + decay + per-year max entirely with higher-order
functions: a single groupBy that reuses the scoring window's hash
partitioning (zero additional Exchange in the combined plan), no second
subtree, no persist needed. Verified equivalent to the reference plan by
the DuckDB oracle, which implements the reference's own formulation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from timeseries_spark.config import EngineConfig
from timeseries_spark.functions.sqlexpr import lit_double


def _peaks(series_col: str) -> Column:
    """Positive year-over-year jumps of a year-sorted series:
    ``array<struct<py:int, pk:double>>``. NaN/NULL scores count as 0
    (the reference's fillna before the lag, timeseries.py:584-586).

    One ``F.expr`` string instead of composed Column objects: the kernel
    builds in a single py4j round trip, which halves plan-construction
    time for the combined score+novelty query (the reference uses the
    same idiom for its harmonic kernel, timeseries.py:488-508)."""
    s = series_col
    return F.expr(
        f"""
        CASE WHEN size({s}) >= 2 THEN
          filter(
            transform(
              sequence(2, greatest(size({s}), 2)),
              i -> named_struct(
                'py', {s}[i - 1].year,
                'pk', coalesce(nanvl({s}[i - 1].score, 0D), 0D)
                      - coalesce(nanvl({s}[i - 2].score, 0D), 0D))),
            p -> p.pk > 0)
        ELSE cast(array() AS array<struct<py:int,pk:double>>) END
        """
    )


def _novelty_at(year_expr: str, peaks_expr: str, cfg: EngineConfig) -> Column:
    """max over peaks within the decay window of
    ``pk / (1 + exp(scale * (pos - shift)))`` at ``pos = year - peakYear``;
    0.0 when no peak radiates here. Evaluated per ROW (after the series
    explode), not per array element — a far smaller expression than
    nesting this under another ``transform`` — and built as one
    ``F.expr`` string (single py4j round trip)."""
    y, p = year_expr, peaks_expr
    return F.expr(
        f"""
        round(coalesce(array_max(transform(
          filter({p}, q -> {y} - q.py >= 0
                       AND {y} - q.py <= {cfg.novelty_window}),
          q -> q.pk / (1 + exp({lit_double(cfg.novelty_scale)}
                               * ({y} - q.py - {lit_double(cfg.novelty_shift)}))))),
        0D), 3)
        """
    )


def add_novelty(
    scores: DataFrame,
    cfg: EngineConfig,
    key_cols: Sequence[str] = ("diseaseId", "targetId", "datasourceId"),
    year_col: str = "year",
    score_col: str = "score",
) -> DataFrame:
    """Append a ``novelty`` column to a dense yearly score table.

    Input/output grain: one row per (*key_cols, year); ``year`` may be NULL
    for the undated bucket (it participates as the sentinel year and is
    restored to NULL on output).
    """
    keys = list(key_cols)

    dense = scores.withColumn(
        year_col,
        F.coalesce(F.col(year_col), F.lit(cfg.sentinel_year)).cast("int"),
    )

    # one series array per key; array_sort on struct orders by year (first
    # field; years are unique within a key)
    grouped = dense.groupBy(*keys).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(year_col).alias("year"),
                    F.col(score_col).cast("double").alias("score"),
                )
            )
        ).alias("series")
    )

    out = grouped.withColumn("peaks", _peaks("series")).select(
        *keys,
        "peaks",
        F.explode("series").alias("e"),
    )
    return out.select(
        *keys,
        F.when(F.col("e.year") == cfg.sentinel_year, F.lit(None))
        .otherwise(F.col("e.year"))
        .cast("int")
        .alias(year_col),
        F.col("e.score").alias(score_col),
        _novelty_at("e.year", "peaks", cfg).alias("novelty"),
    )
