"""Harmonic-score kernel correctness (reference validation recomputed:
analysis.ipynb cells 75-77; semantics at timeseries.py:441-527)."""

import math

import pytest
from pyspark.sql import functions as F

from timeseries_spark.functions.arrays import harmonic_score
from timeseries_spark.operators.scoring import association_score, overall_score

KEYS = ("diseaseId", "targetId", "datasourceId")


def rows_for(df, **kv):
    out = df
    for k, v in kv.items():
        out = out.filter(F.col(k).eqNullSafe(v))
    return {r["year"]: r for r in out.collect()}


@pytest.fixture(scope="module")
def scored(evidence_dated, cfg):
    return association_score(evidence_dated, cfg, KEYS).cache()


def test_hand_computed_cell(scored):
    """(T1,D1,src_a): 2003 -> (0.891 + 0.0576/4)/1.64; 2005 adds 0.87."""
    series = rows_for(scored, diseaseId="D1", targetId="T1", datasourceId="src_a")
    assert series[2003]["score"] == pytest.approx((0.891 / 1 + 0.0576 / 4) / 1.64)
    # 2004: unchanged (cumulative)
    assert series[2004]["score"] == pytest.approx(series[2003]["score"])
    # 2005: top-3 sorted desc = [0.891, 0.87, 0.0576]
    expected = (0.891 / 1 + 0.87 / 4 + 0.0576 / 9) / 1.64
    assert series[2005]["score"] == pytest.approx(expected)
    # 2010 (last year): same as 2005, nothing new
    assert series[2010]["score"] == pytest.approx(expected)


def test_null_before_first_evidence(scored):
    """Years before any evidence fold to NULL, not 0 (timeseries.py:496-508)."""
    series = rows_for(scored, diseaseId="D1", targetId="T1", datasourceId="src_a")
    assert series[2000]["score"] is None
    assert series[2002]["score"] is None


def test_nan_scores_dropped(scored):
    series = rows_for(scored, diseaseId="D1", targetId="T1", datasourceId="src_b")
    assert series[2004]["score"] == pytest.approx(0.5 / 1.64)
    assert not math.isnan(series[2010]["score"])


def test_sentinel_roundtrip_undated(scored, cfg):
    """Undated evidence lands in the NULL-year bucket = all-time score."""
    series = rows_for(scored, diseaseId="D1", targetId="T2", datasourceId="src_a")
    assert None in series
    assert series[None]["score"] == pytest.approx(0.3 / 1.64)
    # dated years all NULL score for this group (its only evidence is undated)
    assert series[2010]["score"] is None


def test_dense_grid_shape(scored, cfg):
    """Every key group carries first_year..last_year plus the NULL bucket."""
    years = cfg.last_year - cfg.first_year + 2  # +1 sentinel bucket
    counts = scored.groupBy(*KEYS).count().collect()
    assert len(counts) == 4
    assert all(r["count"] == years for r in counts)


def test_score_monotone_nondecreasing(scored):
    """Property (SURVEY.md §5.3): cumulative harmonic score never decreases
    in year for non-negative evidence."""
    from pyspark.sql import Window

    w = Window.partitionBy(*KEYS).orderBy("year")
    bad = (
        scored.filter(F.col("year").isNotNull())
        .withColumn("prev", F.lag("score").over(w))
        .filter(
            F.col("prev").isNotNull()
            & F.col("score").isNotNull()
            & (F.col("score") < F.col("prev") - 1e-12)
        )
        .count()
    )
    assert bad == 0


def test_overall_score_weights_known_sources_only(spark, cfg):
    """Per-source scores are weighted by source; an unknown source and a
    NULL source both keep weight 1.0, then the harmonic sum runs again
    at (keys, year) grain."""
    rows = [
        ("D1", "T1", "src_a", 2003, 0.8),  # weight 0.5 -> 0.4
        ("D1", "T1", "src_b", 2003, 0.1),  # weight 2.0 -> 0.2
        ("D1", "T2", "src_unknown", 2003, 0.6),
        ("D1", "T3", None, 2003, 0.3),
    ]
    per_source = spark.createDataFrame(
        rows,
        "diseaseId string, targetId string, datasourceId string,"
        " year int, score double",
    )
    got = {
        r["targetId"]: r["score"]
        for r in overall_score(
            per_source, cfg, weights={"src_a": 0.5, "src_b": 2.0}
        ).collect()
    }
    assert got["T1"] == pytest.approx((0.4 / 1 + 0.2 / 4) / 1.64)
    assert got["T2"] == pytest.approx(0.6 / 1.64)
    assert got["T3"] == pytest.approx(0.3 / 1.64)
