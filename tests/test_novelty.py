"""Novelty operator semantics (timeseries.py:530-635)."""

import pytest
from pyspark.sql import functions as F

from timeseries_spark.config import EngineConfig
from timeseries_spark.operators.novelty import add_novelty
from timeseries_spark.operators.scoring import association_score

KEYS = ("diseaseId", "targetId", "datasourceId")


@pytest.fixture(scope="module")
def with_novelty(evidence_dated, cfg):
    scores = association_score(evidence_dated, cfg, KEYS)
    return add_novelty(scores, cfg, KEYS).cache()


def series_of(df, **kv):
    out = df
    for k, v in kv.items():
        out = out.filter(F.col(k).eqNullSafe(v))
    return {r["year"]: r for r in out.collect()}


def test_novelty_at_first_peak(with_novelty, cfg):
    """First score jump: peak = score(2003) - 0 (lag NULL -> filled 0 is
    wrong; reference lag yields NULL so 2003 peak = score - score(2002)=NULL
    -> actually score(2002) is NULL -> filled 0). novelty(peakYear) =
    peak / (1 + exp(scale * (0 - shift)))."""
    import math

    s = series_of(with_novelty, diseaseId="D1", targetId="T1", datasourceId="src_a")
    peak = s[2003]["score"]  # jumps from 0 (NULL filled) to score
    expected = round(peak / (1 + math.exp(2.0 * (0 - 2))), 3)
    assert s[2003]["novelty"] == pytest.approx(expected, abs=5e-4)
    # novelty decays but persists inside the window
    assert 0 < s[2006]["novelty"] < s[2004]["novelty"] or s[2006]["novelty"] >= 0


def test_novelty_zero_before_first_peak(with_novelty):
    s = series_of(with_novelty, diseaseId="D1", targetId="T1", datasourceId="src_a")
    assert s[2000]["novelty"] == 0.0
    assert s[2002]["novelty"] == 0.0


def test_novelty_rounded_3(with_novelty):
    vals = [r["novelty"] for r in with_novelty.collect() if r["novelty"] is not None]
    assert all(abs(v - round(v, 3)) < 1e-12 for v in vals)


def test_novelty_in_unit_interval(with_novelty):
    """Property: novelty in [0, 1] when scores are (SURVEY.md §5.3)."""
    bad = with_novelty.filter(
        (F.col("novelty") < 0) | (F.col("novelty") > 1)
    ).count()
    assert bad == 0


def test_every_score_row_preserved(with_novelty, evidence_dated, cfg):
    """Right-join merge keeps the full dense grid (timeseries.py:621-626)."""
    scores = association_score(evidence_dated, cfg, KEYS)
    assert with_novelty.count() == scores.count()


def test_undated_bucket_has_zero_or_positive_novelty(with_novelty):
    nulls = with_novelty.filter(F.col("year").isNull()).collect()
    assert len(nulls) == 4  # one per key group
    assert all(r["novelty"] is not None for r in nulls)


@pytest.mark.parametrize("field", ["novelty_scale", "novelty_shift"])
@pytest.mark.parametrize("value", [float("nan"), float("inf"), float("-inf")])
def test_config_rejects_non_finite_novelty_params(field, value):
    # a non-finite decay parameter would make every novelty NaN or a
    # silent 0, so the config rejects it up front
    with pytest.raises(ValueError, match=field):
        EngineConfig(**{field: value})
