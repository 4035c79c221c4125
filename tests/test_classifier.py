"""In-engine logistic regression: learning on separable data, gradient
direction, determinism, and plan hygiene (broadcast weight vector, no
cartesian blowup onto the corpus)."""

from __future__ import annotations

import pytest

from timeseries_spark.extensions.classifier import logreg_fit, logreg_metrics


def _sep(spark):
    # perfectly separable on x: y = 1 iff x = 1
    rows = [(1.0, 1.0)] * 20 + [(0.0, 0.0)] * 20
    return spark.createDataFrame(rows, "y double, x double")


def test_learns_separable_data(spark):
    df = _sep(spark)
    w = logreg_fit(df, ["x"], "y", n_iter=25, lr=2.0)
    [m] = logreg_metrics(df, w, ["x"], "y").collect()
    assert m["accuracy"] == 1.0
    assert m["w_x"] > 0  # positive feature weight separates upward
    assert m["log_loss"] < 0.69  # better than the uniform-guess 0.693


def test_gradient_moves_toward_labels(spark):
    # all-positive labels: every round must push bias up
    df = spark.createDataFrame([(1.0, 0.0)] * 10, "y double, x double")
    b1 = logreg_fit(df, ["x"], "y", n_iter=1).collect()[0]["w_bias"]
    b2 = logreg_fit(df, ["x"], "y", n_iter=2).collect()[0]["w_bias"]
    assert 0 < b1 < b2


def test_training_is_deterministic(spark):
    df = _sep(spark)
    r1 = logreg_fit(df, ["x"], "y", n_iter=5, lr=2.0).collect()[0]
    r2 = logreg_fit(df, ["x"], "y", n_iter=5, lr=2.0).collect()[0]
    assert tuple(r1) == tuple(r2)


def test_bad_iter_raises(spark):
    with pytest.raises(ValueError):
        logreg_fit(_sep(spark), ["x"], "y", n_iter=0)


@pytest.mark.parametrize("bad", ["a-b", "a b", "1x"])
def test_non_identifier_feature_names_raise(spark, bad):
    df = spark.createDataFrame([(1.0, 1.0)], f"y double, `{bad}` double")
    with pytest.raises(ValueError, match=bad):
        logreg_fit(df, [bad], "y")
    with pytest.raises(ValueError, match=bad):
        logreg_metrics(df, df, [bad], "y")


def test_train_plan_broadcasts_weights(plan):
    """The weight vector must broadcast onto the corpus every round —
    never a shuffle of the features against a one-row table."""
    p = plan("logreg_quality_train")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # 1-row weights x corpus
    assert "SortMergeJoin" not in p


def test_empty_or_null_input_raises_at_execution(spark):
    import pytest as _pt
    from pyspark.errors import PySparkRuntimeError
    from py4j.protocol import Py4JJavaError

    empty = spark.createDataFrame([], "y double, x double")
    with _pt.raises((PySparkRuntimeError, Py4JJavaError, Exception)):
        logreg_fit(empty, ["x"], "y", n_iter=1).collect()
    nulls = spark.createDataFrame(
        [(1.0, None), (0.0, 1.0)], "y double, x double"
    )
    with _pt.raises((PySparkRuntimeError, Py4JJavaError, Exception)):
        logreg_fit(nulls, ["x"], "y", n_iter=1).collect()
