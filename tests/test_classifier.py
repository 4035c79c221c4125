"""In-engine logistic regression: learning on separable data, gradient
direction, determinism, and plan hygiene (broadcast weight vector, no
cartesian blowup onto the corpus)."""

from __future__ import annotations

import pytest

from timeseries_spark.extensions.classifier import logreg_fit, logreg_metrics
from tools.profiler import job_rows


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


def test_one_job_per_round_without_shuffle(spark):
    """Each GD round is one observed pass: one SQL execution, one job of
    one stage, labelled with its round; the weights come back as a
    lazy one-row table (no further job)."""
    df = _sep(spark)
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()
    jsc.listenerBus().waitUntilEmpty()
    before = store.executionsCount()
    sc.setJobGroup("logreg-rounds", "logreg rounds")
    try:
        logreg_fit(df, ["x"], "y", n_iter=3, lr=2.0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc.listenerBus().waitUntilEmpty()
    assert store.executionsCount() - before == 3
    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup("logreg-rounds"))
    assert len(jobs) == 3
    assert all(len(tracker.getJobInfo(j).stageIds) == 1 for j in jobs)
    descs = sorted(r["desc"] for r in job_rows(spark, jobs))
    assert descs == [f"logreg: round {n}" for n in (1, 2, 3)]


def _fit_partitioned(spark, rows, parts):
    df = spark.createDataFrame(rows, "y double, a double, b double")
    return [
        tuple(logreg_fit(df.repartition(n), ["a", "b"], "y", 4, 5.0).first())
        for n in parts
    ]


def test_weights_do_not_depend_on_partitioning(spark):
    """observe merges the per-task gradient sums in task-completion
    order; away from a snap tie the 1e-8 snap absorbs that, so one
    partition and seven give identical weights."""
    rows = [
        (float(i % 7 < 3), round(((i * 7919) % 1009) / 1009, 4),
         round(((i * 104729) % 997) / 997, 4))
        for i in range(500)
    ]
    one, seven = _fit_partitioned(spark, rows, (1, 7))
    assert one == seven
    assert all(w != 0.0 for w in one)


@pytest.mark.xfail(
    strict=True,
    reason="round 1 lands exactly on a 1e-8 snap tie and the double "
    "gradient sum breaks it by summation order",
)
def test_weights_at_a_round_one_snap_tie_do_not_depend_on_partitioning(
    spark,
):
    """400 rows, 4-dp features, lr = 5: a round-1 feature gradient is
    Σ ±0.5·x / 400 with x on a 1e-4 grid, a multiple m of 1.25e-7, so
    lr·avg is 62.5·m steps of the 1e-8 grid: a tie for odd m. Two
    partitions merge deterministically (a + b is commutative), and
    still differ from one."""
    rows = [
        (float(i % 3 == 0), round((i * 37 % 101) / 101, 4),
         round((i * 53 % 97) / 97, 4))
        for i in range(400)
    ]
    one, two = _fit_partitioned(spark, rows, (1, 2))
    assert one == two


@pytest.mark.parametrize(
    "rows", [[], [(1.0, None), (0.0, 1.0)], [(None, 1.0), (0.0, 1.0)]]
)
def test_empty_or_null_input_raises_value_error(spark, rows):
    df = spark.createDataFrame(rows, "y double, x double")
    with pytest.raises(
        ValueError,
        match="logreg_fit: empty input or NULL feature/label — gradients"
        " would be silently wrong",
    ):
        logreg_fit(df, ["x"], "y", n_iter=2)
