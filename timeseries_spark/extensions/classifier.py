"""In-engine trained quality classifier: batch-gradient-descent
logistic regression on the DataFrame engine.

A real cleaning pipeline ends with a learned quality model (the
fastText / logreg stage of public pretraining recipes), and at 100 TB
the training data never leaves the cluster: each GD round is ONE
observed pass over the feature frame (no shuffle, no broadcast) whose
``Observation`` metrics are the round's k+1 gradient averages. Only
those doubles reach the driver, which applies the snapped update and
splices the new weights into the next round's expression as exact
literals. No MLlib dependency, nothing iterative over rows.

Determinism discipline (the oracle replays training exactly):
- features arrive pre-rounded (4 dp) so both engines start from
  identical doubles;
- z accumulates left-associatively in declared feature order;
- weights are half-up snapped at 1e-8 after every round, so
  sum-order / libm-exp last-ULP noise (≲1e-13 for ~1e4 rows) reaches
  the published digits only when an update lands that close to a snap
  tie; metrics snap at 1e-6.

Near a tie the partitioning decides: ``observe`` merges per-task
partial sums in task-completion order (the shuffle aggregate this
replaced merged per-partition partials too). Round 1 can hit a tie
exactly — every residual is ±0.5, so features rounded to a few
decimals and a row count that divides evenly can put lr·avg on one
(``tests/test_classifier.py`` pins such a case). The registry oracles
match because both engines sum the one input partition in file order.
"""

from __future__ import annotations

import math
import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, functions as F
from timeseries_spark.functions.inline import inline_rows
from timeseries_spark.functions.sqlexpr import lit_double
from timeseries_spark.session import phase

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _check_features(feature_cols: Sequence[str]) -> None:
    """Derived identifiers (``w_<c>``, ``g_<c>``) become column names
    and the features are spliced into SQL strings, so a feature name
    must be a plain identifier; anything else would fail later as an
    opaque parse error."""
    for c in feature_cols:
        if not _IDENT.fullmatch(c):
            raise ValueError(
                f"feature column {c!r} is not a plain identifier"
                " ([A-Za-z_][A-Za-z0-9_]*)"
            )


def _snap(col, scale: float):
    return F.floor(col * scale + F.lit(0.5)).cast("double") / scale


def _snap8(x: float) -> float:
    """``CAST(floor(x * 1E8 + 0.5D) AS DOUBLE) / 1E8`` as Spark computes
    it: floor of a double is a BIGINT, so NaN becomes 0 and the value
    saturates at the long range (Java's double-to-long cast)."""
    v = x * 1e8 + 0.5
    if math.isnan(v):
        n = 0
    elif v >= 2.0**63:
        n = 2**63 - 1
    elif v < -(2.0**63):
        n = -(2**63)
    else:
        n = math.floor(v)
    return float(n) / 1e8


def _z(feature_cols: Sequence[str]):
    z = F.col("w_bias")
    for c in feature_cols:
        z = z + F.col(f"w_{c}") * F.col(c)
    return z


def logreg_fit(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str = "y",
    n_iter: int = 3,
    lr: float = 1.0,
) -> DataFrame:
    """One-row weights DataFrame (w_bias, w_<feature>...) after
    ``n_iter`` full-batch rounds of w += lr · avg((y - σ(w·x)) · x)
    from w = 0. Each round runs one job, labelled ``logreg: round n``
    (n from 1). ``df`` is persisted by the caller if it is expensive —
    each round re-reads it once. Empty input, or a NULL feature or
    label, raises ``ValueError`` in the first round: ``avg`` would skip
    the NULLs per column and misalign the gradients."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    _check_features(feature_cols)
    spark = df.sparkSession
    feats = list(feature_cols)
    lr = float(lr)
    any_null = " OR ".join(
        f"`{c}` IS NULL" for c in [label_col, *feats]
    )
    bad = F.expr(f"max(CASE WHEN {any_null} THEN 1 ELSE 0 END)").alias(
        "__bad"
    )
    w = [0.0] * (len(feats) + 1)
    for n in range(1, n_iter + 1):
        # the weights enter as exact literals, so the round reads only
        # the feature frame; the update below mirrors the SQL snap
        # ``CAST(floor((w + lr * g) * 1E8 + 0.5D) AS DOUBLE) / 1E8``
        z = " + ".join(
            [lit_double(w[0])]
            + [f"({lit_double(wi)} * `{c}`)" for wi, c in zip(w[1:], feats)]
        )
        resid = f"(`{label_col}` - (1.0D / (1.0D + exp(-({z})))))"
        obs = Observation()
        observed = df.observe(
            obs,
            F.expr(f"avg({resid})").alias("g_bias"),
            *[
                F.expr(f"avg({resid} * `{c}`)").alias(f"g_{c}")
                for c in feats
            ],
            bad,
        )
        with phase(spark, f"logreg: round {n}"):
            observed.write.format("noop").mode("overwrite").save()
        g = obs.get
        if g["g_bias"] is None or g["__bad"] == 1:
            raise ValueError(
                "logreg_fit: empty input or NULL feature/label"
                " — gradients would be silently wrong"
            )
        grads = [g["g_bias"]] + [g[f"g_{c}"] for c in feats]
        w = [_snap8(wi + lr * gi) for wi, gi in zip(w, grads)]
    return inline_rows(
        spark,
        [w],
        ", ".join(f"w_{c} double" for c in ["bias", *feats]),
    )


def logreg_metrics(
    df: DataFrame,
    weights: DataFrame,
    feature_cols: Sequence[str],
    label_col: str = "y",
) -> DataFrame:
    """One-row training report: the learned weights plus accuracy
    (decision at p > 0.5) and mean log-loss, both snapped at 1e-6."""
    _check_features(feature_cols)
    j = df.crossJoin(F.broadcast(weights))
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_z(feature_cols)))
    y = F.col(label_col)
    correct = F.when(
        ((p > 0.5) & (y == 1.0)) | (~(p > 0.5) & (y == 0.0)), 1.0
    ).otherwise(0.0)
    loss = -(y * F.log(p) + (1.0 - y) * F.log(1.0 - p))
    return j.groupBy(*[f"w_{c}" for c in ["bias", *feature_cols]]).agg(
        _snap(F.avg(correct), 1e6).alias("accuracy"),
        _snap(F.avg(loss), 1e6).alias("log_loss"),
        F.count(F.lit(1)).alias("n_docs"),
    )
