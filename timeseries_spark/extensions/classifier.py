"""In-engine trained quality classifier: batch-gradient-descent
logistic regression as a pure DataFrame plan.

A real cleaning pipeline ends with a learned quality model (the
fastText / logreg stage of public pretraining recipes), and at 100 TB
the training data never leaves the cluster: each GD round is ONE
map-side-combined aggregation producing a single gradient row, the
weight vector is a one-row DataFrame broadcast back onto the corpus,
and the loop composes lazily — no driver-side .collect() of anything
but the driver's final action, no MLlib dependency, nothing iterative
over rows.

Determinism discipline (the oracle replays training exactly):
- features arrive pre-rounded (4 dp) so both engines start from
  identical doubles;
- z accumulates left-associatively in declared feature order;
- weights are half-up snapped at 1e-8 after every round, so
  sum-order / libm-exp last-ULP noise (≲1e-13 for ~1e4 rows) cannot
  reach the published digits; metrics snap at 1e-6.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F
from timeseries_spark.functions.inline import inline_rows
from timeseries_spark.functions.sqlexpr import lit_double

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _check_features(feature_cols: Sequence[str]) -> None:
    """Derived identifiers (``w_<c>``, ``g_<c>``, ``o_w_<c>``) are spliced
    unquoted into SQL strings, so a feature name must be a plain
    identifier; anything else would fail later as an opaque parse
    error."""
    for c in feature_cols:
        if not _IDENT.fullmatch(c):
            raise ValueError(
                f"feature column {c!r} is not a plain identifier"
                " ([A-Za-z_][A-Za-z0-9_]*)"
            )


def _snap(col, scale: float):
    return F.floor(col * scale + F.lit(0.5)).cast("double") / scale


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
    from w = 0. ``df`` is persisted by the caller if it is expensive —
    each round re-reads it once."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    _check_features(feature_cols)
    spark = df.sparkSession
    w_cols = ["w_bias"] + [f"w_{c}" for c in feature_cols]
    w = inline_rows(
        spark,
        [tuple(0.0 for _ in w_cols)],
        ", ".join(f"{c} double" for c in w_cols),
    )
    # NULL features/labels would silently shrink the batch per-column
    # (avg skips NULLs -> misaligned gradients); empty input would make
    # every gradient NULL. Both fail loudly AT EXECUTION via a lazy
    # raise_error — no driver-side action at plan-build time.
    #
    # Round-17 (guide §7.3): the round expressions are authored as SQL
    # strings — the F-API construction paid ~1.2 s of py4j round trips
    # per plan build (5,625 calls for a 4-round fit), against ~0.6 s of
    # execution. 1:1 transliteration: same left-associative z chain,
    # same literals (1.0D, string-cast lr), same snap arithmetic and
    # guard order — analyzed plan and every double unchanged.
    feats = list(feature_cols)
    z = " + ".join(["w_bias"] + [f"(w_{c} * `{c}`)" for c in feats])
    p = f"(1.0D / (1.0D + exp(-({z}))))"
    resid = f"(`{label_col}` - {p})"
    lr_lit = lit_double(lr)
    any_null = " OR ".join(
        f"`{c}` IS NULL" for c in [label_col, *feats]
    )
    guard = "g_bias IS NULL OR __bad = 1"
    err = (
        "CAST(raise_error('logreg_fit: empty input or NULL feature/label"
        " — gradients would be silently wrong') AS DOUBLE)"
    )
    for _ in range(n_iter):
        # the old weights ride THROUGH the gradient agg (min of a
        # constant column) so each round references the previous round
        # exactly once — a crossJoin back would double-reference it and
        # grow the lazy lineage exponentially (the CC lesson,
        # extensions/dedup.py:480-487, solved here without checkpoints)
        g = df.crossJoin(F.broadcast(w)).agg(
            F.expr(f"avg({resid})").alias("g_bias"),
            *[
                F.expr(f"avg({resid} * `{c}`)").alias(f"g_{c}")
                for c in feats
            ],
            *[F.expr(f"min({wc})").alias(f"o_{wc}") for wc in w_cols],
            F.expr(
                f"max(CASE WHEN {any_null} THEN 1 ELSE 0 END)"
            ).alias("__bad"),
        )
        w = g.select(
            *[
                F.expr(
                    f"CASE WHEN {guard} THEN {err} ELSE "
                    f"CAST(floor((o_{wc} + {lr_lit} * "
                    f"{wc.replace('w_', 'g_', 1)}) * 1E8 + 0.5D) "
                    "AS DOUBLE) / 1E8 END"
                ).alias(wc)
                for wc in w_cols
            ]
        )
    return w


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
