"""Trained-in-engine quality classifier (extensions/classifier.py):
full-batch logistic regression on the doc_quality features with
label = (lang == 'en'), the fastText/logreg stage of public
pretraining-cleaning recipes. The oracle unrolls the same GD rounds as
chained CTEs over identically-rounded features, so training replays
exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

from timeseries_spark.extensions.caching import register_cache
from timeseries_spark.extensions.classifier import logreg_fit, logreg_metrics
from timeseries_spark.extensions.text import quality_metrics
from timeseries_spark.queries import load, query
from timeseries_spark.queries.text import _STOP_SQL

_N_ITER = 4
_LR = 5.0
_FEATS = ("stopword_ratio", "punct_ratio", "mwl10")


def _lr_ctes(n_iter: int, lr: float) -> str:
    ctes = [
        f"""f AS (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN CAST(1.0 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END AS y,
             round(len(list_filter(string_split(text, ' '),
                                   t -> t IN ({_STOP_SQL})))
                   / len(string_split(text, ' ')), 4) AS x1,
             round(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                   / length(text), 4) AS x2,
             round((length(text) - (len(string_split(text, ' ')) - 1))
                   / len(string_split(text, ' ')), 4) / 10 AS x3
      FROM documents
    )""",
        """w0 AS (SELECT CAST(0.0 AS DOUBLE) AS wb, CAST(0.0 AS DOUBLE) AS w1,
                 CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3)""",
    ]
    sig = "1.0 / (1.0 + exp(-(((wb + w1 * x1) + w2 * x2) + w3 * x3)))"
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""g{i} AS (
      SELECT avg(y - {sig}) AS gb,
             avg((y - {sig}) * x1) AS g1,
             avg((y - {sig}) * x2) AS g2,
             avg((y - {sig}) * x3) AS g3
      FROM f, w{i - 1}
    )"""
        )
        ctes.append(
            f"""w{i} AS (
      SELECT floor((wb + {lr} * gb) * 1e8 + 0.5) / 1e8 AS wb,
             floor((w1 + {lr} * g1) * 1e8 + 0.5) / 1e8 AS w1,
             floor((w2 + {lr} * g2) * 1e8 + 0.5) / 1e8 AS w2,
             floor((w3 + {lr} * g3) * 1e8 + 0.5) / 1e8 AS w3
      FROM g{i}, w{i - 1}
    )"""
        )
    return ",\n    ".join(ctes)


_SIG = "1.0 / (1.0 + exp(-(((wb + w1 * x1) + w2 * x2) + w3 * x3)))"


def _lr_oracle(n_iter: int, lr: float) -> str:
    sig = _SIG
    return f"""
    WITH {_lr_ctes(n_iter, lr)}
    SELECT wb AS w_bias, w1 AS w_stopword_ratio, w2 AS w_punct_ratio,
           w3 AS w_mwl10,
           floor(avg(CASE WHEN ({sig} > 0.5 AND y = 1.0)
                            OR (NOT ({sig} > 0.5) AND y = 0.0)
                     THEN 1.0 ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS accuracy,
           floor(avg(-(y * ln({sig}) + (1.0 - y) * ln(1.0 - {sig})))
                 * 1e6 + 0.5) / 1e6 AS log_loss,
           count(*) AS n_docs
    FROM f, w{n_iter}
    GROUP BY wb, w1, w2, w3
    """


@query("logreg_quality_train", oracle=_lr_oracle(_N_ITER, _LR))
def logreg_quality_train(spark, sf_dir):
    """Four full-batch GD rounds (lr = 5) of logistic regression on
    (stopword_ratio, punct_ratio, mean_word_len/10) vs lang == 'en':
    each round is one observed pass over the cached features that
    returns only the gradient averages — training data never leaves
    the cluster. Output: learned weights + accuracy + log-loss."""
    docs = load(spark, sf_dir, "documents")
    feats = quality_metrics(docs, "text").select(
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        "stopword_ratio",
        "punct_ratio",
        (F.col("mean_word_len") / 10).alias("mwl10"),
    )
    # the feature relation feeds every GD round AND the returned scoring
    # plan, so the operator can never unpersist it itself — registered
    # under the classifier family (VERDICT r15 item 1) so serving
    # sessions can release_caches(spark, "classifier") between queries
    feats = register_cache(feats, "classifier")
    w = logreg_fit(feats, _FEATS, "y", n_iter=_N_ITER, lr=_LR)
    return logreg_metrics(feats, w, _FEATS, "y")


def _score_oracle(n_iter: int, lr: float) -> str:
    return f"""
    WITH {_lr_ctes(n_iter, lr)}
    SELECT doc_id,
           floor({_SIG} * 1e6 + 0.5) / 1e6 AS p_quality,
           {_SIG} > 0.5 AS keep
    FROM f, w{n_iter}
    """


@query("logreg_quality_scores", oracle=_score_oracle(_N_ITER, _LR))
def logreg_quality_scores(spark, sf_dir):
    """Train-then-apply: the weights learned by logreg_quality_train
    broadcast back over every document to emit a quality probability
    (snapped at 1e-6) and the keep/drop decision — the acting half of a
    learned quality gate, scored in one corpus pass."""
    docs = load(spark, sf_dir, "documents")
    feats = quality_metrics(docs, "text").select(
        "doc_id",
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        "stopword_ratio",
        "punct_ratio",
        (F.col("mean_word_len") / 10).alias("mwl10"),
    )
    # the feature relation feeds every GD round AND the returned scoring
    # plan, so the operator can never unpersist it itself — registered
    # under the classifier family (VERDICT r15 item 1) so serving
    # sessions can release_caches(spark, "classifier") between queries
    feats = register_cache(feats, "classifier")
    w = logreg_fit(feats, _FEATS, "y", n_iter=_N_ITER, lr=_LR)
    z = F.col("w_bias")
    for c in _FEATS:
        z = z + F.col(f"w_{c}") * F.col(c)
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feats.crossJoin(F.broadcast(w)).select(
        "doc_id",
        (F.floor(p * 1e6 + F.lit(0.5)).cast("double") / 1e6).alias(
            "p_quality"
        ),
        (p > 0.5).alias("keep"),
    )


def _scored_cte(n_iter: int, lr: float) -> str:
    return f"""
    WITH {_lr_ctes(n_iter, lr)},
    scored AS (
      SELECT doc_id, y, floor({_SIG} * 1e6 + 0.5) / 1e6 AS p
      FROM f, w{n_iter}
    )"""


def _scores_df(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    feats = quality_metrics(docs, "text").select(
        "doc_id",
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        "stopword_ratio",
        "punct_ratio",
        (F.col("mean_word_len") / 10).alias("mwl10"),
    )
    # the feature relation feeds every GD round AND the returned scoring
    # plan, so the operator can never unpersist it itself — registered
    # under the classifier family (VERDICT r15 item 1) so serving
    # sessions can release_caches(spark, "classifier") between queries
    feats = register_cache(feats, "classifier")
    w = logreg_fit(feats, _FEATS, "y", n_iter=_N_ITER, lr=_LR)
    z = F.col("w_bias")
    for c in _FEATS:
        z = z + F.col(f"w_{c}") * F.col(c)
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feats.crossJoin(F.broadcast(w)).select(
        "doc_id",
        "y",
        (F.floor(p * 1e6 + F.lit(0.5)).cast("double") / 1e6).alias("p"),
    )


@query(
    "classifier_confusion",
    oracle=_scored_cte(_N_ITER, _LR)
    + """
    SELECT
      CAST(sum(CASE WHEN p > 0.5 AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
        AS tp,
      CAST(sum(CASE WHEN p > 0.5 AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        AS fp,
      CAST(sum(CASE WHEN p <= 0.5 AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
        AS fn,
      CAST(sum(CASE WHEN p <= 0.5 AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        AS tn,
      round(CAST(sum(CASE WHEN p > 0.5 AND y = 1.0 THEN 1 ELSE 0 END)
                 AS DOUBLE)
            / nullif(sum(CASE WHEN p > 0.5 THEN 1 ELSE 0 END), 0), 4)
        AS prec,
      round(CAST(sum(CASE WHEN p > 0.5 AND y = 1.0 THEN 1 ELSE 0 END)
                 AS DOUBLE)
            / nullif(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END), 0), 4)
        AS recall
    FROM scored
    """,
)
def classifier_confusion(spark, sf_dir):
    """Confusion matrix + precision/recall of the trained quality
    classifier at the 0.5 decision threshold — the evaluation half of
    the learned gate, one aggregate pass over the scored corpus (the
    scoring pipeline is the already-oracled train-then-apply chain)."""
    s = _scores_df(spark, sf_dir)
    pos = F.col("p") > 0.5
    y1 = F.col("y") == 1.0
    c = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")  # noqa
    agg = s.agg(
        c(pos & y1).alias("tp"),
        c(pos & ~y1).alias("fp"),
        c(~pos & y1).alias("fn"),
        c(~pos & ~y1).alias("tn"),
    )
    ratio = lambda num, den: F.when(  # noqa: E731
        den > 0, F.round(num / den, 4)
    )
    return agg.select(
        "tp", "fp", "fn", "tn",
        ratio(F.col("tp"), F.col("tp") + F.col("fp")).alias("prec"),
        ratio(F.col("tp"), F.col("tp") + F.col("fn")).alias("recall"),
    )


@query(
    "classifier_calibration",
    oracle=_scored_cte(_N_ITER, _LR)
    + """
    SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(p), 4) AS mean_p,
           round(avg(y), 4) AS frac_pos
    FROM scored GROUP BY 1
    """,
)
def classifier_calibration(spark, sf_dir):
    """Reliability diagram of the trained classifier: decile buckets of
    predicted probability vs the observed positive rate — the standard
    calibration check before a probability threshold is trusted at
    corpus scale. One aggregate over the scored corpus."""
    s = _scores_df(spark, sf_dir)
    return (
        s.groupBy(
            F.least(F.floor(F.col("p") * 10), F.lit(9))
            .cast("bigint")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.avg("p"), 4).alias("mean_p"),
            F.round(F.avg("y"), 4).alias("frac_pos"),
        )
    )
