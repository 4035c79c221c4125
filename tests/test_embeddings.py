"""Embedding covariance + JL projection (round 6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import explain, shuffles
from timeseries_spark.extensions.embeddings import (
    covariance_pairs,
    jl_sign,
    random_projection,
)


def test_covariance_hand_checked(spark):
    # x = [1,2,3,4], y = [2,1,4,3]: var(x)=var(y)=1.25, cov(x,y)=0.75
    rows = [(0, [1.0, 2.0]), (1, [2.0, 1.0]), (2, [3.0, 4.0]), (3, [4.0, 3.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = {
        (r["i"], r["j"]): r["cov"]
        for r in covariance_pairs(df, dims=2).collect()
    }
    assert got == {(0, 0): 1.25, (0, 1): 0.75, (1, 1): 1.25}


def test_covariance_single_shuffle(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id bigint, embedding array<double>"
    )
    p = explain(covariance_pairs(df, dims=3))
    # ONE logical idx-grain aggregate exchange; it appears up to 3x in
    # the static plan (pair side + two broadcast dim-sum sides) and AQE
    # reuses it at runtime — what matters is no join shuffle at all
    assert shuffles(p) <= 3
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_random_projection_is_shuffle_free(spark):
    df = spark.createDataFrame(
        [(0, [float(i) for i in range(8)])],
        "vec_id bigint, embedding array<double>",
    )
    out = random_projection(df, dims=8, out_dims=4)
    p = explain(out)
    assert "Exchange" not in p
    (row,) = out.collect()
    assert len(row["proj"]) == 4


def test_jl_sign_is_balanced_and_deterministic(spark):
    # the ±1 matrix should be near-balanced (a structural parity hash
    # would alternate perfectly or collapse to rank 2)
    df = spark.range(1).select(
        F.flatten(
            F.transform(
                F.sequence(F.lit(0), F.lit(15)),
                lambda k: F.transform(
                    F.sequence(F.lit(0), F.lit(63)),
                    lambda i: jl_sign(k, i),
                ),
            )
        ).alias("signs")
    )
    (row,) = df.collect()
    signs = row["signs"]
    assert set(signs) == {-1.0, 1.0}
    plus = sum(1 for s in signs if s > 0)
    assert 0.35 < plus / len(signs) < 0.65
    # determinism: re-evaluation yields the same matrix
    (row2,) = df.collect()
    assert row2["signs"] == signs


def test_jl_preserves_norms_in_expectation(spark, sf_dir):
    """JL contract: E[||proj||²] = ||x||² — check the mean ratio over
    the sf0.001 embeddings is within 20%."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    proj = random_projection(emb, dims=64, out_dims=16)
    orig = emb.select(
        "vec_id",
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double")),
            F.lit(0.0),
            lambda a, x: a + x * x,
        ).alias("n2"),
    )
    pn = proj.select(
        "vec_id",
        F.aggregate(
            "proj", F.lit(0.0), lambda a, x: a + x * x
        ).alias("p2"),
    )
    (row,) = (
        orig.join(pn, "vec_id")
        .agg((F.avg(F.col("p2") / F.col("n2"))).alias("ratio"))
        .collect()
    )
    assert 0.8 < row["ratio"] < 1.2


def test_validation(spark):
    df = spark.createDataFrame(
        [(0, [1.0])], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(ValueError):
        covariance_pairs(df, dims=0)
    with pytest.raises(ValueError):
        random_projection(df, dims=1, out_dims=0)
    # dims mismatch fails loudly (checked_dims raise_error contract)
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkRuntimeError

    with pytest.raises((Py4JJavaError, PySparkRuntimeError, Exception)):
        covariance_pairs(df, dims=3).collect()


def test_pca_matches_numpy_eigensolver(spark):
    """Power iteration (6 rounds, snapped) should land on numpy's top
    eigenvector of the same covariance matrix for a well-separated
    spectrum, up to the snap/rounding tolerance."""
    import numpy as np

    from timeseries_spark.extensions.embeddings import pca_top_component

    rng = np.random.RandomState(7)
    # strongly anisotropic cloud: dominant direction = (3, 1, 0, 0)/|.|
    base = rng.randn(400, 4) * np.array([0.05, 0.05, 0.02, 0.01])
    spike = rng.randn(400, 1) * 1.0
    data = base + spike * (np.array([3.0, 1.0, 0.0, 0.0]) / np.sqrt(10))
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(data)],
        "vec_id bigint, embedding array<double>",
    )
    out = pca_top_component(df, dims=4, n_iter=6).collect()
    v = np.array([r["loading"] for r in sorted(out, key=lambda r: r["dim"])])
    lam = out[0]["eigenvalue"]

    c = np.cov(data.T, bias=True)
    evals, evecs = np.linalg.eigh(c)
    top = evecs[:, -1]
    assert abs(abs(float(np.dot(v, top))) - 1.0) < 1e-3
    assert abs(lam - evals[-1]) / evals[-1] < 1e-2
    # all 4 rows carry the same eigenvalue
    assert len({r["eigenvalue"] for r in out}) == 1


def test_pca_validates(spark):
    import pytest

    from timeseries_spark.extensions.embeddings import pca_top_component

    df = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(ValueError):
        pca_top_component(df, dims=2, n_iter=0)


def test_pca_degenerate_constant_cloud_zero_vector(spark):
    # ADVICE r6: an all-constant cloud has an all-zero covariance, so
    # ||C.v|| = 0 — the documented degenerate result is the zero vector
    # with eigenvalue 0, never NULL loadings
    from timeseries_spark.extensions.embeddings import pca_top_component

    df = spark.createDataFrame(
        [(i, [3.0, 3.0]) for i in range(5)],
        "vec_id bigint, embedding array<double>",
    )
    out = pca_top_component(df, dims=2, n_iter=3).collect()
    assert len(out) == 2
    assert all(r["loading"] == 0.0 for r in out)
    assert all(r["eigenvalue"] == 0.0 for r in out)
    assert all(r["loading"] is not None for r in out)


def test_pca_top_components_orthonormal_and_ranked(spark):
    """Round-8 deflation properties: components pairwise orthogonal BY
    CONSTRUCTION (GS runs inside the last iteration, before the final
    normalize), unit-norm, eigenvalues non-increasing, and component 0
    identical to pca_top_component."""
    import numpy as np

    from timeseries_spark.extensions.embeddings import (
        pca_top_component,
        pca_top_components,
    )

    rng = np.random.RandomState(11)
    # three well-separated axes + isotropic noise
    n = 300
    data = (
        rng.randn(n, 1) * 2.0 * np.array([[1.0, 0, 0, 0, 0, 0]])
        + rng.randn(n, 1) * 1.0 * np.array([[0, 1.0, 0, 0, 0, 0]])
        + rng.randn(n, 1) * 0.5 * np.array([[0, 0, 1.0, 0, 0, 0]])
        + rng.randn(n, 6) * 0.05
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(data)],
        "vec_id bigint, embedding array<double>",
    )
    rows = pca_top_components(df, dims=6, n_components=3, n_iter=8).collect()
    comps = {}
    evs = {}
    for c in range(3):
        got = sorted(
            (r for r in rows if r["component"] == c), key=lambda r: r["dim"]
        )
        comps[c] = np.array([r["loading"] for r in got])
        evs[c] = got[0]["eigenvalue"]
    # orthogonality is enforced by construction: bounded by snap/round
    for a in range(3):
        for b in range(a + 1, 3):
            assert abs(float(np.dot(comps[a], comps[b]))) < 1e-5
        assert abs(float(np.dot(comps[a], comps[a])) - 1.0) < 1e-5
    assert evs[0] >= evs[1] >= evs[2] > 0
    # vs numpy eigensolver on the same covariance
    c = np.cov(data.T, bias=True)
    evals, evecs = np.linalg.eigh(c)
    for rank, comp in comps.items():
        ref = evecs[:, -1 - rank]
        assert abs(abs(float(np.dot(comp, ref))) - 1.0) < 5e-3
        assert abs(evs[rank] - evals[-1 - rank]) / evals[-1 - rank] < 5e-2
    # component 0 == single-component operator
    single = {
        r["dim"]: r["loading"]
        for r in pca_top_component(df, dims=6, n_iter=8).collect()
    }
    assert all(
        single[i] == comps[0][i] for i in range(6)
    )


def test_pca_whiten_scores_unit_variance(spark):
    """Whitened scores have ~unit variance along every component and
    near-zero cross-correlation — the point of whitening."""
    import numpy as np

    from timeseries_spark.extensions.embeddings import pca_whiten_scores

    rng = np.random.RandomState(3)
    n = 400
    data = rng.randn(n, 4) * np.array([2.0, 1.0, 0.5, 0.25])
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(data)],
        "vec_id bigint, embedding array<double>",
    )
    out = pca_whiten_scores(df, dims=4, n_components=3, n_iter=8).collect()
    m = np.array([r["whitened"] for r in out])
    assert m.shape == (n, 3)
    centered = m - m.mean(axis=0)
    cov = centered.T @ centered / n
    for a in range(3):
        assert abs(cov[a, a] - 1.0) < 0.05
        for b in range(a + 1, 3):
            assert abs(cov[a, b]) < 0.05
