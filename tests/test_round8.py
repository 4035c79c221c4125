"""Round-8 operators: triangle counting, MMR re-rank, token-label MI,
STL decomposition, embedding standardization."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def test_triangle_counts_k4_and_isolated_edge(spark):
    # K4 on {1,2,3,4}: 4 triangles, every node in 3; edge {5,6}: 0
    edges = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    edges.append((5, 6))
    from timeseries_spark.extensions.graph import triangle_counts

    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["node"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0, 6: 0}


def test_triangle_counts_direction_and_dup_insensitive(spark):
    # both directions + duplicates + a loop must not change the count
    from timeseries_spark.extensions.graph import triangle_counts

    base = [(1, 2), (2, 3), (1, 3)]
    noisy = base + [(b, a) for a, b in base] + base + [(2, 2)]
    df = spark.createDataFrame(noisy, "src bigint, dst bigint")
    got = {r["node"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_mmr_prefers_diverse_over_redundant(spark):
    # docs 1/2 are near-copies of each other (both highly relevant),
    # doc 3 is less relevant but diverse; with a diversity-leaning lam
    # the greedy step 2 must skip the redundant near-copy. The query is
    # deliberately NOT equal to any doc — if it were, rel == sim-to-
    # selected and MMR degenerates to a pure rel ranking.
    from timeseries_spark.extensions.similarity import mmr_rerank

    vecs = [
        (1, [0.9, 0.1]),
        (2, [0.905, 0.095]),
        (3, [0.6, -0.8]),
    ]
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    qs = spark.createDataFrame(
        [(100, [1.0, 0.0])], "query_id bigint, query_vec array<double>"
    )
    out = sorted(
        mmr_rerank(df, qs, pool_k=3, k=2, lam=0.3).collect(),
        key=lambda r: r["step"],
    )
    # step 1: highest rel is doc 2; step 2: doc 3 (diverse) beats the
    # near-copy doc 1 despite doc 1's far higher relevance
    assert [r["neighbor_id"] for r in out] == [2, 3]


def test_mmr_validates(spark):
    import pytest

    from timeseries_spark.extensions.similarity import mmr_rerank

    df = spark.createDataFrame(
        [(1, [1.0])], "vec_id bigint, embedding array<double>"
    )
    qs = spark.createDataFrame(
        [(2, [1.0])], "query_id bigint, query_vec array<double>"
    )
    with pytest.raises(ValueError):
        mmr_rerank(df, qs, pool_k=2, k=5)
    with pytest.raises(ValueError):
        mmr_rerank(df, qs, lam=1.5)


def test_token_label_mi_discriminative_beats_uniform(spark):
    # 'aaa' only in label x, 'bbb' only in y (perfectly informative);
    # 'ccc' everywhere (zero information)
    from timeseries_spark.extensions.text import token_label_mi

    rows = [(i, "x", "aaa ccc") for i in range(10)] + [
        (i + 10, "y", "bbb ccc") for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    out = {r["token"]: r for r in token_label_mi(df, top_k=10).collect()}
    assert out["ccc"]["mi_nats"] == 0.0
    # perfect binary split: MI = ln 2
    assert abs(out["aaa"]["mi_nats"] - math.log(2)) < 1e-6
    assert abs(out["bbb"]["mi_nats"] - math.log(2)) < 1e-6
    assert out["aaa"]["doc_freq"] == 10


def test_stl_reconstructs_and_seasonal_centered(spark):
    # value = linear trend + weekly square wave; decomposition must
    # reconstruct exactly (value == trend + seasonal + residual by
    # construction) and the seasonal component must sum to ~0 over the
    # 7 phases
    from timeseries_spark.operators.timeseries import stl_decompose

    rows = [
        ("a", d, float(10 + d + (5 if d % 7 == 0 else 0)))
        for d in range(1, 29)
    ]
    df = spark.createDataFrame(rows, "k string, day int, v double")
    out = stl_decompose(df, ["k"], "day", "v", period=7, half_window=3)
    got = out.collect()
    assert len(got) == 28
    for r in got:
        assert abs(r["value"] - (r["trend"] + r["seasonal"] + r["residual"])) < 1e-9
    phases = {}
    for r in got:
        phases.setdefault(r["day"] % 7, set()).add(r["seasonal"])
    # one seasonal value per phase
    assert all(len(v) == 1 for v in phases.values())
    assert abs(sum(next(iter(v)) for v in phases.values())) < 1e-5
    # the spike phase carries the largest seasonal component
    assert max(phases, key=lambda p: next(iter(phases[p]))) == 0


def test_standardize_embeddings_unit_stats_and_constant_dim(spark):
    import numpy as np

    from timeseries_spark.extensions.embeddings import standardize_embeddings

    rng = np.random.RandomState(5)
    data = rng.randn(200, 3) * np.array([4.0, 0.5, 1.0]) + np.array(
        [10.0, -3.0, 0.0]
    )
    data[:, 2] = 7.0  # collapsed dimension
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(data)],
        "vec_id bigint, embedding array<double>",
    )
    out = standardize_embeddings(df, dims=3).collect()
    m = np.array([r["standardized"] for r in out])
    assert m.shape == (200, 3)
    for d in range(2):
        assert abs(m[:, d].mean()) < 1e-3
        assert abs(m[:, d].std() - 1.0) < 1e-3
    assert (m[:, 2] == 0.0).all()


def test_collocations_pmi_adjacent_phrase_wins(spark):
    # 'new york' always adjacent; 'the' everywhere — PMI must rank the
    # phrase far above any pair involving the function word
    from timeseries_spark.extensions.text import collocations_pmi

    rows = [
        (i, "the new york office of the big firm") for i in range(10)
    ] + [(i + 10, "the big firm of the office") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = collocations_pmi(df, min_count=5, top_k=5).collect()
    top = out[0] if out[0]["pmi_nats"] == max(r["pmi_nats"] for r in out) else None
    pairs = {(r["w1"], r["w2"]): r["pmi_nats"] for r in out}
    assert ("new", "york") in pairs
    the_pairs = [v for (a, b), v in pairs.items() if a == "the" or b == "the"]
    assert all(pairs[("new", "york")] > v for v in the_pairs)


def test_token_burstiness_concentrated_beats_uniform(spark):
    from timeseries_spark.extensions.text import token_burstiness

    # 'zzz' appears 10x in each of 5 docs (bursty); 'aaa' once in
    # every doc (Poisson-ish, dispersion < 1 since it is constant)
    rows = [(i, "aaa " + ("zzz " * 10 if i < 5 else "bbb")) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["token"]: r for r in token_burstiness(df, min_docs=5).collect()}
    assert out["zzz"]["burstiness"] > 5.0
    assert out["aaa"]["burstiness"] < 1.0
    assert out["zzz"]["doc_freq"] == 5 and out["zzz"]["total_count"] == 50


def test_theil_sen_ignores_outlier(spark):
    from timeseries_spark.operators.timeseries import theil_sen_trend

    # y = 2x + 1 with one wild outlier: OLS would bend, Theil-Sen holds
    rows = [("a", x, 2.0 * x + 1.0) for x in range(1, 12)]
    rows[5] = ("a", 6, 500.0)
    df = spark.createDataFrame(rows, "k string, x int, y double")
    got = theil_sen_trend(df, ["k"], "x", "y").collect()[0]
    assert got["slope"] == 2.0
    # Sen's residual-median intercept: every non-outlier residual is 1
    assert got["intercept"] == 1.0
    assert got["n_points"] == 11 and got["n_pairs"] == 55


def test_gini_extremes(spark):
    from timeseries_spark.extensions.dataquality import gini_by_group

    eq = [("g", i, 10.0) for i in range(10)]
    one = [("h", i, 0.0) for i in range(9)] + [("h", 9, 90.0)]
    df = spark.createDataFrame(eq + one, "grp string, unit int, v double")
    out = {r["grp"]: r for r in gini_by_group(df, ["grp"], "unit", "v").collect()}
    assert out["g"]["gini"] == 0.0
    assert out["h"]["gini"] == 0.9  # (n-1)/n with one holder
    assert out["g"]["total_value"] == 100.0


def test_gini_negative_value_raises(spark):
    import pytest
    from timeseries_spark.extensions.dataquality import gini_by_group

    df = spark.createDataFrame(
        [("g", 1, 5.0), ("g", 2, -1.0)], "grp string, unit int, v double"
    )
    with pytest.raises(Exception, match="negative unit total"):
        gini_by_group(df, ["grp"], "unit", "v").collect()


def test_local_clustering_triangle_plus_tail(spark):
    # triangle {1,2,3} plus pendant 4-1: node 1 has deg 3, 1 triangle
    # -> C = 2*1/(3*2) = 1/3; nodes 2,3 are fully clustered; leaf 4 = 0
    from timeseries_spark.extensions.graph import local_clustering

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 4)], "src bigint, dst bigint"
    )
    got = {r["node"]: r for r in local_clustering(df).collect()}
    assert got[1]["clustering"] == round(1 / 3, 6)
    assert got[2]["clustering"] == 1.0 and got[3]["clustering"] == 1.0
    assert got[4]["clustering"] == 0.0 and got[4]["degree"] == 1


def test_assortativity_star_is_negative(spark):
    # star graph: hub attaches only to leaves -> strongly disassortative
    from timeseries_spark.extensions.graph import degree_assortativity

    df = spark.createDataFrame(
        [(0, i) for i in range(1, 8)], "src bigint, dst bigint"
    )
    got = degree_assortativity(df).collect()[0]
    assert got["n_nodes"] == 8 and got["n_edges"] == 7
    assert got["assortativity"] == -1.0


def test_k_core_peels_cascade(spark):
    # 4-clique (3-core) with a path hanging off: the path peels away
    # over multiple rounds, the clique survives with degree 3
    from timeseries_spark.extensions.graph import k_core

    clique = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    path = [(4, 10), (10, 11), (11, 12)]
    df = spark.createDataFrame(clique + path, "src bigint, dst bigint")
    got = {r["node"]: r for r in k_core(df, k=3, n_rounds=4).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert all(r["core_degree"] == 3 for r in got.values())
    assert all(r["converged"] for r in got.values())


def test_k_core_unconverged_flag(spark):
    # a long path under k=2 peels one leaf pair per round; 1 round on a
    # 6-path cannot converge -> flag must be False and visible
    from timeseries_spark.extensions.graph import k_core

    path = [(i, i + 1) for i in range(1, 7)]
    df = spark.createDataFrame(path, "src bigint, dst bigint")
    got = k_core(df, k=2, n_rounds=1).collect()
    assert got and all(not r["converged"] for r in got)


def test_weighted_median_hand_checked(spark):
    from timeseries_spark.operators.timeseries import weighted_median

    # values 1..4 with weights 1,1,5,1: cum 1,2,7,8; half total = 4
    # -> first value with cw*2 >= 8 is 3
    rows = [("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 5.0), ("g", 4.0, 1.0)]
    df = spark.createDataFrame(rows, "k string, v double, w double")
    got = weighted_median(df, ["k"], "v", "w").collect()[0]
    assert got["weighted_median"] == 3.0
    assert got["total_weight"] == 8.0
    # uniform weights degenerate to the lower median
    uni = spark.createDataFrame(
        [("u", float(v), 1.0) for v in range(1, 5)], "k string, v double, w double"
    )
    assert weighted_median(uni, ["k"], "v", "w").collect()[0][
        "weighted_median"
    ] == 2.0


def test_conversion_latency_zero_and_missing_trigger(spark):
    import datetime as dt

    from timeseries_spark.operators.behavior import conversion_latency

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, "view"),
        (1, t0 + dt.timedelta(seconds=30), "purchase"),   # 30 s
        (2, t0, "purchase"),                               # no trigger
        (3, t0, "view"),
        (3, t0, "purchase"),                               # same ts -> 0
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, event_type string")
    got = conversion_latency(
        df, "user_id", "ts", "event_type", "view", "purchase"
    ).collect()[0]
    assert got["n_conversions"] == 2
    assert got["max_s"] == 30.0
    assert got["p50_s"] == 15.0  # interpolated between 0 and 30


def test_winnowing_guarantee_and_short_docs(spark):
    from timeseries_spark.extensions.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens >= k+w-1
    rows = [
        (1, shared + " one two three four"),
        (2, "nine eight seven " + shared),
        (3, "completely different words everywhere here now"),
        (4, "ab"),  # shorter than k tokens -> no fingerprints
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    fps = winnow_fingerprints(df, k=3, window=4)
    assert fps.where(F.col("id") == 4).count() == 0
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in winnow_pairs(
            df, k=3, window=4, min_shared=1, max_doc_freq=10
        ).collect()
    }
    # the >= k+window-1 shared run guarantees a shared fingerprint
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_entity_resolution_clusters_near_names(spark, sf_dir):
    # run the registered query end-to-end at the smallest SF: every
    # name resolves, canonical is a cluster member, sizes consistent
    import __spark_entry__ as e

    df = e.queries()["entity_resolution_parts"](spark, sf_dir)
    rows = df.collect()
    assert rows
    by_canon = {}
    for r in rows:
        by_canon.setdefault(r["canonical_name"], []).append(r)
    for canon, members in by_canon.items():
        assert any(m["p_name"] == canon for m in members)
        assert all(m["cluster_size"] == len(members) for m in members)


def test_welch_ttest_hand_checked(spark):
    from timeseries_spark.extensions.dataquality import welch_ttest

    # a = [1,2,3,4], b = [2,4,6,8,10]: ma=2.5 va=5/3; mb=6 vb=10
    rows = [("a", float(v)) for v in (1, 2, 3, 4)] + [
        ("b", float(v)) for v in (2, 4, 6, 8, 10)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    got = welch_ttest(df, "g", "v", "a", "b").collect()[0]
    assert got["n_a"] == 4 and got["n_b"] == 5
    assert got["mean_a"] == 2.5 and got["mean_b"] == 6.0
    se = (5 / 3) / 4 + 10 / 5
    t = (2.5 - 6.0) / se ** 0.5
    assert abs(got["t_stat"] - t) < 1e-5
    dof = se * se / ((5 / 3 / 4) ** 2 / 3 + (10 / 5) ** 2 / 4)
    assert abs(got["dof"] - dof) < 1e-5


def test_welch_ttest_degenerate_raises(spark):
    import pytest

    from timeseries_spark.extensions.dataquality import welch_ttest

    df = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("b", 3.0)], "g string, v double"
    )
    with pytest.raises(Exception, match="welch_ttest"):
        welch_ttest(df, "g", "v", "a", "b").collect()


def test_mann_whitney_hand_checked(spark):
    from timeseries_spark.extensions.dataquality import mann_whitney_u

    # a = [1, 2, 3], b = [2, 4]: pooled sorted 1,2,2,3,4 ->
    # midranks 1, 2.5, 2.5, 4, 5; Ra = 1+2.5+4 = 7.5; Ua = 7.5-6 = 1.5
    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 2.0), ("b", 4.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = mann_whitney_u(df, "g", "v", "a", "b").collect()[0]
    assert got["u_a"] == 1.5
    assert got["u_b"] == 3.0 * 2.0 - 1.5
    sigma = (3 * 2 * 6 / 12) ** 0.5
    assert abs(got["z_stat"] - (1.5 - 3.0) / sigma) < 1e-5


def test_mann_whitney_identical_groups_zero_z(spark):
    from timeseries_spark.extensions.dataquality import mann_whitney_u

    rows = [("a", float(v)) for v in range(10)] + [
        ("b", float(v)) for v in range(10)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    got = mann_whitney_u(df, "g", "v", "a", "b").collect()[0]
    # identical samples -> U_a = n*n/2 exactly, z = 0
    assert got["u_a"] == 50.0
    assert got["z_stat"] == 0.0


def test_degenerate_group_guards_raise(spark):
    import pytest

    from timeseries_spark.extensions.dataquality import (
        ks_two_sample,
        mann_whitney_u,
    )
    from timeseries_spark.operators.timeseries import weighted_median

    only_a = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0)], "g string, v double"
    )
    with pytest.raises(Exception, match="mann_whitney_u"):
        mann_whitney_u(only_a, "g", "v", "a", "b").collect()
    with pytest.raises(Exception, match="ks_two_sample"):
        ks_two_sample(only_a, "g", "v", "a", "b").collect()
    neg = spark.createDataFrame(
        [("k", 1.0, 2.0), ("k", 2.0, -1.0)], "k string, v double, w double"
    )
    with pytest.raises(Exception, match="negative weight"):
        weighted_median(neg, ["k"], "v", "w").collect()
