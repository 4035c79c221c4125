"""Round-7 corpus operators: token-budget mixing, shard audit,
tokenizer application, embedding-space decontamination."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import explain
from timeseries_spark.extensions.sampling import shard_stats, token_budget_mix


def test_token_budget_admits_in_id_order(spark):
    # one source, one shard: docs admitted by id until the running
    # total would pass the budget
    docs = spark.createDataFrame(
        [(1, "a b c", "s"), (2, "d e", "s"), (3, "f g h i", "s")],
        "doc_id bigint, text string, source string",
    )
    out = token_budget_mix(
        docs, budget_per_source=5, n_shards=1
    ).collect()
    # cum: doc1=3, doc2=5, doc3=9 -> docs 1,2 admitted (5 tokens)
    assert [(r["source"], r["n_docs"], r["n_tokens"]) for r in out] == [
        ("s", 2, 5)
    ]


def test_token_budget_per_source_isolation(spark):
    docs = spark.createDataFrame(
        [(1, "a b", "x"), (2, "c d", "y"), (3, "e f", "y")],
        "doc_id bigint, text string, source string",
    )
    out = {
        r["source"]: (r["n_docs"], r["n_tokens"])
        for r in token_budget_mix(docs, 4, n_shards=1).collect()
    }
    assert out == {"x": (1, 2), "y": (2, 4)}


def test_token_budget_validates(spark):
    docs = spark.createDataFrame(
        [(1, "a", "s")], "doc_id bigint, text string, source string"
    )
    with pytest.raises(ValueError):
        token_budget_mix(docs, 0)
    with pytest.raises(ValueError):
        token_budget_mix(docs, 10, n_shards=0)


def test_shard_stats_partition_and_totals(spark):
    docs = spark.createDataFrame(
        [(i, "w " * (i + 1) + "end", "s") for i in range(20)],
        "doc_id bigint, text string, source string",
    )
    out = shard_stats(docs, n_shards=4).collect()
    # every doc in exactly one shard; token totals conserved
    assert sum(r["n_docs"] for r in out) == 20
    assert sum(r["n_tokens"] for r in out) == sum(i + 2 for i in range(20))
    assert all(0 <= r["shard_id"] < 4 for r in out)
    # deterministic: same input, same layout
    again = shard_stats(docs, n_shards=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_encode_corpus_hand_checked(spark):
    from timeseries_spark.extensions.bpe import encode_corpus, induce_bpe

    # 'abab' dominates: merges learn (a,b) then (ab,ab)
    docs = spark.createDataFrame(
        [(1, "abab abab ab"), (2, "ZZ!"), (3, "ab")],
        "doc_id bigint, text string",
    )
    _, words = induce_bpe(docs, n_merges=2)
    rep = {r["doc_id"]: r for r in encode_corpus(docs, words).collect()}
    # doc 1: 'abab' segments to [abab] (1 symbol), 'ab' to [ab]
    assert rep[1]["n_tokens"] == 3
    assert rep[1]["n_symbols"] == 3  # [abab] + [abab] + [ab]
    assert rep[1]["n_chars"] == 10
    assert rep[1]["compression"] == round(10 / 3, 4)
    # doc 2 has no [a-z0-9]+ token at all -> absent from the report
    assert 2 not in rep
    assert rep[3]["n_symbols"] == 1


def test_semantic_decontaminate_flags_only_hits(spark):
    from timeseries_spark.extensions.dedup import semantic_decontaminate

    ev = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    tr = spark.createDataFrame(
        [
            (10, [2.0, 0.0]),     # parallel to eval 0 -> cos 1.0
            (11, [1.0, 1.0]),     # cos ~0.7071 to both
            (12, [-1.0, 0.0]),    # cos -1 / 0 -> below threshold
        ],
        "vec_id bigint, embedding array<double>",
    )
    out = {
        r["vec_id"]: (r["n_eval_hits"], r["max_cos"])
        for r in semantic_decontaminate(tr, ev, threshold=0.5).collect()
    }
    assert out == {10: (1, 1.0), 11: (2, 0.707107)}


def test_semantic_decontaminate_plan_broadcasts_eval(spark):
    from timeseries_spark.extensions.dedup import semantic_decontaminate

    ev = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    tr = spark.createDataFrame(
        [(10, [2.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    p = explain(semantic_decontaminate(tr, ev))
    assert "BroadcastNestedLoopJoin" in p  # eval side broadcast
    assert "CartesianProduct" not in p
    # train side never shuffles except the final flagged-id aggregate
    assert p.count(") Exchange") <= 1


def test_key_skew_report_hand_checked(spark):
    from timeseries_spark.extensions.dataquality import key_skew_report

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (2, "c"), (None, "c")],
        "k bigint, t string",
    )
    out = {r["key_col"]: r for r in key_skew_report(df, ["k", "t"]).collect()}
    # k: nulls excluded -> 4 rows, 2 distinct, top '1' x3, ratio 3/(4/2)
    assert (out["k"]["n_rows"], out["k"]["n_distinct"]) == (4, 2)
    assert (out["k"]["top_key"], out["k"]["top_count"]) == ("1", 3)
    assert out["k"]["skew_ratio"] == 1.5
    # t: 5 rows, 3 distinct, 'c' x3
    assert (out["t"]["top_key"], out["t"]["top_count"]) == ("c", 3)
    import pytest

    with pytest.raises(ValueError):
        key_skew_report(df, [])


def test_event_transitions_hand_checked(spark):
    from timeseries_spark.operators.behavior import event_transitions

    rows = [
        (1, 10, "view"), (2, 10, "click"), (3, 10, "buy"),
        (4, 20, "view"), (5, 20, "view"),
    ]
    df = spark.createDataFrame(rows, "event_id bigint, user_id bigint, event_type string")
    out = {
        (r["src_type"], r["dst_type"]): (r["n"], r["prob"])
        for r in event_transitions(
            df, order_cols=("event_id",)
        ).collect()
    }
    # user 10: view->click->buy; user 20: view->view
    assert out[("view", "click")] == (1, 0.5)
    assert out[("view", "view")] == (1, 0.5)
    assert out[("click", "buy")] == (1, 1.0)
    assert len(out) == 3


def test_trend_features_hand_checked(spark):
    from timeseries_spark.extensions.features import trend_features

    # key a: y = 2x + 1 exactly -> slope 2; key b: single year -> 0.0
    rows = [("a", 2000, 4001.0), ("a", 2001, 4003.0), ("a", 2002, 4005.0),
            ("b", 2010, 9.5), ("b", 2010, 10.5)]
    df = spark.createDataFrame(rows, "key string, yr int, amt double")
    out = {r["key"]: r for r in trend_features(df, "key", "yr", "amt").collect()}
    assert out["a"]["slope"] == 2.0
    assert out["a"]["y_total"] == 12009.0
    assert out["a"]["x_first"] == 2000 and out["a"]["x_last"] == 2002
    assert out["b"]["slope"] == 0.0
    assert out["b"]["y_avg"] == 10.0


def test_token_budget_never_exceeds_budget_property(spark):
    # property over a deterministic pseudo-random corpus: per source the
    # admitted token total never exceeds the budget (each shard fills at
    # most budget//n_shards), and raising the budget only admits more
    import hashlib

    rows = []
    for i in range(120):
        h = int(hashlib.md5(f"doc{i}".encode()).hexdigest()[:8], 16)
        n_tok = h % 17 + 1
        rows.append((i, " ".join(["w"] * n_tok), f"s{h % 4}"))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    for shards in (1, 4):
        small = {
            r["source"]: r["n_tokens"]
            for r in token_budget_mix(docs, 60, n_shards=shards).collect()
        }
        big = {
            r["source"]: r["n_tokens"]
            for r in token_budget_mix(docs, 200, n_shards=shards).collect()
        }
        assert all(v <= 60 for v in small.values()), (shards, small)
        assert all(v <= 200 for v in big.values())
        for s in small:
            assert big.get(s, 0) >= small[s]


def test_trend_features_partition_invariant(spark):
    # the decimal moment sums make the feature matrix identical under
    # any partitioning / row order — the property the docstring claims
    from timeseries_spark.extensions.features import trend_features

    rows = [(f"k{i % 5}", 2000 + i % 7, 100.0 + i * 0.07) for i in range(200)]
    df = spark.createDataFrame(rows, "key string, yr int, amt double")
    a = sorted(map(tuple, trend_features(df, "key", "yr", "amt").collect()))
    b = sorted(
        map(
            tuple,
            trend_features(
                df.repartition(13).sortWithinPartitions("amt"),
                "key",
                "yr",
                "amt",
            ).collect(),
        )
    )
    assert a == b
