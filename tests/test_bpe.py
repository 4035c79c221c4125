"""BPE merge induction (round 6)."""

from __future__ import annotations

import pytest

from timeseries_spark.extensions.bpe import induce_bpe, segment_topk


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )


def test_bpe_hand_checked(spark):
    # corpus: 'abab' x3, 'abc' x2 -> pair counts: (a,b): 3*2+2=8,
    # (b,a): 3, (b,c): 2 -> merge 1 = ab. Then (ab,ab): 3, (ab,c): 2
    # -> merge 2 = abab.
    docs = _docs(spark, ["abab abab abc", "abab abc"])
    merges, words = induce_bpe(docs, n_merges=2)
    got = [
        (r["step"], r["pair_left"], r["pair_right"], r["merged"], r["pair_count"])
        for r in merges.orderBy("step").collect()
    ]
    assert got == [(1, "a", "b", "ab", 8), (2, "ab", "ab", "abab", 3)]
    segs = {r["token"]: r["s"] for r in words.collect()}
    assert segs["abab"] == "[abab]"
    assert segs["abc"] == "[ab][c]"


def test_bpe_greedy_leftmost_overlap(spark):
    # 'aaa': pairs (a,a) count 2; merging must be greedy leftmost
    # non-overlapping: [aa][a], never [a][aa] or a double-consume
    docs = _docs(spark, ["aaa aaa"])
    merges, words = induce_bpe(docs, n_merges=1)
    (m,) = merges.collect()
    assert (m["pair_left"], m["pair_right"]) == ("a", "a")
    (w,) = words.collect()
    assert w["s"] == "[aa][a]"


def test_bpe_exhaustion_stops_early(spark):
    # single-char tokens have no adjacent pairs after one merge each
    docs = _docs(spark, ["ab ab"])
    merges, words = induce_bpe(docs, n_merges=5)
    rows = merges.collect()
    assert len(rows) == 1  # 'ab' fully merged; no pairs remain
    assert rows[0]["merged"] == "ab"


def test_bpe_filters_non_word_tokens(spark):
    docs = _docs(spark, ["ab ab A-B %% ab"])
    merges, words = induce_bpe(docs, n_merges=1)
    assert {r["token"] for r in words.collect()} == {"ab"}
    (m,) = merges.collect()
    assert m["pair_count"] == 3


def test_bpe_validates(spark):
    docs = _docs(spark, ["ab"])
    with pytest.raises(ValueError):
        induce_bpe(docs, n_merges=0)


def test_segment_topk_deterministic(spark):
    docs = _docs(spark, ["aa bb aa cc", "bb aa"])
    _, words = induce_bpe(docs, n_merges=1)
    top = segment_topk(words, k=2).collect()
    assert [r["token"] for r in top] == ["aa", "bb"]


def _rows(*tups):
    return [{"a": a, "b": b, "total": t} for a, b, t in tups]


def test_disjoint_prefix_stops_at_first_conflict():
    from timeseries_spark.extensions.bpe import _disjoint_prefix

    batch = _disjoint_prefix(
        _rows(("a", "b", 10), ("b", "c", 9), ("c", "d", 8)), 16, 99
    )
    assert [(r["a"], r["b"]) for r in batch] == [("a", "b")]


def test_disjoint_prefix_enforces_strict_count_boundary():
    from timeseries_spark.extensions.bpe import _disjoint_prefix

    # tie at the batch boundary: p2 and p3 both count 9 -> p2 must be
    # dropped (sequential greedy could legally reach p3-or-a-new-pair
    # first), leaving the strictly-dominant p1 alone
    batch = _disjoint_prefix(
        _rows(("a", "b", 10), ("c", "d", 9), ("e", "f", 9)), 2, 99
    )
    assert [(r["a"], r["b"]) for r in batch] == [("a", "b")]
    # strictly decreasing counts keep the full prefix
    batch = _disjoint_prefix(
        _rows(("a", "b", 10), ("c", "d", 9), ("e", "f", 8)), 16, 99
    )
    assert [(r["a"], r["b"]) for r in batch] == [("a", "b"), ("c", "d")] or len(
        batch
    ) == 3


def test_disjoint_prefix_conflicts_on_merged_output():
    from timeseries_spark.extensions.bpe import _disjoint_prefix

    # merging (a,b) mints symbol "ab"; a later pair with an "ab"
    # component must conflict even though {a,b} ∩ {ab,c} = ∅
    batch = _disjoint_prefix(
        _rows(("a", "b", 10), ("ab", "c", 9), ("x", "y", 8)), 16, 99
    )
    assert [(r["a"], r["b"]) for r in batch] == [("a", "b")]


def test_disjoint_prefix_respects_remaining_cap():
    from timeseries_spark.extensions.bpe import _disjoint_prefix

    batch = _disjoint_prefix(
        _rows(("a", "b", 10), ("c", "d", 9), ("e", "f", 8)), 16, 1
    )
    assert [(r["a"], r["b"]) for r in batch] == [("a", "b")]


def test_batched_equals_sequential_on_fixture(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["abab abab abc", "abc ab a b", "baba abab cc cc"] * 2
        )],
        "doc_id bigint, text string",
    )
    for bm in (1, 2, 16):
        seq_m, seq_w = induce_bpe(docs, n_merges=5, batch_max=1)
        bat_m, bat_w = induce_bpe(docs, n_merges=5, batch_max=bm)
        assert sorted(map(tuple, seq_m.collect())) == sorted(
            map(tuple, bat_m.collect())
        ), f"batch_max={bm}"
        assert sorted(map(tuple, seq_w.collect())) == sorted(
            map(tuple, bat_w.collect())
        ), f"batch_max={bm}"


def test_batched_validates(spark):
    docs = spark.createDataFrame([(0, "ab")], "doc_id bigint, text string")
    with pytest.raises(ValueError):
        induce_bpe(docs, n_merges=0)
    with pytest.raises(ValueError):
        induce_bpe(docs, n_merges=1, batch_max=0)


def test_disjoint_prefix_earlier_mints_ends_batch_after_collision():
    from timeseries_spark.extensions.bpe import _disjoint_prefix

    # a truncated window (batch_max + 1 rows) cannot show every pair;
    # the minted string "cd" is also an earlier mint of the induction,
    # so it may already exist as a symbol and inflate (x, cd) pairs:
    # the batch ends right after the member that mints it
    rows = _rows(("a", "b", 10), ("c", "d", 9), ("e", "f", 8), ("g", "h", 7))
    batch = _disjoint_prefix(rows, 3, 99, earlier_mints={"cd", "zz"})
    assert [(r["a"], r["b"]) for r in batch] == [("a", "b"), ("c", "d")]
    # no earlier mint collides: the whole disjoint prefix is kept
    batch = _disjoint_prefix(rows, 3, 99, earlier_mints={"zz"})
    assert [(r["a"], r["b"]) for r in batch] == [
        ("a", "b"),
        ("c", "d"),
        ("e", "f"),
    ]
    # without earlier mints a truncated window stays conservative
    batch = _disjoint_prefix(rows, 3, 99)
    assert [(r["a"], r["b"]) for r in batch] == [("a", "b")]


def test_select_batch_one_action_per_round(spark):
    from timeseries_spark.extensions.bpe import select_batch

    # a multi-merge round over a window that cannot show every pair:
    # the batch must be decided from the one top-N collect alone
    pc = spark.createDataFrame(
        [("a", "b", 10), ("c", "d", 9), ("e", "f", 8), ("g", "h", 7),
         ("i", "j", 6), ("k", "l", 5)],
        "a string, b string, total bigint",
    )
    jsc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()
    jsc.listenerBus().waitUntilEmpty()
    before = store.executionsCount()
    batch = select_batch(pc, 3, 99, set())
    jsc.listenerBus().waitUntilEmpty()
    assert store.executionsCount() - before == 1
    assert [(r["a"], r["b"]) for r in batch] == [
        ("a", "b"),
        ("c", "d"),
        ("e", "f"),
    ]
