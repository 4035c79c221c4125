"""Corpus normalization: within-doc token dedup and data-derived
stop-token stripping — semantics on hand fixtures plus plan shapes
(zero-shuffle rewrite; stoplist-only SinglePartition)."""

from __future__ import annotations

import pytest

from tests.conftest import shuffles
from timeseries_spark.extensions.cleaning import (
    dedup_tokens_in_doc,
    derive_stop_tokens,
    strip_stop_tokens,
)


def _docs(spark):
    rows = [
        (1, "the cat sat on the mat the cat"),
        (2, "the dog"),
        (3, "dog dog dog"),
        (4, "the fish"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_dedup_keeps_first_occurrence_in_order(spark):
    out = {
        r["doc_id"]: (r["text_dedup"], r["n_dropped"])
        for r in dedup_tokens_in_doc(_docs(spark)).collect()
    }
    assert out[1] == ("the cat sat on mat", 3)
    assert out[3] == ("dog", 2)
    assert out[2] == ("the dog", 0)


def test_stoplist_is_df_thresholded(spark):
    # df: the=3/4, dog=2/4, others 1/4 -> ratio 0.6 keeps only 'the'
    [row] = derive_stop_tokens(_docs(spark), 0.6).collect()
    assert row["stop_tokens"] == ["the"]
    # nothing above 0.9 -> empty stoplist, strip is a no-op
    [none] = derive_stop_tokens(_docs(spark), 0.9).collect()
    assert none["stop_tokens"] == []
    stripped = {
        r["doc_id"]: r["n_stripped"]
        for r in strip_stop_tokens(_docs(spark), 0.9).collect()
    }
    assert set(stripped.values()) == {0}


def test_strip_preserves_order_and_counts(spark):
    out = {
        r["doc_id"]: (r["text_clean"], r["n_stripped"])
        for r in strip_stop_tokens(_docs(spark), 0.6).collect()
    }
    assert out[1] == ("cat sat on mat cat", 3)
    assert out[4] == ("fish", 1)


def test_bad_ratio_raises(spark):
    with pytest.raises(ValueError):
        derive_stop_tokens(_docs(spark), 0.0)


def test_dedup_plan_is_shuffle_free(plan):
    """The rewrite is per-row array algebra: no Exchange at all."""
    p = plan("doc_token_dedup")
    assert shuffles(p) == 0
    assert "CartesianProduct" not in p


def test_strip_plan_singlepartition_carries_only_stoplist(plan):
    """The only SinglePartition collapse is the ≤|vocab|-row stoplist;
    documents themselves never funnel through one task."""
    p = plan("strip_stop_tokens")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    # formatted explain prints each node twice (tree + detail): exactly
    # ONE SinglePartition node — the stoplist collapse — may appear;
    # documents funneling through one task would add more
    assert p.count("SinglePartition") <= 2


def test_boilerplate_strip_hand_checked(spark):
    from timeseries_spark.extensions.cleaning import (
        boilerplate_grams,
        strip_boilerplate,
    )

    docs = spark.createDataFrame(
        [
            (0, "a b c d e"),
            (1, "q a b c d"),
            (2, "a b c d"),
            (3, "m n o p"),
        ],
        "doc_id bigint, text string",
    )
    grams = {r["gram"]: r["df"] for r in boilerplate_grams(docs, 4, 3).collect()}
    assert grams == {"a b c d": 3}
    out = {
        r["doc_id"]: (r["n_boiler"], r["boiler_ratio"], r["text_clean"])
        for r in strip_boilerplate(docs, 4, 3).collect()
    }
    assert out[0] == (4, 0.8, "e")
    assert out[1] == (4, 0.8, "q")
    assert out[2] == (4, 1.0, "")  # pure boilerplate survives, empty
    assert out[3] == (0, 0.0, "m n o p")
    assert len(out) == 4  # row count preserved


def test_boilerplate_overlapping_spans_count_once(spark):
    from timeseries_spark.extensions.cleaning import strip_boilerplate

    # 'a a a a a' in 3 docs: grams at pos 0 and 1 overlap; covered
    # positions are the distinct union (all 5), not 8
    docs = spark.createDataFrame(
        [(i, "a a a a a") for i in range(3)], "doc_id bigint, text string"
    )
    out = strip_boilerplate(docs, 4, 3).collect()
    assert all(r["n_boiler"] == 5 and r["text_clean"] == "" for r in out)


def test_boilerplate_validates(spark):
    import pytest
    from timeseries_spark.extensions.cleaning import boilerplate_grams

    docs = spark.createDataFrame([(0, "a b")], "doc_id bigint, text string")
    with pytest.raises(ValueError):
        boilerplate_grams(docs, n=1)
    with pytest.raises(ValueError):
        boilerplate_grams(docs, min_df=1)
