"""Full-text retrieval: BM25 scoring semantics on a hand-computed
corpus, boolean postings algebra, and the 100 TB plan shapes (broadcast
query probes, TakeOrderedAndProject top-k, no cartesian)."""

from __future__ import annotations

import math

from timeseries_spark.extensions.search import (
    bm25_topk,
    boolean_search,
    build_postings,
)


def _mk_docs(spark):
    rows = [
        (1, "cat dog cat"),        # tf(cat)=2, dl=3
        (2, "dog dog dog dog"),    # dl=4
        (3, "cat fish"),           # dl=2
        (4, "bird"),               # dl=1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_postings_tf_and_dl(spark):
    post = {
        (r["term"], r["doc_id"]): (r["tf"], r["dl"])
        for r in build_postings(_mk_docs(spark)).collect()
    }
    assert post[("cat", 1)] == (2, 3)
    assert post[("dog", 2)] == (4, 4)
    assert ("bird", 4) in post and ("bird", 1) not in post


def test_bm25_matches_hand_formula(spark):
    docs = _mk_docs(spark)
    got = {r["doc_id"]: r["score"] for r in bm25_topk(docs, ["cat"], 4).collect()}
    n, avgdl = 4, (3 + 4 + 2 + 1) / 4.0
    idf = math.log(1 + (n - 2 + 0.5) / (2 + 0.5))  # df(cat)=2

    def s(tf, dl):
        w = idf * tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
        return math.floor(w * 10000 + 0.5) / 10000

    assert got == {1: s(2, 3), 3: s(1, 2)}
    # higher tf with comparable length outranks
    assert got[1] > got[3]


def test_bm25_k_cut_and_tiebreak(spark):
    docs = _mk_docs(spark)
    top1 = bm25_topk(docs, ["cat"], 1).collect()
    assert [r["doc_id"] for r in top1] == [1]


def test_boolean_and_not(spark):
    docs = _mk_docs(spark)
    hits = {r["doc_id"] for r in boolean_search(docs, ["cat", "dog"]).collect()}
    assert hits == {1}
    none = {
        r["doc_id"]
        for r in boolean_search(docs, ["cat"], must_not=["fish"]).collect()
    }
    assert none == {1}  # doc 3 has cat but also fish


def test_bm25_plan_topk_and_broadcast(plan):
    """Global top-k must be TakeOrderedAndProject (per-partition heaps),
    the query/stats sides broadcast, and nothing cartesian."""
    p = plan("search_bm25_topk")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def test_search_validation_raises(spark):
    import pytest as _pt

    docs = _mk_docs(spark)
    with _pt.raises(ValueError):
        bm25_topk(docs, [], 5)
    with _pt.raises(ValueError):
        bm25_topk(docs, ["cat"], 0)
    with _pt.raises(ValueError):
        boolean_search(docs, [])


def test_duplicate_query_terms_count_once(spark):
    docs = _mk_docs(spark)
    once = {(r["doc_id"], r["score"]) for r in bm25_topk(docs, ["cat"], 4).collect()}
    twice = {(r["doc_id"], r["score"]) for r in bm25_topk(docs, ["cat", "cat"], 4).collect()}
    assert once == twice


def test_tfidf_top_terms_hand_checked(spark):
    import math

    from timeseries_spark.extensions.search import tfidf_top_terms

    docs = spark.createDataFrame(
        [(0, "apple apple banana"), (1, "banana cherry"), (2, "cherry")],
        "doc_id bigint, text string",
    )
    out = {
        (r["doc_id"], r["rnk"]): (r["term"], r["score"])
        for r in tfidf_top_terms(docs, k=2).collect()
    }
    snap = lambda v: math.floor(v * 10000 + 0.5) / 10000  # noqa: E731
    idf = lambda df: math.log(4.0 / (df + 1.0)) + 1.0  # noqa: E731
    # doc 0: apple tf=2 df=1 -> 2*(ln(2)+1); banana tf=1 df=2
    assert out[(0, 1)] == ("apple", snap(2 * idf(1)))
    assert out[(0, 2)] == ("banana", snap(idf(2)))
    # doc 2: single term
    assert out[(2, 1)] == ("cherry", snap(idf(2)))
    assert (2, 2) not in out

    import pytest

    with pytest.raises(ValueError):
        tfidf_top_terms(docs, k=0)
