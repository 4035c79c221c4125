"""Round 13: the corpus-sized (auto-k) semantic-dedup blocker.

The contract: k = max(min_k, ceil(n / target_block_size)) holds the
expected cluster block near the target as the corpus grows, making
per-block pair generation linear in the corpus instead of the pinned-k
quadratic (measured 11.7x-18.9x wall for 10x data at sf1 with k=4,
experiments/SEMDEDUP_KNOB_r11.json). k changes the ANSWER (different
blocks -> different candidate pairs -> different kept set), so auto-k
ships as its own oracle-gated query pair (semantic_dedup_scaled,
semantic_dedup_scaled_staged) and never changes pinned-k defaults.
"""

from __future__ import annotations

import os

from tests.conftest import SF_DIR, explain
from timeseries_spark.extensions.dedup import auto_n_clusters


def test_auto_n_clusters_math():
    # exact block fit, remainder rounds up, floor binds only below it
    assert auto_n_clusters(512, target_block_size=512) == 2  # floor wins
    assert auto_n_clusters(1025, target_block_size=512) == 3
    assert auto_n_clusters(20000, target_block_size=512) == 40
    assert auto_n_clusters(1, target_block_size=512) == 2
    assert auto_n_clusters(5000, target_block_size=512, min_k=2) == 10
    assert auto_n_clusters(100, target_block_size=50, min_k=2) == 2
    # 100 TB sanity: 10^11 vectors -> k ~ 2*10^8 blocks of ~512
    assert auto_n_clusters(10**11, target_block_size=512) == -(
        -(10**11) // 512
    )


def test_scaled_default_stays_opt_in(spark):
    # the pinned-k default is untouched: semantic_dedup with no k arg
    # still blocks with k=4 (the compat contract — auto-k must never
    # silently change an existing query's answer)
    import inspect

    from timeseries_spark.extensions.dedup import semantic_dedup

    assert inspect.signature(semantic_dedup).parameters[
        "n_clusters"
    ].default == 4


def test_scaled_staged_matches_inplan(spark, tmp_path, monkeypatch):
    # the staged-quantizer variant is answer-identical to the in-plan
    # auto-k fit (staging changes WHEN the quantizer trains, never what
    # it answers) — the same set-equality contract the pinned-k staged
    # query is held to
    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", str(tmp_path / "stage"))
    from timeseries_spark.queries.similarity import (
        semantic_dedup_scaled,
        semantic_dedup_scaled_staged,
    )

    plain = sorted(map(tuple, semantic_dedup_scaled(spark, SF_DIR).collect()))
    staged = sorted(
        map(tuple, semantic_dedup_scaled_staged(spark, SF_DIR).collect())
    )
    assert plain == staged
    assert len(plain) > 0


def test_scaled_k_binds(spark):
    # auto-k at this fixture (n=500 -> k=2) must produce a DIFFERENT
    # kept set than the pinned k=4 query: proves the knob actually
    # reaches the blocker (a regression that drops the auto path back
    # to the pinned default would make these equal)
    from timeseries_spark.queries.similarity import (
        semantic_dedup,
        semantic_dedup_scaled,
    )

    pinned = sorted(map(tuple, semantic_dedup(spark, SF_DIR).collect()))
    scaled = sorted(map(tuple, semantic_dedup_scaled(spark, SF_DIR).collect()))
    assert pinned != scaled


def _rows(*tups):
    return [{"a": a, "b": b, "total": t} for a, b, t in tups]


def test_bpe_tie_plateau_batches_when_no_steal_possible():
    # round-13: equal-count disjoint pairs batch together when the
    # window proves no minted output can tie into the ranking — the
    # (b_i, *) successor check finds no count-c pair starting with any
    # batch member's right component, so (a_i b_i, y) can never reach
    # count c and lex order alone cannot steal a slot
    from timeseries_spark.extensions.bpe import _disjoint_prefix

    batch = _disjoint_prefix(
        _rows(("a", "b", 9), ("c", "d", 9), ("e", "f", 9), ("x", "a", 9)),
        16,
        99,
    )
    assert [(r["a"], r["b"]) for r in batch] == [
        ("a", "b"),
        ("c", "d"),
        ("e", "f"),
    ]


def test_bpe_tie_plateau_truncates_on_real_steal():
    # the counterexample that makes the lex guard necessary: words
    # {"a z y" x c, "c d" x c} give pairs (a,z), (c,d), (z,y) all at
    # count c; merging (a,z) mints (az, y) at count c and "az" < "c",
    # so sequential greedy merges (az, y) BEFORE (c, d) — the batch
    # must stop after (a, z). The window contains (z, y) at count c
    # (a count-c successor of z), so the refined guard fires.
    from timeseries_spark.extensions.bpe import _disjoint_prefix

    batch = _disjoint_prefix(
        _rows(("a", "z", 9), ("c", "d", 9), ("z", "y", 9)), 16, 99
    )
    assert [(r["a"], r["b"]) for r in batch] == [("a", "z")]


def test_bpe_tie_plateau_conservative_on_truncated_window():
    # window truncated mid-plateau (last collected row still at count
    # c): hidden count-c successors may exist, so ties fall back to
    # single-merge behavior
    from timeseries_spark.extensions.bpe import _disjoint_prefix

    batch = _disjoint_prefix(
        _rows(("a", "b", 9), ("c", "d", 9), ("e", "f", 9)), 2, 99
    )
    assert [(r["a"], r["b"]) for r in batch] == [("a", "b")]


def test_bpe_batched_equals_sequential_on_steal_corpus(spark):
    # end-to-end pin of the counterexample corpus: batched induction
    # must reproduce sequential greedy's merge table exactly even
    # though round 1 is a pure count-tie plateau
    from timeseries_spark.extensions.bpe import induce_bpe

    docs = spark.createDataFrame(
        [(i, "az zy yq") for i in range(9)] + [(100 + i, "cc dd") for i in range(9)],
        "doc_id bigint, text string",
    )
    seq_m, seq_w = induce_bpe(docs, n_merges=6, batch_max=1)
    bat_m, bat_w = induce_bpe(docs, n_merges=6, batch_max=8)
    assert sorted(map(tuple, seq_m.collect())) == sorted(
        map(tuple, bat_m.collect())
    )
    assert sorted(map(tuple, seq_w.collect())) == sorted(
        map(tuple, bat_w.collect())
    )


def test_scaled_dedup_pair_stage_no_all_pairs(spark):
    # the auto-k blocker must keep the pinned-k pair stage's plan
    # shape: candidates meet only inside a cluster block (block-keyed
    # equi join) — no CartesianProduct, no broadcast nested loop, no
    # SinglePartition funnel — at the k auto_n_clusters derives
    from timeseries_spark.extensions.dedup import auto_n_clusters
    from timeseries_spark.extensions.kmeans import kmeans_assign
    from timeseries_spark.extensions.similarity import embedding_near_dup
    from timeseries_spark.queries import load

    emb = load(spark, SF_DIR, "embeddings")
    k = auto_n_clusters(emb.count(), target_block_size=512)
    clusters = kmeans_assign(emb, k=k, max_iter=3)
    blocked = emb.join(clusters.select("vec_id", "cluster"), "vec_id")
    pairs = embedding_near_dup(blocked, threshold=0.30, block_col="cluster")
    p = explain(pairs)
    assert p.count("CartesianProduct") == 0
    assert p.count("BroadcastNestedLoopJoin") == 0
    assert "SinglePartition" not in p


def test_postings_build_fans_out_small_scans(spark):
    # round-13 starvation fix: the postings tokenize+explode is per-row
    # compute over a byte-small scan, so on a low-split input the plan
    # must carry the round-robin fan-out (at real scale the guard is a
    # no-op and the exchange disappears — conditional at build time)
    from timeseries_spark.extensions.search import build_postings
    from timeseries_spark.queries import load

    docs = load(spark, SF_DIR, "documents")
    if docs.rdd.getNumPartitions() >= 32:
        return  # guard is a no-op on this box; nothing to pin
    p = explain(build_postings(docs))
    assert "RoundRobinPartitioning" in p
