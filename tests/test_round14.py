"""Round-14 pins.

1. Auto-k INCREMENTAL semantic dedup (the last flagged quadratic,
   BENCH_RATIO_SF1_r13 14.21x): the corpus-sized blocker must bind k
   from the CORPUS row count only, answer-match the explicit-k call,
   and keep the salted equi-join plan shape at the derived k.
2. The streaming ingestion sink's checkpoint-replay exclusion is
   pinned in tests/test_incremental_semantic.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from timeseries_spark.extensions.dedup import (
    auto_n_clusters,
    incremental_semantic_dedup,
)
from timeseries_spark.queries import load


def _shard_corpus(spark):
    docs = load(spark, SF_DIR, "documents")
    emb = load(spark, SF_DIR, "embeddings")
    is_shard = F.pmod(F.col("vec_id"), F.lit(5)) == 0
    return (
        docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0),
        emb.filter(is_shard),
        emb.filter(~is_shard),
    )


def test_incremental_auto_k_binds_corpus_count(spark):
    # n_clusters="auto" must derive k from the CORPUS row count (the
    # shard must not size the blocks it is judged against): the auto
    # call answers identically to the explicit k=auto_n_clusters(
    # corpus.count()) call, and differently-sized explicit k would not
    new_docs, new_vecs, corpus = _shard_corpus(spark)
    k_corpus = auto_n_clusters(corpus.count(), target_block_size=512)
    a = incremental_semantic_dedup(
        new_docs, new_vecs, corpus, threshold=0.40, n_clusters="auto",
        kmeans_iter=3, target_block_size=512,
    )
    b = incremental_semantic_dedup(
        new_docs, new_vecs, corpus, threshold=0.40, n_clusters=k_corpus,
        kmeans_iter=3,
    )
    got_a = sorted(map(tuple, a.collect()))
    got_b = sorted(map(tuple, b.collect()))
    assert got_a == got_b and len(got_a) > 0


def test_incremental_scaled_plan_no_all_pairs(spark):
    # at the auto-derived k the candidate join must stay the salted
    # (cluster, salt) equi join: no CartesianProduct, no broadcast
    # nested loop over the corpus, and every SinglePartition collapse
    # a bounded aggregate (k-row centroid collect / bloom sketch)
    new_docs, new_vecs, corpus = _shard_corpus(spark)
    out = incremental_semantic_dedup(
        new_docs, new_vecs, corpus, threshold=0.40, n_clusters="auto",
        kmeans_iter=3, target_block_size=512,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        below = "\n".join(lines[i + 1 : i + 3])
        assert (
            "partial_bloom_filter_agg" in below
            or "partial_collect_list" in below
        ), ln


def test_incremental_scaled_staged_equals_fresh(spark, tmp_path):
    # staging changes WHEN the quantizer trains, never what it answers:
    # the staged-artifact composition must be row-identical to the
    # fresh auto-k fit on the same shard/corpus split
    from timeseries_spark.extensions.staging import staged_centroids

    new_docs, new_vecs, corpus = _shard_corpus(spark)
    fresh = incremental_semantic_dedup(
        new_docs, new_vecs, corpus, threshold=0.40, n_clusters="auto",
        kmeans_iter=3, target_block_size=512,
    )
    k = auto_n_clusters(corpus.count(), target_block_size=512)
    cents = staged_centroids(
        spark, corpus, str(tmp_path / "emb.parquet"), k=k, max_iter=3,
        tag="semincr-test",
    )
    staged = incremental_semantic_dedup(
        new_docs, new_vecs, corpus, threshold=0.40, centroids=cents,
    )
    assert sorted(map(tuple, fresh.collect())) == sorted(
        map(tuple, staged.collect())
    )


def test_dedup_cache_lifecycle_released_after_materialize(spark):
    # ADVICE r13: the multi-consumer persist() points in the pair
    # generators are session-lifetime — materialize_release must (1)
    # return the identical pair set, (2) leave zero registered caches,
    # (3) actually drop the blocks (storageLevel back to NONE)
    from timeseries_spark.extensions import dedup as dd
    from timeseries_spark.extensions.caching import live_caches

    docs = load(spark, SF_DIR, "documents")
    baseline = sorted(
        map(tuple, dd.jaccard_pairs(docs, threshold=0.5).collect())
    )
    dd.release_dedup_caches()  # clean slate

    pairs = dd.jaccard_pairs(docs, threshold=0.5, max_doc_freq=50)
    live = live_caches(family="dedup")
    assert len(live) == 2  # pre-cap posting block + capped block
    out = dd.materialize_release(pairs)
    assert live_caches(family="dedup") == []
    for cached in live:
        lvl = cached.storageLevel
        assert not (lvl.useMemory or lvl.useDisk)
    # released output still answers, and uncapped baseline is unchanged
    assert out.count() > 0
    again = sorted(
        map(tuple, dd.jaccard_pairs(docs, threshold=0.5).collect())
    )
    assert again == baseline
    dd.release_dedup_caches()


def test_routed_assignment_exact_vs_flat(spark):
    # lever (b): two-level routed argmin must be column-for-column
    # identical to the flat broadcast path at a k that forces multiple
    # router cells (k=32, cell_target=4 => 8 cells)
    from timeseries_spark.extensions.kmeans import (
        assign_to_centroids,
        assign_to_centroids_routed,
        kmeans_fit,
    )

    emb = load(spark, SF_DIR, "embeddings")
    _, cents = kmeans_fit(emb, k=32, max_iter=3)
    flat = sorted(map(tuple, assign_to_centroids(emb, cents).collect()))
    routed = sorted(
        map(
            tuple,
            assign_to_centroids_routed(emb, cents, cell_target=4).collect(),
        )
    )
    assert routed == flat and len(flat) > 0


def test_routed_assignment_plans_without_fine_broadcast(spark):
    # forced-shard configuration: with auto-broadcast disabled the
    # probe-vs-centroid join must plan as a shuffled equi join on the
    # cell key — no CartesianProduct, and the ONLY nested-loop node is
    # the bounded 1-row router-array cross join (the sq8-stats idiom)
    from timeseries_spark.extensions.kmeans import (
        assign_to_centroids_routed,
        kmeans_fit,
    )

    emb = load(spark, SF_DIR, "embeddings")
    _, cents = kmeans_fit(emb, k=32, max_iter=3)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = assign_to_centroids_routed(emb, cents, cell_target=4)
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "CartesianProduct" not in plan
    # the explicit F.broadcast hints (router array + flat cell-assign of
    # the k centroids) survive the disabled threshold; what must NOT
    # appear is a broadcast of the data-grain fine table into the probe
    # join: the probe join shows as a non-broadcast equi join
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "hashpartitioning(cell" in plan


def test_prototype_prune_marginal_variant(spark):
    # keep_central=False must keep the FARTHEST members: per cluster,
    # the kept min distance >= the dropped max would be wrong way round;
    # check kept set == top-n by (sq_dist desc, id) computed naively
    from timeseries_spark.extensions.kmeans import (
        cluster_prototype_prune,
        kmeans_assign,
    )

    emb = load(spark, SF_DIR, "embeddings")
    asg = kmeans_assign(emb, k=4, max_iter=3)
    got = cluster_prototype_prune(asg, 5, keep_central=False).collect()
    rows = asg.collect()
    want = set()
    for cl in {r.cluster for r in rows}:
        members = sorted(
            (r for r in rows if r.cluster == cl),
            key=lambda r: (-r.sq_dist, r.vec_id),
        )[:5]
        want |= {(cl, r.vec_id) for r in members}
    assert {(r.cluster, r.vec_id) for r in got} == want


def test_hybrid_rerank_no_corpus_shuffle_outside_bm25(spark):
    # the rerank stage must be broadcast-only: candidate set and query
    # vector broadcast into the embedding probe; no SinglePartition
    # funnel beyond bounded aggregates, no cartesian on the corpus side
    from timeseries_spark.extensions.search import hybrid_rerank
    from timeseries_spark.queries import load as ld

    docs = ld(spark, SF_DIR, "documents")
    emb = ld(spark, SF_DIR, "embeddings")
    out = hybrid_rerank(docs, emb, ["spark", "hash"], 0, 20, 5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # both broadcast nested loops are 1-row/50-row bounded builds
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_duckdb_list_reduce_struct_aliasing_semantics():
    # pins the footgun the CUSUM oracle's field order depends on:
    # DuckDB (v1.0.0) evaluates struct_pack fields IN ORDER with the
    # accumulator ALIASED - a later field reads an earlier field's
    # UPDATED value (running-max probe yields 11, not the 8 a standard
    # fold gives). The cusum_changepoint_daily oracle orders fields so
    # every read is of a not-yet-written field (correct under BOTH
    # semantics); if a DuckDB upgrade changes this, the probe fails
    # loudly and the oracle ordering should be re-audited.
    import duckdb

    out = duckdb.connect().execute(
        """
        SELECT list_reduce(
          list_prepend(struct_pack(s := 0.0::DOUBLE, m := 0.0::DOUBLE),
            list_transform([1.0,5.0,2.0]::DOUBLE[],
              v -> struct_pack(s := v::DOUBLE, m := 0.0::DOUBLE))),
          (acc, e) -> struct_pack(
             s := acc.s + e.s,
             m := greatest(acc.m, acc.s + e.s)))
        """
    ).fetchall()[0][0]
    assert out["s"] == 8.0
    assert out["m"] == 11.0, (
        "DuckDB list_reduce struct semantics changed "
        f"(got {out['m']}, aliased=11.0, standard-fold=8.0) - re-audit "
        "the cusum_changepoint_daily oracle's field ordering"
    )


def test_cusum_flags_injected_level_shift(spark):
    # behavior: a series with a mid-stream level shift must flag, the
    # same series without it must not (the 4-sigma excursion gate)
    from timeseries_spark.queries.timeseries import (
        cusum_changepoint_daily,
    )
    import pyspark.sql.functions as SF

    base = [(float(100 + (i % 3)), i) for i in range(1, 29)]
    shifted = [
        (v + (500.0 if d > 14 else 0.0), d) for v, d in base
    ]

    def run(rows):
        df = spark.createDataFrame(
            [("x", d, v) for v, d in rows], "event_type string, day int, value double"
        ).select(
            "event_type",
            SF.to_timestamp(SF.format_string("2024-01-%02d", "day")).alias("ts"),
            "value",
        )
        import tempfile, os
        tmp = tempfile.mkdtemp()
        df.write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
        return {
            r.event_type: r.changepoint
            for r in cusum_changepoint_daily(spark, tmp).collect()
        }

    assert run(shifted)["x"] == 1
    assert run(base)["x"] == 0


def test_staged_bm25_plan_has_no_text_rescan(spark):
    # the staged index query's plan must be a pure index probe: the
    # documents parquet never appears (stats derive from the index's
    # distinct (doc_id, dl) grain), and answers match the scan path
    from timeseries_spark.extensions.search import bm25_topk
    from timeseries_spark.extensions.staging import staged_postings

    docs = load(spark, SF_DIR, "documents")
    idx = staged_postings(spark, docs, f"{SF_DIR}/documents.parquet")
    staged = bm25_topk(docs, ["spark", "hash"], k=5, postings=idx)
    plan = staged._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan
    fresh = bm25_topk(docs, ["spark", "hash"], k=5)
    assert sorted(map(tuple, staged.collect())) == sorted(
        map(tuple, fresh.collect())
    )


def test_cusum_plan_no_window_no_single_partition(spark):
    # the docstring's claim, pinned: the sequential recursion runs as a
    # per-key array fold - the plan has NO window exchange and no
    # SinglePartition funnel; the only exchanges are the two key-grain
    # hash aggregations (daily grain, then event_type grain)
    from timeseries_spark.queries.timeseries import (
        cusum_changepoint_daily,
    )

    out = cusum_changepoint_daily(spark, SF_DIR)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "SinglePartition" not in plan
    assert plan.count("Exchange") <= 2
