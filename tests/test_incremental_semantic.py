"""Incremental (shard-vs-corpus) semantic dedup — the embedding-space
twin of incremental_dedup's n-gram path.

Contract pins:
- the quantizer fits on the CORPUS only: a shard must never move the
  blocks it is judged against;
- a new doc drops iff some corpus vector in its block reaches the
  cosine threshold; shard-internal near-dups BOTH survive (within-shard
  dedup is semantic_dedup's job on the merged corpus);
- the staged-centroid path is answer-identical to the fresh-fit path;
- the candidate join is a salted (cluster, salt) equi join — no
  CartesianProduct, no corpus self-join, no SinglePartition funnel.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from timeseries_spark.extensions.dedup import incremental_semantic_dedup
from timeseries_spark.extensions.kmeans import kmeans_fit


def _docs(spark, ids_sources):
    return spark.createDataFrame(
        [(i, s) for i, s in ids_sources], "doc_id bigint, source string"
    )


def _vecs(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id bigint, embedding array<float>",
    )


def test_drop_iff_block_neighbor_hits(spark):
    # two well-separated corpus blocks; one shard doc lands next to a
    # corpus vector (drops), one lands far from everything (survives)
    corpus = _vecs(
        spark,
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0, 0.0]),
            (2, [0.0, 0.0, 1.0, 0.0]),
            (3, [0.0, 0.1, 0.9, 0.0]),
        ],
    )
    shard = _vecs(
        spark,
        [
            (10, [0.95, 0.05, 0.0, 0.0]),  # near corpus block A -> drop
            (11, [0.0, 1.0, 0.0, 1.0]),  # near neither -> keep
        ],
    )
    docs = _docs(spark, [(10, "s"), (11, "s")])
    out = incremental_semantic_dedup(
        docs, shard, corpus, threshold=0.8, n_clusters=2, kmeans_iter=3
    )
    assert [r.doc_id for r in out.collect()] == [11]


def test_within_shard_dups_both_survive(spark):
    # two IDENTICAL shard docs far from the corpus: neither drops —
    # incremental dedup judges shard-vs-corpus only, like the n-gram
    # incremental path
    corpus = _vecs(
        spark, [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0, 0.0])]
    )
    shard = _vecs(
        spark,
        [(10, [0.0, 0.0, 0.0, 1.0]), (11, [0.0, 0.0, 0.0, 1.0])],
    )
    docs = _docs(spark, [(10, "s"), (11, "s")])
    out = incremental_semantic_dedup(
        docs, shard, corpus, threshold=0.8, n_clusters=2, kmeans_iter=3
    )
    assert sorted(r.doc_id for r in out.collect()) == [10, 11]


def test_quantizer_ignores_shard(spark):
    # blocks come from the corpus fit alone: passing wildly different
    # shards against the same corpus must reuse identical centroids,
    # i.e. the corpus-side blocking is shard-independent by
    # construction (fit consumes corpus_vecs only)
    corpus = _vecs(
        spark,
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0, 0.0]),
            (2, [0.0, 0.0, 1.0, 0.0]),
            (3, [0.0, 0.1, 0.9, 0.0]),
        ],
    )
    _, cents = kmeans_fit(corpus, k=2, max_iter=3)
    shard_a = _vecs(spark, [(10, [1.0, 0.0, 0.0, 0.0])])
    shard_b = _vecs(spark, [(20, [0.0, 0.0, 1.0, 0.0])])
    docs_a = _docs(spark, [(10, "s")])
    docs_b = _docs(spark, [(20, "s")])
    # staged path: both shards judged against the SAME centroid table
    out_a = incremental_semantic_dedup(
        docs_a, shard_a, corpus, threshold=0.95, centroids=cents
    )
    out_b = incremental_semantic_dedup(
        docs_b, shard_b, corpus, threshold=0.95, centroids=cents
    )
    # both land exactly on a corpus vector -> both drop
    assert out_a.count() == 0 and out_b.count() == 0


def test_staged_equals_fresh_fit(spark):
    # answer-identity of the staged-centroid path: feeding kmeans_fit's
    # returned centroids through assign_to_centroids reproduces the
    # fresh-fit keep set exactly (the assign_to_centroids exactness
    # contract, exercised end-to-end through the incremental composer)
    from timeseries_spark.queries import load

    emb = load(spark, SF_DIR, "embeddings")
    docs = load(spark, SF_DIR, "documents")
    is_shard = F.pmod(F.col("vec_id"), F.lit(5)) == 0
    corpus = emb.filter(~is_shard)
    shard = emb.filter(is_shard)
    sdocs = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0)
    fresh = incremental_semantic_dedup(
        sdocs, shard, corpus, threshold=0.40, n_clusters=4, kmeans_iter=3
    )
    _, cents = kmeans_fit(corpus, k=4, max_iter=3)
    staged = incremental_semantic_dedup(
        sdocs, shard, corpus, threshold=0.40, centroids=cents
    )
    a = sorted(tuple(r) for r in fresh.collect())
    b = sorted(tuple(r) for r in staged.collect())
    assert a == b and len(a) > 0


def test_plan_shape_no_allpairs(spark):
    # the candidate join must be the salted block equi join: no
    # CartesianProduct, no corpus self-join, no SinglePartition funnel
    # anywhere in the ingestion plan (the broadcast argmin quantize is
    # a BroadcastNestedLoopJoin-free projection)
    from timeseries_spark.queries import load

    emb = load(spark, SF_DIR, "embeddings")
    docs = load(spark, SF_DIR, "documents")
    is_shard = F.pmod(F.col("vec_id"), F.lit(5)) == 0
    _, cents = kmeans_fit(emb.filter(~is_shard), k=4, max_iter=3)
    out = incremental_semantic_dedup(
        docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0),
        emb.filter(is_shard),
        emb.filter(~is_shard),
        threshold=0.40,
        centroids=cents,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # every SinglePartition collapse must be a BOUNDED aggregate: the
    # k-row centroid collect_list (the sq8-stats broadcast idiom) or a
    # Spark-injected runtime bloom-filter sketch over a join key —
    # never a data-grain exchange of the corpus or the shard
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        below = "\n".join(lines[i + 1 : i + 3])
        assert (
            "partial_bloom_filter_agg" in below
            or "partial_collect_list" in below
        ), ln


def test_streaming_ingest_equals_sequential_batch(spark, tmp_path_factory):
    """SemanticIngestSink: two shards drained file-by-file through
    foreachBatch must accept exactly the docs a sequential batch fold
    accepts — shard 2 judged against base corpus PLUS shard 1's
    survivors, under the same fixed quantizer."""
    from timeseries_spark.queries import load
    from timeseries_spark.streaming.incremental import SemanticIngestSink

    base = tmp_path_factory.mktemp("semingest")
    emb = load(spark, SF_DIR, "embeddings")
    docs = load(spark, SF_DIR, "documents")
    rows = emb.join(docs.select("doc_id", "source"),
                    emb.vec_id == docs.doc_id).select(
        "doc_id", "source", "embedding"
    )
    corpus = rows.filter(F.pmod("doc_id", F.lit(5)) != 0)
    shard1 = rows.filter(F.pmod("doc_id", F.lit(10)) == 0)
    shard2 = rows.filter(
        (F.pmod("doc_id", F.lit(5)) == 0) & (F.pmod("doc_id", F.lit(10)) != 0)
    )
    corpus_path = str(base / "corpus")
    corpus.write.parquet(corpus_path)
    stream_dir = str(base / "in")
    shard1.coalesce(1).write.parquet(stream_dir)
    shard2.coalesce(1).write.mode("append").parquet(stream_dir)

    _, cents = kmeans_fit(
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
        k=4, max_iter=3,
    )
    sink = SemanticIngestSink(
        corpus_path, str(base / "accepted"), cents, threshold=0.40
    )
    stream = (
        spark.readStream.schema(rows.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    sink.run(stream)
    got = {
        r.doc_id
        for d in sink._accepted_batches(spark)
        for r in spark.read.parquet(d).select("doc_id").collect()
    }

    # sequential batch fold over the same shards in arrival order
    def fold(corpus_vecs, shard):
        surv = incremental_semantic_dedup(
            shard.select("doc_id", "source"),
            shard.select(F.col("doc_id").alias("vec_id"), "embedding"),
            corpus_vecs,
            threshold=0.40,
            centroids=cents,
        )
        return shard.join(surv.select("doc_id"), "doc_id", "left_semi")

    cv = corpus.select(F.col("doc_id").alias("vec_id"), "embedding")
    acc1 = fold(cv, shard1)
    cv2 = cv.unionByName(
        acc1.select(F.col("doc_id").alias("vec_id"), "embedding")
    )
    acc2 = fold(cv2, shard2)
    want = {r.doc_id for r in acc1.unionByName(acc2).collect()}
    assert got == want and len(want) > 0
    # and the ingestion is consequential: not every shard doc survives
    assert len(want) < shard1.count() + shard2.count()


def test_accepted_store_compaction_preserves_answers(spark, tmp_path_factory):
    """compact(): N accepted batch dirs fold into one consolidated dir
    with the identical accepted row set, and a later shard is judged
    identically against the compacted corpus."""
    from timeseries_spark.queries import load
    from timeseries_spark.streaming.incremental import SemanticIngestSink

    base = tmp_path_factory.mktemp("semcompact")
    emb = load(spark, SF_DIR, "embeddings")
    docs = load(spark, SF_DIR, "documents")
    rows = emb.join(docs.select("doc_id", "source"),
                    emb.vec_id == docs.doc_id).select(
        "doc_id", "source", "embedding"
    )
    corpus = rows.filter(F.pmod("doc_id", F.lit(5)) != 0)
    corpus_path = str(base / "corpus")
    corpus.write.parquet(corpus_path)
    _, cents = kmeans_fit(
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
        k=4, max_iter=3,
    )

    def mk(name):
        return SemanticIngestSink(
            corpus_path, str(base / name), cents, threshold=0.40
        )

    shard1 = rows.filter(F.pmod("doc_id", F.lit(10)) == 0)
    shard2 = rows.filter(
        (F.pmod("doc_id", F.lit(5)) == 0) & (F.pmod("doc_id", F.lit(10)) != 0)
    )
    shard3 = rows.filter(F.pmod("doc_id", F.lit(5)) != 0).limit(0)  # empty

    a, b = mk("acc_plain"), mk("acc_compacted")
    for s in (a, b):
        s.process(shard1, 0)
        s.process(shard2, 1)
    before = {r.doc_id for r in b.corpus_vectors(spark).collect()}
    assert b.compact(spark) == 2
    assert len(b._accepted_batches(spark)) == 1
    assert b._accepted_batches(spark)[0].endswith("batch=c1")
    after = {r.doc_id for r in b.corpus_vectors(spark).collect()}
    assert after == before
    # idempotent: nothing left to fold
    assert b.compact(spark) == 0
    # a later shard sees the identical corpus either way
    shard3 = rows.filter(F.pmod("doc_id", F.lit(10)) == 3)
    a.process(shard3, 2)
    b.process(shard3, 2)
    got_a = {r.doc_id for r in spark.read.parquet(
        f"{a.accepted_dir}/batch=2").collect()}
    got_b = {r.doc_id for r in spark.read.parquet(
        f"{b.accepted_dir}/batch=2").collect()}
    assert got_a == got_b


def test_checkpoint_replay_excludes_own_batch(spark, tmp_path_factory):
    """Replaying a micro-batch whose write completed but whose offset
    never committed (crash between the two) must exclude the batch's
    own previous ``batch=<id>`` output from the judging corpus: the
    replay re-invoking process() with the same batch_id neither raises
    Spark's cannot-overwrite-a-path-being-read error nor self-drops
    every row at cosine 1.0 — it republishes the identical survivor
    set (the documented idempotent-replay contract)."""
    from timeseries_spark.queries import load
    from timeseries_spark.streaming.incremental import SemanticIngestSink

    base = tmp_path_factory.mktemp("semreplay")
    emb = load(spark, SF_DIR, "embeddings")
    docs = load(spark, SF_DIR, "documents")
    rows = emb.join(
        docs.select("doc_id", "source"), emb.vec_id == docs.doc_id
    ).select("doc_id", "source", "embedding")
    corpus = rows.filter(F.pmod("doc_id", F.lit(5)) != 0)
    corpus_path = str(base / "corpus")
    corpus.write.parquet(corpus_path)
    _, cents = kmeans_fit(
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
        k=4, max_iter=3,
    )
    sink = SemanticIngestSink(
        corpus_path, str(base / "accepted"), cents, threshold=0.40
    )
    shard = rows.filter(F.pmod("doc_id", F.lit(10)) == 0)
    sink.process(shard, 0)
    first = {
        r.doc_id
        for r in spark.read.parquet(
            f"{sink.accepted_dir}/batch=0"
        ).collect()
    }
    assert 0 < len(first) < shard.count()
    # crash-before-commit replay: same data, same batch_id
    sink.process(shard, 0)
    replay = {
        r.doc_id
        for r in spark.read.parquet(
            f"{sink.accepted_dir}/batch=0"
        ).collect()
    }
    assert replay == first
    # and a LATER batch still sees batch=0 in its corpus
    assert len(sink._accepted_batches(spark, exclude_batch_id=1)) == 1


def test_torn_write_without_success_marker_is_excluded(
    spark, tmp_path_factory
):
    """A partially written batch dir (no _SUCCESS marker — the footprint
    of a micro-batch killed mid-write) must not join the corpus: the
    dir exists and holds a readable parquet file, so only an explicit
    marker check excludes it (a bare path-exists test gates nothing)."""
    from timeseries_spark.queries import load
    from timeseries_spark.streaming.incremental import SemanticIngestSink

    base = tmp_path_factory.mktemp("semtorn")
    emb = load(spark, SF_DIR, "embeddings")
    docs = load(spark, SF_DIR, "documents")
    rows = emb.join(
        docs.select("doc_id", "source"), emb.vec_id == docs.doc_id
    ).select("doc_id", "source", "embedding")
    corpus = rows.filter(F.pmod("doc_id", F.lit(5)) != 0)
    corpus_path = str(base / "corpus")
    corpus.write.parquet(corpus_path)
    _, cents = kmeans_fit(
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
        k=4, max_iter=3,
    )
    sink = SemanticIngestSink(
        corpus_path, str(base / "accepted"), cents, threshold=0.40
    )
    shard = rows.filter(F.pmod("doc_id", F.lit(10)) == 0)
    sink.process(shard, 0)
    # forge a torn write: a complete-looking dir, marker stripped
    import shutil

    torn = f"{sink.accepted_dir}/batch=99"
    shutil.copytree(f"{sink.accepted_dir}/batch=0", torn)
    import os

    os.remove(f"{torn}/_SUCCESS")
    got = sink._accepted_batches(spark)
    assert got == [f"{sink.accepted_dir}/batch=0"]
    n_base = corpus.count()
    assert sink.corpus_vectors(spark).count() == n_base + len(
        spark.read.parquet(f"{sink.accepted_dir}/batch=0").collect()
    )
