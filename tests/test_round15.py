"""Round-15 pins — the r14 advice closures and the new surfaces.

1. Router radii come from UNROUNDED distances (advice: the 6dp round
   could shrink a small radius ~7e-4, defeating the 1e-4 pruning
   cushion) — pinned both directly (radius == exact numpy max member
   distance) and adversarially (routed == flat on a fixture whose
   members sit ~5e-4 from the router centers, exactly where the old
   rounding could prune the true argmin's cell).
2. NULL text coalesces to '' in build_postings, so index-derived and
   docs-scan corpus stats agree on corpora with null rows.
3. The search family's matched-postings persist is registered in the
   shared cache lifecycle (family "search"), and the registry scopes
   per (session, family).
4. search_hybrid_staged serves the whole hybrid plan from the staged
   postings index — zero raw-text scans.
5. semantic_dedup_sampled: k binds the CORPUS count, the fit sees only
   the hash sample, and Σ n_members conserves the corpus.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from timeseries_spark.queries import load


def test_router_radii_are_unrounded_exact_distances(spark):
    # ADVICE r14 (medium): cell radius must be the exact max member
    # distance, not sqrt(6dp-rounded sq_dist) — verify against numpy
    import numpy as np

    from timeseries_spark.extensions.kmeans import build_centroid_router

    rows = [
        (0, [0.0, 0.0]),
        (1, [0.00037, 0.0]),  # sq_dist 1.369e-7 -> 6dp-rounds to 0.0
        (2, [10.0, 10.0]),
        (3, [10.0, 10.00029]),
    ]
    cents = spark.createDataFrame(
        rows, "cid int, c array<double>"
    )
    cells, router_arr = build_centroid_router(cents, cell_target=2)
    cell_of = {r.cid: r.cell for r in cells.collect()}
    centers = {}
    for c in router_arr.collect()[0].cells:
        centers[c.cell] = (np.array(c.rc), c.radius)
    by_cell: dict[int, list] = {}
    for cid, vec in rows:
        by_cell.setdefault(cell_of[cid], []).append(np.array(vec))
    for cell, (rc, radius) in centers.items():
        exact = max(
            float(np.sqrt(((v - rc) ** 2).sum())) for v in by_cell[cell]
        )
        # with the old rounded path the 1.369e-7 sq_dist became 0.0 and
        # the radius collapsed to 0; the fix keeps the raw double
        assert math.isclose(radius, exact, rel_tol=0, abs_tol=1e-12), (
            cell,
            radius,
            exact,
        )
        if exact > 0:
            assert radius > 0


def test_routed_assignment_exact_near_rounding_boundary(spark):
    # adversarial geometry for the old bug: members ~5e-4 from their
    # router center (radius would have 6dp-rounded to 0), query points
    # placed so the pruning margin is thinner than the old rounding loss
    from timeseries_spark.extensions.kmeans import (
        assign_to_centroids,
        assign_to_centroids_routed,
    )

    cents = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [0.0005, 0.0]),
            (2, [1.0, 0.0]),
            (3, [1.0005, 0.0]),
        ],
        "cid int, c array<double>",
    )
    vecs = spark.createDataFrame(
        [(i, [0.50004 + 0.0001 * i, 0.0]) for i in range(8)]
        + [(100, [0.0002, 0.0]), (101, [1.0002, 0.0])],
        "vec_id int, embedding array<double>",
    )
    flat = sorted(
        map(tuple, assign_to_centroids(vecs, cents).collect())
    )
    routed = sorted(
        map(
            tuple,
            assign_to_centroids_routed(vecs, cents, cell_target=2).collect(),
        )
    )
    assert routed == flat


def test_null_text_doc_counts_in_both_stat_paths(spark):
    # ADVICE r14: a NULL-text row must emit one ""-term posting so the
    # index-derived (n_docs, avgdl) equals the docs-scan stats
    from timeseries_spark.extensions.search import bm25_topk, build_postings

    docs = spark.createDataFrame(
        [
            (1, "spark joins data"),
            (2, "spark spark shuffle"),
            (3, None),
            (4, "window functions"),
        ],
        "doc_id int, text string",
    )
    post = build_postings(docs)
    assert post.select("doc_id").distinct().count() == 4  # null doc present
    null_row = post.filter(F.col("doc_id") == 3).collect()
    assert len(null_row) == 1
    assert null_row[0].term == "" and null_row[0].dl == 1
    from_docs = sorted(
        map(tuple, bm25_topk(docs, ["spark", "window"], k=4).collect())
    )
    from_index = sorted(
        map(
            tuple,
            bm25_topk(docs, ["spark", "window"], k=4, postings=post).collect(),
        )
    )
    assert from_docs == from_index


def test_search_cache_registered_and_released(spark):
    from timeseries_spark.extensions.caching import live_caches
    from timeseries_spark.extensions.search import (
        bm25_topk,
        release_search_caches,
    )

    release_search_caches()  # clean slate
    docs = load(spark, SF_DIR, "documents")
    out = bm25_topk(docs, ["spark", "hash"], k=5)
    live = live_caches(spark, family="search")
    assert len(live) == 1
    out.collect()
    assert live[0].storageLevel.useMemory  # block actually materialized
    assert release_search_caches(spark) == 1
    assert live_caches(family="search") == []
    lvl = live[0].storageLevel
    assert not (lvl.useMemory or lvl.useDisk)


def test_cache_registry_scopes_by_family_and_session(spark):
    from timeseries_spark.extensions.caching import (
        live_caches,
        register_cache,
        release_caches,
    )

    release_caches()  # clean slate across everything
    a = register_cache(spark.range(10).toDF("x"), "dedup")
    register_cache(spark.range(20).toDF("y"), "search")
    # a different session's release must not touch this session's caches
    other = spark.newSession()
    assert release_caches(other) == 0
    assert len(live_caches(spark)) == 2
    # family release is surgical
    assert release_caches(spark, "search") == 1
    assert live_caches(spark, family="dedup") == [a]
    assert release_caches(spark, "dedup") == 1
    assert live_caches() == []


def test_hybrid_staged_plan_has_no_text_rescan(spark):
    # VERDICT r15 item 3: the staged hybrid plan must never touch the
    # documents parquet (candidates AND corpus stats come from the
    # index), and answers must match the scan-path hybrid
    from timeseries_spark.queries.search import (
        search_hybrid_rerank,
        search_hybrid_staged,
    )

    staged = search_hybrid_staged(spark, SF_DIR)
    plan = staged._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan
    fresh = search_hybrid_rerank(spark, SF_DIR)
    assert sorted(map(tuple, staged.collect())) == sorted(
        map(tuple, fresh.collect())
    )


def test_sampled_dedup_binds_corpus_k_and_conserves_members(spark):
    # the sampled fit must (a) size k from the CORPUS count (blocks stay
    # ~512 as data grows — the shard-must-not-size-itself lesson from
    # r14's incremental pair applies to the sample too), (b) fit on the
    # ~12.5% hash sample only, (c) partition the corpus: Σ n_members
    # over kept docs == number of embedded docs
    from timeseries_spark.extensions.dedup import auto_n_clusters
    from timeseries_spark.extensions.hashing import md5_long
    from timeseries_spark.queries.similarity import semantic_dedup_sampled

    emb = load(spark, SF_DIR, "embeddings")
    n = emb.count()
    assert auto_n_clusters(n, target_block_size=512) == max(
        2, -(-n // 512)
    )
    frac = (
        emb.filter(
            md5_long(
                F.concat(F.lit("ksample:"), F.col("vec_id").cast("string"))
            )
            % 8
            == 0
        ).count()
        / n
    )
    assert 0.05 < frac < 0.25  # the hash sample is a real subset
    out = semantic_dedup_sampled(spark, SF_DIR)
    total = out.agg(F.sum("n_members")).collect()[0][0]
    docs = load(spark, SF_DIR, "documents")
    embedded_docs = docs.join(
        emb.select(F.col("vec_id").alias("doc_id")), "doc_id"
    ).count()
    assert total == embedded_docs
