"""Staged quantizer (round 7): fit/serve split for IVF + semantic dedup.

The contract under test: staging changes WHEN the quantizer trains,
never what it answers — and the probe plan is a pure Catalyst tree
(parquet scans + broadcasts) with no Lloyd subtree and no checkpointed
lineage.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, explain
from timeseries_spark.extensions.kmeans import (
    assign_to_centroids,
    kmeans_assign,
    kmeans_fit,
)


@pytest.fixture()
def cloud(spark):
    # 3 well-separated lumps in 2-D, deterministic
    rows = [
        (i, [float(base[0] + (i % 3)) / 10.0 + base[0], base[1] + (i % 2) / 10.0])
        for i, base in enumerate(
            [(0.0, 0.0), (5.0, 5.0), (0.0, 9.0)] * 7
        )
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_assign_to_fit_centroids_reproduces_kmeans_assign(spark, cloud):
    # kmeans_fit returns the centroids its FINAL assignment ranked
    # against; assigning them back must reproduce kmeans_assign
    # column-for-column (same distances, same tie-breaks)
    direct = kmeans_assign(cloud, k=3, max_iter=4)
    _, cents = kmeans_fit(cloud, k=3, max_iter=4)
    staged = assign_to_centroids(cloud, cents)
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, staged.collect())
    )


def test_assign_survives_parquet_round_trip(spark, cloud, tmp_path):
    # doubles round-trip parquet bit-exactly: a staged centroid table
    # answers identically to the in-memory one
    _, cents = kmeans_fit(cloud, k=3, max_iter=4)
    path = str(tmp_path / "cents")
    cents.write.parquet(path)
    from_disk = assign_to_centroids(cloud, spark.read.parquet(path))
    in_mem = assign_to_centroids(cloud, cents)
    assert sorted(map(tuple, in_mem.collect())) == sorted(
        map(tuple, from_disk.collect())
    )


def test_assign_tie_breaks_to_lowest_cid(spark):
    # a point equidistant from two centroids must take the LOWER cid —
    # the (sq_dist, cid) struct-min ordering, same as Lloyd's window
    pts = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [(1, [2.0, 0.0]), (0, [0.0, 0.0])], "cid int, c array<double>"
    )
    row = assign_to_centroids(pts, cents).collect()[0]
    assert row["cluster"] == 0 and row["sq_dist"] == 1.0


def test_assign_plan_is_shuffle_free(spark, cloud, tmp_path):
    # the probe-time assignment is a broadcast argmin PROJECTION: no
    # |corpus|-grain Exchange, no window sort over vids
    _, cents = kmeans_fit(cloud, k=3, max_iter=4)
    path = str(tmp_path / "cents")
    cents.write.parquet(path)
    assigned = assign_to_centroids(cloud, spark.read.parquet(path))
    p = explain(assigned)
    assert "Window" not in p
    # no key shuffle of the corpus: the only shuffle Exchange is the
    # bounded k-row centroid fold (SinglePartition over k rows), and
    # broadcasts don't move data by key either
    assert "hashpartitioning" not in p
    assert p.count(") Exchange") <= 1


def test_staged_probe_plan_has_no_lloyd_subtree(spark, tmp_path, monkeypatch):
    # build the FULL staged IVF probe against real sf0.001 data and
    # assert the plan is declarative end-to-end: no checkpointed RDD
    # scan (the in-plan Lloyd path materializes through localCheckpoint,
    # which surfaces as "Scan ExistingRDD"), no per-dim posexplode
    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", str(tmp_path / "stage"))
    from timeseries_spark.extensions.similarity import ivf_topk
    from timeseries_spark.extensions.staging import staged_centroids
    from timeseries_spark.queries import load
    from timeseries_spark.queries.similarity import _queries_df

    emb = load(spark, SF_DIR, "embeddings")
    cents = staged_centroids(
        spark, emb, f"{SF_DIR}/embeddings.parquet", k=4, max_iter=3
    )
    vecs = emb.join(
        assign_to_centroids(emb, cents).select("vec_id", "cluster"), "vec_id"
    )
    probe = ivf_topk(vecs, _queries_df(spark, SF_DIR), "cluster", k=5)
    p = explain(probe)
    assert "ExistingRDD" not in p
    assert "PosExplode" not in p and "posexplode" not in p
    assert "CartesianProduct" not in p


def test_staged_equals_inplan_results(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", str(tmp_path / "stage"))
    from timeseries_spark.queries import all_queries

    reg = all_queries()
    inplan = {tuple(r) for r in reg["ann_ivf_topk"](spark, SF_DIR).collect()}
    staged = {tuple(r) for r in reg["ann_ivf_staged"](spark, SF_DIR).collect()}
    assert inplan == staged


def test_stage_path_keyed_by_mtime(tmp_path):
    # regenerating the dataset (same path, new mtime) must yield a new
    # artifact key — stale centroids can never serve a changed corpus
    import os
    import time

    from timeseries_spark.extensions.staging import centroid_stage_path

    src = tmp_path / "embeddings.parquet"
    src.write_text("x")
    p1 = centroid_stage_path(str(src), 4, 3)
    os.utime(src, (time.time() + 100, time.time() + 100))
    p2 = centroid_stage_path(str(src), 4, 3)
    assert p1 != p2
    assert centroid_stage_path(str(src), 5, 3) != p2


def test_pq_staged_encode_equals_inplan(spark, cloud, tmp_path):
    # the book read back from parquet must encode exactly as the book in
    # memory: same codes, same reconstruction
    from timeseries_spark.extensions.pq import pq_encode, pq_fit_books

    vecs = cloud.withColumn(
        "embedding",
        F.flatten(F.array("embedding", "embedding")),
    )  # 4 dims so m=2 splits evenly
    books = pq_fit_books(vecs, m=2, dims=4, n_clusters=3, kmeans_iter=2)
    inplan = pq_encode(vecs, books, m=2, dims=4, n_clusters=3)
    path = str(tmp_path / "books")
    books.write.parquet(path)
    staged = pq_encode(
        vecs, spark.read.parquet(path), m=2, dims=4, n_clusters=3
    )
    key = lambda r: r["vec_id"]  # noqa: E731
    a = sorted(inplan.collect(), key=key)
    b = sorted(staged.collect(), key=key)
    assert [(r["vec_id"], r["codes"], r["dq"]) for r in a] == [
        (r["vec_id"], r["codes"], r["dq"]) for r in b
    ]


def test_pq_staged_query_equals_inplan(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", str(tmp_path / "stage"))
    from timeseries_spark.queries import all_queries

    reg = all_queries()
    inplan = {tuple(r) for r in reg["ann_pq_topk"](spark, SF_DIR).collect()}
    staged = {tuple(r) for r in reg["ann_pq_staged"](spark, SF_DIR).collect()}
    assert inplan == staged


def test_pq_hires_staged_equals_inplan_and_never_retrains(
    spark, tmp_path, monkeypatch
):
    # VERDICT r15 item 2: the hires operating point (m=8, 60-wide
    # rerank pool) served from staged codebooks must (a) answer
    # hash-identically to the in-plan twin and (b) carry no training
    # subtree — the eight Lloyd fits leave eager-checkpoint scans
    # (ExistingRDD) in the in-plan tree; the staged plan reads parquet
    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", str(tmp_path / "stage"))
    from timeseries_spark.queries import all_queries

    reg = all_queries()
    inplan = {tuple(r) for r in reg["ann_pq_hires"](spark, SF_DIR).collect()}
    df = reg["ann_pq_hires_staged"](spark, SF_DIR)
    assert inplan == {tuple(r) for r in df.collect()}
    assert "ExistingRDD" not in explain(df)


def test_pq_encode_rejects_truncated_book(spark, cloud):
    # the book-size guard is the probe's only check that the table it
    # was handed is the one its m/n_clusters describe: a book missing
    # a subspace must fail the job, not encode against what is left
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from timeseries_spark.extensions.pq import pq_encode, pq_fit_books

    vecs = cloud.withColumn(
        "embedding",
        F.flatten(F.array("embedding", "embedding")),
    )  # 4 dims so m=2 splits evenly
    books = pq_fit_books(vecs, m=2, dims=4, n_clusters=3, kmeans_iter=2)
    short = books.filter(F.col("sub") == 0)
    with pytest.raises(
        (PySparkException, Py4JJavaError), match="book must carry exactly 6"
    ):
        pq_encode(vecs, short, m=2, dims=4, n_clusters=3).collect()


def test_pq_staged_encode_is_single_scan_zero_shuffle(
    spark, cloud, tmp_path
):
    # round-16 encode rework: with a staged book the encode is ONE
    # corpus scan and ZERO exchanges (the old shape paid m scans +
    # union-fold + id join-back). The book folds to a bounded broadcast
    # row; everything else is a projection.
    from timeseries_spark.extensions.pq import pq_encode, pq_fit_books

    vecs = cloud.withColumn(
        "embedding",
        F.flatten(F.array("embedding", "embedding")),
    )  # 4 dims so m=2 splits evenly
    books = pq_fit_books(vecs, m=2, dims=4, n_clusters=3, kmeans_iter=2)
    path = str(tmp_path / "books")
    books.write.parquet(path)
    enc = pq_encode(
        vecs, spark.read.parquet(path), m=2, dims=4, n_clusters=3
    )
    plan = explain(enc)
    # one exchange total: the broadcast of the folded book row; the
    # corpus side must shuffle nowhere
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan
    # exactly one scan of the corpus relation
    corpus_scans = plan.count("Scan ExistingRDD") + plan.count(
        "LocalTableScan"
    )
    assert corpus_scans <= 2  # corpus + (pre-broadcast) book fold input


def test_ivf_pq_staged_query_equals_inplan(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", str(tmp_path / "stage"))
    from timeseries_spark.queries import all_queries

    reg = all_queries()
    inplan = {tuple(r) for r in reg["ann_ivf_pq"](spark, SF_DIR).collect()}
    staged = {tuple(r) for r in reg["ann_ivf_pq_staged"](spark, SF_DIR).collect()}
    assert inplan == staged


def test_assign_empty_centroid_table_fails_loud(spark):
    # an empty/corrupt staged artifact must raise, not emit NULL
    # clusters corpus-wide (guard lives inside the consumed expression;
    # a bare count() legitimately prunes it away)
    pts = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    empty = spark.createDataFrame([], "cid int, c array<double>")
    with pytest.raises(Exception, match="empty centroid table"):
        assign_to_centroids(pts, empty).collect()


def test_cluster_cohesion_and_balanced_sample(spark, cloud):
    from timeseries_spark.extensions.kmeans import (
        cluster_balanced_sample,
        cluster_cohesion,
        kmeans_assign,
    )

    asn = kmeans_assign(cloud, k=3, max_iter=4)
    rep = {r["cluster"]: r for r in cluster_cohesion(asn).collect()}
    # conservation: members sum to the cloud size; inertia equals the
    # exact decimal sum of the 6dp distances
    assert sum(r["n_members"] for r in rep.values()) == cloud.count()
    for r in rep.values():
        assert r["mean_sq_dist"] == r["inertia"] / r["n_members"]
        assert r["inertia"] >= 0.0
    sample = cluster_balanced_sample(asn, n_per_cluster=2).collect()
    per = {}
    for r in sample:
        per.setdefault(r["cluster"], []).append(r["vec_id"])
    assert all(len(v) <= 2 for v in per.values())
    # lowest ids win, rank starts at 1
    full = {r["cluster"]: [] for r in asn.collect()}
    for r in asn.collect():
        full[r["cluster"]].append(r["vec_id"])
    for c, ids in per.items():
        assert ids == sorted(full[c])[: len(ids)]
    import pytest

    with pytest.raises(ValueError):
        cluster_balanced_sample(asn, n_per_cluster=0)


def test_staged_table_preserves_numeric_looking_partition_strings(
    spark, tmp_path, monkeypatch
):
    """Round-11 advice fix: Hive partition values round-trip through
    directory names, so a STRING partition column holding numeric-
    looking values ('001', '2') would come back retyped (and zero-
    stripped) by partition-type inference. The schema sidecar must
    restore the declared type and column order on read."""
    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", str(tmp_path / "stage"))
    from timeseries_spark.extensions.staging import staged_table

    src = str(tmp_path / "src.parquet")
    base = spark.createDataFrame(
        [("001", 1.5), ("2", 2.5)], ["pid", "val"]
    )
    base.write.parquet(src)

    def build():
        return spark.read.parquet(src)

    for _ in range(2):  # first call writes, second serves the cache
        out = staged_table(spark, build, src, "ptypes", ("pid",))
        assert [f.name for f in out.schema.fields] == ["pid", "val"]
        assert dict(out.dtypes)["pid"] == "string"
        assert sorted(r.pid for r in out.collect()) == ["001", "2"]


def test_staged_table_publish_is_atomic(spark, tmp_path, monkeypatch):
    """No half-written artifact is ever visible at the final path: the
    write lands in a temp sibling and renames into place, and a lost
    rename race leaves the winner's artifact untouched."""
    import os

    from timeseries_spark.extensions import staging

    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", str(tmp_path / "stage"))
    src = str(tmp_path / "src2.parquet")
    spark.range(5).write.parquet(src)

    observed = []
    orig_rename = os.rename

    def spy_rename(a, b):
        if "tbl_atomic_" in str(b):
            # at publish time the final path must not exist yet
            observed.append(os.path.exists(b))
        return orig_rename(a, b)

    monkeypatch.setattr(staging.os, "rename", spy_rename)
    out = staging.staged_table(
        spark, lambda: spark.read.parquet(src), src, "atomic"
    )
    assert out.count() == 5
    assert observed == [False]
    # simulate losing the race: a second publish onto the existing
    # artifact must not clobber it and must clean its temp dir
    path = staging.table_stage_path(src, "atomic")
    staging._publish_atomic(
        lambda tmp: spark.range(3).write.parquet(tmp), path
    )
    assert spark.read.parquet(path).count() == 5
    assert not [p for p in os.listdir(os.path.dirname(path)) if ".tmp-" in p]


def test_staged_point_query_keeps_partition_pruning(spark, monkeypatch, tmp_path, sf_dir):
    """The round-11 schema-sidecar read path casts every column back to
    its declared type; identity casts must be ELIMINATED so the staged
    point query still reaches the scan with PartitionFilters (diseaseId)
    and pushed targetId filters — at 100 TB this is the difference
    between a point read and a full scan of the serving table."""
    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", str(tmp_path / "stage"))
    from timeseries_spark.queries import all_queries

    df = all_queries()["point_target_disease_staged"](spark, sf_dir)
    p = explain(df)
    assert "PartitionFilters: [isnotnull(diseaseId" in p
    assert "EqualTo(targetId,T7)" in p
