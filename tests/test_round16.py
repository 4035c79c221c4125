"""Round-16 pins.

ADVICE r15 regressions:
- the cache registry's weak keying actually collects (a naive
  WeakKeyDictionary[SparkSession, list[DataFrame]] is pinned forever by
  DataFrame._session's strong back-ref — the exact leak the registry
  exists to prevent in long-lived serving processes),
- the staged-postings fingerprint tracks build semantics (a v1-era
  artifact must not serve under the v2 NULL-text contract).
"""

from __future__ import annotations

import gc

import pytest

from tests.conftest import SF_DIR
from timeseries_spark.queries import load


def test_cache_registry_entry_collects_with_dropped_session(spark):
    # ADVICE r15: register a cache in a newSession() clone, drop every
    # Python reference, and the registry bookkeeping must vanish — the
    # stored handles may not pin the session object.
    from timeseries_spark.extensions import caching

    clone = spark.newSession()
    df = caching.register_cache(clone.range(7).toDF("x"), "r16test")
    assert len(caching.live_caches(clone, family="r16test")) == 1
    n_sessions_before = len(caching._REGISTRY)

    del df, clone
    # PySpark itself pins the most-recently-created session: newSession
    # runs _monkey_patch_RDD, whose RDD.toDF closure (a class attribute,
    # i.e. a global) captures the session until the NEXT session is
    # created and overwrites it. Displace that patch so the only
    # remaining question is whether OUR registry pins the clone.
    spark.newSession()
    gc.collect()

    # the weakref callback purged the dropped session's slot entirely
    assert len(caching._REGISTRY) < n_sessions_before
    assert caching.live_caches(family="r16test") == []


def test_cache_registry_release_survives_dead_python_dataframe(spark):
    # The interior cache points register DataFrames whose Python object
    # dies when the builder returns (only JVM lineage persists). The
    # registry must still show AND release those blocks via the
    # retained JVM handle.
    from timeseries_spark.extensions import caching

    caching.register_cache(spark.range(11).toDF("y"), "r16dead")
    gc.collect()  # the only Python ref was the local above

    live = caching.live_caches(spark, family="r16dead")
    assert len(live) == 1
    lvl = live[0].storageLevel
    assert lvl.useMemory or lvl.useDisk
    assert caching.release_caches(spark, "r16dead") == 1
    assert caching.live_caches(spark, family="r16dead") == []


def test_postings_stage_path_tracks_build_semantics_version(spark, tmp_path):
    # ADVICE r15: build_postings' NULL-text contract changed (v2) but
    # the artifact fingerprint didn't — a stale v1 index would keep
    # serving diverged corpus stats. The path must move when the
    # build-semantics version moves.
    from timeseries_spark.extensions import search, staging

    src = str(tmp_path / "docs")
    load(spark, SF_DIR, "documents").limit(5).write.parquet(src)

    p_now = staging.postings_stage_path(src)
    assert f"v{search.POSTINGS_BUILD_VERSION}" != "v1"
    old = search.POSTINGS_BUILD_VERSION
    try:
        search.POSTINGS_BUILD_VERSION = old - 1
        p_old = staging.postings_stage_path(src)
    finally:
        search.POSTINGS_BUILD_VERSION = old
    assert p_now != p_old


# ---------------------------------------------------------------------------
# Round-16 optimization pins (OPTIMIZATION_r16.md): each optimization
# that changed an operator's internals gets a focused result-identity
# test — the speedups must be evaluation-strategy changes only.
# ---------------------------------------------------------------------------


def test_build_postings_term_filter_row_identical(spark):
    # The ad-hoc pre-aggregate term filter (guide §2.3) must equal
    # "build everything, then keep the terms": same (term, doc_id, tf)
    # rows and, critically, the SAME dl (full per-doc token count, not
    # the filtered count).
    from pyspark.sql import functions as F

    from timeseries_spark.extensions.search import build_postings

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple cherry"),
            (2, "banana banana date"),
            (3, None),  # NULL-text contract: coalesces to ''
            (4, "apple"),
        ],
        "doc_id bigint, text string",
    )
    terms = ["apple", "banana"]
    full = build_postings(docs).where(F.col("term").isin(terms))
    filtered = build_postings(docs, terms=terms)
    a = {tuple(r) for r in full.collect()}
    b = {tuple(r) for r in filtered.collect()}
    assert a == b and len(b) > 0
    # dl is the FULL token count: doc 1 has 4 tokens even though only
    # 3 match the term set
    dl1 = {r["dl"] for r in filtered.where("doc_id = 1").collect()}
    assert dl1 == {4}


def test_bm25_adhoc_term_filter_matches_prebuilt_index(spark):
    # The ad-hoc path (term-filtered build) and the staged path (full
    # prebuilt index) must produce identical BM25 rankings — corpus
    # stats (n_docs, avgdl) and df may not drift under the filter.
    from timeseries_spark.extensions.search import (
        bm25_topk,
        build_postings,
    )

    docs = load(spark, SF_DIR, "documents").limit(40)
    q = ["the", "data", "pipeline"]
    adhoc = bm25_topk(docs, q, k=10).collect()
    staged = bm25_topk(
        docs, q, k=10, postings=build_postings(docs)
    ).collect()
    assert [tuple(r) for r in adhoc] == [tuple(r) for r in staged]
    assert len(adhoc) > 0


def test_let_binding_value_identity(spark):
    # let() is an evaluation-count optimization: the bound value must
    # equal inlining the expression verbatim, including NULL/empty
    # behavior of harmonic_sum.
    import math

    from pyspark.sql import functions as F

    from timeseries_spark.functions.arrays import harmonic_sum, let

    df = spark.createDataFrame(
        [
            (1, [3.0, 2.0, 1.0]),
            (2, []),
            (3, [5.0]),
        ],
        "id bigint, xs array<double>",
    )
    got = {
        r["id"]: r["h"]
        for r in df.select(
            "id", harmonic_sum(F.col("xs")).alias("h")
        ).collect()
    }
    # reference: sum(xs[i-1] / i^2), NULL for empty
    assert got[2] is None
    assert math.isclose(got[1], 3.0 / 1 + 2.0 / 4 + 1.0 / 9)
    assert math.isclose(got[3], 5.0)
    # let() general identity: body over the bound value == inlined body
    inline = df.select(
        (F.size("xs") + F.size("xs")).alias("v")
    ).collect()
    bound = df.select(
        let(F.size("xs"), lambda s: s + s).alias("v")
    ).collect()
    assert [r["v"] for r in inline] == [r["v"] for r in bound]


def test_bytes_sized_shuffles_scopes_and_restores_conf(spark):
    from timeseries_spark.functions.parallelism import bytes_sized_shuffles

    key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    before = spark.conf.get(key, None)
    assert before is None  # session default: unset

    with bytes_sized_shuffles(spark):
        assert spark.conf.get(key) == "false"
    assert spark.conf.get(key, None) is None  # restored to unset

    # pre-existing value round-trips, including through an exception
    spark.conf.set(key, "true")
    try:
        try:
            with bytes_sized_shuffles(spark):
                assert spark.conf.get(key) == "false"
                raise RuntimeError("boom")
        except RuntimeError:
            pass
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.unset(key)


def test_cc_pair_subtree_executes_exactly_once(spark):
    # round-16 optimization pin: connected_components builds the
    # undirected edge set with ONE explode pass over `pairs` instead of
    # pairs.union(pairs-swapped) — the union planned (and executed) the
    # whole upstream pair subtree once PER BRANCH, which doubled the
    # Arrow pair-cogroup in every semantic_dedup consumer. An
    # accumulator inside a mapInPandas pair source counts executions:
    # the full CC run must see every pair exactly once.
    from pyspark.sql import functions as F

    from timeseries_spark.extensions.dedup import connected_components

    # accumulator counts are retry-sensitive (a re-run task double
    # counts); the exactly-once assertion below is only valid without
    # speculation/retries, so pin it to the local master this suite
    # runs under (round-17 advice)
    if not spark.sparkContext.master.startswith("local"):
        pytest.skip("exactly-once accumulator count needs a local master")
    acc = spark.sparkContext.accumulator(0)
    base = spark.range(0, 500).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )

    def _count_rows(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    pairs = base.mapInPandas(_count_rows, "id_a long, id_b long")
    vertices = spark.range(0, 501).select(F.col("id").alias("doc_id"))
    out = connected_components(pairs, vertices).collect()
    # one 501-vertex chain: every vertex labels to component 0
    assert len(out) == 501
    assert {r["component"] for r in out} == {0}
    # the pair source was traversed exactly once (500 rows), not once
    # per union branch (1000) — and not re-run by any CC round
    assert acc.value == 500


def test_cache_built_in_scope_stores_bytes_sized_partitions(spark):
    # a persist() created INSIDE the bytes_sized_shuffles scope must
    # store at AQE's bytes-proportional width: a kB-scale aggregate
    # caches in O(1) partitions instead of the static shuffle partition
    # count. This is the mechanism behind the CC edge cache fix — the
    # cached-plan AQE flag (canChangeCachedPlanOutputPartitioning) is
    # consulted at cache-entry creation, so connected_components builds
    # its edge cache inside the scope. (The CC run itself unpersists
    # its cache in a finally, so the width is pinned here on a bare
    # replica of the pattern.)
    from pyspark.sql import functions as F

    from timeseries_spark.functions.parallelism import bytes_sized_shuffles

    jsc = spark.sparkContext._jsc.sc()
    pre = {i.id() for i in jsc.getRDDStorageInfo()}
    with bytes_sized_shuffles(spark):
        small = (
            spark.range(0, 1000)
            .select((F.col("id") % 97).alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"))
            .persist()
        )
        try:
            small.count()
            # only the cache THIS test created (storage info is
            # session-global and other tests may hold wider caches)
            widths = [
                i.numCachedPartitions()
                for i in jsc.getRDDStorageInfo()
                if i.id() not in pre and i.numCachedPartitions() > 0
            ]
            assert widths, "aggregate cache not stored"
            assert all(n <= 4 for n in widths), widths
        finally:
            small.unpersist()


def test_numpy_fit_assign_bit_identical_to_jvm_argmin(spark, sf_dir):
    # round-16 session 2: kmeans_fit's in-loop assignment runs as a
    # NumPy kernel (_argmin_assign_np). Pin bit-identity against the
    # JVM broadcast-argmin reference (_argmin_assign) on real
    # embeddings: same cluster ids AND bit-equal raw sq_dist doubles —
    # the accumulation order (sequential over dims) and the
    # (distance, lowest-cid) tie-break are preserved, so this must be
    # exact equality, not approx.
    from pyspark.sql import functions as F

    from timeseries_spark.extensions.kmeans import (
        _argmin_assign,
        _argmin_assign_np,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pts = emb.select(
        F.col("vec_id").alias("vid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).localCheckpoint()
    # a centroid table with duplicate-distance potential: first 5 rows
    cents = (
        pts.orderBy("vid")
        .limit(5)
        .select(
            (F.row_number().over(__import__("pyspark").sql.Window.orderBy("vid")) - 1).alias("cid"),
            F.col("v").alias("c"),
        )
    )
    jvm = {
        r["vid"]: (r["cluster"], r["sq_dist"])
        for r in _argmin_assign(pts, cents).collect()
    }
    np_ = {
        r["vid"]: (r["cluster"], r["sq_dist"])
        for r in _argmin_assign_np(pts, cents.collect()).collect()
    }
    assert jvm.keys() == np_.keys()
    mism = [
        (k, jvm[k], np_[k]) for k in jvm if jvm[k] != np_[k]
    ]  # exact tuple equality: cluster int AND raw double bits
    assert not mism, mism[:5]


def test_inline_rows_value_identical_and_jvm_only(spark):
    # round-16 session 2: small local lookup tables plan as literal
    # structs + inline() (functions/inline.py) instead of
    # createDataFrame's parallelized PythonRDD — every broadcast build
    # over such a table used to pay a wave of Python-worker round-trips.
    # Values must be identical (typed casts, NULLs) and the plan must
    # contain no Python/ExistingRDD scan.
    from timeseries_spark.functions.inline import inline_rows

    rows = [("a", 1.5, 3), ("b", None, -4), ("", 0.0, 0)]
    schema = "term string, w double, n int"
    ref = spark.createDataFrame(rows, schema)
    got = inline_rows(spark, rows, schema)
    # names and types identical; literal structs mark fields
    # non-nullable, which is metadata-only (the engines compare values)
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in ref.schema.fields
    ]
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, ref.collect())
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "Python" not in plan, plan
    # empty rows: same schema, zero rows, still no Python at runtime
    empty = inline_rows(spark, [], schema)
    assert empty.schema == ref.schema and empty.count() == 0


def test_bipartite_edges_single_traversal(spark):
    # same optimization (and pin) as the CC edge set: both directions
    # come from ONE explode pass over the co-occurrence relation, not a
    # two-branch union that re-executes the upstream subtree per branch.
    from pyspark.sql import functions as F

    from timeseries_spark.extensions.graph import bipartite_edges

    # exactly-once accumulator pin: valid only without task retries /
    # speculation — local-master guarded (round-17 advice)
    if not spark.sparkContext.master.startswith("local"):
        pytest.skip("exactly-once accumulator count needs a local master")
    acc = spark.sparkContext.accumulator(0)
    base = spark.range(0, 300).select(
        (F.col("id") % 20).alias("p"), (F.col("id") % 7).alias("s")
    )

    def _count_rows(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    rel = base.mapInPandas(_count_rows, "p long, s long")
    edges = bipartite_edges(rel, "p", "s", "P", "S").collect()
    # every (p, s) pair appears in both directions, deduped
    assert {(r["src"], r["dst"]) for r in edges} == {
        (f"P{p}", f"S{s}") for p in range(20) for s in range(7)
    } | {(f"S{s}", f"P{p}") for p in range(20) for s in range(7)}
    assert acc.value == 300  # one traversal, not 600
