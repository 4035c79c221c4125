"""Extension operators: dedup, similarity, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from timeseries_spark.extensions.dedup import (
    exact_duplicates,
    jaccard_pairs,
    lsh_candidates,
    shingles,
    simhash32,
    simhash_pairs,
    tokens,
)
from timeseries_spark.extensions.multimodal import (
    decode_media,
    resize_plan,
    synthetic_media,
)
from timeseries_spark.extensions.similarity import brute_force_topk


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (4, "completely different words entirely unrelated text here now"),
        (5, "short"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_duplicates(docs):
    out = {r["digest"]: r for r in exact_duplicates(docs).collect()}
    dups = [r for r in out.values() if r["n_copies"] > 1]
    assert len(dups) == 1
    assert dups[0]["keep_id"] == 1
    assert dups[0]["n_copies"] == 2


def test_shingles_short_doc(spark, docs):
    out = docs.select("doc_id", shingles(tokens(F.col("text")), 3).alias("sh"))
    got = {r["doc_id"]: r["sh"] for r in out.collect()}
    assert got[5] == []  # shorter than n -> empty, not null
    assert got[1][0] == "the quick brown"
    assert len(got[1]) == 7


def test_jaccard_pairs_finds_near_dup(docs):
    out = jaccard_pairs(docs, threshold=0.3).collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert pairs[(1, 3)] == 1.0  # exact dup
    assert (1, 2) in pairs and 0.4 < pairs[(1, 2)] < 1.0
    assert (1, 4) not in pairs


def test_lsh_catches_exact_dup(docs):
    got = {(r["id_a"], r["id_b"]) for r in lsh_candidates(docs).collect()}
    assert (1, 3) in got
    assert (4, 5) not in got


def test_simhash_identical_docs_distance_zero(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(docs, max_hamming=7).collect()
    }
    assert pairs[(1, 3)] == 0
    sk = docs.select(simhash32(tokens(F.col("text"))).alias("sk")).collect()
    assert all(0 <= r["sk"] < 2**32 for r in sk)


def test_brute_force_topk_self_excluded(spark):
    vecs = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(4)]
        + [(4, [1.0, 0.0, 0.0, 0.001])],
        "vec_id bigint, embedding array<float>",
    )
    queries = vecs.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = brute_force_topk(vecs, queries, k=2).collect()
    assert [r["neighbor_id"] for r in out] == [4, 1]  # 4 nearly parallel
    assert all(r["query_id"] == 0 for r in out)
    assert out[0]["cos_sim"] > 0.999


def test_multimodal_roundtrip(spark, docs):
    media = synthetic_media(docs)
    decoded = decode_media(media, fake=True)
    rows = {r["media_id"]: r for r in decoded.collect()}
    assert rows[1]["width"] == 1 % 64 + 16
    assert rows[1]["n_bytes"] == len("the quick brown fox jumps over the lazy dog")
    planned = resize_plan(decoded, max_side=32).collect()
    assert all(
        max(r["target_width"], r["target_height"]) <= 32 for r in planned
    )


def test_real_codecs_decode_actual_bytes(spark, docs):
    """The REAL decode path: genuine PPM/BMP/WAV payload bytes parsed by
    the pure-numpy codecs — dims/stats from the actual body, a corrupt
    payload surviving as an error row, and an unsupported format (JPEG
    magic) reported rather than raised."""
    from timeseries_spark.extensions.multimodal import (
        _bmp_payload,
        _ppm_payload,
        _wav_payload,
        real_media,
    )

    ppm = _ppm_payload(4, 2, 10)  # bytes 10..33 -> mean 21.5
    bmp = _bmp_payload(2, 2, 0)  # pixel bytes 0..11 -> mean 5.5
    wav = _wav_payload(4, 0)  # samples -256..-253 -> mean -254.5
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(ppm)),
            (2, "image", bytearray(bmp)),
            (3, "audio", bytearray(wav)),
            (4, "image", bytearray(ppm[:-5])),  # truncated body
            (5, "image", bytearray(b"\xff\xd8\xff\xe0jpeg")),
        ],
        "media_id long, kind string, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_media(media).collect()}
    assert (rows[1]["width"], rows[1]["height"]) == (4, 2)
    assert rows[1]["mean_val"] == 21.5 and rows[1]["n_bytes"] == 24
    assert (rows[2]["format"], rows[2]["mean_val"]) == ("bmp", 5.5)
    assert rows[3]["sample_rate"] == 8000 and rows[3]["mean_val"] == -254.5
    assert rows[3]["n_samples"] == 4
    assert "truncated body: expected 24 bytes, got 19" in rows[4]["error"]
    assert rows[4]["mean_val"] is None
    assert rows[5]["error"].startswith("unsupported format")

    # fixture generator end-to-end: corrupt rows survive, others decode
    decoded = decode_media(real_media(docs.limit(20))).collect()
    assert all(
        (r["error"] is None) != (r["mean_val"] is None) for r in decoded
    )


def test_feature_extraction_vectors(spark, sf_dir):
    """Multimodal features: deterministic L1-normalized histograms of the
    DECODED content (real codecs), the array<double> shape the ANN
    operators consume; legacy fake path still exercises raw-byte
    plumbing."""
    from timeseries_spark.extensions.multimodal import (
        extract_features,
        real_media,
        synthetic_media,
    )
    from timeseries_spark.queries import load

    docs50 = load(spark, sf_dir, "documents").limit(50)
    feats = extract_features(real_media(docs50), n_bins=16).collect()
    assert len(feats) == 50
    for r in feats:
        if r["feature"] is None:  # corrupt fixture rows
            continue
        assert len(r["feature"]) == 16
        assert abs(sum(r["feature"]) - 1.0) < 1e-9
    assert any(r["feature"] is not None for r in feats)

    legacy = extract_features(
        synthetic_media(docs50), n_bins=16, fake=True
    ).collect()
    assert all(len(r["feature"]) == 16 for r in legacy)


def test_frame_sample_plan(spark):
    from timeseries_spark.extensions.multimodal import frame_sample

    media = spark.createDataFrame(
        [(1, "video", bytearray(b"x"), (None, None, 3500, "fake")),
         (2, "image", bytearray(b"x"), (10, 10, None, "fake"))],
        "media_id long, kind string, payload binary,"
        " meta struct<width:int,height:int,duration_ms:int,codec:string>",
    )
    out = {r["media_id"]: r["frame_offsets_ms"] for r in frame_sample(media, 1000).collect()}
    assert out[1] == [0, 1000, 2000, 3000]
    assert out[2] == []


def test_connected_components_chain_and_singletons(spark):
    """Min-label propagation: a 4-doc chain collapses to one component in
    >1 iteration (diameter 3), singletons keep themselves, a separate
    pair keeps its own min."""
    from timeseries_spark.extensions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 5), (5, 7), (7, 9), (20, 30)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame(
        [(i,) for i in (2, 5, 7, 9, 11, 20, 30)], "doc_id long"
    )
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components(pairs, docs).collect()
    }
    assert got == {2: 2, 5: 2, 7: 2, 9: 2, 11: 11, 20: 20, 30: 20}


def test_connected_components_keeps_caller_job_description(spark):
    """The CC rounds label their own jobs, then hand the caller's label
    back: jobs the caller runs afterwards must not lose it."""
    from timeseries_spark.extensions.dedup import connected_components

    sc = spark.sparkContext
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], "doc_id long")
    sc.setJobDescription("outer: caller phase")
    try:
        comps = connected_components(pairs, docs)
        assert sc.getLocalProperty("spark.job.description") == (
            "outer: caller phase"
        )
        assert comps.count() == 4
    finally:
        sc.setJobDescription(None)


def test_connected_components_adversarial_huge_ids(spark):
    """Convergence detection must survive doc ids near 2^62: a bigint
    label sum over these rows exceeds 2^63 (ANSI overflow error, or a
    silent wrap with ANSI off) — the decimal(38,0) sum keeps the check
    exact and the chain still collapses to its min id."""
    from timeseries_spark.extensions.dedup import connected_components

    base = 2**62
    ids = [base, base + 1, base + 2, base + 3, base + 4]
    pairs = spark.createDataFrame(
        [(ids[0], ids[1]), (ids[1], ids[2]), (ids[2], ids[3])],
        "id_a long, id_b long",
    )
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components(pairs, docs).collect()
    }
    assert got == {
        ids[0]: base, ids[1]: base, ids[2]: base, ids[3]: base,
        ids[4]: ids[4],
    }


def test_brute_force_topk_rejects_bad_salts(spark):
    """num_salts <= 0 must fail loudly (pmod(hash, 0) is NULL and would
    silently collapse the salt split into one bucket)."""
    import pytest

    from timeseries_spark.extensions.similarity import brute_force_topk

    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    q = df.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    with pytest.raises(ValueError, match="num_salts"):
        brute_force_topk(df, q, k=1, num_salts=0)


def test_kmeans_deterministic_and_converging(spark, sf_dir):
    """Lloyd iterations: same input -> identical assignments; total
    squared distance non-increasing vs the 1-iteration run; clusters in
    range; every vector assigned exactly once."""
    from timeseries_spark.extensions.kmeans import kmeans_assign
    from timeseries_spark.queries import load

    emb = load(spark, sf_dir, "embeddings").limit(200)
    a = kmeans_assign(emb, k=5, max_iter=6)
    b = kmeans_assign(emb, k=5, max_iter=6)
    rows_a = {r["vec_id"]: (r["cluster"], r["sq_dist"]) for r in a.collect()}
    rows_b = {r["vec_id"]: (r["cluster"], r["sq_dist"]) for r in b.collect()}
    assert rows_a == rows_b
    assert len(rows_a) == emb.count()
    assert {c for c, _ in rows_a.values()} <= set(range(5))
    one_iter = kmeans_assign(emb, k=5, max_iter=1)
    import pyspark.sql.functions as F

    t1 = one_iter.agg(F.sum("sq_dist")).first()[0]
    t6 = a.agg(F.sum("sq_dist")).first()[0]
    assert t6 <= t1 + 1e-9


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """k=3 over 4 points at 2 distinct locations: two init centroids are
    identical, ties assign to the lowest cid, so cluster 1 receives no
    points — it must keep its old centroid (k stays 3), not vanish."""
    from timeseries_spark.extensions.kmeans import kmeans_fit

    vecs = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [0.0, 0.0]),
            (2, [10.0, 10.0]),
            (3, [10.0, 10.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    assigned, centroids = kmeans_fit(vecs, k=3, max_iter=4)
    assert centroids.count() == 3
    got = {r["vid"]: r["cluster"] for r in assigned.collect()}
    assert got == {0: 0, 1: 0, 2: 2, 3: 2}


def test_hyperplane_lsh_identical_vector_same_bucket(spark):
    """An identical vector always shares its twin's bucket (same sign
    pattern) and surfaces as the rank-1 neighbor at cosine 1.0; bucket
    ids stay within [0, 2^n_planes)."""
    from timeseries_spark.extensions.similarity import hyperplane_lsh_topk

    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    rows.append((99, list(rows[0][1])))  # exact twin of vec 0
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = vecs.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = hyperplane_lsh_topk(vecs, qs, k=3, n_planes=3, dims=8).collect()
    assert out, "twin must be found in the query's own bucket"
    assert out[0]["neighbor_id"] == 99
    assert out[0]["cos_sim"] == 1.0
    assert all(0 <= r["bucket"] < 8 for r in out)


def test_sampling_deterministic_and_exact_bounds(spark):
    """Fraction 1.0 keeps everything, 0.0 drops everything, and the same
    (key, salt) always makes the same decision — two runs agree row for
    row (the property df.sample lacks)."""
    from timeseries_spark.extensions.sampling import (
        deterministic_sample,
        stratified_sample,
    )

    docs = spark.createDataFrame(
        [(i, "s" + str(i % 3)) for i in range(100)],
        "doc_id long, source string",
    )
    assert deterministic_sample(docs, 1.0).count() == 100
    assert deterministic_sample(docs, 0.0).count() == 0
    a = {r["doc_id"] for r in deterministic_sample(docs, 0.3).collect()}
    b = {r["doc_id"] for r in deterministic_sample(docs, 0.3).collect()}
    assert a == b and 0 < len(a) < 100
    # widening a fraction only ADDS rows (hash thresholds are nested)
    c = {r["doc_id"] for r in deterministic_sample(docs, 0.6).collect()}
    assert a <= c
    strat = stratified_sample(
        docs, {"s0": 1.0, "s1": 0.0}, default_fraction=0.5
    )
    got = {r["source"] for r in strat.collect()}
    assert "s0" in got and "s1" not in got


def test_weighted_mix_integer_weights_exact(spark):
    """Integer weights replicate exactly: weight 3 -> copies 0,1,2 per
    row; weight 0 -> the stratum disappears; fractional weights stay
    between floor and ceil per row."""
    from timeseries_spark.extensions.sampling import weighted_mix

    docs = spark.createDataFrame(
        [(i, "s" + str(i % 2)) for i in range(40)],
        "doc_id long, source string",
    )
    out = weighted_mix(docs, {"s0": 3.0, "s1": 0.0}).collect()
    by_doc = {}
    for r in out:
        assert r["source"] == "s0"
        by_doc.setdefault(r["doc_id"], []).append(r["copy"])
    assert len(by_doc) == 20
    assert all(sorted(v) == [0, 1, 2] for v in by_doc.values())
    frac = weighted_mix(docs, {"s0": 1.5, "s1": 1.5}).groupBy("doc_id").count()
    assert all(r["count"] in (1, 2) for r in frac.collect())


def test_pack_contexts_bins_fill_in_order(spark):
    """Offset binning: cumulative tokens before the doc, integer-divided
    by the window — docs fill bins in id order per source partition."""
    from timeseries_spark.extensions.text import pack_contexts

    docs = spark.createDataFrame(
        [
            (1, "a", " ".join(["w"] * 6)),   # cum_before 0  -> bin 0
            (2, "a", " ".join(["w"] * 6)),   # cum_before 6  -> bin 0
            (3, "a", " ".join(["w"] * 6)),   # cum_before 12 -> bin 1
            (4, "a", " ".join(["w"] * 30)),  # cum_before 18 -> bin 1
            (5, "a", "w"),                   # cum_before 48 -> bin 4
            (6, "b", " ".join(["w"] * 9)),   # new partition -> bin 0
        ],
        "doc_id long, source string, text string",
    )
    got = {
        r["doc_id"]: (r["bin"], r["n_tokens"])
        for r in pack_contexts(docs, window_tokens=10).collect()
    }
    assert got == {
        1: (0, 6), 2: (0, 6), 3: (1, 6), 4: (1, 30), 5: (4, 1), 6: (0, 9)
    }


def test_hyperplane_multiprobe_widens_candidates(spark, sf_dir):
    """Multi-probe explores n_planes extra buckets: per query it scores
    at least as many candidates and its rank-1 similarity is >= the
    single-bucket rank-1 (recall can only improve)."""
    from timeseries_spark.extensions.similarity import hyperplane_lsh_topk
    from timeseries_spark.queries import load

    emb = load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    single = {
        r["query_id"]: r["cos_sim"]
        for r in hyperplane_lsh_topk(emb, qs, k=1, n_planes=4).collect()
    }
    multi = {
        r["query_id"]: r["cos_sim"]
        for r in hyperplane_lsh_topk(
            emb, qs, k=1, n_planes=4, multiprobe=True
        ).collect()
    }
    assert set(single) <= set(multi)
    assert all(multi[q] >= single[q] for q in single)


def test_repetition_and_pii_metrics(spark):
    """Repetition ratio flags looping text (ratio > 0 only when n-grams
    repeat); PII counts hit each pattern class exactly."""
    from timeseries_spark.extensions.text import pii_counts, repetition_metrics

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),   # 4 shingles, 1 distinct
            (2, "all unique words in this doc"),
            (3, "xy"),                              # too short: 0 shingles
        ],
        "doc_id long, text string",
    )
    rep = {r["doc_id"]: r for r in repetition_metrics(docs, n=3).collect()}
    assert rep[1]["n_shingles"] == 4 and rep[1]["n_distinct"] == 1
    assert rep[1]["repetition_ratio"] == 0.75
    assert rep[2]["repetition_ratio"] == 0.0
    assert rep[3]["n_shingles"] == 0 and rep[3]["repetition_ratio"] == 0.0

    pii = spark.createDataFrame(
        [(1, "mail me at a@b.co or c.d@e-f.org see https://x.io 12345678")],
        "doc_id long, text string",
    )
    row = pii_counts(pii).collect()[0]
    assert row["n_emails"] == 2
    assert row["n_urls"] == 1
    assert row["n_long_digit_runs"] == 1


def test_redact_pii(spark):
    """Redaction replaces every audit-registry match with its placeholder
    token (emails before URLs before digit runs), leaves clean text
    untouched, and the post-redaction audit counts drop to zero."""
    from timeseries_spark.extensions.text import pii_counts, redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail a@b.co or see https://x.io/q?id=9876543 ref 12345678"),
            (2, "clean text with no scrub-worthy patterns at all"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in redact_pii(docs).collect()}
    assert out[1] == "mail <EMAIL> or see <URL> ref <DIGITS>"
    assert out[2] == "clean text with no scrub-worthy patterns at all"
    audit = pii_counts(redact_pii(docs)).collect()
    assert all(
        r["n_emails"] == r["n_urls"] == r["n_long_digit_runs"] == 0
        for r in audit
    )


def test_hyperplane_lsh_validates_params(spark):
    """n_planes/dims misconfiguration fails loudly: bad params raise at
    build time, a dims/vector-length mismatch raises at execution instead
    of silently collapsing everything into bucket 0."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from timeseries_spark.extensions.similarity import hyperplane_lsh_topk

    vecs = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [2.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    qs = vecs.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    with pytest.raises(ValueError, match="n_planes"):
        hyperplane_lsh_topk(vecs, qs, n_planes=0, dims=2)
    with pytest.raises(ValueError, match="n_planes"):
        hyperplane_lsh_topk(vecs, qs, n_planes=31, dims=2)
    with pytest.raises(Exception, match="expected 8-dim"):
        hyperplane_lsh_topk(vecs, qs, n_planes=2, dims=8).collect()


def test_pack_contexts_shards_split_partitions(spark):
    """n_shards > 1: each (source, shard) packs independently — shard is
    id mod n_shards and bins restart per shard."""
    from timeseries_spark.extensions.text import pack_contexts

    docs = spark.createDataFrame(
        [(i, "a", " ".join(["w"] * 6)) for i in range(6)],
        "doc_id long, source string, text string",
    )
    got = {
        r["doc_id"]: (r["shard"], r["bin"])
        for r in pack_contexts(docs, window_tokens=10, n_shards=2).collect()
    }
    # shard 0: docs 0,2,4 (cum_before 0,6,12) -> bins 0,0,1; shard 1 same
    assert got == {
        0: (0, 0), 2: (0, 0), 4: (0, 1),
        1: (1, 0), 3: (1, 0), 5: (1, 1),
    }


def test_sq8_matches_brute_force_with_full_pool(spark, sf_dir):
    """With a rerank pool covering the whole corpus, SQ8's exact re-rank
    must reproduce brute-force top-k identically (quantization can then
    never evict a true neighbor); with the normal pool the top-1 ids
    still agree on this corpus (SQ8 recall sanity)."""
    from timeseries_spark.extensions.similarity import (
        brute_force_topk,
        sq8_topk,
    )
    from timeseries_spark.queries import load

    emb = load(spark, sf_dir, "embeddings").limit(120).localCheckpoint()
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    exact = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cos_sim"])
        for r in brute_force_topk(emb, qs, k=3).collect()
    }
    full_pool = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cos_sim"])
        for r in sq8_topk(emb, qs, k=3, rerank_factor=50).collect()
    }
    assert full_pool == exact
    normal = {
        r["query_id"]: r["neighbor_id"]
        for r in sq8_topk(emb, qs, k=1, rerank_factor=4).collect()
    }
    assert normal == {q: v[0] for (q, rk), v in exact.items() if rk == 1}


def test_dataset_split_partitions_every_row_once(spark):
    from timeseries_spark.extensions.sampling import dataset_split

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = dataset_split(df, [("train", 0.8), ("val", 0.1), ("test", 0.1)])
    counts = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    # every row assigned exactly once, proportions near fractions
    assert sum(counts.values()) == 2000
    assert 0.75 < counts["train"] / 2000 < 0.85
    assert 0.05 < counts["val"] / 2000 < 0.15
    # deterministic: re-running yields the identical assignment
    again = dataset_split(df, [("train", 0.8), ("val", 0.1), ("test", 0.1)])
    assert out.exceptAll(again).count() == 0
    # a fraction gap is a loud error, not silent row loss
    with pytest.raises(ValueError, match="sum to 1.0"):
        dataset_split(df, [("train", 0.5), ("test", 0.4)])
    # zero-shuffle plan: a pure projection over the scan
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_temperature_mix_rebalances_toward_uniform(spark):
    from timeseries_spark.extensions.sampling import temperature_mix

    # 1000 'big' rows vs 40 'small' rows
    df = spark.range(0, 1040).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 1000, F.lit("big")).otherwise(F.lit("small")).alias(
            "source"
        ),
    )
    out = temperature_mix(df, alpha=0.5)
    counts = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    # alpha=0.5: small strata upsampled, big downsampled, total ~N
    assert counts["small"] > 40
    assert counts["big"] < 1000
    assert abs(sum(counts.values()) - 1040) < 60
    # weight math: w_s = sqrt(n_s)/(sqrt(nb)+sqrt(ns)) * N / n_s
    import math

    denom = math.sqrt(1000) + math.sqrt(40)
    w_small = round(math.sqrt(40) / denom * 1040 / 40, 6)
    got = out.filter(F.col("source") == "small").select("mix_weight").first()[0]
    assert got == pytest.approx(w_small, abs=1e-6)
    with pytest.raises(ValueError, match="alpha"):
        temperature_mix(df, alpha=-1.0)


def test_chunk_documents_overlap_walk(spark):
    from timeseries_spark.extensions.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, text), (2, "a b c"), (3, "")], "doc_id bigint, text string"
    )
    rows = chunk_documents(df, chunk_tokens=64, overlap=16).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 100 tokens, stride 48, bound 84 -> starts 1 and 49
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["chunk_start"] for r in c1] == [1, 49]
    assert [r["n_chunk_tokens"] for r in c1] == [64, 52]
    assert c1[0]["chunk_text"].split(" ")[-1] == "w63"
    assert c1[1]["chunk_text"].split(" ") == [f"w{i}" for i in range(48, 100)]
    # short and empty docs produce exactly one chunk
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_text"] == "a b c"
    assert len(by_doc[3]) == 1
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=8, overlap=8)


def test_decontaminate_drops_eval_copies(spark):
    from timeseries_spark.extensions.dedup import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the capital of france is paris indeed"),  # eval copy
            (2, "the capital of france is paris my friend"),  # near copy
            (3, "completely unrelated training document text here"),
            (4, "short"),
        ],
        "doc_id bigint, text string",
    )
    ev = spark.createDataFrame(
        [(100, "the capital of france is paris indeed")],
        "doc_id bigint, text string",
    )
    kept = decontaminate(train, ev, n=3, min_hits=2)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [3, 4]  # 1 shares all shingles, 2 shares 4 of them
    hits = {r["doc_id"]: r["n_eval_hits"] for r in kept.collect()}
    assert hits == {3: 0, 4: 0}
    # the corpus side must not shuffle for the join: eval side broadcasts
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_pq_matches_brute_force_with_full_pool(spark, sf_dir):
    """With a rerank pool covering the whole corpus, PQ's exact re-rank
    must reproduce brute-force top-k identically (the codebook can then
    never evict a true neighbor); encoding must emit one code per
    subspace; and a dims/m mismatch is a loud error."""
    from timeseries_spark.extensions.pq import (
        pq_encode,
        pq_fit_books,
        pq_topk,
    )
    from timeseries_spark.extensions.similarity import brute_force_topk
    from timeseries_spark.queries import load

    emb = load(spark, sf_dir, "embeddings").limit(120).localCheckpoint()
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    exact = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cos_sim"])
        for r in brute_force_topk(emb, qs, k=3).collect()
    }
    books = pq_fit_books(emb, m=2, dims=64, n_clusters=4, kmeans_iter=2)
    full_pool = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cos_sim"])
        for r in pq_topk(emb, qs, books, k=3, rerank_factor=50).collect()
    }
    assert full_pool == exact
    enc = pq_encode(emb, books, m=2, dims=64, n_clusters=4)
    row = enc.first()
    assert len(row["codes"]) == 2
    assert all(0 <= c < 4 for c in row["codes"])
    assert len(row["dq"]) == 64
    with pytest.raises(ValueError, match="divide evenly"):
        pq_encode(emb, books, m=3, dims=64)


def test_take_n_per_stratum_exact_counts_and_nesting(spark):
    from timeseries_spark.extensions.sampling import take_n_per_stratum

    # 300 'big' rows, 5 'tiny' rows
    df = spark.range(0, 305).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 300, F.lit("big")).otherwise(F.lit("tiny")).alias(
            "source"
        ),
    )
    out = take_n_per_stratum(df, n=20).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    # exactly min(n, |stratum|) rows per stratum, ranks 1..n contiguous
    assert len(by_src["big"]) == 20
    assert len(by_src["tiny"]) == 5
    assert sorted(r["take_rank"] for r in by_src["big"]) == list(range(1, 21))
    # nesting: the n=10 sample is a strict subset of the n=20 sample
    small = {
        (r["source"], r["doc_id"])
        for r in take_n_per_stratum(df, n=10).collect()
    }
    big = {(r["source"], r["doc_id"]) for r in out}
    assert small < big
    with pytest.raises(ValueError, match="n must be"):
        take_n_per_stratum(df, n=0)


def test_lsh_verified_pairs_estimates_jaccard(spark, docs):
    from timeseries_spark.extensions.dedup import (
        lsh_candidates,
        lsh_verified_pairs,
    )

    cands = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidates(docs, n=3, bands=8).collect()
    }
    ver = lsh_verified_pairs(docs, n=3, bands=8, est_threshold=0.5).collect()
    # verification only ever narrows the candidate set
    assert {(r["id_a"], r["id_b"]) for r in ver} <= cands
    by_pair = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in ver}
    # exact duplicates (docs 1 and 3) agree on every component
    assert by_pair[(1, 3)] == 1.0
    # near-dup (1 vs 2, one word differs) survives with high estimate
    assert by_pair.get((1, 2), 0.0) >= 0.5
    with pytest.raises(ValueError, match="est_threshold"):
        lsh_verified_pairs(docs, est_threshold=1.5)


def test_incremental_dedup_drops_known_and_near(spark):
    from timeseries_spark.extensions.dedup import incremental_dedup

    old = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "an existing corpus document with its own words"),
            (3, ""),  # existing sentinel
        ],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),  # exact
            (11, "the quick brown fox jumps over the lazy cat"),  # near
            (12, "a genuinely novel incoming document nothing shares"),
            (13, ""),  # sentinel vs existing sentinel
        ],
        "doc_id bigint, text string",
    )
    kept = sorted(
        r["doc_id"] for r in incremental_dedup(new, old, n=3).collect()
    )
    assert kept == [12]
    # with no existing sentinel, an empty new doc survives
    kept2 = sorted(
        r["doc_id"]
        for r in incremental_dedup(new, old.filter("doc_id != 3"), n=3).collect()
    )
    assert kept2 == [12, 13]


def test_relative_quality_filter_per_stratum_cutoff(spark):
    from timeseries_spark.extensions.text import relative_quality_filter

    rows = [(i, "w " * (i % 10 + 1), "a") for i in range(20)] + [
        (100 + i, "w " * (i % 3 + 1), "b") for i in range(9)
    ]
    df = spark.createDataFrame(
        [(i, t.strip(), s) for i, t, s in rows],
        "doc_id bigint, text string, source string",
    )
    out = relative_quality_filter(df, p=0.5).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    # cutoffs are PER STRATUM: b's median (2.0) is below a's (5.5), so a
    # 2-token doc survives in b but would fail a's cutoff
    assert all(r["metric_value"] >= r["metric_cutoff"] for r in out)
    cut_a = by_src["a"][0]["metric_cutoff"]
    cut_b = by_src["b"][0]["metric_cutoff"]
    assert cut_b < cut_a
    assert any(r["metric_value"] == 2.0 for r in by_src["b"])
    with pytest.raises(ValueError, match="p must be"):
        relative_quality_filter(df, p=1.5)


def test_ivf_pq_full_probe_full_pool_matches_brute_force(spark, sf_dir):
    """Probing ALL clusters with a corpus-wide re-rank pool removes both
    approximation tiers, so IVF-PQ must reproduce brute-force top-k —
    the recall contract of the composed index."""
    from timeseries_spark.extensions.kmeans import kmeans_assign
    from timeseries_spark.extensions.pq import ivf_pq_topk, pq_fit_books
    from timeseries_spark.extensions.similarity import brute_force_topk
    from timeseries_spark.queries import load

    emb = load(spark, sf_dir, "embeddings").limit(120).localCheckpoint()
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    exact = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cos_sim"])
        for r in brute_force_topk(emb, qs, k=3).collect()
    }
    clusters = kmeans_assign(emb, k=4, max_iter=2)
    vecs = emb.join(clusters.select("vec_id", "cluster"), "vec_id")
    books = pq_fit_books(emb, m=2, dims=64, n_clusters=4, kmeans_iter=2)
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cos_sim"])
        for r in ivf_pq_topk(
            vecs, qs, "cluster", books, k=3, nprobe=4, rerank_factor=50,
        ).collect()
    }
    assert got == exact


def test_packed_sequences_concatenates_in_id_order(spark):
    from timeseries_spark.extensions.text import packed_sequences

    df = spark.createDataFrame(
        [(i, "w" + str(i), "a") for i in range(6)],
        "doc_id bigint, text string, source string",
    )
    # 1 token per doc, window 3 -> bins of 3 docs each
    out = sorted(
        packed_sequences(df, window_tokens=3, n_shards=1).collect(),
        key=lambda r: r["bin"],
    )
    assert [r["n_docs"] for r in out] == [3, 3]
    assert out[0]["packed_text"] == "w0 <eod> w1 <eod> w2"
    assert out[1]["packed_text"] == "w3 <eod> w4 <eod> w5"
    assert all(r["bin_tokens"] == 3 for r in out)


def test_decoder_hostile_payloads_become_error_rows():
    """Review regressions: a truncated WAV fmt chunk raises struct.error
    from unpack_from unless guarded (which would kill the task, not the
    row), and negative PPM/BMP header dims must not pass as decoded."""
    import struct as _struct

    import pytest as _pytest

    from timeseries_spark.extensions.multimodal import _sniff_and_decode

    bad_wav = (
        b"RIFF" + _struct.pack("<I", 36) + b"WAVE" + b"fmt "
        + _struct.pack("<I", 16) + b"\x01\x00"
    )
    with _pytest.raises(ValueError, match="truncated fmt"):
        _sniff_and_decode(bad_wav)
    with _pytest.raises(ValueError, match="bad dimensions"):
        _sniff_and_decode(b"P6\n-4 2\n255\nxxxx")


def test_temperature_mix_null_stratum_kept(spark):
    """A NULL stratum is a real group: it must receive its derived
    weight (null-safe join), not silently vanish from the mix."""
    from timeseries_spark.extensions.sampling import temperature_mix

    df = spark.createDataFrame(
        [(i, "big" if i < 90 else None) for i in range(100)],
        "doc_id bigint, source string",
    )
    out = temperature_mix(df, alpha=0.5)
    null_rows = out.filter(F.col("source").isNull())
    assert null_rows.count() > 10  # upsampled, certainly not dropped
    assert null_rows.select("mix_weight").first()[0] > 1.0


def test_dataset_split_rejects_negative_fraction(spark):
    from timeseries_spark.extensions.sampling import dataset_split

    df = spark.range(5).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="in \\[0, 1\\]"):
        dataset_split(df, [("train", 0.95), ("val", -0.05), ("test", 0.1)])


def test_vocab_and_oov(spark):
    from timeseries_spark.extensions.text import oov_rate, vocab_topk

    df = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a b z z q")],
        "doc_id bigint, text string",
    )
    vocab = vocab_topk(df, k=3).collect()
    assert [(r["token_id"], r["token"]) for r in sorted(vocab, key=lambda r: r["token_id"])] == [
        (0, "a"),  # 4 occurrences
        (1, "b"),  # 3
        (2, "z"),  # 2 (ties with nothing; c and q have 1, tie broken by token)
    ]
    rates = {r["doc_id"]: r for r in oov_rate(df, vocab_topk(df, k=3)).collect()}
    assert rates[1]["n_oov"] == 1 and rates[1]["oov_rate"] == 0.1667
    assert rates[2]["n_oov"] == 1  # q OOV; a, b, z in vocab
    # top-k must compile to TakeOrderedAndProject, not a global sort
    p = vocab_topk(df, k=3)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p


def test_hll_accuracy_and_merge(spark):
    """HLL estimate within the p=8 error bound; sketches over disjoint
    shards MERGE by register-max to exactly the whole-corpus sketch —
    the property that makes the sketch usable across 100 TB shards."""
    from timeseries_spark.extensions.sketches import (
        hll_distinct,
        hll_estimate,
        hll_registers,
    )

    df = spark.range(0, 3000).select(
        F.col("id").alias("v"), (F.col("id") % 2).alias("shard")
    )
    est = hll_distinct(df, "v", p=8).first()["hll_est"]
    assert abs(est - 3000) / 3000 < 0.15  # ~2 sigma at p=8
    # shard sketches merged == whole-corpus sketch
    shard_regs = hll_registers(df, "v", ("shard",), p=8)
    merged = shard_regs.groupBy("reg").agg(
        F.max("max_rho").alias("max_rho")
    )
    assert hll_estimate(merged, p=8).first()["hll_est"] == est
    with pytest.raises(ValueError, match="p must be"):
        hll_registers(df, "v", p=2)


def test_cms_never_underestimates_and_bloom_no_false_negatives(spark):
    from timeseries_spark.extensions.sketches import (
        bloom_bits,
        bloom_maybe,
        cms_counters,
        cms_estimate,
    )

    vals = spark.createDataFrame(
        [(f"v{i % 40}",) for i in range(400)], "token string"
    )
    counters = cms_counters(vals, "token", depth=4, width=64)
    qs = vals.distinct()
    est = {
        r["token"]: r["cms_est"]
        for r in cms_estimate(qs, counters, "token", depth=4, width=64).collect()
    }
    assert all(e >= 10 for e in est.values())  # every value occurs 10x
    # tighter: with depth 4 the min-counter estimate is exact or over
    exact = {
        r["token"]: r["count"] for r in vals.groupBy("token").count().collect()
    }
    assert all(est[t] >= exact[t] for t in exact)

    known = spark.createDataFrame([(f"k{i}",) for i in range(100)], "v string")
    probe = spark.createDataFrame(
        [(f"k{i}",) for i in range(50)] + [(f"u{i}",) for i in range(50)],
        "v string",
    )
    bloom = bloom_bits(known, "v", m_bits=2048, k_hashes=5)
    out = {r["v"]: r["bloom_maybe"] for r in bloom_maybe(
        probe, bloom, "v", m_bits=2048, k_hashes=5
    ).collect()}
    # zero false negatives: every known value must be a maybe
    assert all(out[f"k{i}"] for i in range(50))
    # and most unknowns are definite misses at this load factor
    assert sum(1 for i in range(50) if not out[f"u{i}"]) > 30


def test_weighted_reservoir_favors_heavy_rows(spark):
    from timeseries_spark.extensions.sampling import weighted_sample_n

    # rows 0-99 weight 10, rows 100-199 weight 1: the sample should be
    # dominated by heavy rows (P(light row beats heavy) is small)
    df = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 100, F.lit(10.0)).otherwise(F.lit(1.0)).alias(
            "w"
        ),
    )
    out = weighted_sample_n(df, n=50, weight_col="w").collect()
    assert len(out) == 50
    heavy = sum(1 for r in out if r["doc_id"] < 100)
    assert heavy > 35
    # deterministic: identical sample on a re-run
    again = weighted_sample_n(df, n=50, weight_col="w").collect()
    assert {r["doc_id"] for r in out} == {r["doc_id"] for r in again}
    # zero/NULL weights never sample; negative weights fail loudly
    z = df.withColumn("w", F.when(F.col("doc_id") < 199, F.col("w")))
    zn = weighted_sample_n(z.fillna(0.0, ["w"]), n=200, weight_col="w")
    assert zn.filter(F.col("doc_id") == 199).count() == 0
    with pytest.raises(Exception, match="negative weight"):
        weighted_sample_n(
            df.withColumn("w", F.lit(-1.0)), n=5, weight_col="w"
        ).collect()


def test_unigram_logprob_ranks_fluency(spark):
    """Docs made of common tokens must outscore docs of rare tokens
    under the corpus's own unigram model; scores are finite and
    deterministic."""
    from timeseries_spark.extensions.text import unigram_logprob

    rows = [(i, "the cat sat on the mat") for i in range(9)] + [
        (9, "zyx qwv jkl pqr")
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r["mean_logprob"] for r in unigram_logprob(df).collect()}
    assert out[0] > out[9]  # common-token doc scores higher
    assert all(v < 0 for v in out.values())
    again = {
        r["doc_id"]: r["mean_logprob"] for r in unigram_logprob(df).collect()
    }
    assert out == again
    with pytest.raises(ValueError, match="smoothing"):
        unigram_logprob(df, smoothing=0.0)


def test_media_features_feed_ann(spark, sf_dir):
    """Multimodal columns are first-class pipeline citizens: decoded
    media histograms (array<double> from the real codecs) flow straight
    into the ANN operators — near-duplicate media detection by feature
    cosine. Identical payloads must rank as each other's top neighbor
    with cosine 1.0."""
    from timeseries_spark.extensions.multimodal import (
        extract_features,
        real_media,
    )
    from timeseries_spark.extensions.similarity import brute_force_topk
    from timeseries_spark.queries import load

    docs = load(spark, sf_dir, "documents").limit(30)
    feats = (
        extract_features(real_media(docs), n_bins=16)
        .filter(F.col("feature").isNotNull())
        .select(F.col("media_id").alias("vec_id"), F.col("feature").alias("embedding"))
        .localCheckpoint()
    )
    # duplicate one media row under a new id: its twin must be rank 1
    twin_src = feats.orderBy("vec_id").first()
    twin = spark.createDataFrame(
        [(99999, twin_src["embedding"])], feats.schema
    )
    corpus = feats.unionByName(twin)
    qs = twin.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = brute_force_topk(corpus, qs, k=1).first()
    assert top["neighbor_id"] == twin_src["vec_id"]
    assert top["cos_sim"] == 1.0


def test_profile_columns_one_pass(spark):
    from timeseries_spark.extensions.sketches import profile_columns

    df = spark.createDataFrame(
        [(1, None, 5.0), (2, "b", 7.0), (3, "b", None)],
        "k bigint, s string, v double",
    )
    out = {r["column"]: r for r in profile_columns(df, ("k", "s", "v")).collect()}
    assert out["s"]["n_nulls"] == 1 and out["s"]["n_distinct"] == 1
    assert out["k"]["min_value"] == "1" and out["k"]["max_value"] == "3"
    assert out["v"]["min_value"] == "5.000000"  # decimal-rendered double
    # one aggregate pass: exactly one exchange, no per-column scans
    p = profile_columns(df, ("k", "s", "v"))._jdf.queryExecution().executedPlan().toString()
    assert p.count("Scan ExistingRDD") <= 2  # distinct agg may expand once
    with pytest.raises(ValueError, match="non-empty"):
        profile_columns(df, ())


def test_bloom_maybe_preserves_duplicate_rows(spark):
    """Review regression: the probe must be row-preserving — a
    re-delivered (duplicate) row in the ingest stream passes through as
    two rows, not collapsed by reassembly."""
    from timeseries_spark.extensions.sketches import bloom_bits, bloom_maybe

    known = spark.createDataFrame([("a",)], "v string")
    probe = spark.createDataFrame([("a",), ("a",), ("x",)], "v string")
    bloom = bloom_bits(known, "v", m_bits=512, k_hashes=3)
    out = bloom_maybe(probe, bloom, "v", m_bits=512, k_hashes=3).collect()
    assert len(out) == 3
    assert sum(1 for r in out if r["v"] == "a" and r["bloom_maybe"]) == 2


def test_profile_columns_renders_large_doubles_plainly(spark):
    """Review regression: double min/max must render via fixed-scale
    decimal (engine-portable), never Java scientific notation."""
    from timeseries_spark.extensions.sketches import profile_columns

    df = spark.createDataFrame(
        [(1, 10000000.5), (2, 0.00001)], "k bigint, v double"
    )
    out = {r["column"]: r for r in profile_columns(df, ("v",)).collect()}
    assert out["v"]["max_value"] == "10000000.500000"
    assert "E" not in out["v"]["min_value"]


def test_negative_samples_uniform_and_deterministic(spark):
    from timeseries_spark.extensions.sampling import negative_samples

    df = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    out = negative_samples(df, k=4).collect()
    # k draws per anchor minus the occasional self-hit
    assert 380 <= len(out) <= 400
    assert all(r["neg_id"] != r["anchor_id"] for r in out)
    assert all(0 <= r["neg_id"] < 100 for r in out)
    again = negative_samples(df, k=4).collect()
    assert {tuple(r) for r in out} == {tuple(r) for r in again}
    # draws spread over the corpus, not clustered (uniformity smoke)
    distinct_negs = len({r["neg_id"] for r in out})
    assert distinct_negs > 70
    with pytest.raises(ValueError, match="k must be"):
        negative_samples(df, k=0)


def test_encode_tokens_roundtrip(spark):
    from timeseries_spark.extensions.text import encode_tokens, vocab_topk

    df = spark.createDataFrame(
        [(1, "a b a rare"), (2, "b b")], "doc_id bigint, text string"
    )
    vocab = vocab_topk(df, k=2)  # 'b' (3) then 'a' (2)
    out = {r["doc_id"]: r for r in encode_tokens(df, vocab).collect()}
    # b=0, a=1, OOV=-1; order preserved
    assert out[1]["token_ids"] == [1, 0, 1, -1]
    assert out[2]["token_ids"] == [0, 0]
    assert out[1]["n_tokens"] == 4


def test_cms_shard_merge_equals_whole(spark):
    """CMS counters are mergeable by SUM: sketching two disjoint shards
    and adding their counters equals sketching the whole corpus — the
    property that lets 100 TB shards sketch independently."""
    from timeseries_spark.extensions.sketches import cms_counters

    df = spark.range(0, 600).select(
        (F.col("id") % 37).cast("string").alias("token"),
        (F.col("id") % 2).alias("shard"),
    )
    whole = {
        (r["row"], r["cell"]): r["n"]
        for r in cms_counters(df, "token", depth=4, width=64).collect()
    }
    merged = {}
    for s in (0, 1):
        part = cms_counters(
            df.filter(F.col("shard") == s), "token", depth=4, width=64
        ).collect()
        for r in part:
            merged[(r["row"], r["cell"])] = (
                merged.get((r["row"], r["cell"]), 0) + r["n"]
            )
    assert merged == whole


def test_temperature_mix_conserves_total(spark):
    """alpha=0.5 mixing keeps the corpus size ~N by construction
    (weights are normalized shares times N): the replica total must sit
    within a few percent of N for skewed strata."""
    from timeseries_spark.extensions.sampling import temperature_mix

    df = spark.range(0, 1200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 1000, F.lit("a"))
        .when(F.col("id") < 1150, F.lit("b"))
        .otherwise(F.lit("c"))
        .alias("source"),
    )
    total = temperature_mix(df, alpha=0.5).count()
    assert abs(total - 1200) < 60
    # alpha=1 must be the identity mix: every weight exactly 1.0
    ident = temperature_mix(df, alpha=1.0)
    assert ident.count() == 1200
    assert ident.select("mix_weight").distinct().collect()[0][0] == 1.0


def test_source_divergence_hand_checked(spark):
    """Two tiny sources with known distributions: entropy and KL match
    the textbook formulas; the identical-to-pooled source has the
    smaller KL."""
    import math

    from timeseries_spark.extensions.text import source_divergence

    rows = [
        (1, "x x y", "A"),       # p_A = {x: 2/3, y: 1/3}
        (2, "x y y y", "B"),     # p_B = {x: 1/4, y: 3/4}
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: r for r in source_divergence(df).collect()}
    # pooled q = {x: 3/7, y: 4/7}
    q = {"x": 3 / 7, "y": 4 / 7}
    for src, p in (
        ("A", {"x": 2 / 3, "y": 1 / 3}),
        ("B", {"x": 1 / 4, "y": 3 / 4}),
    ):
        ent = -sum(pv * math.log(pv) for pv in p.values())
        kl = sum(pv * math.log(pv / q[t]) for t, pv in p.items())
        assert abs(got[src]["entropy"] - ent) < 1e-5, src
        assert abs(got[src]["kl_vs_corpus"] - kl) < 1e-5, src
    assert got["A"]["n_tokens"] == 3 and got["A"]["vocab"] == 2
    assert got["B"]["n_tokens"] == 4 and got["B"]["vocab"] == 2
    # a uniform single-source corpus has zero KL against itself
    solo = source_divergence(
        spark.createDataFrame([(1, "x y", "S")],
                              "doc_id long, text string, source string")
    ).collect()[0]
    assert solo["kl_vs_corpus"] == 0.0


def test_rank_normalize_ties_and_singletons(spark):
    from timeseries_spark.extensions.text import rank_normalize

    rows = [
        (1, "a", 10), (2, "a", 20), (3, "a", 20), (4, "a", 40), (5, "a", 50),
        (6, "b", 999),  # singleton stratum -> rank 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, m long")
    got = {
        r["doc_id"]: r["pct_rank"]
        for r in rank_normalize(df, "source", F.col("m")).collect()
    }
    assert got[1] == 0.0 and got[5] == 1.0
    assert got[2] == got[3] == 0.25  # ties share (rank-1)/(n-1)
    assert got[4] == 0.75
    assert got[6] == 0.0


def test_distinctive_tokens_flags_exclusive_vocab(spark):
    from timeseries_spark.extensions.text import distinctive_tokens

    rows = [
        (1, "alpha alpha alpha common common", "A"),
        (2, "beta beta beta common common", "B"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = distinctive_tokens(df, top_k=1).collect()
    top = {r["source"]: r["token"] for r in got}
    assert top == {"A": "alpha", "B": "beta"}
    for r in got:
        assert r["log_odds"] > 0 and r["rn"] == 1
    with pytest.raises(ValueError):
        distinctive_tokens(df, top_k=0)


def test_bigram_logprob_hand_checked(spark):
    """Exact hand computation on a 3-doc corpus, plus the ranking
    property: a doc repeating the corpus's dominant transition outscores
    one whose transitions are each unique; single-token docs vanish."""
    import math

    from timeseries_spark.extensions.text import bigram_logprob

    rows = [
        (1, "a b a b a b"),  # transitions: ab ba ab ba ab
        (2, "c d"),          # one transition, unique
        (3, "x"),            # no transitions -> absent
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in bigram_logprob(df).collect()}
    assert set(got) == {1, 2}
    # corpus bigrams: (a,b)x3 (b,a)x2 (c,d)x1; contexts a=3 b=2 c=1; V=5
    k, V = 0.5, 5.0
    lp_ab = math.log((3 + k) / (3 + k * V))
    lp_ba = math.log((2 + k) / (2 + k * V))
    lp_cd = math.log((1 + k) / (1 + k * V))
    m1 = (3 * lp_ab + 2 * lp_ba) / 5
    assert got[1]["n_bigrams"] == 5
    assert got[1]["mean_logprob"] == round(m1, 6)
    assert got[1]["perplexity"] == round(math.exp(-m1), 6)
    assert got[2]["mean_logprob"] == round(lp_cd, 6)
    assert got[1]["mean_logprob"] > got[2]["mean_logprob"]
    with pytest.raises(ValueError, match="smoothing"):
        bigram_logprob(df, smoothing=-1.0)


def test_bigram_logprob_row_order_invariant(spark):
    """The position-order fold discipline must make scores independent
    of corpus row order and partitioning — the property that lets the
    oracle hash-match across engines: same corpus loaded in reversed
    order and a different partition count yields byte-identical rows."""
    from timeseries_spark.extensions.text import bigram_logprob

    rows = [
        (i, " ".join(f"t{(i * 7 + j) % 13}" for j in range(i % 6 + 2)))
        for i in range(40)
    ]
    schema = "doc_id bigint, text string"
    a = spark.createDataFrame(rows, schema).repartition(8)
    b = spark.createDataFrame(rows[::-1], schema).repartition(3)
    ra = sorted(map(tuple, bigram_logprob(a).collect()))
    rb = sorted(map(tuple, bigram_logprob(b).collect()))
    assert ra == rb


def test_resample_audio_hand_checked(spark):
    """8000 -> 4000 Hz over a 4-sample clip [0, 10, 20, 30]: output
    positions are exactly every other input sample; 8000 -> 12000 Hz
    interpolates at thirds."""
    from timeseries_spark.extensions.multimodal import (
        _wav_payload,
        resample_audio,
    )
    import struct

    # hand-built WAV: samples 0,10,20,30 (PCM16 mono 8000 Hz)
    data = struct.pack("<4h", 0, 10, 20, 30)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    media = spark.createDataFrame(
        [(1, "audio", bytearray(wav)), (2, "image", bytearray(b"BMx"))],
        "media_id bigint, kind string, payload binary",
    )
    down = {r["media_id"]: r for r in resample_audio(media, 4000).collect()}
    assert list(down) == [1]  # images never cross the Python boundary
    r = down[1]
    # n_out = ((4-1)*4000)//8000 + 1 = 2 -> samples [0, 20]
    assert (r["n_in"], r["n_out"]) == (4, 2)
    assert (r["mean_out"], r["min_out"], r["max_out"]) == (10.0, 0.0, 20.0)
    assert r["error"] is None

    up = resample_audio(media, 12000).collect()[0]
    # n_out = ((4-1)*12000)//8000 + 1 = 5 -> 0, 20/3, 40/3, 20, 80/3
    assert up["n_out"] == 5
    assert up["min_out"] == 0.0
    assert up["max_out"] == round(80 / 3, 4)


def test_resample_audio_corrupt_survives(spark):
    from timeseries_spark.extensions.multimodal import resample_audio

    media = spark.createDataFrame(
        [(7, "audio", bytearray(b"RIFFxxxxWAVEgarbage"))],
        "media_id bigint, kind string, payload binary",
    )
    (r,) = resample_audio(media, 6000).collect()
    assert r["error"] is not None and r["n_out"] is None

    import pytest

    with pytest.raises(ValueError):
        resample_audio(media, 0)


def test_trigram_backoff_all_branches(spark):
    """Every backoff tier fires and matches the hand-computed score:
    seen trigram, bigram-only, unigram-only, and the OOV floor."""
    import math

    from timeseries_spark.extensions.text import trigram_backoff_logprob

    # doc 0 (even -> train): transitions a b c / b c a / c a b ...
    train_text = "a b c a b c a b"
    # doc 1 (odd -> test): positions scored are (p2,p1,cur) triples
    #   (a b c)  seen trigram
    #   (b c x)  unseen trigram; bigram (c x)? unseen; unigram x? unseen -> OOV
    #   (c x a)  unseen trigram, unseen bigram (x a), unigram a seen
    #   (x a b)  unseen trigram (x a b), bigram (a b) seen
    docs = spark.createDataFrame(
        [(0, train_text), (1, "a b c x a b")],
        "doc_id bigint, text string",
    )
    (row,) = trigram_backoff_logprob(docs).collect()
    assert row["doc_id"] == 1 and row["n_scored"] == 4
    n = 8  # train tokens
    scores = [
        math.log(2 / 2),              # (a,b)->c: n3=2, ctx (a,b)=2
        math.log(0.4**3 / n),         # x is OOV
        math.log(0.4**2 * 3 / n),     # unigram a: n1=3
        math.log(0.4 * 3 / 3),        # bigram (a)->b: n2=3, ctx a=3
    ]
    want = sum(scores) / 4
    assert abs(row["mean_logscore"] - round(want, 6)) < 2e-6
