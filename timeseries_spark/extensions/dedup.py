"""Deduplication operators for document-scale corpora.

Four families, each with a different cost/recall point at 100 TB:

- exact: hash-groupBy on a content digest — one shuffle, perfect precision;
- n-gram Jaccard: inverted-index self-join on shingles (never all-pairs:
  candidate space is bounded by shared-shingle co-occurrence);
- MinHash + LSH banding: constant-size signatures, candidates from band
  buckets — the classic near-dup pipeline for web-scale corpora;
- SimHash: one 32-bit sketch per doc, hamming-distance filter.

Everything is built from deterministic md5-based hashes (see ``hashing``)
so results are engine-reproducible; Spark-side compute is pure higher-order
functions (per-row, no Python), shuffles happen only at the documented
joins/groupBys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from timeseries_spark.extensions.caching import (
    register_cache,
    release_caches,
)
from timeseries_spark.extensions.hashing import md5_h1, md5_h2, md5_long
from timeseries_spark.functions.parallelism import (
    bytes_sized_shuffles,
    ensure_parallelism,
)
from timeseries_spark.session import phase

# Multi-consumer persist() points registered by the pair generators
# (posting/signature/band blocks) go through the shared, per-session,
# lock-guarded registry (extensions/caching.py — the round-14 advice
# hardening). Lifecycle contract: one-shot pipelines let session
# teardown collect them; serving sessions either call
# ``release_dedup_caches()`` between queries or wrap the terminal
# DataFrame in ``materialize_release`` — never mid-query (a registered
# cache may still be feeding an unmaterialized plan).
_FAMILY = "dedup"


def _persist_registered(df: DataFrame) -> DataFrame:
    return register_cache(df, _FAMILY)


def release_dedup_caches(spark=None) -> int:
    """Unpersist every dedup-family cache registered since the last
    release; returns how many were freed. ``spark`` scopes the release
    to one session's caches (``None`` = all sessions, the legacy
    behavior). Async (non-blocking) — the executors drop the blocks in
    the background."""
    return release_caches(spark, _FAMILY)


def materialize_release(df: DataFrame) -> DataFrame:
    """Checkpoint-then-release: eagerly materialize ``df`` (truncating
    its lineage so nothing downstream can reach back into the caches),
    then free the OWNING session's registered dedup caches (a
    concurrent session's blocks are untouched — per-session registry).
    The kmeans localCheckpoint discipline applied at the dedup-family
    boundary — the call a serving session makes when it wants the pair
    set but not the posting blocks."""
    out = df.localCheckpoint(eager=True)
    release_dedup_caches(df.sparkSession)
    return out


def tokens(text: Column) -> Column:
    """Single-space tokenizer (the corpus contract for these operators)."""
    return F.split(text, " ")


def shingles(toks: Column, n: int = 3) -> Column:
    """Overlapping word n-grams as strings; empty array when the doc is
    shorter than ``n`` tokens."""
    count = F.size(toks) - (n - 1)
    return F.when(
        count > 0,
        F.transform(
            F.sequence(F.lit(1), F.greatest(count, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: md5 digest groupBy; canonical row = min id.

    Output: (digest, keep_id, n_copies). One shuffle on the digest —
    at 100 TB this is the cheapest possible dedup and the digest groupBy
    distributes evenly (md5 is uniform, no skew)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def hot_shingles(sh: DataFrame, max_doc_freq: int, col: str = "sh") -> DataFrame:
    """Shingles whose document frequency exceeds ``max_doc_freq`` over an
    exploded (id, shingle) table with distinct shingles per doc. The hot
    set is tiny by construction (only the most common boilerplate runs),
    so callers broadcast it into an anti-join."""
    return (
        sh.filter(F.col(col).isNotNull())
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_doc_freq)
        .select(col)
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >=1 shingle.

    Inverted-index plan: explode distinct shingles -> self-join on shingle
    (co-occurrence list) -> count shared shingles per pair -> jaccard from
    |A∩B| / (|A| + |B| - |A∩B|). The self-join key is the shingle, so the
    shuffle is bounded by posting-list sizes; hot shingles (stopword runs)
    are the skew risk — one shingle shared by 100k docs creates a ~10^10
    row join blowup AQE cannot save. ``max_doc_freq`` is the standard
    mitigation at corpus scale: shingles with document frequency above
    the cap are dropped BEFORE the self-join (broadcast anti-join against
    the tiny hot set), bounding every posting list at the cap. Sizes and
    Jaccard are then computed in the capped shingle space (docs left with
    zero shingles simply produce no pairs) — the oracle applies the
    identical cap, so results stay hash-exact. Jaccard is a ratio of
    exact integer counts — deterministic across engines."""
    df = ensure_parallelism(df)
    sh = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(shingles(tokens(F.col(text_col)), n))).alias(
                "sh"
            ),
        )
    )
    # persist the posting rows at every multi-consumer point: the
    # tokenize+shingle explode feeds the hot-shingle aggregate, the doc
    # sizes, and BOTH self-join sides, and alias/pruning differences
    # defeat exchange reuse — without the cache the whole explode chain
    # executes once per consumer (4 parquet scans measured; the same
    # lesson as _minhash_parts' signature aggregate)
    if max_doc_freq is not None:
        sh = _persist_registered(sh)
        sh = sh.join(F.broadcast(hot_shingles(sh, max_doc_freq)), "sh", "left_anti")
    sh = _persist_registered(sh)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "sh")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "sh_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("sh_a") + F.col("sh_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


EMPTY_SIG_SENTINEL = 2**62


def minhash_signature(sh: Column, num_hashes: int = 32) -> Column:
    """MinHash signature: ``sig[i] = min over shingles of h1(s) + i*h2(s)``
    (double hashing — one md5 per shingle; see ``hashing.md5_h2``). Pure
    HOF — no shuffle, no UDF. Empty shingle sets yield a sentinel
    signature.

    NOTE: lambda-nested expressions are re-evaluated per outer element, so
    this HOF form still digests each shingle ``num_hashes`` times; use the
    explode/aggregate plan in :func:`lsh_candidates` when the corpus is
    large — same signature for non-empty docs, one digest per shingle.
    Do NOT band this form's output directly: sentinel signatures agree on
    every band, so banding them re-mints the quadratic all-boilerplate
    mega-bucket that :func:`lsh_candidates` routes to a min-id star —
    split out empty shingle sets first, as that function does."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.coalesce(
            F.array_min(
                F.transform(
                    sh, lambda s: md5_h1(s) + i.cast("bigint") * md5_h2(s)
                )
            ),
            F.lit(EMPTY_SIG_SENTINEL).cast("bigint"),
        ),
    )


def lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs: signature split into ``bands`` bands of
    ``num_hashes/bands`` rows; docs agreeing on any whole band are
    candidates. At corpus scale the band join replaces the quadratic
    all-pairs comparison; band-bucket skew (giant clusters of
    near-identical docs) is the known hot spot and is why the digest
    includes the band index.

    ``max_doc_freq`` caps shingle document frequency BEFORE signatures:
    hot shingles (df > cap — stopword runs, boilerplate) are nulled out
    via a broadcast join against the tiny hot set, so they contribute to
    no signature and can never form a band bucket shared by every doc
    that carries them. Docs with NO surviving shingles (empty text, or
    pure boilerplate — which IS the empty document for dedup purposes)
    are SENTINEL docs: they all agree with each other by construction,
    so they are routed OUT of the band join entirely and paired as a
    star to their min id (the exact-digest canonical idiom). Banding
    them instead would mint one mega-bucket that pairs all-with-all:
    10^6 boilerplate docs -> ~5*10^11 candidate rows through 8 skewed
    join tasks. The star carries the same connected component with m-1
    pairs instead of m(m-1)/2. The oracle applies the identical routing.

    Signature plan: explode shingles, digest each ONCE into the two
    double-hashing halves (a projection materializes them as attributes —
    inside a HOF lambda the digest would re-run per hash index), then
    ``groupBy(id)`` computes all ``num_hashes`` mins in one aggregate.
    ``explode_outer`` keeps shingle-less docs (they surface with a zero
    kept-shingle count and take the sentinel path)."""
    rows = num_hashes // bands
    sig, sent = _minhash_parts(
        df, text_col, id_col, n, num_hashes, max_doc_freq
    )
    banded = _band_digests(sig, bands, rows)
    return (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "digest"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
        .unionByName(_sentinel_star(sent))
    )


def _minhash_parts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    num_hashes: int,
    max_doc_freq: int | None,
) -> tuple[DataFrame, DataFrame]:
    """Signature stage shared by :func:`lsh_candidates` and
    :func:`lsh_verified_pairs`: returns ``(sig, sent)`` — (id, sig array)
    for docs with surviving shingles, and the sentinel (shingle-less)
    ids."""
    df = ensure_parallelism(df)
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(
            F.array_distinct(shingles(tokens(F.col(text_col)), n))
        ).alias("s"),
    )
    if max_doc_freq is not None:
        hot = hot_shingles(ex, max_doc_freq, "s").withColumn("__hot", F.lit(1))
        ex = ex.join(F.broadcast(hot), "s", "left").withColumn(
            "s", F.when(F.col("__hot").isNull(), F.col("s"))
        )
    hp = ex.select("id", md5_h1(F.col("s")).alias("h1"), md5_h2(F.col("s")).alias("h2"))
    # __n counts surviving shingles (NULL h1 rows — empty docs, capped-out
    # shingles — don't count): __n == 0 <=> the doc is sentinel.
    # persist: every caller consumes this aggregate at least twice (both
    # sides of the band-digest self-join + the sentinel filter), and the
    # alias/pruning differences defeat exchange reuse, so without the
    # cache the WHOLE shingle-explode + md5 + 32-min chain — the
    # dominant cost — executes once per consumer (measured as the top-3
    # identical stages of the sf1 profile, 96 of 101 task-seconds,
    # experiments/MINHASH_PROFILE_r13.json). The entry is compact
    # (id + num_hashes longs + count ≈ 300 B/doc, far smaller than the
    # text it derives from) and spills to disk if memory won't hold it.
    # expr strings, not num_hashes Column objects: the per-Column py4j
    # construction dominated dedup_minhash_lsh's plan-build wall
    # (round-17, guide §7.3); min(h1 + i*h2) is the identical expression
    agg = hp.groupBy("id").agg(
        *[
            F.expr(f"min(h1 + {i} * h2)").alias(f"__m{i}")
            for i in range(num_hashes)
        ],
        F.count("h1").alias("__n"),
    )
    agg = _persist_registered(agg)
    sig = agg.filter(F.col("__n") > 0).select(
        "id",
        F.expr(
            "array(" + ",".join(f"__m{i}" for i in range(num_hashes)) + ")"
        ).alias("sig"),
    )
    sent = agg.filter(F.col("__n") == 0).select("id")
    return sig, sent


def _sentinel_star(sent: DataFrame) -> DataFrame:
    """Sentinel docs: star to the min id — a 1-row broadcast, never a
    band bucket (m-1 pairs, same component, no quadratic blowup)."""
    return (
        sent.crossJoin(F.broadcast(sent.agg(F.min("id").alias("id_a"))))
        .filter(F.col("id") > F.col("id_a"))
        .select("id_a", F.col("id").alias("id_b"))
    )


def _band_digests(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """(id, band, digest) — one md5 digest per signature band."""
    return sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows + 1, rows),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("digest"),
                ),
            )
        ).alias("bd"),
    ).select("id", F.col("bd.band").alias("band"), F.col("bd.digest").alias("digest"))


def lsh_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    est_threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """LSH candidates VERIFIED by estimated Jaccard — the standard second
    stage of the MinHash pipeline: banding over-generates (one agreeing
    band ≈ similarity^rows probability), so production filters candidates
    by the fraction of agreeing signature components (an unbiased
    estimator of true Jaccard) BEFORE any expensive exact comparison —
    crucially without re-reading the documents' text.

    Plan shape: the candidate pair set is tiny relative to the corpus,
    so the two signature lookups join pairs->sig on the id (signatures
    are reused from the same aggregate subtree the banding consumed —
    one signature computation feeds banding AND verification).
    Sentinel (shingle-less) docs pair star-wise with est_jaccard 1.0:
    empty-after-capping docs are exact duplicates of each other by
    definition. Output: (id_a, id_b, est_jaccard >= est_threshold)."""
    if not 0.0 <= est_threshold <= 1.0:
        raise ValueError(
            f"est_threshold must be in [0, 1], got {est_threshold}"
        )
    rows = num_hashes // bands
    sig, sent = _minhash_parts(
        df, text_col, id_col, n, num_hashes, max_doc_freq
    )
    banded = _band_digests(sig, bands, rows)
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "digest"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    est = F.round(
        F.size(
            F.filter(
                F.zip_with(
                    F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y
                ),
                lambda b: b,
            )
        )
        / F.lit(float(num_hashes)),
        6,
    )
    verified = (
        cand.join(
            sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")),
            "id_a",
        )
        .join(
            sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")),
            "id_b",
        )
        .select("id_a", "id_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= est_threshold)
    )
    sent_pairs = _sentinel_star(sent).withColumn(
        "est_jaccard", F.lit(1.0)
    )
    return verified.unionByName(sent_pairs)


def simhash_bits(toks: Column, n_bits: int = 32) -> Column:
    """``n_bits``-bit SimHash as a bigint, in ONE HOF fold (no explode,
    no shuffle): accumulate an ``n_bits``-slot ±1 vector over token
    hashes, then pack sign bits. ``n_bits <= 60`` (md5_long supplies 60
    hash bits per token).

    ``bit_j = 1 iff sum over tokens of (token_hash bit j ? +1 : -1) > 0``.
    """
    if not 1 <= n_bits <= 60:
        raise ValueError(f"n_bits must be in [1, 60], got {n_bits}")

    # 1 << j with a Column j: pow(2, j) is exact in double for any
    # j < 62 (powers of two are exactly representable)
    def mask(j: Column) -> Column:
        return F.pow(F.lit(2.0), j.cast("double")).cast("bigint")

    # hash each token ONCE up front — md5 inside the bit lambda would be
    # re-evaluated for all n_bits bits of every token
    acc = F.aggregate(
        F.transform(toks, md5_long),
        F.array_repeat(F.lit(0).cast("bigint"), n_bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bits - 1)),
                lambda j: F.when(
                    h.bitwiseAND(mask(j)) > 0,
                    F.lit(1).cast("bigint"),
                ).otherwise(F.lit(-1).cast("bigint")),
            ),
            lambda a, b: a + b,
        ),
    )
    packed = F.aggregate(
        F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(n_bits - 1)),
            lambda v, j: F.when(v > 0, mask(j)).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda a, b: a + b,
    )
    return packed


def simhash32(toks: Column) -> Column:
    """32-bit SimHash (compat wrapper; see :func:`simhash_bits`)."""
    return simhash_bits(toks, 32)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 6,
    max_bucket: int | None = None,
    n_bits: int = 32,
    n_bands: int = 8,
    rel_bucket_factor: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance.

    Candidate generation uses the pigeonhole band trick: with 8 bands of
    4 bits, any pair differing in at most 7 bits must agree exactly on at
    least one band, so the self-join runs on (band, band_bits) instead of
    all-pairs — with NO recall loss for ``max_hamming <= 7``. Exact
    distance is then verified with xor+bit_count.

    ``max_bucket`` is the corpus-scale knob: 4-bit bands have only 16
    values, so band buckets grow ~n/16 and the bucket self-join turns
    quadratic (measured 19.8× wall for 10× data at sf1 uncapped,
    experiments/SIMHASH_PROFILE_r13.json). Buckets holding more than
    ``max_bucket`` docs are dropped BEFORE the join (broadcast
    anti-join against the tiny hot set — the hot-shingle idiom), which
    bounds every posting list at the cap and makes candidate volume
    linear. The trade is recall on pairs whose EVERY agreeing band is
    hot — at corpus scale those are boilerplate mega-clusters better
    handled by exact/minhash tiers. The cap changes the answer, so it
    ships as its own oracle-gated query (dedup_simhash_capped).

    ``n_bits``/``n_bands`` widen the sketch — the OTHER scale lever:
    a 60-bit sketch in 7 bands of 8 bits has 256 values per band, so
    uncapped buckets run ~n/256 (16x the dilution of the 32-bit
    default) while the pigeonhole recall bound holds for
    ``max_hamming < n_bands`` (any pair with fewer differing bits than
    bands must leave one band untouched; bits past
    n_bands*(n_bits//n_bands) never enter a band, which only ever adds
    candidates, never loses one). Wider sketches also discriminate
    hamming distance better, so the same max_hamming is a STRICTER
    near-dup test — n_bits changes the answer and ships as its own
    oracle-gated query (dedup_simhash_wide).

    ``rel_bucket_factor`` is the RELATIVE cap: drop a bucket iff it
    exceeds ``factor`` times its band's mean bucket load (exact
    integer predicate). Unlike ``max_bucket`` it never saturates —
    the mean grows with the corpus, so the rule stays binding-but-not-
    total at any n (dedup_simhash_capped_rel)."""
    if max_hamming >= n_bands:
        raise ValueError(
            "banded plan guarantees recall only for max_hamming < n_bands"
        )
    width = n_bits // n_bands
    if width < 1:
        raise ValueError(f"n_bits={n_bits} too narrow for {n_bands} bands")
    df = ensure_parallelism(df)
    # NOTE: an explode + 32-conditional-SUM groupBy formulation was
    # measured 2x SLOWER than this per-row HOF fold at sf0.1 (the token
    # shuffle costs more than the fold's array allocations save)
    sk = df.select(
        F.col(id_col).alias("id"),
        simhash_bits(tokens(F.col(text_col)), n_bits).alias("sk"),
    )
    banded = sk.select(
        "id",
        "sk",
        # band extraction must stay in INTEGER arithmetic: a double
        # round-trip (pow/floor) silently rounds sketches past 2^53,
        # corrupting low band bits at n_bits=60 (caught by the sf0.1
        # oracle: 3 candidate pairs vanished). n_bands is a plain
        # Python int, so unrolling to literal-shift structs keeps
        # every shift an exact bigint op.
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("band"),
                        F.shiftright(F.col("sk"), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bits"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bd"),
    ).select("id", "sk", F.col("bd.band").alias("band"), F.col("bd.bits").alias("bits"))
    if max_bucket is not None:
        banded = _persist_registered(banded)
        hot = (
            banded.groupBy("band", "bits")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket)
            .select("band", "bits")
        )
        banded = banded.join(F.broadcast(hot), ["band", "bits"], "left_anti")
    if rel_bucket_factor is not None:
        # RELATIVE cap (VERDICT r15 item 4): drop a band bucket iff it
        # holds more than ``rel_bucket_factor`` times its band's MEAN
        # bucket load. The absolute cap saturates — with 16 values per
        # 4-bit band every bucket of a 50k-doc corpus exceeds any
        # linear-safe constant and the capped query returns the empty
        # set — while the mean scales with n, so this rule stays
        # binding-but-not-total at every corpus size. The predicate
        # stays in INTEGER arithmetic (cnt * n_buckets > factor *
        # band_total) on purpose: a quantile formulation would hang the
        # answer on cross-engine interpolation semantics (the
        # winsorized_values sf1 lesson, SCALING.md), whereas integer
        # products compare exactly in both engines. Same hot-set
        # broadcast anti-join shape as the absolute cap; the hot set is
        # bounded by the band-value space, not the corpus.
        if rel_bucket_factor < 1:
            raise ValueError(
                f"rel_bucket_factor must be >= 1, got {rel_bucket_factor}"
            )
        banded = _persist_registered(banded)
        sizes = banded.groupBy("band", "bits").agg(
            F.count(F.lit(1)).alias("__n")
        )
        stats = sizes.groupBy("band").agg(
            F.sum("__n").alias("__tot"), F.count(F.lit(1)).alias("__nb")
        )
        rel_hot = (
            sizes.join(stats, "band")
            .filter(
                F.col("__n") * F.col("__nb")
                > F.lit(rel_bucket_factor) * F.col("__tot")
            )
            .select("band", "bits")
        )
        banded = banded.join(
            F.broadcast(rel_hot), ["band", "bits"], "left_anti"
        )
    # both self-join sides re-run the per-row simhash fold (the
    # operator's dominant cost) without the cache — 8 compact rows/doc
    banded = _persist_registered(banded)
    return (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bits"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sk").bitwiseXOR(F.col("b.sk"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    pairs: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Canonical-document assignment: connected components over the
    near-dup pair graph by iterative min-label propagation. Every doc gets
    ``component`` = the smallest doc id reachable through near-dup edges
    (itself when un-paired); keep ``component == doc_id`` rows to dedup.

    Each round does (a) a neighbor-min hop across the edges and (b) one
    pointer-jump (``label <- label[label]``), so convergence is
    O(log(diameter)) rounds instead of O(diameter) — chain-shaped clusters
    (the LSH worst case) collapse in a handful of rounds; the SEED itself
    performs the first hop (label = min(vid, min neighbor)) inside the
    endpoint-enumerating groupBy, so the loop starts one step ahead at no
    extra shuffle. Convergence is detected by the label SUM, which
    strictly decreases while any label can still shrink — collected as an
    ``observe()`` metric on each round's OWN checkpoint job (CollectMetrics
    evaluates during the materialization), so detection costs zero extra
    jobs and no comparison join. The sum runs in decimal(38,0): a bigint sum over ~10^11
    64-bit doc ids can exceed 2^63 (ANSI overflow error, or a silent
    wrap that could mask a change with ANSI off) — decimal headroom
    (10^38) makes the check safe at any realistic row count. Each round ends in an eager ``localCheckpoint``: caching alone
    is NOT enough for iterative self-joins — persist caches data but
    Catalyst still re-analyzes the whole accumulated lineage every round,
    and the double-referenced hop subtree doubles the tree per iteration
    (exponential analysis cost). Checkpointing truncates the plan to a
    leaf, keeping every round O(1) to analyze. On a cluster prefer
    ``checkpoint`` with a reliable dir (localCheckpoint dies with an
    executor); the loop structure is identical.

    ``pairs``: (id_a, id_b) undirected candidate edges; ``vertices``: the
    full doc table (un-paired docs must still appear in the output).

    Only PAIRED vertices iterate: an un-paired doc is its own component
    by definition, so the label relation the loop carries is bounded by
    2·|pairs| ids, not the corpus — at 100 TB with a ~1% near-dup rate
    that is a ~50× smaller per-round state/shuffle, and the singletons
    join back in one anti-join at the end.
    """
    # round-16 (guide §1.2-1 "don't compute things twice"): the edge set
    # used to be pairs.union(pairs-swapped) — a Union whose two branches
    # each embed the WHOLE upstream pair subtree, and Catalyst plans the
    # subtree per branch. Exchange reuse dedups the shuffles but NOT the
    # map-side work above them: the event-log profile showed the Arrow
    # pair-cogroup (FlatMapCoGroupsInPandas) executing twice inside the
    # seed stage (2×32 tasks in one UnionRDD). One explode pass emits
    # both directions from a single traversal — the identical directed
    # edge SET (same distinct), with the pair kernel run exactly once.
    # job descriptions label each materialization for the Spark UI and
    # the per-phase profiler (tools/profiler.py); the first one also
    # executes the upstream pair subtree (block cosine + edge build).
    # phase() restores the caller's own label on exit, so its later
    # jobs keep it.
    spark = pairs.sparkSession
    # the seed ABSORBS round 0's neighbor-min hop: instead of seeding
    # label = vid (one distinct shuffle) and spending a full loop round
    # on the first hop, seed label = min(vid, min neighbor) in the same
    # groupBy that enumerates the endpoints — every endpoint appears as
    # `src` in the undirected edge set, so the grouping covers exactly
    # the paired-vertex set the old distinct did, at the same shuffle
    # cost, one propagation step ahead (round-13 CC-overhead cut: the
    # r11 profile charged 38% of semantic-dedup task time to the loop)
    #
    # round-16: every materialization in this function — seed and loop
    # rounds — runs under bytes-proportional AQE coalescing
    # (bytes_sized_shuffles): the label relation is kB-scale here and
    # its hop/jump reduce work is trivial per row, so the fixed
    # 32-partition floor was pure per-task overhead (~38 % of dedup
    # task time); the one compute-dense stage inside the seed job (the
    # block-cosine pair kernel) sits behind REPARTITION_BY_NUM
    # exchanges, which AQE never coalesces
    with (
        phase(spark, "cc: seed labels (runs pair subtree)"),
        bytes_sized_shuffles(spark),
    ):
        # the persist happens INSIDE the scope: the cached-plan AQE flag
        # (canChangeCachedPlanOutputPartitioning) is consulted when the
        # cache ENTRY is created, so the edge cache stores at its
        # bytes-proportional width instead of the static partition count
        edges = (
            pairs.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("id_a").alias("src"),
                            F.col("id_b").alias("dst"),
                        ),
                        F.struct(
                            F.col("id_b").alias("src"),
                            F.col("id_a").alias("dst"),
                        ),
                    )
                ).alias("__e")
            )
            .select(
                F.col("__e.src").alias("src"), F.col("__e.dst").alias("dst")
            )
            .distinct()
            .persist()
        )
        seed_obs = Observation()
        labels = (
            edges.groupBy(F.col("src").alias("vid"))
            .agg(F.least(F.col("vid"), F.min("dst")).alias("label"))
            .observe(
                seed_obs,
                F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
            )
            .localCheckpoint()
        )
        # convergence sums ride each materialization's OWN job as
        # observe() metrics (CollectMetrics evaluates during the
        # checkpoint action), so the per-round standalone aggregate job
        # — and its scheduler round-trip — is gone entirely
        prev_sum = seed_obs.get["s"]
        try:
            for _round in range(max_iter):
                # round-17 (guide §2.4 "remove shuffles outright"): the
                # hop used to be TWO joins — edges⋈labels then a left
                # join back onto labels to fold in each vertex's own
                # label — and each join is its own AQE query stage +
                # broadcast-build job in the driver-sequential loop. One
                # union + min-groupBy computes the identical hop (the
                # self row replays least(label, ...); a vertex with no
                # surviving neighbor entry keeps its label because the
                # self row is always present), at one join fewer per
                # round: measured 10 -> 8 driver jobs per CC round.
                neighbor_rows = edges.join(
                    labels.select(
                        F.col("vid").alias("dst"), F.col("label").alias("nlabel")
                    ),
                    "dst",
                ).select(F.col("src").alias("vid"), F.col("nlabel").alias("label"))
                # NOT checkpointed: the jump references this twice, but the
                # subtree hangs off the round's checkpointed `labels` leaf, so
                # doubling it is two cheap re-scans — one materialization per
                # round instead of two (measured 29s -> ~17s at sf0.1)
                hopped = (
                    labels.unionByName(neighbor_rows)
                    .groupBy("vid")
                    .agg(F.min("label").alias("label"))
                )
                # pointer jump: adopt the label of one's label — squares the
                # propagation distance per round
                round_obs = Observation()
                with phase(spark, f"cc: round {_round} hop+jump"):
                    updated = (
                        hopped.alias("h")
                        .join(
                            hopped.select(
                                F.col("vid").alias("label"), F.col("label").alias("ll")
                            ).alias("l2"),
                            "label",
                            "left",
                        )
                        .select(
                            "vid",
                            F.least(
                                F.col("label"), F.coalesce(F.col("ll"), F.col("label"))
                            ).alias("label"),
                        )
                        .observe(
                            round_obs,
                            F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
                        )
                        .localCheckpoint()
                    )
                cur_sum = round_obs.get["s"]
                labels = updated
                if cur_sum == prev_sum:
                    break
                prev_sum = cur_sum
            # labels were seeded from edge ENDPOINTS, so restrict back to the
            # vertex table before emitting — an id that appears only in
            # `pairs` must not leak into the output (the contract is "one row
            # per vertex"); a stray endpoint can still have served as another
            # vertex's min-label, which is fine: labels name components, they
            # need not be member ids of the emitted set
            paired = labels.select(
                F.col("vid").alias(id_col), F.col("label").alias("component")
            ).join(vertices.select(id_col), id_col, "left_semi")
            singletons = vertices.select(F.col(id_col)).join(
                paired.select(id_col), id_col, "left_anti"
            ).select(id_col, F.col(id_col).alias("component"))
            return paired.unionByName(singletons)
        finally:
            edges.unpersist()


def auto_n_clusters(
    n_vectors: int, target_block_size: int = 512, min_k: int = 2
) -> int:
    """Corpus-sized blocker width: k = ceil(n / target_block_size),
    floored at ``min_k`` so tiny corpora still exercise blocking.

    Why this must scale with the corpus: the per-block self-join costs
    Σ block² ≈ n²/k pair evaluations — at FIXED k that term is
    quadratic in n (measured: the pinned k=4 blocker ran 11.7×/18.9×
    wall for 10× data at sf1, experiments/SEMDEDUP_KNOB_r11.json shows
    k=4→16 alone cut sf1 wall 82→19 s). Holding the BLOCK size
    constant instead makes pair generation n·target_block_size — linear
    in the corpus — while the Lloyd fit grows n·k·dims, also ~linear
    at fixed target. target 512 keeps blocks inside the 500-2000
    sweet band: small enough that a block self-join is a few hundred
    thousand cosine folds per task, large enough that true near-dup
    pairs rarely straddle a centroid boundary."""
    return max(min_k, -(-n_vectors // target_block_size))


def semantic_dedup(
    documents: DataFrame,
    vectors: DataFrame,
    threshold: float = 0.30,
    n_clusters: int | str = 4,
    kmeans_iter: int = 3,
    target_block_size: int = 512,
    doc_id_col: str = "doc_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 20,
    carry_cols: tuple[str, ...] = ("source",),
    centroids: DataFrame | None = None,
) -> DataFrame:
    """The end-to-end semantic-dedup pipeline a 100 TB corpus actually
    runs, composed from the proven pieces: train a coarse quantizer
    (deterministic Lloyd k-means) -> block the corpus by cluster ->
    per-block salted self-join for near-dup pairs (cosine >= threshold)
    -> connected components over the pair graph (pointer-jumping min
    label) -> keep ONE canonical doc per component (the min id).

    Output: one row per KEPT document — (doc_id, n_members,
    *carry_cols), where ``n_members`` is the size of the duplicate set
    the canonical doc represents (1 = no near-dups) and ``carry_cols``
    names the document columns to carry through (they must exist on
    ``documents``; a doc with no embedding row is dropped by the inner
    join — the corpus contract is one vector per doc).

    Scale shape: candidate generation never leaves a cluster block (no
    all-pairs — the block self-join is the only place two corpus rows
    meet), components converge in O(log diameter) bounded-plan rounds,
    and the keep-one is a filter + two equi joins. Every stage is
    individually oracle-gated elsewhere; the composed oracle replays
    quantize -> block -> pair -> closure -> keep-one in one recursive
    CTE.

    ``n_clusters="auto"`` sizes the blocker to the corpus
    (see ``auto_n_clusters``): blocks stay ~``target_block_size``
    vectors as data grows, keeping pair generation linear instead of
    the fixed-k quadratic. k changes the answer, so callers opt in."""
    from timeseries_spark.extensions.kmeans import (
        assign_to_centroids,
        kmeans_assign,
    )
    from timeseries_spark.extensions.similarity import embedding_near_dup

    if centroids is not None:
        # staged-quantizer path: the blocker consumes a pre-trained
        # (cid, c) centroid table — assignment is a broadcast argmin
        # projection, and the plan has no Lloyd subtree (the fit ran
        # once, offline; see extensions/staging.py). The assignment is
        # materialized ONCE (eager checkpoint): both sides of the
        # block self-join and the component seed consume it, and
        # re-deriving the argmin per branch was measurably slower than
        # the in-plan path it replaces (kmeans_assign checkpoints its
        # assignments as a side effect of the Lloyd loop).
        with phase(vectors.sparkSession, "semantic: staged-centroid assign"):
            clusters = assign_to_centroids(
                vectors, centroids, id_col=id_col, vec_col=vec_col
            ).localCheckpoint(eager=True)
    else:
        if n_clusters == "auto":
            # corpus-sized blocker: one count() action (a distributed
            # aggregate, the only driver materialization this adds)
            # sizes k so BLOCKS stay ~target_block_size as the corpus
            # grows — pair generation then costs n·target (linear)
            # instead of the fixed-k n²/k (quadratic). NOTE k is
            # semantics-affecting (different k ⇒ different blocks ⇒
            # different candidate pairs ⇒ different kept set), so
            # auto-k is opt-in and oracle-gated by its own query
            # (semantic_dedup_scaled), never a silent default change.
            n_clusters = auto_n_clusters(
                vectors.count(), target_block_size=target_block_size
            )
        clusters = kmeans_assign(
            vectors,
            k=n_clusters,
            max_iter=kmeans_iter,
            id_col=id_col,
            vec_col=vec_col,
        )
    blocked = vectors.join(clusters.select(id_col, "cluster"), id_col)
    pairs = embedding_near_dup(
        blocked,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        block_col="cluster",
    )
    comps = connected_components(
        pairs, vectors, id_col=id_col, max_iter=max_iter
    )
    sizes = comps.groupBy("component").agg(
        F.count("*").cast("bigint").alias("n_members")
    )
    canonical = comps.filter(F.col(id_col) == F.col("component"))
    return (
        canonical.join(sizes, "component")
        .select(F.col(id_col).alias(doc_id_col), "n_members")
        .join(documents.select(doc_id_col, *carry_cols), doc_id_col)
        .select(doc_id_col, "n_members", *carry_cols)
    )


def contamination_hits(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str = "text",
) -> DataFrame:
    """Per-train-doc count of DISTINCT word n-grams shared with the eval
    set — the decontamination signal: a train doc overlapping an eval
    benchmark leaks test answers into the training corpus.

    Plan shape for the realistic size asymmetry (train = the 100 TB
    corpus, eval = a few benchmark suites): the eval side collapses to
    its distinct shingle set and BROADCASTS into the train-side shingle
    stream, so the corpus is touched once with a map-side hash join —
    no shuffle of the corpus at all; the only exchange is the per-doc
    hit-count groupBy, whose input is already filtered to matching
    shingles (tiny). Output: (id, n_eval_hits > 0 docs only)."""
    # parallelism guards on BOTH explode sides: the shingle expansion is
    # per-row compute over possibly byte-small scans (round-7 event-log
    # finding — the train-side explode of a single-split parquet ran its
    # whole 1.6 s on one task inside corpus_prepare)
    ev = ensure_parallelism(eval_df).select(
        F.explode(
            F.array_distinct(shingles(tokens(F.col(eval_text_col)), n))
        ).alias("sh")
    ).distinct()
    tr = ensure_parallelism(train).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(shingles(tokens(F.col(text_col)), n))
        ).alias("sh"),
    )
    return (
        tr.join(F.broadcast(ev), "sh")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_eval_hits"))
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 3,
    min_hits: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str = "text",
) -> DataFrame:
    """Remove train docs sharing >= ``min_hits`` distinct word n-grams
    with the eval set (the standard n-gram decontamination rule; exact
    eval copies inside train share ALL their shingles and always go).
    Keeps every train column and adds ``n_eval_hits`` (0 for docs with
    no overlap). The hit table is bounded by the contaminated-doc count,
    so it broadcasts back into the corpus — one corpus scan end to
    end."""
    if min_hits < 1:
        raise ValueError(f"min_hits must be >= 1, got {min_hits}")
    hits = contamination_hits(
        train, eval_df, n, text_col, id_col, eval_text_col
    ).withColumnRenamed("id", id_col)
    return (
        train.join(F.broadcast(hits), id_col, "left")
        .withColumn("n_eval_hits", F.coalesce("n_eval_hits", F.lit(0)))
        .filter(F.col("n_eval_hits") < min_hits)
    )


def incremental_dedup(
    new_df: DataFrame,
    existing_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """New-shard dedup against an EXISTING corpus — the ingestion-time
    shape: every crawl/delivery is deduplicated against what the corpus
    already holds, not just within itself. A new doc is dropped when

    - its content digest matches any existing doc (exact tier), or
    - any of its MinHash signature bands matches an existing doc's band
      (near tier — same banding recall contract as lsh_candidates), or
    - it is shingle-less (sentinel) and the existing corpus already has
      a sentinel doc (empty matches empty by definition).

    Plan shape at 100 TB: the existing side reduces to digests and band
    digests — both FAR smaller than the corpus text — and both checks
    are anti/semi joins on those keys, so the new shard (typically <<
    the corpus) is scanned once and never all-pairs-compared. The
    sentinel check is a 1-row broadcast. Output: the surviving new rows
    (all columns)."""
    new_digests = new_df.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("__digest")
    )
    existing_digests = existing_df.select(
        F.md5(F.col(text_col)).alias("__digest")
    ).distinct()
    exact_survivor_ids = new_digests.join(
        existing_digests, "__digest", "left_anti"
    ).select("id")

    sig_new, sent_new = _minhash_parts(
        new_df, text_col, id_col, n, num_hashes, max_doc_freq
    )
    sig_old, sent_old = _minhash_parts(
        existing_df, text_col, id_col, n, num_hashes, max_doc_freq
    )
    rows = num_hashes // bands
    near_hit_ids = (
        _band_digests(sig_new, bands, rows)
        .join(_band_digests(sig_old, bands, rows), ["band", "digest"],
              "left_semi")
        .select("id")
        .distinct()
    )
    # sentinel new docs drop iff the existing corpus has >= 1 sentinel
    sent_hit_ids = (
        sent_new.crossJoin(
            F.broadcast(sent_old.agg(F.count("*").alias("__ns")))
        )
        .filter(F.col("__ns") > 0)
        .select("id")
    )
    keep = (
        exact_survivor_ids.join(near_hit_ids, "id", "left_anti")
        .join(sent_hit_ids, "id", "left_anti")
        .withColumnRenamed("id", id_col)
    )
    return new_df.join(keep, id_col, "left_semi")


def incremental_semantic_dedup(
    new_docs: DataFrame,
    new_vecs: DataFrame,
    corpus_vecs: DataFrame,
    threshold: float = 0.30,
    n_clusters: int | str = 4,
    kmeans_iter: int = 3,
    target_block_size: int = 512,
    centroids: DataFrame | None = None,
    doc_id_col: str = "doc_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: tuple[str, ...] = ("source",),
    salt: int = 4,
) -> DataFrame:
    """Ingestion-time SEMANTIC dedup — the embedding-space twin of
    ``incremental_dedup``: a new shard is deduplicated against the
    EXISTING corpus, dropping every new doc whose cosine against ANY
    corpus vector in its coarse-quantizer block reaches ``threshold``.
    Shard-internal near-dups both survive, exactly as in the n-gram
    incremental path (within-shard dedup is ``semantic_dedup``'s job on
    the merged corpus, or the next shard's ingestion pass).

    Blocking contract: the corpus's quantizer decides the blocks. When
    ``centroids`` is given (the staged-artifact production path) both
    sides quantize by the same zero-shuffle broadcast argmin
    (``assign_to_centroids``); otherwise a deterministic Lloyd fit runs
    on the CORPUS only (never the shard — a shard must not move the
    blocks it is judged against) and the shard assigns against the
    fitted centroids. ``n_clusters="auto"`` sizes k from the CORPUS
    row count (see ``auto_n_clusters``).

    Plan shape at 100 TB: centroids are k rows (broadcast); the
    shard-vs-corpus candidate join is a salted equi join on
    (cluster, salt) — shard rows carry one deterministic salt, corpus
    block rows replicate per salt — so each shard row meets only its
    own block, pair cost is |shard| x block_size cosine folds (norms
    precomputed per side, one dot fold per pair), and parallelism is
    blocks x salt tasks regardless of block skew. The corpus is
    scanned once and never self-joined. Output: the surviving new
    docs as (doc_id, *carry_cols); a new doc with no embedding row is
    dropped by the inner contract (one vector per doc), matching
    ``semantic_dedup``."""
    from timeseries_spark.extensions.kmeans import (
        assign_to_centroids,
        kmeans_fit,
    )
    from timeseries_spark.functions.vectors import cosine_from_norms, l2_norm

    if salt < 1:
        raise ValueError(f"salt must be >= 1, got {salt}")
    as_d = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    n_parts = new_vecs.sparkSession.sparkContext.defaultParallelism

    if centroids is None:
        if n_clusters == "auto":
            n_clusters = auto_n_clusters(
                corpus_vecs.count(), target_block_size=target_block_size
            )
        # Lloyd on the corpus only; the fit's own final assignment IS
        # the corpus blocking (no second argmin pass over the corpus)
        corpus_assigned, centroids = kmeans_fit(
            corpus_vecs,
            k=n_clusters,
            max_iter=kmeans_iter,
            id_col=id_col,
            vec_col=vec_col,
        )
        corpus_blocked = corpus_assigned.select("cluster", "v")
    else:
        ca = assign_to_centroids(
            corpus_vecs, centroids, id_col=id_col, vec_col=vec_col
        )
        corpus_blocked = (
            corpus_vecs.select(
                F.col(id_col).alias("vid"), as_d(F.col(vec_col)).alias("v")
            )
            .join(ca.select(F.col(id_col).alias("vid"), "cluster"), "vid")
            .select("cluster", "v")
        )
    rhs = (
        corpus_blocked.select(
            "cluster",
            F.col("v").alias("cv"),
            l2_norm(F.col("v")).alias("ncv"),
        )
        .withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        .repartition(n_parts, "cluster", "__salt")
    )
    sh_assign = assign_to_centroids(
        new_vecs, centroids, id_col=id_col, vec_col=vec_col
    )
    lhs = (
        new_vecs.select(
            F.col(id_col).alias("vid"), as_d(F.col(vec_col)).alias("sv")
        )
        .join(sh_assign.select(F.col(id_col).alias("vid"), "cluster"), "vid")
        .select(
            "vid",
            "cluster",
            "sv",
            l2_norm(F.col("sv")).alias("nsv"),
            F.pmod(F.hash(F.col("vid")), F.lit(salt)).alias("__salt"),
        )
        .repartition(n_parts, "cluster", "__salt")
    )
    hit_ids = (
        lhs.join(rhs, ["cluster", "__salt"])
        .filter(
            F.round(
                cosine_from_norms(
                    F.col("sv"), F.col("cv"), F.col("nsv"), F.col("ncv")
                ),
                6,
            )
            >= threshold
        )
        .select("vid")
        .distinct()
    )
    survivors = (
        new_vecs.select(F.col(id_col).alias("vid"))
        .join(hit_ids, "vid", "left_anti")
        .select(F.col("vid").alias(doc_id_col))
    )
    return new_docs.join(survivors, doc_id_col).select(
        doc_id_col, *carry_cols
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup: n-gram CONTAINMENT c(A→B) = |A∩B| / |A| —
    the statistic that catches quotes, excerpts, and wrapper pages that
    symmetric Jaccard misses entirely (a 50-token quote inside a
    5000-token page has Jaccard ≈ 0.01 but containment ≈ 1.0 in the
    quote's direction; the standard formulation is Broder 1997's
    resemblance/containment pair). Keeps pairs where EITHER direction
    reaches ``threshold``; both directions are reported.

    Same inverted-index plan (and the same ``max_doc_freq`` hot-shingle
    cap) as ``jaccard_pairs`` — the only change is the denominator, so
    the scale properties carry over unchanged. Output: (id_a, id_b,
    n_common, containment_a, containment_b), ratios 6dp."""
    df = ensure_parallelism(df)
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(shingles(tokens(F.col(text_col)), n))
        ).alias("sh"),
    )
    # same multi-consumer caching as jaccard_pairs (sizes + both join
    # sides + the hot aggregate would each re-run the explode chain)
    if max_doc_freq is not None:
        sh = _persist_registered(sh)
        sh = sh.join(
            F.broadcast(hot_shingles(sh, max_doc_freq)), "sh", "left_anti"
        )
    sh = _persist_registered(sh)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "sh")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        pairs.join(
            sizes.withColumnRenamed("id", "id_a").withColumnRenamed(
                "n_sh", "sh_a"
            ),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("id", "id_b").withColumnRenamed(
                "n_sh", "sh_b"
            ),
            "id_b",
        )
        .withColumn(
            "containment_a", F.round(F.col("n_common") / F.col("sh_a"), 6)
        )
        .withColumn(
            "containment_b", F.round(F.col("n_common") / F.col("sh_b"), 6)
        )
        .filter(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
        .select("id_a", "id_b", "n_common", "containment_a", "containment_b")
    )


def semantic_decontaminate(
    train_vecs: DataFrame,
    eval_vecs: DataFrame,
    threshold: float = 0.32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space decontamination: flag every TRAIN vector whose
    cosine against ANY eval vector reaches ``threshold`` — the
    paraphrase-leakage screen that n-gram decontamination
    (``contamination_hits``) cannot catch, run before training on any
    corpus that shares a domain with its benchmarks.

    Plan shape mirrors ``brute_force_topk``, and for the same reason:
    eval suites are SMALL (thousands of rows against a 100 TB corpus),
    so the eval side broadcasts and the train side is scanned once,
    partition-parallel, with a per-row fold — no shuffle of the corpus
    at all; the only exchange is the per-train-id aggregate of the
    surviving hits. Output: (vec_id, n_eval_hits, max_cos) per FLAGGED
    train vector — the drop list plus the evidence an audit wants."""
    from timeseries_spark.functions.parallelism import ensure_parallelism
    from timeseries_spark.functions.vectors import cosine_from_norms, l2_norm

    as_d = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    # norms fold once per train row / per eval row; each (train, eval)
    # pair then pays a single dot fold (bit-identical cosine)
    hits = (
        ensure_parallelism(train_vecs)
        .select(
            F.col(id_col).alias("train_id"),
            as_d(F.col(vec_col)).alias("tv"),
            l2_norm(as_d(F.col(vec_col))).alias("ntv"),
        )
        .crossJoin(
            F.broadcast(
                eval_vecs.select(
                    F.col(id_col).alias("eval_id"),
                    as_d(F.col(vec_col)).alias("ev"),
                    l2_norm(as_d(F.col(vec_col))).alias("nev"),
                )
            )
        )
        .select(
            "train_id",
            "eval_id",
            F.round(
                cosine_from_norms(
                    F.col("tv"), F.col("ev"), F.col("ntv"), F.col("nev")
                ),
                6,
            ).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )
    return hits.groupBy(F.col("train_id").alias(id_col)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval_hits"),
        F.max("cos").alias("max_cos"),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm, public): hash every token ``k``-gram,
    slide a ``window`` over consecutive hashes, keep each window's
    minimum (ties to the RIGHTMOST occurrence via a <=-fold), distinct
    the selections. Guarantees: any shared substring of at least
    k + window − 1 tokens yields at least one shared fingerprint, and
    the density of selected hashes is ~2/(window+1) — the principled
    sparsification that plain modulo-sampling of shingles lacks.
    Returns (id, fp) rows.

    The whole selection is ONE codegen'd expression per row (gram
    build, md5-fold hashing, window minima, distinct) — no explode
    until the final fingerprint rows, so the corpus is scanned once
    and the shuffle carries only the ~2n/(window+1) selected hashes.
    Docs shorter than ``k`` tokens emit nothing; docs with fewer than
    ``window`` hashes emit the minimum of what exists (the standard
    short-doc convention)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    toks = F.split(F.col(text_col), " ")
    n_grams = F.size(toks) - (k - 1)
    grams = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    hs = F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast(
            "bigint"
        ),
    )
    # short-doc guard BEFORE building grams: F.sequence(1, 0) infers
    # step -1 and yields [1, 0], so an unguarded n_grams <= 0 would
    # build grams at invalid slice starts instead of none
    hs = F.when(F.size(toks) >= k, hs).otherwise(
        F.expr("cast(array() as array<bigint>)")
    )
    from timeseries_spark.functions.parallelism import ensure_parallelism

    # compute-vs-bytes: the per-row selection (one md5 per k-gram plus
    # the window folds) is heavy while the corpus bytes are small — a
    # single parquet split would run the whole corpus on ONE core
    # (event-log finding, round 8)
    with_h = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), hs.alias("hs")
    ).where(F.size("hs") >= 1)
    n_h = F.size("hs")
    wins = F.transform(
        F.sequence(F.lit(1), F.greatest(F.lit(1), n_h - (window - 1))),
        lambda i: F.aggregate(
            F.slice("hs", i, window),
            F.element_at(F.slice("hs", i, window), 1),
            lambda acc, c: F.when(c <= acc, c).otherwise(acc),
        ),
    )
    return with_h.select(
        "id", F.explode(F.array_distinct(wins)).alias("fp")
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_doc_freq: int = 100,
) -> DataFrame:
    """Candidate near-dup pairs by shared winnowed fingerprints:
    (doc_a < doc_b, n_shared) for pairs sharing at least ``min_shared``
    selections. Fingerprints appearing in more than ``max_doc_freq``
    docs are dropped before pairing (the same hot-key cap as the
    Jaccard shingle index — a boilerplate fingerprint shared by half
    the corpus would otherwise explode the inverted-index join
    quadratically). One fingerprint-keyed equi self-join, never
    all-pairs."""
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    if max_doc_freq < 2:
        raise ValueError(f"max_doc_freq must be >= 2, got {max_doc_freq}")
    # materialized ONCE: both the df-cap count and the live join consume
    # the fingerprint relation, and Catalyst gives each consumer its own
    # copy of the md5/window-fold subtree — the full selection pass ran
    # TWICE on one task each before this (event-log finding, round 8;
    # same shape as the covariance_pairs double-pass)
    fps = winnow_fingerprints(df, id_col, text_col, k, window).localCheckpoint(
        eager=True
    )
    capped = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df_"))
        .where(F.col("df_") <= max_doc_freq)
        .select("fp")
    )
    live = fps.join(capped, "fp")
    a = live.select("fp", F.col("id").alias("doc_a"))
    b = live.select("fp", F.col("id").alias("doc_b"))
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
