"""Similarity search over embedding columns (``array<float>``).

Two tiers (BASELINE.json extension surface):

- brute-force cosine top-k — the exact baseline: broadcast the query set,
  score every (query, candidate) with a JVM-side double fold, window top-k.
  At 100 TB the candidate side stays partition-parallel and nothing
  shuffles except the final per-query top-k (tiny).
- IVF-style partitioned search — the scale path: a coarse quantizer maps
  every vector to a cluster; queries search only their cluster's vectors.
  Here the quantizer is the dataset's ``label`` column with a deterministic
  per-cluster representative (the min-id member), which keeps the whole
  operator reproducible across engines; swap the representative for a
  k-means centroid table in production.

All scores are computed in double precision with a left-fold (array-order)
summation, which makes them bit-identical across engines — the DuckDB
oracles reproduce them exactly, not approximately.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseries_spark.functions.parallelism import ensure_parallelism
from timeseries_spark.functions.sqlexpr import lit_double
from timeseries_spark.functions.vectors import (
    cosine_from_norms,
    cosine_similarity,
    l2_norm,
)


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    num_salts: int = 32,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (self-matches excluded).

    Output: (query_id, neighbor_id, cos_sim, rank); ties broken by
    neighbor id so ranking is total and deterministic.

    Two-phase top-k: a per-(query, salt-of-neighbor) LOCAL top-k first,
    then the global top-k over at most ``num_salts * k`` survivors per
    query. A single ``Window.partitionBy(query_id)`` would put the ENTIRE
    scored corpus for one query into one task — with few queries over a
    100 TB corpus that is a handful of giant single-task sorts. The salt
    phase keeps every window partition at roughly |corpus|/num_salts rows
    in expectation (hash salting is an expected-case split, not a hard
    bound) and the final phase at ``num_salts * k`` rows, with no recall
    loss: each
    neighbor lives in exactly one salt bucket, so every global top-k row
    survives its bucket's local top-k."""
    if num_salts < 1:
        # pmod(hash, 0) is NULL — all neighbors would silently collapse
        # into one null salt bucket, reviving the single-task sort
        raise ValueError(f"num_salts must be >= 1, got {num_salts}")
    vectors = ensure_parallelism(vectors)
    # norms folded once per corpus row / per query row (the projection
    # sits below the crossJoin), so the per-PAIR score is one dot fold
    scored = (
        vectors.select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("v"),
            l2_norm(_as_double(F.col(vec_col))).alias("nv"),
        )
        .crossJoin(
            F.broadcast(
                queries.select(
                    F.col(query_id_col).alias("query_id"),
                    _as_double(F.col(query_vec_col)).alias("q"),
                    l2_norm(_as_double(F.col(query_vec_col))).alias("nq"),
                )
            )
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_from_norms(
                    F.col("q"), F.col("v"), F.col("nq"), F.col("nv")
                ),
                6,
            ).alias("cos_sim"),
            F.pmod(F.hash(F.col("neighbor_id")), F.lit(num_salts)).alias("__salt"),
        )
    )
    w_local = Window.partitionBy("query_id", "__salt").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    survivors = (
        scored.withColumn("__lr", F.row_number().over(w_local))
        .filter(F.col("__lr") <= k)
        .drop("__lr", "__salt")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def embedding_near_dup(
    vectors: DataFrame,
    threshold: float = 0.30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    salt: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >=
    threshold), blocked by a coarse cluster key.

    The block key turns the O(n²) all-pairs problem into a per-block
    self-join: both sides shuffle once on ``block_col`` and candidate
    generation never leaves the block. At 100 TB the block key comes from a
    coarse quantizer (k-means / LSH hyperplane bucket) so block sizes stay
    bounded; here it is the dataset's ``label`` column, which keeps the
    pipeline deterministic and oracle-checkable. Recall is bounded by the
    blocker exactly as in MinHash-LSH banding.

    ``salt`` splits each block's left side into deterministic sub-salts
    (hash of the id) and replicates the right side per salt: parallelism
    becomes blocks × salt tasks instead of one task per block, without
    changing the pair set (each (a,b) meets exactly once, under a's
    salt)."""
    if salt < 1:
        raise ValueError(f"salt must be >= 1, got {salt}")
    # no ensure_parallelism here: the keyed repartitions below already
    # redistribute both sides across the cluster before the expensive
    # cosine stage, so a round-robin pre-shuffle would just move the
    # full vector payload one extra time (measured ~1 s at sf0.1)
    n_parts = vectors.sparkSession.sparkContext.defaultParallelism
    dtypes = dict(vectors.dtypes)
    blk_t, id_t = dtypes[block_col], dtypes[id_col]
    # round-16 session 2 (guide §2.3 narrower types): the vectors cross
    # BOTH keyed repartition exchanges in their SOURCE element type —
    # the old _as_double() projection above the exchanges shipped 8-byte
    # doubles for 4-byte float embeddings AND paid an interpreted
    # per-element transform() cast before the shuffle. The widening now
    # happens inside the NumPy kernel (astype float64 — float→double is
    # exact, so every downstream double is bit-identical): half the
    # vector shuffle bytes, zero interpreted cast work.
    lhs = vectors.select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        F.pmod(F.hash(F.col(id_col)), F.lit(salt)).alias("__salt"),
    ).repartition(n_parts, "block", "__salt")
    rhs = (
        vectors.select(
            F.col(block_col).alias("block"),
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
        )
        .withColumn("__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
        .repartition(n_parts, "block", "__salt")
    )
    # The explicit keyed repartitions are load-bearing, not decoration:
    # they satisfy the cogroup's distribution requirement (no extra
    # exchange) AND, being user-numbered shuffles, are exempt from
    # AQE's byte-based partition coalescing. Without them the
    # ENSURE_REQUIREMENTS exchange carries only a few MB here, AQE
    # coalesces the pair stage to 1-2 tasks, and the cosine kernel —
    # the actual cost, per-ROW compute the byte heuristic cannot see —
    # serializes onto one core (measured 5x slower at sf0.1; the same
    # bytes-vs-compute mismatch ensure_parallelism documents for scans).
    #
    # Round-16 kernel swap (guide §4.2): the per-pair cosine moves from
    # an interpreted JVM higher-order fold to a NumPy kernel behind ONE
    # Arrow cogroup per (block, salt) — the r16 profile charged the
    # block-pair fold 42 of semantic_dedup_staged's 72 task-seconds,
    # and the r16 microbench (tools/r16_kernel_micro.py) showed no
    # JVM-side expression form beats the fold. The pair set and every
    # cos_sim are IDENTICAL by construction, not by tolerance:
    #   - the kernel accumulates dot and norms ACROSS the pair axis but
    #     sequentially over dims (acc = acc + va[:,d]*vb[:,d]), the
    #     exact op order of the JVM aggregate()/l2_norm fold, in
    #     float64 — bit-identical doubles;
    #   - the 6dp rounding and the threshold filter stay in the JVM
    #     (F.round half-up), applied to the bit-identical raw cosine;
    #     the kernel pre-filters at (threshold - 1e-6), a margin wider
    #     than any 6dp rounding shift, so no qualifying pair is lost;
    #   - the (a,b)-meets-once-under-a's-salt structure is unchanged —
    #     the cogroup enumerates exactly the old join's meeting sets.
    # Scale shape unchanged: one vector shuffle per side (rhs ×salt),
    # candidate pairs never materialize as JVM rows (the kernel emits
    # only survivors), per-task memory is bounded by block size × the
    # 512-row lhs chunk.
    thr_margin = threshold - 1e-6

    def _pair_kernel(left, right):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {"block": [], "id_a": [], "id_b": [], "cos_raw": []}
        )
        if len(left) == 0 or len(right) == 0:
            return empty
        # float -> double is exact: the widened values are bit-identical
        # to the pre-shuffle transform() cast this replaces
        va = np.stack(left["__v"].to_numpy()).astype(np.float64, copy=False)
        vb = np.stack(right["__v"].to_numpy()).astype(np.float64, copy=False)
        ia = left["__id"].to_numpy()
        ib = right["__id"].to_numpy()
        d = va.shape[1]
        na = np.zeros(len(va))
        nb = np.zeros(len(vb))
        for k in range(d):
            na = na + va[:, k] * va[:, k]
            nb = nb + vb[:, k] * vb[:, k]
        na = np.sqrt(na)
        nb = np.sqrt(nb)
        blk = left["block"].iloc[0]
        out = []
        CH = 512
        for s in range(0, len(va), CH):
            e = min(s + CH, len(va))
            acc = np.zeros((e - s, len(vb)))
            for k in range(d):
                acc = acc + va[s:e, k][:, None] * vb[:, k][None, :]
            denom = na[s:e][:, None] * nb[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = acc / denom
            keep = (
                (denom > 0)
                & (cos >= thr_margin)
                & (ia[s:e, None] < ib[None, :])
            )
            i_idx, j_idx = np.nonzero(keep)
            if len(i_idx):
                out.append(
                    pd.DataFrame(
                        {
                            "block": np.repeat(blk, len(i_idx)),
                            "id_a": ia[s + i_idx],
                            "id_b": ib[j_idx],
                            "cos_raw": cos[i_idx, j_idx],
                        }
                    )
                )
        return pd.concat(out, ignore_index=True) if out else empty

    raw = (
        lhs.groupBy("block", "__salt")
        .cogroup(rhs.groupBy("block", "__salt"))
        .applyInPandas(
            _pair_kernel,
            schema=f"block {blk_t}, id_a {id_t}, id_b {id_t}, cos_raw double",
        )
    )
    return (
        raw.select(
            "block",
            "id_a",
            "id_b",
            F.round(F.col("cos_raw"), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    cluster_col: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    nprobe: int = 1,
) -> DataFrame:
    """IVF search: route each query to its ``nprobe`` nearest cluster
    representatives, then brute-force only inside those clusters —
    ``nprobe`` is the recall/cost knob (probe cost scales linearly,
    recall approaches brute-force).

    ``vectors`` already carries its inverted-file label in
    ``cluster_col``: the probe never trains. The label comes from the
    trained quantizer — a k-means fit inside the build
    (extensions/kmeans.py), or ``assign_to_centroids`` against a staged
    centroid table (extensions/staging.py), which reproduces the same
    assignment — or from a natural partitioning of the corpus. A caller sweeping
    ``nprobe`` fits once and probes many times.

    The representative table is tiny (one row per cluster) and broadcast
    twice (routing + probe); the big vector table is touched once with a
    cluster-key equi join — this is the plan shape that survives a 1000×
    corpus: no all-pairs, no global shuffle of the vectors."""
    reps = (
        vectors.groupBy(cluster_col)
        .agg(F.min(id_col).alias("rep_id"))
        .join(
            vectors.select(F.col(id_col).alias("rep_id"), F.col(vec_col).alias("rep_vec")),
            "rep_id",
        )
        .select(cluster_col, _as_double(F.col("rep_vec")).alias("rep_vec"))
    )
    routed = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            _as_double(F.col(query_vec_col)).alias("q"),
            l2_norm(_as_double(F.col(query_vec_col))).alias("nq"),
        )
        .crossJoin(F.broadcast(reps))
        .withColumn(
            "rep_sim", F.round(cosine_similarity(F.col("q"), F.col("rep_vec")), 6)
        )
    )
    w_route = Window.partitionBy("query_id").orderBy(
        F.col("rep_sim").desc(), F.col(cluster_col)
    )
    probe = (
        routed.withColumn("rr", F.row_number().over(w_route))
        .filter(F.col("rr") <= nprobe)
        .select("query_id", "q", "nq", cluster_col)
    )
    # corpus-side norms fold once per probed row, query norms once per
    # query: the probe-join score is a single dot fold per pair
    scored = (
        vectors.select(
            F.col(cluster_col),
            F.col(id_col).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("v"),
            l2_norm(_as_double(F.col(vec_col))).alias("nv"),
        )
        .join(F.broadcast(probe), cluster_col)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col(cluster_col).alias("cluster"),
            "neighbor_id",
            F.round(
                cosine_from_norms(
                    F.col("q"), F.col("v"), F.col("nq"), F.col("nv")
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def rademacher_planes(
    n_planes: int, dims: int, seed: str = "hplsh"
) -> list[list[float]]:
    """Deterministic ±1 random hyperplanes from md5(seed:plane:dim) —
    plain data, so both engines embed the SAME planes as literals and the
    bucket assignment is reproducible everywhere (the determinism
    discipline that makes this oracle-checkable, like the md5 MinHash)."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()[0] & 1
            else -1.0
            for d in range(dims)
        ]
        for p in range(n_planes)
    ]


def hyperplane_bucket(vec_sql: str, planes: list[list[float]]) -> F.Column:
    """LSH bucket id for a double-array column: bit ``p`` is set when
    ``dot(v, plane_p) > 0``. One F.expr string (single py4j round trip);
    the dot is a left fold in array order, so the sign decision — the
    only thing the bucket depends on — is bit-identical across engines."""
    terms = []
    for p, row in enumerate(planes):
        arr = "array(" + ",".join(lit_double(x) for x in row) + ")"
        dot = (
            f"aggregate(zip_with({vec_sql}, {arr}, (x, y) -> x * y), "
            "cast(0.0 as double), (acc, v) -> acc + v)"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    return F.expr(" + ".join(terms)).cast("int")


def hyperplane_lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    multiprobe: bool = False,
    probe_radius: int = 1,
) -> DataFrame:
    """Random-hyperplane LSH ANN — the bucketed alternative to IVF when
    no quantizer has been trained: every vector hashes to a
    ``n_planes``-bit sign bucket; queries brute-force only their own
    bucket. Expected bucket width is |corpus| / 2^n_planes, the
    recall/cost knob (more planes = narrower buckets = lower recall).

    ``multiprobe=True`` additionally probes the ``n_planes`` hamming-1
    neighbor buckets (each sign bit flipped once) — the standard
    multi-probe recall upgrade: the query side explodes its probe list
    (still tiny, still broadcast) and the join stays the same bucket
    equi-join, so probe cost scales with (n_planes+1) × bucket width,
    never with the corpus. Buckets partition the corpus and probe
    buckets are distinct, so no candidate is scored twice.

    ``probe_radius=2`` (with multiprobe) additionally probes the
    C(n_planes, 2) hamming-2 buckets — the recall-restoring budget for
    FINER bucketings: more planes cut candidate cost per bucket but
    drop single-bucket recall (measured 0.625→0.425 for 3→5 planes on
    clustered geometry, experiments/ANN_RECALL_CLUSTERED_r15.json);
    radius-2 probing buys the recall back while the probe count stays
    a function of n_planes only, never the corpus
    (1 + n + n(n-1)/2 buckets).

    The 100 TB shape mirrors IVF: the corpus is touched ONCE, bucket ids
    are a codegen'd projection (no training pass at all), the query side
    broadcasts, and the only wide operation is the per-query top-k over
    the probed buckets' candidates. Output: (query_id, bucket,
    neighbor_id, cos_sim, rank); ``bucket`` is the probed bucket the
    neighbor was found in."""
    if not 1 <= n_planes <= 30:
        # 0 planes builds an empty expression; >30 overflows the int
        # bucket (1 << p)
        raise ValueError(f"n_planes must be in [1, 30], got {n_planes}")
    if dims < 1:
        raise ValueError(f"dims must be >= 1, got {dims}")
    planes = rademacher_planes(n_planes, dims)

    def checked_bucket(vec: str) -> F.Column:
        # a dims/vector-length mismatch would NULL the zip_with dot and
        # silently collapse EVERY vector into bucket 0 (one mega-bucket
        # brute force) — fail the job loudly instead
        return F.when(
            F.size(F.col(vec)) == dims, hyperplane_bucket(vec, planes)
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"hyperplane_lsh_topk: expected {dims}-dim "
                          "vector, got "),
                    F.size(F.col(vec)).cast("string"),
                )
            )
        )

    vectors = ensure_parallelism(vectors)
    corpus = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("v"),
    ).withColumn("bucket", checked_bucket("v"))
    qs = queries.select(
        F.col(query_id_col).alias("query_id"),
        _as_double(F.col(query_vec_col)).alias("q"),
    ).withColumn("bucket", checked_bucket("q"))
    if multiprobe:
        if probe_radius not in (1, 2):
            raise ValueError(
                f"probe_radius must be 1 or 2, got {probe_radius}"
            )
        flips = [1 << p for p in range(n_planes)]
        if probe_radius == 2:
            flips += [
                (1 << p) | (1 << q)
                for p in range(n_planes)
                for q in range(p + 1, n_planes)
            ]
        qs = qs.withColumn(
            "bucket",
            F.explode(
                F.array(
                    F.col("bucket"),
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(m))
                        for m in flips
                    ],
                )
            ),
        )
    scored = (
        corpus.join(F.broadcast(qs), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "bucket",
            "neighbor_id",
            F.round(cosine_similarity(F.col("q"), F.col("v")), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def sq8_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dims: int = 64,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    num_salts: int = 32,
) -> DataFrame:
    """Scalar-quantized (int8) ANN with exact re-ranking — the memory-
    bandwidth tier: corpus vectors compress 4× (one byte per dimension,
    per-dim min/range affine codes), candidates rank on the dequantized
    approximation, and only the top ``k * rerank_factor`` per query are
    re-scored with exact full-precision cosine. At 100 TB the scan cost
    of ANN is memory bandwidth; int8 codes cut it 4× while the re-rank
    pass restores exact top-k quality whenever the true neighbors
    survive the approximate pool (the standard SQ8 recall contract).

    Determinism discipline: codes use ``floor`` (identical in every
    engine — ``round`` half-up vs half-even could flip a code), both
    similarity passes are left-fold doubles rounded to 6dp, and all
    ranks tie-break on neighbor id — so the DuckDB oracle replays the
    whole quantize→probe→re-rank pipeline exactly.

    Plan shape: per-dim stats are one posexplode aggregate folded to a
    single broadcast row (no driver collect; the plan's only
    SinglePartition exchange carries the ``dims`` partial stat rows —
    64 rows, never the corpus, which already reduced through the
    dim-keyed aggregate); encoding is a codegen'd projection; the
    approximate phase reuses the salted two-phase top-k (no per-query
    single-task sort); the exact phase touches only
    ``k * rerank_factor`` rows per query. Here codes stay an int array
    for oracle replay — a production sink would pack them to binary.

    Output: (query_id, neighbor_id, cos_sim, rank) — exact cosine on
    the re-ranked winners."""
    if num_salts < 1:
        raise ValueError(f"num_salts must be >= 1, got {num_salts}")
    if rerank_factor < 1:
        raise ValueError(f"rerank_factor must be >= 1, got {rerank_factor}")
    if dims < 1:
        raise ValueError(f"dims must be >= 1, got {dims}")

    def checked_vec(col: F.Column) -> F.Column:
        # a dims mismatch would NULL the element_at dequantization (ANSI
        # off), degenerating the re-rank pool to an arbitrary id-ordered
        # set — the shared loud-failure contract
        from timeseries_spark.functions.vectors import checked_dims

        return checked_dims(col, dims, "sq8_topk")

    # the approx fold below is compute-dense per ROW (n×queries×dims),
    # so the scan must be wide regardless of its byte size
    pts = ensure_parallelism(vectors).select(
        F.col(id_col).alias("neighbor_id"),
        checked_vec(F.col(vec_col)).alias("v"),
    )
    # per-dim min/range -> ONE bounded row (2*dims doubles).
    # Round-17 (guide §1.2-1): the old posexplode shape multiplied the
    # corpus to n×dims struct rows (plus an interpreted per-element
    # double cast) before the dim-keyed aggregate — 3.2M rows at sf0.1,
    # the single most expensive job of the query; 2×dims direct column
    # aggregates over the SOURCE float elements reduce the same values
    # with map-side partials and zero row expansion. Value-identical:
    # min/max are order-insensitive and float->double widening is exact
    # and monotone, so cast(min(float)) == min(cast(double)) bit-for-bit
    # and the range difference is taken in double as before.
    # built as TWO expr strings, not 2×dims Column objects: per-Column
    # py4j construction measurably dominated the plan-build wall here
    mn = [f"CAST(min(`{vec_col}`[{i}]) AS DOUBLE)" for i in range(dims)]
    mx = [f"CAST(max(`{vec_col}`[{i}]) AS DOUBLE)" for i in range(dims)]
    stats = vectors.groupBy().agg(
        F.expr("array(" + ",".join(mn) + ")").alias("mins"),
        F.expr(
            "array("
            + ",".join(f"{b} - {a}" for a, b in zip(mn, mx))
            + ")"
        ).alias("rngs"),
    )
    # dequantized vector: mn + floor(((x - mn) * 255) / rng) * rng / 255
    enc = pts.crossJoin(F.broadcast(stats)).withColumn(
        "dq",
        F.transform(
            F.sequence(F.lit(0), F.lit(dims - 1)),
            lambda i: F.element_at(F.col("mins"), i + 1)
            + (
                F.when(
                    F.element_at(F.col("rngs"), i + 1) > 0,
                    F.floor(
                        (
                            (
                                F.element_at(F.col("v"), i + 1)
                                - F.element_at(F.col("mins"), i + 1)
                            )
                            * 255.0
                        )
                        / F.element_at(F.col("rngs"), i + 1)
                    ),
                ).otherwise(F.lit(0))
                * F.element_at(F.col("rngs"), i + 1)
            )
            / 255.0,
        ),
    )
    # dequantized-corpus norms fold once per row (enc projection sits
    # below the crossJoin), query norms once per query: the full-corpus
    # approx phase pays one dot fold per pair instead of three.
    # (Round-17 note: a NumPy Arrow kernel for this phase — bit-identical
    # dq/fold replay, small-row windows, payload re-attach — was built,
    # oracle-verified, and REVERTED: at sf0.1 the query is pure
    # orchestration (total task-sec collapsed 18 -> 0.8 with the kernel,
    # yet interleaved fresh-process A/B medians LOST ~2.5 s vs ~1.8 s,
    # 3/3 pairs, because the extra collect jobs and the Python stage
    # round-trip serialize on the driver). The fold stays JVM; see
    # OPTIMIZATION_r17.md.)
    scored = (
        enc.withColumn("ndq", l2_norm(F.col("dq")))
        .crossJoin(
            F.broadcast(
                queries.select(
                    F.col(query_id_col).alias("query_id"),
                    checked_vec(F.col(query_vec_col)).alias("q"),
                    l2_norm(checked_vec(F.col(query_vec_col))).alias("nq"),
                )
            )
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "v",
            "q",
            "nq",
            F.round(
                cosine_from_norms(
                    F.col("q"), F.col("dq"), F.col("nq"), F.col("ndq")
                ),
                6,
            ).alias("approx_sim"),
            F.pmod(F.hash(F.col("neighbor_id")), F.lit(num_salts)).alias(
                "__salt"
            ),
        )
    )
    pool_n = k * rerank_factor
    w_local = Window.partitionBy("query_id", "__salt").orderBy(
        F.col("approx_sim").desc(), F.col("neighbor_id")
    )
    w_pool = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("neighbor_id")
    )
    pool = (
        scored.withColumn("__lr", F.row_number().over(w_local))
        .filter(F.col("__lr") <= pool_n)
        .withColumn("__pr", F.row_number().over(w_pool))
        .filter(F.col("__pr") <= pool_n)
        .drop("__lr", "__pr", "__salt")
    )
    w_final = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        pool.withColumn(
            "cos_sim",
            F.round(
                cosine_from_norms(
                    F.col("q"), F.col("v"), F.col("nq"), l2_norm(F.col("v"))
                ),
                6,
            ),
        )
        .withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def mmr_rerank(
    vectors: DataFrame,
    queries: DataFrame,
    pool_k: int = 20,
    k: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Maximal-Marginal-Relevance diversity re-rank (Carbonell &
    Goldstein 1998, public): from each query's exact top-``pool_k``
    cosine pool, greedily select ``k`` results maximizing

        mmr = lam * rel(q, d) - (1 - lam) * max_{s in selected} sim(d, s)

    (empty selected set contributes 0, so step 1 picks argmax
    lam*rel). Returns (query_id, step, neighbor_id, mmr_score) with
    step 1..k; ties broken by neighbor id so the greedy trajectory is
    total and engine-replayable.

    Scale shape: the corpus is touched only by the pool phase
    (brute_force_topk — salted two-phase top-k, broadcast queries).
    The pool then folds to ONE row per query (rank-ordered array of
    (id, rel, vec) structs), and the ENTIRE greedy trajectory — the
    candidate filter, the max-sim-to-selected cosine folds, the
    argmax with id tiebreak — is a chain of per-row array expressions:
    no pairwise-sim materialization, no driver loop, no shuffles after
    the pool build, and every query's trajectory runs in parallel
    wherever its row lives. Per-row work is bounded by
    k * pool_k * k * dims regardless of corpus size.

    Expression-size discipline: every value referenced more than once
    (the selected array, the scored candidates, the argmax winner) is
    bound through a single-element ``transform(array(x), v -> …)``
    wrapper, so each greedy step's expression references the previous
    step's EXACTLY ONCE — without this, optimizer inlining duplicates
    the prior-state subtree per reference and the plan grows
    exponentially in k (measured: a k=3 toy already shipped a 4.9 MiB
    task binary and took 49 s; with binding the chain is linear).
    mmr_score is emitted RAW: both engines fold identical 6dp inputs
    with the same lam literals, so the doubles are bit-equal."""
    if pool_k < k:
        raise ValueError(f"pool_k ({pool_k}) must be >= k ({k})")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    pool = brute_force_topk(
        vectors, queries, k=pool_k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    ).select("query_id", "neighbor_id", F.col("cos_sim").alias("rel"), "rank")
    prow = (
        pool.join(
            vectors.select(
                F.col(id_col).alias("neighbor_id"),
                _as_double(F.col(vec_col)).alias("nv"),
            ),
            "neighbor_id",
        )
        .groupBy("query_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("rank", "neighbor_id", "rel", "nv"))
            ).alias("pool")
        )
    )

    # Round-17 (guide §7.3): the greedy chain is authored as SQL expr
    # strings — the F-API construction paid ~68 ms of py4j round trips
    # PER higher-order lambda (~12 per step), putting ann_mmr_rerank's
    # plan BUILD at ~1.6 s for ~1.1 s of execution. The strings are a
    # 1:1 transliteration: same binds, same fold seeds, same tie-break
    # comparisons, same literals (string-cast doubles round-trip repr
    # exactly), so the analyzed plan and every double are unchanged.
    lam_lit = lit_double(lam)
    inv_lit = lit_double(1.0 - float(lam))

    def bind(value: str, var: str, body: str) -> str:
        """SQL spelling of the single-element transform binding:
        ``value`` evaluates once, ``body`` may reference ``var`` any
        number of times (lambda-variable references are free)."""
        return f"element_at(transform(array({value}), {var} -> {body}), 1)"

    def argmax(scored: str) -> str:
        # highest score, ties to the smallest id — a left fold over the
        # bound candidate array, seeded with its first element (which
        # then harmlessly compares against itself). NOT slice(sc, 2,
        # INT_MAX): Slice computes start+length in int32, overflows,
        # and silently yields an EMPTY array — the fold then returns
        # its init and the argmax degenerates to "first candidate".
        return bind(
            scored,
            "sc",
            "aggregate(sc, element_at(sc, 1), (best, c) -> "
            "CASE WHEN c.s > best.s OR (c.s = best.s AND "
            "c.neighbor_id < best.neighbor_id) THEN c ELSE best END)",
        )

    # cos(a, b) spelled exactly as functions/vectors.cosine_similarity:
    # when(denom > 0, dot / denom), both norms re-folded in the
    # condition and the division just as the Column form plans it
    def cos_sql(a: str, b: str) -> str:
        dot = (
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
            "(acc, v) -> acc + v)"
        )
        norm = "sqrt(aggregate({v}, 0.0D, (acc, v) -> acc + v * v))"
        denom = f"({norm.format(v=a)} * {norm.format(v=b)})"
        return f"CASE WHEN {denom} > 0.0D THEN {dot} / {denom} END"

    max_sim = (
        "aggregate(sel, CAST('-Infinity' AS DOUBLE), (acc, s) -> "
        f"greatest(acc, round({cos_sql('c.nv', 's.nv')}, 6)))"
    )

    def step_expr(step: int) -> str:
        """One greedy round over the `selected` attribute (multi-
        referenced — it is its own projection, so references are
        free): filter picked ids out of the pool, score the rest,
        argmax, append."""
        cands = (
            "filter(pool, c -> NOT array_contains("
            "transform(sel, s -> s.neighbor_id), c.neighbor_id))"
        )
        scored = (
            f"transform({cands}, c -> named_struct("
            f"'s', {lam_lit} * c.rel - {inv_lit} * {max_sim}, "
            "'neighbor_id', c.neighbor_id, 'nv', c.nv))"
        )
        return bind(
            "selected",
            "sel",
            bind(
                argmax(scored),
                "best",
                "CASE WHEN best IS NOT NULL THEN concat(sel, array("
                f"named_struct('step', CAST({step} AS INT), "
                "'neighbor_id', best.neighbor_id, "
                "'mmr_score', best.s, 'nv', best.nv))) ELSE sel END",
            ),
        )

    # step 1: argmax of lam*rel over the full pool (empty selected set
    # contributes 0 to the MMR formula)
    first = bind(
        argmax(
            f"transform(pool, c -> named_struct('s', {lam_lit} * c.rel, "
            "'neighbor_id', c.neighbor_id, 'nv', c.nv))"
        ),
        "best",
        "array(named_struct('step', CAST(1 AS INT), "
        "'neighbor_id', best.neighbor_id, "
        "'mmr_score', best.s, 'nv', best.nv))",
    )

    df = prow.withColumn("selected", F.expr(first))
    for step in range(2, k + 1):
        df = df.withColumn("selected", F.expr(step_expr(step)))
    return df.select(
        "query_id", F.explode("selected").alias("sel")
    ).select(
        "query_id",
        F.col("sel.step").alias("step"),
        F.col("sel.neighbor_id").alias("neighbor_id"),
        F.col("sel.mmr_score").alias("mmr_score"),
    )
