"""Product-quantization (PQ) ANN with exact re-ranking.

The third compression tier beside SQ8 (extensions/similarity.py) and IVF
(extensions/kmeans.py): the vector space is split into ``m`` contiguous
subspaces; each subspace gets its own small k-means codebook; every
corpus vector is represented by ``m`` code ids (one byte each at k<=256 —
a 64-dim float vector compresses to m bytes) and approximated by the
concatenation of its per-subspace codebook centroids. Queries rank the
corpus on the approximate (reconstructed) cosine, then the top
``k * rerank_factor`` pool per query is re-scored with exact
full-precision cosine — the same recall contract as SQ8 but with a
trained codebook, which adapts to the data distribution instead of a
per-dim affine grid.

Determinism discipline: the per-subspace quantizer is the deterministic
Lloyd loop from extensions/kmeans.py (min-id init, tie-broken argmin);
the CODEBOOK used for reconstruction is recomputed from the FINAL
assignment as per-cluster per-dimension means — a pure function of the
assignment, so a DuckDB oracle can replay assign rounds and codebook
exactly without tracking which centroid table the early-exit loop
stopped on. Similarities are left-fold doubles rounded to 6dp, ranks
tie-break on neighbor id.

Fit once, probe many: ``pq_fit_books`` trains the m codebooks into one
m*k-row table (kept in memory within a build, or staged to parquet by
extensions/staging.py), and every probe — ``pq_encode``, ``pq_topk``,
``ivf_pq_topk`` — takes that table; no probe trains.

Plan shape at 100 TB: each subspace's training reduces the corpus
through dim-keyed aggregates (never collects it); the book is m*k rows,
broadcast; encoding is one projection over the corpus; the
approximate phase reuses the salted two-phase top-k (no per-query
single-task sort); the exact phase touches k * rerank_factor rows per
query. Code ids ride along in the output of ``pq_encode`` so a sink can
persist the m-byte codes instead of the raw vectors.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseries_spark.extensions.kmeans import kmeans_fit
from timeseries_spark.functions.parallelism import ensure_parallelism
from timeseries_spark.functions.vectors import (
    as_double,
    checked_dims,
    cosine_from_norms,
    cosine_similarity,
    l2_norm,
)


def _pool_and_rerank(
    scored: DataFrame, k: int, rerank_factor: int
) -> DataFrame:
    """Shared approximate-pool + exact-re-rank tail: ``scored`` carries
    (query_id, neighbor_id, v, q, nq, approx_sim, __salt) — ``nq`` is
    the query norm, folded once per query; the salted local top-pool
    bounds every window partition, the global pool caps at
    ``k * rerank_factor`` rows per query, and the exact cosine re-ranks
    the winners (ties broken by neighbor id throughout)."""
    pool_n = k * rerank_factor
    w_local = Window.partitionBy("query_id", "__salt").orderBy(
        F.col("approx_sim").desc(), F.col("neighbor_id")
    )
    w_pool = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("neighbor_id")
    )
    w_final = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    pool = (
        scored.withColumn("__lr", F.row_number().over(w_local))
        .filter(F.col("__lr") <= pool_n)
        .withColumn("__pr", F.row_number().over(w_pool))
        .filter(F.col("__pr") <= pool_n)
        .drop("__lr", "__pr", "__salt")
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


def _sub_dims(m: int, dims: int) -> int:
    if dims % m != 0:
        raise ValueError(
            f"dims must divide evenly into m subspaces, got dims={dims}"
            f" m={m}"
        )
    return dims // m


def pq_fit_books(
    vectors: DataFrame,
    m: int = 2,
    dims: int = 64,
    n_clusters: int = 4,
    kmeans_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train the PQ artifact for staging: one row per (subspace,
    cluster) carrying BOTH tables the probe path needs — ``cent``, the
    Lloyd centroid the final assignment ranked against (re-assigning
    new/old vectors by argmin against it reproduces the training
    assignment exactly, see kmeans.assign_to_centroids), and ``mean``,
    the per-cluster per-dim mean codebook entry used for
    reconstruction. m*k tiny rows — the persistable fit/serve split for
    PQ, exactly as staged_centroids is for IVF."""
    sub_dims = _sub_dims(m, dims)
    pts = ensure_parallelism(
        vectors.select(
            F.col(id_col).alias("__id"),
            checked_dims(F.col(vec_col), dims, "pq_fit_books").alias("v"),
        )
    )
    parts = []
    for s in range(m):
        sub = pts.select(
            "__id",
            F.slice(F.col("v"), s * sub_dims + 1, sub_dims).alias("__sub"),
        )
        assigned, cents = kmeans_fit(
            sub, k=n_clusters, max_iter=kmeans_iter,
            id_col="__id", vec_col="__sub",
            # subspace fits are k·sub_dims-small: the JVM fold beats the
            # Arrow kernel's fixed round-trip latency here (interleaved
            # A/B, OPTIMIZATION_r16.md session 2)
            assign_kernel="jvm",
        )
        book = (
            assigned.select("cluster", F.posexplode("v").alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.avg("x").alias("m"))
            .groupBy("cluster")
            .agg(
                F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm")
            )
            .select(
                F.col("cluster").alias("cid"),
                F.transform(F.col("dm"), lambda t: t["m"]).alias("mean"),
            )
        )
        parts.append(
            cents.join(book, "cid", "left")
            .select(
                F.lit(s).alias("sub"),
                F.col("cid").cast("int").alias("cid"),
                F.col("c").alias("cent"),
                # a cluster that received no points keeps its centroid
                # as the reconstruction entry (it can never be assigned
                # anyway; the coalesce only keeps the schema total)
                F.coalesce("mean", "c").alias("mean"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


def _nearest_codes(
    pts: DataFrame, books: DataFrame, m: int, n_clusters: int, sub_dims: int
) -> DataFrame:
    """``pts`` (any columns plus ``v``, the vector already as doubles:
    ``checked_dims``) with ``__best`` appended: per subspace s, the
    (d, cid, mean) struct of the book centroid nearest to v's slice s.

    The m*k book is PARAMETER-sized, so the encode is one zero-shuffle
    projection: the book broadcasts as a single bounded array row and
    each corpus row folds the per-subspace argmin inside the expression.
    Exactness is the assign_to_centroids contract verbatim: the same
    _sq_dist fold on doubles, the same (d, lowest-cid) struct-min
    tie-break per subspace, so argmin against ``cent`` reproduces the
    training assignment. The m argmins render into ONE array column that
    ``dq`` and ``codes`` both read: Catalyst does not share lambda
    bodies, and rendering each argmin once per output column paid 2m
    argmins per row."""
    books_arr = books.groupBy().agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("sub").cast("int").alias("sub"),
                    F.col("cid").cast("int").alias("cid"),
                    F.transform(
                        F.col("cent"), lambda x: x.cast("double")
                    ).alias("cent"),
                    F.transform(
                        F.col("mean"), lambda x: x.cast("double")
                    ).alias("mean"),
                )
            )
        ).alias("books")
    )
    # loud-fail on an empty/truncated artifact, inside the consumed
    # expression so Catalyst can't prune it (the assign_to_centroids
    # guard idiom). The guard and the per-subspace split run once, on
    # the one-row book side of the broadcast, not per corpus row.
    # Authored as SQL expr strings (round-17, guide §7.3): the F-API
    # built ~4 HOF lambdas per subspace at ~16 ms of py4j each — m=8
    # (hires) paid ~0.5 s of plan build; the strings are the identical
    # _sq_dist fold and (d, lowest-cid, mean) struct-min tie-break.
    checked = (
        f"CASE WHEN size(books) = {m * n_clusters} THEN books "
        "ELSE CAST(raise_error('pq_encode: book must carry "
        f"exactly {m * n_clusters} (sub, cid) rows') AS "
        "ARRAY<STRUCT<sub: INT, cid: INT, "
        "cent: ARRAY<DOUBLE>, mean: ARRAY<DOUBLE>>>) END"
    )
    by_sub = books_arr.selectExpr(
        *(f"filter({checked}, b -> b.sub = {s}) AS __b{s}" for s in range(m))
    )

    def best_sql(s: int) -> str:
        sub_v = f"slice(v, {s * sub_dims + 1}, {sub_dims})"
        return (
            f"array_min(transform(__b{s}, b -> named_struct("
            f"'d', aggregate(zip_with({sub_v}, b.cent, "
            "(x, y) -> (x - y) * (x - y)), 0.0D, "
            "(acc, t) -> acc + t), "
            "'cid', b.cid, 'mean', b.mean)))"
        )

    return pts.crossJoin(F.broadcast(by_sub)).withColumn(
        "__best",
        F.expr("array(" + ",".join(best_sql(s) for s in range(m)) + ")"),
    )


def pq_encode(
    vectors: DataFrame,
    books: DataFrame,
    m: int = 2,
    dims: int = 64,
    n_clusters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode the corpus against a trained PQ book — the
    (sub, cid, cent, mean) table ``pq_fit_books`` returns, in memory
    within one build or read back from a staged artifact
    (extensions/staging.py:staged_pq_books). ``m * n_clusters`` must
    equal the book's row count; a short or empty book fails the job.

    Output: (id, v full-precision double vector, dq reconstructed
    vector, codes array<int> of m codebook ids). ``codes`` is each
    subspace's argmin against the Lloyd centroids, which is the final
    training assignment; ``dq`` concatenates the m mean-codebook entries
    of those codes back to a full-width vector. One corpus scan, zero
    corpus exchanges, whatever m is."""
    sub_dims = _sub_dims(m, dims)
    pts = ensure_parallelism(
        vectors.select(
            F.col(id_col).alias("__id"),
            checked_dims(F.col(vec_col), dims, "pq_encode").alias("v"),
        )
    )
    return _nearest_codes(pts, books, m, n_clusters, sub_dims).select(
        F.col("__id").alias(id_col),
        "v",
        F.expr("flatten(transform(__best, b -> b.mean))").alias("dq"),
        F.expr("transform(__best, b -> b.cid)").alias("codes"),
    )


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    books: DataFrame,
    k: int = 5,
    m: int = 2,
    dims: int = 64,
    n_clusters: int = 4,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    num_salts: int = 32,
) -> DataFrame:
    """PQ ANN over a trained book (see ``pq_encode``): rank on
    reconstructed-vector cosine, re-rank the top ``k * rerank_factor``
    pool per query with exact cosine. Output: (query_id, neighbor_id,
    cos_sim, rank) — exact cosine on the re-ranked winners, rank
    tie-broken by neighbor id."""
    if num_salts < 1:
        raise ValueError(f"num_salts must be >= 1, got {num_salts}")
    if rerank_factor < 1:
        raise ValueError(f"rerank_factor must be >= 1, got {rerank_factor}")
    enc = pq_encode(
        vectors, books, m=m, dims=dims, n_clusters=n_clusters,
        id_col=id_col, vec_col=vec_col,
    ).select(F.col(id_col).alias("neighbor_id"), "v", "dq")
    # reconstruction norms fold once per corpus row, query norms once
    # per query: the full-corpus approx phase is one dot fold per pair
    scored = (
        enc.withColumn("ndq", l2_norm(F.col("dq")))
        .crossJoin(
            F.broadcast(
                queries.select(
                    F.col(query_id_col).alias("query_id"),
                    checked_dims(
                        F.col(query_vec_col), dims, "pq_topk"
                    ).alias("q"),
                    l2_norm(
                        checked_dims(F.col(query_vec_col), dims, "pq_topk")
                    ).alias("nq"),
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
    return _pool_and_rerank(scored, k, rerank_factor)


def ivf_pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    cluster_col: str,
    books: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    m: int = 2,
    dims: int = 64,
    pq_clusters: int = 4,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    num_salts: int = 32,
) -> DataFrame:
    """IVF-PQ: the production ANN composition — a coarse quantizer
    routes each query to its ``nprobe`` nearest clusters (bounding WHICH
    vectors are touched), and inside the probed clusters candidates rank
    on the PQ-reconstructed approximation (bounding the BYTES each touch
    costs: m code bytes instead of the full vector), with exact-cosine
    re-ranking of the top ``k * rerank_factor`` pool. The two quantizers
    are independent — coarse routing trains on full vectors, PQ
    codebooks on subspaces — exactly the IVF-PQ layout of a
    disk-resident vector index.

    Both arrive trained, as ``ivf_topk`` and ``pq_topk`` take them:
    ``vectors`` carries its coarse cluster in ``cluster_col``
    (a k-means fit in the build, or ``assign_to_centroids``), and
    ``books`` is the ``pq_fit_books`` table with ``m * pq_clusters``
    rows.

    Plan shape: representative table broadcast (routing), probe list
    broadcast (tiny), corpus touched once via cluster-key equi join, the
    encode a broadcast projection on that same pass, salted two-phase
    pool so no query funnels one task."""
    if num_salts < 1:
        raise ValueError(f"num_salts must be >= 1, got {num_salts}")
    if rerank_factor < 1:
        raise ValueError(f"rerank_factor must be >= 1, got {rerank_factor}")
    sub_dims = _sub_dims(m, dims)
    reps = (
        vectors.groupBy(cluster_col)
        .agg(F.min(id_col).alias("rep_id"))
        .join(
            vectors.select(
                F.col(id_col).alias("rep_id"),
                as_double(F.col(vec_col)).alias("rep_vec"),
            ),
            "rep_id",
        )
        .select(F.col(cluster_col).alias("cluster"), "rep_vec")
    )
    qs = queries.select(
        F.col(query_id_col).alias("query_id"),
        checked_dims(F.col(query_vec_col), dims, "ivf_pq_topk").alias("q"),
        l2_norm(
            checked_dims(F.col(query_vec_col), dims, "ivf_pq_topk")
        ).alias("nq"),
    )
    routed = qs.crossJoin(F.broadcast(reps)).withColumn(
        "rep_sim", F.round(cosine_similarity(F.col("q"), F.col("rep_vec")), 6)
    )
    w_route = Window.partitionBy("query_id").orderBy(
        F.col("rep_sim").desc(), F.col("cluster")
    )
    probe = (
        routed.withColumn("rr", F.row_number().over(w_route))
        .filter(F.col("rr") <= nprobe)
        .select("query_id", "q", "nq", "cluster")
    )
    # no ensure_parallelism here: the clustered corpus is a join, and
    # asking an adaptive plan for its partition count runs its stages
    # as an extra job at build time
    pts = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(cluster_col).alias("cluster"),
        checked_dims(F.col(vec_col), dims, "ivf_pq_topk").alias("v"),
    )
    encc = _nearest_codes(pts, books, m, pq_clusters, sub_dims).select(
        "neighbor_id",
        "cluster",
        "v",
        F.expr("flatten(transform(__best, b -> b.mean))").alias("dq"),
    )
    scored = (
        encc.withColumn("ndq", l2_norm(F.col("dq")))
        .join(F.broadcast(probe), "cluster")
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
    return _pool_and_rerank(scored, k, rerank_factor)
