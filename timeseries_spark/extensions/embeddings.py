"""Embedding-matrix statistics and dimensionality reduction.

Operators a 100 TB embedding pipeline runs before/under its ANN
stack (extensions/similarity.py):

- ``covariance_pairs`` — the d×d covariance of the embedding cloud
  (collapsed-dimension detection, whitening input, PCA precursor). The
  O(n·d²) products are inherent to the statistic; what matters at scale
  is the plan shape: pairs are generated per row inside one codegen'd
  projection (no self-join of an exploded table — that shape reads and
  shuffles the corpus twice), and the groupBy on (i, j) partial-
  aggregates map-side, so the only exchange carries ≤ d(d+1)/2 rows per
  task, never the corpus.

- ``random_projection`` — Johnson–Lindenstrauss sign-matrix projection
  d → k: y = R·x/√k with R[i][j] ∈ {−1, +1} derived from a
  multiplicative integer hash, so the "matrix" is never materialized,
  broadcast, or even stored — both engines (and every executor)
  regenerate any entry from (k, i) alone. ZERO shuffles: the whole
  reduction is a per-row codegen'd expression, the embarrassingly
  parallel shape a corpus-scale dimensionality reduction must have.
  Public background: Achlioptas (2003) database-friendly random
  projections — ±1 entries suffice for the JL guarantee.

- ``pca_top_component`` / ``pca_scores`` — the dominant eigenvector by
  power iteration on the covariance relation (no eigensolver, fully
  SQL-replayable) and the corpus projection onto it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from timeseries_spark.functions.sqlexpr import lit_double
from timeseries_spark.functions.vectors import checked_dims

# Knuth multiplicative constant; mixes the (component, output-dim) pair
# before the parity extraction so signs don't follow the (i+j) parity
# lattice a plain linear hash would produce.
_JL_MULT = 2654435761
_JL_STEP = 97
_JL_MOD = 4294967296  # 2^32


def jl_sign(k: Column | int, i: Column | int) -> Column:
    """Deterministic ±1 for output dim k, input dim i — bit 16 of the
    multiplicative hash (low bits of a mod-2^32 multiply are weak).
    Pure 64-bit integer arithmetic + exact double floor-division, so
    any engine reproduces it from the indices alone."""
    h = F.pmod(
        F.lit(k) * F.lit(_JL_MULT) + F.lit(i) * F.lit(_JL_STEP)
        if isinstance(k, int)
        else k * F.lit(_JL_MULT) + i * F.lit(_JL_STEP),
        F.lit(_JL_MOD),
    )
    bit = F.pmod(F.floor(h / F.lit(65536)), F.lit(2))
    return (bit * 2 - 1).cast("double")


# the same hash as ANSI SQL, for DuckDB oracles (k, i are column names)
JL_SIGN_SQL = (
    "(CAST((CAST(floor(((({k} * 2654435761 + {i} * 97) % 4294967296)"
    " + 4294967296) % 4294967296 / 65536) AS BIGINT) % 2) AS DOUBLE)"
    " * 2 - 1)"
)


def covariance_pairs(
    vectors: DataFrame,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Upper-triangle covariance of the embedding cloud as long-form
    rows ``(i, j, cov)`` for i ≤ j, cov rounded to 6dp.

    Single scan, single tiny shuffle: each Arrow batch emits ONE
    partial-sums row — the d(d+1)/2 upper-triangle entries of its
    X^T·X followed by its d per-dim value sums (NumPy matmul behind a
    mapInPandas; the round-16 replacement for the per-row interpreted
    HOF expansion, guide §4.2) — and a single posexplode + hash
    aggregate over the linear position yields every Σxixj AND every
    per-dim Σxi at once. The triangular position → (i, j) mapping is a
    d(d+1)/2-row broadcast literal (no fragile inverse-triangular
    arithmetic in the plan), and cov = E[xy] − E[x]E[y] assembles via
    two more broadcast joins of the d-row dim sums. The statistic is
    compute-bound at n·d²/2 products: the r16 profile charged the HOF
    form ~8 µs per emitted element (34 task-seconds for 0.6 MB of
    vectors at sf0.1); the batched matmul runs the same flops at
    native speed and shrinks the exploded relation from n·(d(d+1)/2+d)
    rows to one row per batch. The shuffle stays constant-size
    regardless of n."""
    if dims < 1:
        raise ValueError(f"dims must be >= 1, got {dims}")
    from timeseries_spark.functions.parallelism import ensure_parallelism

    # Round-16 kernel swap (guide §4.2): the upper-triangle outer
    # products move from a JVM higher-order-function expansion
    # (posexplode of d(d+1)/2 + d interpreted-lambda products PER ROW —
    # the r16 profile charged pca_top3 34 task-seconds for a 0.6 MB
    # input, ~8 µs per element of pure lambda overhead) to a NumPy
    # X^T·X per Arrow batch behind ONE mapInPandas. Each batch emits a
    # single partial-sums row laid out in the SAME linear position
    # order as the old flattened triangle (row-major upper incl.
    # diagonal, then the d raw-value sums), so everything downstream —
    # the pos→(i,j) broadcast mapping, the E[xy] − E[x]E[y] assembly —
    # is untouched. The final cross-batch reduce stays the same Spark
    # aggregate; batch partial sums replace task partial sums inside
    # the exact summation-order headroom the 6dp rounding already
    # absorbs (the cross-engine DuckDB oracle never matched fold order
    # either). The corpus pass count is unchanged: one scan, one tiny
    # constant-size shuffle.
    #
    # The eager checkpoint is load-bearing (round-7 event-log finding):
    # `agg` is consumed by TWO branches (pair rows and dim sums), and
    # Catalyst pushes each branch's pos-filter BELOW the aggregate —
    # making the two exchange subtrees textually different, so AQE's
    # ReusedExchange never fires and the full O(n·d²) corpus pass ran
    # TWICE. Materializing the ≤ d(d+1)/2 + d row result once keeps the
    # corpus pass single by construction, not by optimizer goodwill.
    # ensure_parallelism matters for the same compute-vs-bytes reason as
    # everywhere: a corpus that fits one parquet split would run the
    # d²-per-row expansion on one core.
    def _partial_sums(batches):
        import numpy as np
        import pandas as pd

        iu = np.triu_indices(dims)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["__v"].to_numpy())
            if X.shape[1] != dims:
                raise ValueError(
                    f"covariance_pairs: expected {dims}-dim vector, "
                    f"got {X.shape[1]}"
                )
            xtx = X.T @ X
            yield pd.DataFrame(
                {
                    "p": [np.concatenate([xtx[iu], X.sum(axis=0)])],
                    "bn": [len(X)],
                }
            )

    agg = (
        ensure_parallelism(vectors)
        .select(
            F.transform(
                checked_dims(F.col(vec_col), dims, "covariance_pairs"),
                lambda x: x.cast("double"),
            ).alias("__v")
        )
        .mapInPandas(_partial_sums, schema="p array<double>, bn bigint")
        .select(F.posexplode("p").alias("pos", "val"), "bn")
        .groupBy("pos")
        .agg(
            F.sum("val").alias("sij"),
            F.sum("bn").cast("double").alias("n"),
        )
        .localCheckpoint(eager=True)
    )
    n_tri = dims * (dims + 1) // 2
    # (pos -> i, j) for the upper triangle, generated in-plan with
    # sequence+explode arithmetic: pos(i,j) = i*dims - i(i-1)/2 + (j-i),
    # the exact enumeration order of the old driver-side list. The old
    # createDataFrame parallelized 2080 Python rows — round-16 profiling
    # showed each broadcast build over that PythonRDD paying a full wave
    # of Python-worker round-trips (~9 task-seconds of pure wait, twice
    # per pca_top3 run). This is a JVM-only plan: zero Python workers.
    mapping = (
        vectors.sparkSession.range(0, 1, 1, 1)
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(dims - 1))).alias("i")
        )
        .select(
            "i",
            F.explode(
                F.sequence(F.col("i"), F.lit(dims - 1))
            ).alias("j"),
        )
        .select(
            (
                F.col("i") * dims
                - F.floor(F.col("i") * (F.col("i") - 1) / 2)
                + (F.col("j") - F.col("i"))
            ).cast("int").alias("pos"),
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
        )
    )
    pairs = agg.where(F.col("pos") < n_tri).join(F.broadcast(mapping), "pos")
    dim_sums = agg.where(F.col("pos") >= n_tri).select(
        (F.col("pos") - n_tri).cast("int").alias("d"),
        F.col("sij").alias("sd"),
    )
    return (
        pairs.join(
            F.broadcast(
                dim_sums.select(F.col("d").alias("i"), F.col("sd").alias("si"))
            ),
            "i",
        )
        .join(
            F.broadcast(
                dim_sums.select(F.col("d").alias("j"), F.col("sd").alias("sj"))
            ),
            "j",
        )
        .select(
            "i",
            "j",
            F.round(
                F.col("sij") / F.col("n")
                - (F.col("si") / F.col("n")) * (F.col("sj") / F.col("n")),
                6,
            ).alias("cov"),
        )
    )


def random_projection(
    vectors: DataFrame,
    dims: int,
    out_dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "proj",
) -> DataFrame:
    """JL sign-projection d → out_dims: proj[k] = Σ_i sign(k,i)·x_i /
    √out_dims, each component rounded to 6dp. Per-row expression only —
    no shuffle, no stored matrix, no fit step — so it composes in front
    of any ANN/clustering operator as a free map stage."""
    if dims < 1:
        raise ValueError(f"dims must be >= 1, got {dims}")
    if not 1 <= out_dims:
        raise ValueError(f"out_dims must be >= 1, got {out_dims}")
    scale = float(out_dims) ** 0.5
    v = F.transform(
        checked_dims(F.col(vec_col), dims, "random_projection"),
        lambda x: x.cast("double"),
    )
    proj = F.transform(
        F.sequence(F.lit(0), F.lit(out_dims - 1)),
        lambda k: F.round(
            F.aggregate(
                F.zip_with(
                    v,
                    F.sequence(F.lit(0), F.lit(dims - 1)),
                    lambda x, i: x * jl_sign(k, i),
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
            / F.lit(scale),
            6,
        ),
    )
    return vectors.select(F.col(id_col), proj.alias(out_col))


def pca_top_components(
    vectors: DataFrame,
    dims: int,
    n_components: int = 3,
    n_iter: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-r principal components by sequential power iteration with
    per-iteration Gram–Schmidt re-orthogonalization — the deflation
    step of the whitening path, still with NO eigensolver and still
    exactly SQL-replayable.

    Component c repeats the ``pca_top_component`` loop, but after each
    matvec the iterate is orthogonalized against the already-found
    components IN ORDER (modified Gram–Schmidt: subtract the projection
    onto component 0, then — from the residual — onto component 1, …)
    before normalizing and snapping. Sequential-vs-classical GS matters
    for cross-engine exactness: the two differ by O(ε) terms on the
    1e-10-snapped components, so the oracle must (and does) replay the
    SAME order. Orthogonality of the result is enforced by
    construction — the final iterate is normalized AFTER the
    subtraction — so pairwise dots are bounded by snap rounding
    (≤ d·1e-10), regardless of how converged the iteration is.

    Returns (component, dim, loading, eigenvalue): component 0 is
    identical to ``pca_top_component``'s output; eigenvalue_c is the
    final residual norm ‖GS(C·v)‖, non-increasing in c for a converged
    iteration.

    Scale shape: the corpus is touched ONCE (covariance_pairs); after
    that the state is carried as SINGLE-ROW array relations — the
    matrix folds to d rows of ordered per-row value arrays and the
    iterate to one (vv array, nm) row, so every iteration is ONE tiny
    job (d-row cross of the checkpointed matrix with the 1-row state →
    one global array-agg → a codegen'd array expression), not a chain
    of d-row shuffle joins plus broadcast-aggregate subtrees. Measured
    at sf0.1 this array-state form cut the 3-component fit from 9.2 s
    to ~1/3 — the per-iteration cost is scheduler overhead, and the
    rewrite removes two stages and two broadcasts per round. Every
    fold (matvec, GS dot, norm) walks dims IN ORDER, so the doubles
    are bit-identical across engines by construction rather than by
    snap tolerance over unordered sums."""
    if n_components < 1:
        raise ValueError(f"n_components must be >= 1, got {n_components}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    upper = covariance_pairs(vectors, dims, id_col, vec_col)
    cov = upper.unionByName(
        upper.where(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "cov"
        )
    )
    # ONE row: mat = [[cov_00..cov_0,d-1], ..] ordered by (i, j) — the
    # whole d×d matrix as a nested array, materialized once (the
    # checkpoint ends the corpus lineage). Everything after is a chain
    # of per-row array expressions over this single row: no joins, no
    # aggregates, no broadcasts — the r·n_iter iteration "loop" costs
    # ONE Spark job regardless of r and n_iter. Each named step stays
    # its own projection (CollapseProject never inlines non-cheap
    # expressions referenced more than once), so the expression tree
    # grows linearly with iterations, not exponentially.
    mrow = (
        cov.groupBy("i")
        .agg(F.array_sort(F.collect_list(F.struct("j", "cov"))).alias("s"))
        .select("i", F.transform("s", lambda t: t["cov"]).alias("cvals"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("i", "cvals"))).alias("s2"))
        .select(F.transform("s2", lambda t: t["cvals"]).alias("mat"))
        .localCheckpoint(eager=True)
    )
    # Round-17 (guide §7.3 — driver-side planning as the bottleneck):
    # this loop used to build every step through pyspark Column objects
    # and F.transform/F.zip_with lambdas; a cProfile of the pca_top3
    # plan build measured 10,693 py4j round trips — ~16 ms per
    # higher-order-function lambda alone — putting the BUILD at ~6 s
    # against ~1 s of execution. The same steps are now authored as SQL
    # expr strings (one py4j call per step); the parsed expressions are
    # the operators' exact SQL spellings (D-suffixed double literals,
    # same fold seeds, same op order), so the analyzed plan — and every
    # double — is unchanged. The projection-per-step structure is kept:
    # each multiply-referenced value stays its own withColumn, so
    # nothing gets inlined/duplicated by CollapseProject.
    # string-cast literal: Double.parseDouble round-trips repr() exactly
    # for any magnitude (a bare D-suffix literal cannot carry an
    # exponent through the lexer)
    # A further fusion of each iteration into ONE let-bound withColumn
    # was tried and REVERTED: a step referenced exactly once gets
    # inlined by CollapseProject INTO the next matvec's lambda, where
    # it re-evaluates per mat row — 64^n_iter interpreted evaluations
    # (the driver hung in ArrayAggregate.eval). The per-step projection
    # structure below is load-bearing: every step is referenced at
    # least twice, so CollapseProject keeps it materialized per row.
    start_lit = lit_double(1.0 / float(dims) ** 0.5)
    fold_sql = "aggregate({arr}, 0.0D, (acc, t) -> acc + t)"
    snap_sql = "CAST(floor({x} * 1E10 + 0.5D) AS DOUBLE) / 1E10"
    df = mrow
    for c in range(n_components):
        df = df.withColumn(
            "vv",
            F.expr(
                f"transform(sequence(0, {dims - 1}), x -> {start_lit})"
            ),
        )
        for _t in range(n_iter):
            # matvec: w_i = ordered fold of mat[i][k] * vv[k]
            df = df.withColumn(
                "wv",
                F.expr(
                    "transform(mat, row -> "
                    + fold_sql.format(arr="zip_with(row, vv, (a, b) -> a * b)")
                    + ")"
                ),
            )
            # sequential (modified) Gram–Schmidt against each finished
            # component, in discovery order — dot then subtract
            for p in range(c):
                df = df.withColumn(
                    "dp",
                    F.expr(
                        fold_sql.format(
                            arr=f"zip_with(wv, comp{p}, (a, b) -> a * b)"
                        )
                    ),
                ).withColumn(
                    "wv",
                    F.expr(
                        f"zip_with(wv, comp{p}, (w, pv) -> w - dp * pv)"
                    ),
                ).drop("dp")
            # nm=0 guard: once the cloud's rank is exhausted the
            # residual collapses; emit the zero vector with eigenvalue
            # 0 instead of a NULL cascade.
            df = df.withColumn(
                "nm",
                F.expr(
                    "sqrt("
                    + fold_sql.format(arr="transform(wv, x -> x * x)")
                    + ")"
                ),
            ).withColumn(
                "vv",
                F.expr(
                    "transform(wv, x -> "
                    + snap_sql.format(
                        x="(CASE WHEN nm > 0 THEN x / nm ELSE 0.0D END)"
                    )
                    + ")"
                ),
            ).drop("wv")
        df = df.withColumn(f"comp{c}", F.col("vv")).withColumn(
            f"ev{c}", F.col("nm")
        )
    comps = F.array(
        *[
            F.struct(
                F.lit(c).cast("int").alias("component"),
                F.col(f"comp{c}").alias("vv"),
                F.col(f"ev{c}").alias("nm"),
            )
            for c in range(n_components)
        ]
    )
    return (
        df.select(F.explode(comps).alias("cc"))
        .select(
            F.col("cc.component").alias("component"),
            F.posexplode("cc.vv").alias("dim", "x"),
            F.col("cc.nm").alias("nm"),
        )
        .select(
            "component",
            F.col("dim").cast("bigint").alias("dim"),
            F.round("x", 6).alias("loading"),
            F.round("nm", 6).alias("eigenvalue"),
        )
    )




def pca_top_component(
    vectors: DataFrame,
    dims: int,
    n_iter: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top principal component of the embedding cloud by power
    iteration on the covariance matrix — the first step of every
    whitening / spectral-diagnostic pipeline, done WITHOUT a linear-
    algebra library: v ← snap(C·v / ‖C·v‖) for ``n_iter`` rounds from
    the uniform start v₀ = 1/√d (exactly representable for power-of-two
    d). Returns (dim, loading, eigenvalue): loadings 6dp-rounded, the
    eigenvalue is the final iterate's ‖C·v‖ (the Rayleigh quotient of a
    unit vector under a symmetric PSD matrix).

    Scale shape: the corpus is touched ONCE (by ``covariance_pairs``);
    every iteration after runs on the d²-row matrix relation — a
    matvec is one broadcast-state join + a d-row aggregate, with the
    same bounded-driver-loop + eager localCheckpoint discipline as
    ``pagerank``. Determinism: the matrix entries are the 6dp-rounded
    covariance values BOTH engines already agree on exactly, each
    iterate snaps half-up at 1e-10 (drift cannot accumulate), and the
    fixed positive start vector pins the sign — so plain SQL replays
    the whole iteration (chained CTEs), which no eigensolver call
    could offer. Implemented as the r=1 case of ``pca_top_components``
    (the single-row array-state iteration — see there for the plan
    shape and the ordered-fold exactness argument)."""
    return pca_top_components(
        vectors, dims, 1, n_iter, id_col, vec_col
    ).select("dim", "loading", "eigenvalue")


def pca_whiten_scores(
    vectors: DataFrame,
    dims: int,
    n_components: int = 3,
    n_iter: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Whitened r-D summary of every vector: component c's score is
    (x · v_c) / √λ_c — the projection onto the learned principal axes
    rescaled to unit variance, the standard decorrelated input for
    downstream distance/clustering stages. Returns (id, whitened)
    with ``whitened`` an array<double> ordered by component.

    The r components fold to ONE broadcast row (array of (pc, ev)
    structs ordered by component), so the projection is a zero-shuffle
    map stage over the corpus — same shape as ``pca_scores`` but r-wide.
    Scores are emitted as RAW doubles: both engines fold the dot
    product in dim order over identical 6dp inputs and divide by the
    same √(6dp λ), so the IEEE results are bit-equal and rounding
    would only add half-way-boundary hazards. A rank-exhausted
    component (λ = 0) contributes 0.0, matching the zero-vector
    sentinel upstream."""
    comp = pca_top_components(
        vectors, dims, n_components, n_iter, id_col, vec_col
    )
    per_comp = (
        comp.groupBy("component")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "loading"))
            ).alias("s"),
            F.first("eigenvalue").alias("ev"),
        )
        .select(
            "component",
            F.transform("s", lambda t: t["loading"]).alias("pc"),
            "ev",
        )
    )
    one_row = per_comp.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct("component", "pc", "ev"))
        ).alias("comps")
    )
    v = F.transform(
        checked_dims(F.col(vec_col), dims, "pca_whiten_scores"),
        lambda x: x.cast("double"),
    )
    return vectors.crossJoin(F.broadcast(one_row)).select(
        F.col(id_col),
        F.transform(
            F.col("comps"),
            lambda cc: F.when(
                cc["ev"] > 0,
                F.aggregate(
                    F.zip_with(v, cc["pc"], lambda x, w: x * w),
                    F.lit(0.0),
                    lambda acc, t: acc + t,
                )
                / F.sqrt(cc["ev"]),
            ).otherwise(F.lit(0.0)),
        ).alias("whitened"),
    )


def pca_scores(
    vectors: DataFrame,
    dims: int,
    n_iter: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project every vector onto the learned top component:
    score = Σ_i loading_i · x_i (4dp-rounded) — the 1-D summary used
    for spectral outlier screens and stratified sampling along the
    dominant axis. The 64-row component folds to ONE broadcast array
    row (array_agg ordered by dim — the sq8 stats idiom), so the
    projection is a zero-shuffle map stage over the corpus."""
    comp = pca_top_component(vectors, dims, n_iter, id_col, vec_col)
    loadings = comp.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct("dim", "loading"))
        ).alias("s")
    ).select(
        F.transform("s", lambda t: t["loading"]).alias("pc1")
    )
    v = F.transform(
        checked_dims(F.col(vec_col), dims, "pca_scores"),
        lambda x: x.cast("double"),
    )
    return vectors.crossJoin(F.broadcast(loadings)).select(
        F.col(id_col),
        F.round(
            F.aggregate(
                F.zip_with(v, F.col("pc1"), lambda x, w: x * w),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ),
            4,
        ).alias("pc1_score"),
    )


def standardize_embeddings(
    vectors: DataFrame,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "standardized",
) -> DataFrame:
    """Per-dimension z-score standardization of the embedding cloud:
    out[i] = (x[i] − μ_i) / σ_i with population σ, the preprocessing
    step in front of distance-based stages (k-means, cosine ANN over
    heterogeneous-scale dims). A collapsed dimension (σ = 0) maps to
    0.0 — a deterministic sentinel, not a NULL cascade.

    Two passes over nothing but the corpus column: one posexplode scan
    aggregates (Σx, Σx², n) per dim — map-side partial combine, the
    only exchange carries d rows — then the d-row stats table folds to
    ONE broadcast row and the rescale is a zero-shuffle codegen'd map.
    μ and σ are snapped half-up at 1e-6 before use and each output
    component at 1e-6 after, so both engines rescale with identical
    constants and emit identical arrays (the unordered corpus sums
    differ at ~1e-13; the snap absorbs it)."""
    if dims < 1:
        raise ValueError(f"dims must be >= 1, got {dims}")
    snap6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)).cast("double") / 1e6  # noqa: E731
    v = F.transform(
        checked_dims(F.col(vec_col), dims, "standardize_embeddings"),
        lambda x: x.cast("double"),
    )
    stats = (
        vectors.select(F.posexplode(v).alias("d", "x"))
        .groupBy("d")
        .agg(
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.count(F.lit(1)).cast("double").alias("n"),
        )
        .select(
            "d",
            snap6(F.col("sx") / F.col("n")).alias("mu"),
            snap6(
                F.sqrt(
                    F.greatest(
                        F.col("sxx") / F.col("n")
                        - (F.col("sx") / F.col("n"))
                        * (F.col("sx") / F.col("n")),
                        F.lit(0.0),
                    )
                )
            ).alias("sigma"),
        )
    )
    one_row = stats.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct("d", "mu", "sigma"))
        ).alias("ms")
    )
    return vectors.crossJoin(F.broadcast(one_row)).select(
        F.col(id_col),
        F.zip_with(
            v,
            F.col("ms"),
            lambda x, s: F.when(
                s["sigma"] > 0, snap6((x - s["mu"]) / s["sigma"])
            ).otherwise(F.lit(0.0)),
        ).alias(out_col),
    )
