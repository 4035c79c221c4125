"""Similarity-search queries over the embeddings table (extension surface).

Cosine scores are double left-folds in array order — bit-identical across
engines (see extensions/similarity.py) — so top-k results are exact
matches, with ties broken by neighbor id.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from timeseries_spark.extensions.similarity import brute_force_topk, ivf_topk
from timeseries_spark.queries import REGISTRY, load, query

# DuckDB double left-fold cosine between embedding lists a and b
_COS = (
    "round("
    "list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len({a})), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)), (x, y) -> x + y) / "
    "(sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform({a}, v -> v::DOUBLE * v::DOUBLE)), (x, y) -> x + y)) * "
    " sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform({b}, v -> v::DOUBLE * v::DOUBLE)), (x, y) -> x + y)))"
    ", 6)"
)


def _ivf_clustered(emb, clusters=None):
    """The corpus with its coarse quantizer's ``cluster`` joined on —
    the input every IVF probe takes. ``clusters`` defaults to the
    in-build fit every IVF oracle replays (k=4, 3 Lloyd rounds); staged
    callers pass ``assign_to_centroids`` output, the same assignment."""
    if clusters is None:
        from timeseries_spark.extensions.kmeans import kmeans_assign

        clusters = kmeans_assign(emb, k=4, max_iter=3)
    return emb.join(clusters.select("vec_id", "cluster"), "vec_id")


def _queries_df(spark, sf_dir, n: int = 8):
    emb = load(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


@query(
    "ann_brute_force_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_COS.format(a="q.qv", b="e.embedding")} AS cos_sim
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
      ) AS rank FROM scored
    ) WHERE rank <= 5
    """,
)
def ann_brute_force_topk(spark, sf_dir):
    """Exact cosine top-5 neighbors for 8 query vectors: broadcast query
    side, JVM-side double fold, per-query window top-k."""
    emb = load(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, _queries_df(spark, sf_dir), k=5)


@query(
    "ann_ivf_nprobe2",
    oracle=f"""
    WITH reps AS (
      SELECT label, embedding AS rep_vec FROM embeddings
      WHERE vec_id IN (SELECT min(vec_id) FROM embeddings GROUP BY label)
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id < 8),
    routed AS (
      SELECT query_id, qv, label,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY {_COS.format(a="qv", b="rep_vec")} DESC, label
             ) AS rr
      FROM q CROSS JOIN reps
    ),
    probe AS (SELECT query_id, qv, label FROM routed WHERE rr <= 2),
    scored AS (
      SELECT p.query_id, p.label AS cluster, e.vec_id AS neighbor_id,
             {_COS.format(a="p.qv", b="e.embedding")} AS cos_sim
      FROM probe p JOIN embeddings e ON e.label = p.label
      WHERE e.vec_id != p.query_id
    )
    SELECT query_id, cluster, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
      ) AS rank FROM scored
    ) WHERE rank <= 5
    """,
)
def ann_ivf_nprobe2(spark, sf_dir):
    """IVF with nprobe=2 on a PRECOMPUTED inverted file (the dataset's
    label column) — the deterministic test hook for the nprobe knob,
    isolating probe semantics from quantizer training: each query
    searches its TWO nearest clusters; top-k ranked across both probes.
    Probe cost scales linearly with nprobe while the corpus is still
    touched only through cluster-key equi joins."""
    emb = load(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, _queries_df(spark, sf_dir), "label", k=5, nprobe=2
    )


def _kmeans_oracle_sql(
    k: int | str = 4, dims: int = 64, rounds: int = 3, where: str = ""
) -> str:
    """DuckDB replay of the deterministic Lloyd loop (extensions/kmeans.py):
    init = k lowest-id vectors; per round argmin assignment (ties to the
    lowest cid) then per-dimension means, empty clusters keeping their old
    centroid via left join + coalesce. Distances fold dimensions in array
    order in BOTH engines, so assignments match exactly.

    ``k`` may be a SQL expression string (e.g. a scalar subquery) — k
    only enters the replay through c0's LIMIT, so a data-derived k
    (the auto-sized blocker) replays exactly: DuckDB evaluates the
    subquery against the same table Spark counts.

    ``where`` restricts the point set (e.g. the incremental-dedup
    replay fits the quantizer on the CORPUS rows only) — pass a full
    ``WHERE ...`` clause; it lands inside the pts CTE so init, every
    Lloyd round, and any k-deriving subquery all see the same subset."""
    d = "(p.v[i] - c.c[i]) * (p.v[i] - c.c[i])"

    def assign(name: str, cents: str) -> str:
        return f"""
    {name} AS (
      SELECT vid, v, cid AS cluster, sq_dist FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vid ORDER BY sq_dist, cid) AS rn
        FROM (
          SELECT p.vid, p.v, c.cid,
                 list_sum(list_transform(
                   generate_series(1, {dims}), i -> {d})) AS sq_dist
          FROM pts p CROSS JOIN {cents} c
        )
      ) WHERE rn = 1
    )"""

    def update(a: str, prev: str, mname: str, cname: str) -> str:
        return f"""
    {mname} AS (
      SELECT cluster AS cid, list(m ORDER BY dim) AS c FROM (
        SELECT a.cluster, i AS dim, avg(a.v[i]) AS m
        FROM {a} a, unnest(generate_series(1, {dims})) AS g(i)
        GROUP BY a.cluster, i
      ) GROUP BY cluster
    ),
    {cname} AS (
      SELECT p.cid, coalesce(m.c, p.c) AS c
      FROM {prev} p LEFT JOIN {mname} m ON m.cid = p.cid
    )"""

    parts = [
        f"""WITH pts AS (
      SELECT vec_id AS vid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings {where}
    ),
    c0 AS (
      SELECT (row_number() OVER (ORDER BY vid)) - 1 AS cid, v AS c
      FROM pts ORDER BY vid LIMIT {k}
    )"""
    ]
    for r in range(rounds):
        parts.append(assign(f"a{r}", f"c{r}"))
        if r < rounds - 1:
            parts.append(update(f"a{r}", f"c{r}", f"m{r + 1}", f"c{r + 1}"))
    last = f"a{rounds - 1}"
    return ",".join(parts), last


def _kmeans_oracle_final(k: int = 4, dims: int = 64, rounds: int = 3) -> str:
    body, last = _kmeans_oracle_sql(k, dims, rounds)
    return (
        body
        + f"""
    SELECT vid AS vec_id, cluster, round(sq_dist, 6) AS sq_dist FROM {last}
    """
    )


@query("kmeans_assignments", oracle=_kmeans_oracle_final(k=4, dims=64, rounds=3))
def kmeans_assignments(spark, sf_dir):
    """Deterministic Lloyd k-means (k=4, 3 rounds) over the embeddings
    table: init from the k lowest-id vectors, tie-broken argmin, empty
    clusters keep their centroid. The DuckDB oracle replays the identical
    rounds in pure SQL — the quantizer that feeds IVF routing and
    embedding-dedup blocking is itself correctness-gated."""
    from timeseries_spark.extensions.kmeans import kmeans_assign

    emb = load(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, k=4, max_iter=3)


@query(
    "kmeans_assign_routed",
    oracle=REGISTRY["kmeans_assignments"].oracle,
)
def kmeans_assign_routed(spark, sf_dir):
    """The extreme-k assignment path (SCALING.md lever (b)) forced at
    bench scale: the same k=4 Lloyd quantizer as kmeans_assignments,
    but assignment runs through the two-level router
    (assign_to_centroids_routed, cell_target=2 ⇒ a 2-cell router) —
    the fine centroid table is NEVER broadcast; probes meet cell-keyed
    centroids in a co-partitioned equi join and the per-vector argmin
    is a min(struct) aggregate. Triangle-inequality pruning is exact,
    so the output — and the oracle — are identical to the flat
    broadcast-argmin path: routing changes WHERE the argmin computes,
    never what it answers."""
    from timeseries_spark.extensions.kmeans import (
        assign_to_centroids_routed,
        kmeans_fit,
    )

    emb = load(spark, sf_dir, "embeddings")
    _, cents = kmeans_fit(emb, k=4, max_iter=3)
    return assign_to_centroids_routed(emb, cents, cell_target=2)


@query(
    "cluster_prototype_prune",
    oracle=(
        _kmeans_oracle_sql(k=4, dims=64, rounds=3)[0]
        + """
    SELECT cluster, vec_id, sq_dist, rank_in_cluster FROM (
      SELECT cluster, vid AS vec_id, round(sq_dist, 6) AS sq_dist,
             CAST(row_number() OVER (
               PARTITION BY cluster
               ORDER BY round(sq_dist, 6), vid) AS INT) AS rank_in_cluster
      FROM a2
    ) WHERE rank_in_cluster <= 50
    """
    ),
)
def cluster_prototype_prune(spark, sf_dir):
    """Prototype-based data pruning (SSL-prototypes / SemDeDup family):
    quantize the corpus (the same k=4 / 3-round Lloyd the dedup blocker
    uses), rank members by distance to their centroid, keep the 50 most
    prototypical per cluster — the curation pass that drops outliers
    before a training mix. Ties break on the 6dp-rounded distance then
    id, so the cut is engine-reproducible; the window partitions are
    cluster-sized (bounded by quantizer balance). keep_central=False
    flips to the hard-example curriculum (keep the most marginal)."""
    from timeseries_spark.extensions.kmeans import (
        cluster_prototype_prune as prune,
        kmeans_assign,
    )

    emb = load(spark, sf_dir, "embeddings")
    return prune(kmeans_assign(emb, k=4, max_iter=3), n_per_cluster=50)


_KM_BODY, _KM_LAST = _kmeans_oracle_sql(k=4, dims=64, rounds=3)


def _ivf_kmeans_oracle(nprobe: int) -> str:
    """Full IVF-over-kmeans replay: Lloyd rounds -> min-id cluster
    representatives -> route each query to its ``nprobe`` nearest reps ->
    brute-force inside the probed clusters."""
    return (
        _KM_BODY
        + f""",
    vcl AS (
      SELECT vid AS vec_id, v AS embedding, cluster FROM {_KM_LAST}
    ),
    reps AS (
      SELECT cluster, embedding AS rep_vec FROM (
        SELECT cluster, vec_id, embedding,
               row_number() OVER (PARTITION BY cluster ORDER BY vec_id) AS rn
        FROM vcl
      ) WHERE rn = 1
    ),
    qs AS (SELECT vid AS query_id, v AS q FROM pts WHERE vid < 8),
    routed AS (
      SELECT query_id, q, cluster FROM (
        SELECT qs.query_id, qs.q, r.cluster,
               row_number() OVER (
                 PARTITION BY qs.query_id
                 ORDER BY {_COS.format(a="qs.q", b="r.rep_vec")} DESC, r.cluster
               ) AS rr
        FROM qs CROSS JOIN reps r
      ) WHERE rr <= {nprobe}
    ),
    scored AS (
      SELECT rt.query_id, v.cluster, v.vec_id AS neighbor_id,
             {_COS.format(a="rt.q", b="v.embedding")} AS cos_sim
      FROM routed rt JOIN vcl v USING (cluster)
      WHERE v.vec_id != rt.query_id
    )
    SELECT query_id, cluster, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
      ) AS rank FROM scored
    ) WHERE rank <= 5
    """
    )


@query("ann_ivf_topk", oracle=_ivf_kmeans_oracle(nprobe=1))
def ann_ivf_topk(spark, sf_dir):
    """IVF(nprobe=1) top-5, trained in the build — the k-means
    quantizer (k=4, 3 deterministic Lloyd rounds) builds the inverted
    file, then ivf_topk routes each query to its nearest cluster
    representative (min-id member) and probes only that cluster.
    The 100TB plan shape: representative table broadcast, vector table
    touched once via cluster-key equi join, quantizer fit reduces
    through dim-keyed aggregates."""
    emb = load(spark, sf_dir, "embeddings")
    return ivf_topk(
        _ivf_clustered(emb), _queries_df(spark, sf_dir), "cluster", k=5
    )


@query("ann_ivf_kmeans", oracle=_ivf_kmeans_oracle(nprobe=2))
def ann_ivf_kmeans(spark, sf_dir):
    """IVF ANN routed by the TRAINED k-means quantizer instead of the
    dataset label: kmeans_assign clusters the corpus (k=4, 3 deterministic
    Lloyd rounds), ivf_topk routes each query to its nprobe=2 nearest
    cluster representatives and brute-forces only inside them — the full
    production composition (quantizer → inverted file → probe), every
    stage replayed exactly by the DuckDB oracle."""
    emb = load(spark, sf_dir, "embeddings")
    return ivf_topk(
        _ivf_clustered(emb), _queries_df(spark, sf_dir), "cluster", k=5,
        nprobe=2,
    )


@query(
    "dedup_embedding_kmeans",
    oracle=_KM_BODY
    + f""",
    vcl AS (
      SELECT vid AS vec_id, v AS embedding, cluster FROM {_KM_LAST}
    )
    SELECT a.cluster AS block, a.vec_id AS id_a, b.vec_id AS id_b,
           {_COS.format(a="a.embedding", b="b.embedding")} AS cos_sim
    FROM vcl a
    JOIN vcl b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE {_COS.format(a="a.embedding", b="b.embedding")} >= 0.30
    """,
)
def dedup_embedding_kmeans(spark, sf_dir):
    """Embedding near-dup pairs blocked by the TRAINED k-means quantizer
    instead of the dataset label — the production blocker composition:
    kmeans_assign buckets the corpus, the salted per-block self-join
    generates candidates only within a bucket. Same quantizer the IVF
    index uses, so one clustering serves both the ANN and dedup paths."""
    from timeseries_spark.extensions.kmeans import kmeans_assign
    from timeseries_spark.extensions.similarity import embedding_near_dup

    emb = load(spark, sf_dir, "embeddings")
    clusters = kmeans_assign(emb, k=4, max_iter=3)
    vecs = emb.join(clusters.select("vec_id", "cluster"), "vec_id")
    return embedding_near_dup(vecs, threshold=0.30, block_col="cluster")


def _semantic_dedup_oracle(km_body: str, km_last: str) -> str:
    """quantize -> block -> pair -> closure -> keep-one replay, shared
    by the pinned-k and auto-k (scaled) semantic-dedup queries — the
    only degree of freedom between them is the Lloyd replay's k."""
    return (
        km_body.replace("WITH ", "WITH RECURSIVE ", 1)
        + f""",
    vcl AS (
      SELECT vid AS vec_id, v AS embedding, cluster FROM {km_last}
    ),
    prs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM vcl a
      JOIN vcl b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE {_COS.format(a="a.embedding", b="b.embedding")} >= 0.30
    ),
    undirected AS (
      SELECT id_a AS src, id_b AS dst FROM prs
      UNION SELECT id_b, id_a FROM prs
    ),
    reach AS (
      SELECT src, dst FROM undirected
      UNION
      SELECT r.src, u.dst FROM reach r JOIN undirected u ON r.dst = u.src
    ),
    comp AS (
      SELECT e.vec_id,
             least(e.vec_id, coalesce(min(r.dst), e.vec_id)) AS component
      FROM embeddings e LEFT JOIN reach r ON r.src = e.vec_id
      GROUP BY e.vec_id
    ),
    sizes AS (
      SELECT component, CAST(count(*) AS BIGINT) AS n_members
      FROM comp GROUP BY component
    )
    SELECT c.vec_id AS doc_id, s.n_members, d.source
    FROM comp c
    JOIN sizes s USING (component)
    JOIN documents d ON d.doc_id = c.vec_id
    WHERE c.vec_id = c.component
    """
    )


@query(
    "semantic_dedup",
    oracle=_semantic_dedup_oracle(_KM_BODY, _KM_LAST),
)
def semantic_dedup(spark, sf_dir):
    """End-to-end semantic dedup over documents+embeddings — the composed
    pipeline a 100 TB corpus runs: k-means quantizer (k=4, 3 Lloyd
    rounds) blocks the corpus, the salted per-block self-join emits
    cosine>=0.30 near-dup pairs, pointer-jumping connected components
    canonicalize the pair graph, and one doc per component (the min id)
    survives with its duplicate-set size. Candidates never leave a
    cluster block (no all-pairs); the oracle replays the whole
    quantize->block->pair->closure->keep-one chain in one recursive
    CTE."""
    from timeseries_spark.extensions.dedup import semantic_dedup as sd

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    return sd(docs, emb, threshold=0.30, n_clusters=4, kmeans_iter=3)


# auto-k Lloyd replay: k enters the oracle only through c0's LIMIT, so a
# scalar subquery over the same pts CTE Spark counts replays the
# data-derived k exactly (same count, same ceil, same floor-at-2)
_AUTO_K_SQL = (
    "(SELECT CAST(greatest(2, ceil(count(*) / 512.0)) AS BIGINT) FROM pts)"
)
_KM_AUTO_BODY, _KM_AUTO_LAST = _kmeans_oracle_sql(
    k=_AUTO_K_SQL, dims=64, rounds=3
)


@query(
    "semantic_dedup_scaled",
    oracle=_semantic_dedup_oracle(_KM_AUTO_BODY, _KM_AUTO_LAST),
)
def semantic_dedup_scaled(spark, sf_dir):
    """Semantic dedup with the CORPUS-SIZED blocker — the 100 TB
    configuration: k = max(2, ceil(n_vectors / 512)) holds the expected
    cluster block near 512 vectors as the corpus grows, so per-block
    pair generation costs n·512 cosine folds (linear) instead of the
    pinned-k n²/k (quadratic; measured 11.7×-18.9× wall for 10× data at
    sf1 with k=4 — experiments/SEMDEDUP_KNOB_r11.json). k is
    semantics-affecting (different blocks ⇒ different candidate pairs ⇒
    a different kept set), so auto-k is its own oracle-gated query: the
    DuckDB replay derives the SAME k from the same table via a scalar
    subquery in the Lloyd init's LIMIT, then replays
    quantize->block->pair->closure->keep-one verbatim. The pinned-k
    `semantic_dedup` stays registered for compat."""
    from timeseries_spark.extensions.dedup import semantic_dedup as sd

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    return sd(
        docs, emb, threshold=0.30, n_clusters="auto", kmeans_iter=3,
        target_block_size=512,
    )


def _hp_bucket_sql(vec: str, planes) -> str:
    """DuckDB spelling of extensions.similarity.hyperplane_bucket: same
    plane literals, same left-fold dot, same sign decision."""
    terms = []
    for p, row in enumerate(planes):
        arr = "[" + ",".join(str(x) for x in row) + "]::DOUBLE[]"
        dot = (
            "list_reduce(list_prepend(0.0::DOUBLE, "
            f"list_transform(generate_series(1, {len(row)}), "
            f"i -> {vec}[i]::DOUBLE * ({arr})[i])), (x, y) -> x + y)"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _hp_oracle(n_planes: int = 4) -> str:
    from timeseries_spark.extensions.similarity import rademacher_planes

    planes = rademacher_planes(n_planes, 64)
    return f"""
    WITH c AS (
      SELECT vec_id, embedding,
             {_hp_bucket_sql("embedding", planes)} AS bucket
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS qv,
             {_hp_bucket_sql("embedding", planes)} AS bucket
      FROM embeddings WHERE vec_id < 8
    ),
    scored AS (
      SELECT q.query_id, q.bucket, c.vec_id AS neighbor_id,
             {_COS.format(a="q.qv", b="c.embedding")} AS cos_sim
      FROM q JOIN c ON c.bucket = q.bucket
      WHERE c.vec_id != q.query_id
    )
    SELECT query_id, bucket, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
      ) AS rank FROM scored
    ) WHERE rank <= 5
    """


@query("ann_hyperplane_topk", oracle=_hp_oracle())
def ann_hyperplane_topk(spark, sf_dir):
    """Random-hyperplane LSH ANN (4 planes → 16 sign buckets): the
    training-free bucketed scale path beside IVF — bucket ids are a
    codegen'd projection over deterministic md5-derived ±1 planes, the
    corpus is touched once via a bucket equi-join against the broadcast
    query side, and the per-query top-k is bounded by one bucket's
    width. Both engines embed the SAME plane literals, so bucket
    assignment and results are exact matches."""
    from timeseries_spark.extensions.similarity import hyperplane_lsh_topk

    emb = load(spark, sf_dir, "embeddings")
    return hyperplane_lsh_topk(
        emb, _queries_df(spark, sf_dir), k=5, n_planes=4, dims=64
    )


def _hp_multiprobe_oracle() -> str:
    from timeseries_spark.extensions.similarity import rademacher_planes

    planes = rademacher_planes(4, 64)
    probes = "\n      UNION ALL ".join(
        f"SELECT query_id, qv, xor(bucket, {1 << p}) AS bucket FROM q"
        for p in range(4)
    )
    return f"""
    WITH c AS (
      SELECT vec_id, embedding,
             {_hp_bucket_sql("embedding", planes)} AS bucket
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS qv,
             {_hp_bucket_sql("embedding", planes)} AS bucket
      FROM embeddings WHERE vec_id < 8
    ),
    probes AS (
      SELECT query_id, qv, bucket FROM q
      UNION ALL {probes}
    ),
    scored AS (
      SELECT p.query_id, p.bucket, c.vec_id AS neighbor_id,
             {_COS.format(a="p.qv", b="c.embedding")} AS cos_sim
      FROM probes p JOIN c ON c.bucket = p.bucket
      WHERE c.vec_id != p.query_id
    )
    SELECT query_id, CAST(bucket AS INT) AS bucket, neighbor_id, cos_sim,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
      ) AS rank FROM scored
    ) WHERE rank <= 5
    """


def _hp_hires_oracle(n_planes: int = 5) -> str:
    from timeseries_spark.extensions.similarity import rademacher_planes

    planes = rademacher_planes(n_planes, 64)
    masks = [1 << p for p in range(n_planes)] + [
        (1 << p) | (1 << q)
        for p in range(n_planes)
        for q in range(p + 1, n_planes)
    ]
    probes = "\n      UNION ALL ".join(
        f"SELECT query_id, qv, xor(bucket, {m}) AS bucket FROM q"
        for m in masks
    )
    return f"""
    WITH c AS (
      SELECT vec_id, embedding,
             {_hp_bucket_sql("embedding", planes)} AS bucket
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS qv,
             {_hp_bucket_sql("embedding", planes)} AS bucket
      FROM embeddings WHERE vec_id < 8
    ),
    probes AS (
      SELECT query_id, qv, bucket FROM q
      UNION ALL {probes}
    ),
    scored AS (
      SELECT p.query_id, p.bucket, c.vec_id AS neighbor_id,
             {_COS.format(a="p.qv", b="c.embedding")} AS cos_sim
      FROM probes p JOIN c ON c.bucket = p.bucket
      WHERE c.vec_id != p.query_id
    )
    SELECT query_id, CAST(bucket AS INT) AS bucket, neighbor_id, cos_sim,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
      ) AS rank FROM scored
    ) WHERE rank <= 5
    """


@query("ann_hyperplane_hires", oracle=_hp_hires_oracle())
def ann_hyperplane_hires(spark, sf_dir):
    """Hyperplane LSH at the recall-pinned HIRES operating point
    (VERDICT r15 item 5): 5 planes (32 buckets — half the candidate
    cost per probe of the 4-plane default) with a radius-2 multiprobe
    budget (1 + 5 + 10 = 16 probes). The clustered-geometry study
    (experiments/ANN_RECALL_CLUSTERED_r15.json) measured single-bucket
    recall@5 FALLING 0.625→0.425 as planes go 3→5 — finer buckets are
    cheaper but blind — and radius-2 probing is the budget that buys
    the recall back while probe count stays a function of n_planes
    only (the LSH analog of ann_pq_hires' rerank-pool rule; measured
    recall quoted in experiments/ANN_RECALL_HIRES_r16.json). Same
    broadcast probe-explode + bucket equi-join plan shape; probe
    buckets are distinct so no candidate is scored twice."""
    from timeseries_spark.extensions.similarity import hyperplane_lsh_topk

    emb = load(spark, sf_dir, "embeddings")
    return hyperplane_lsh_topk(
        emb, _queries_df(spark, sf_dir), k=5, n_planes=5, dims=64,
        multiprobe=True, probe_radius=2,
    )


@query("ann_hyperplane_multiprobe", oracle=_hp_multiprobe_oracle())
def ann_hyperplane_multiprobe(spark, sf_dir):
    """Multi-probe hyperplane LSH: each query probes its own sign bucket
    plus the 4 hamming-1 buckets (one flipped plane each) — the standard
    recall upgrade over single-bucket LSH at (n_planes+1)x probe cost,
    same broadcast + bucket-equi-join plan shape. Results remain exact
    cross-engine matches."""
    from timeseries_spark.extensions.similarity import hyperplane_lsh_topk

    emb = load(spark, sf_dir, "embeddings")
    return hyperplane_lsh_topk(
        emb, _queries_df(spark, sf_dir), k=5, n_planes=4, dims=64,
        multiprobe=True,
    )


@query(
    "ann_sq8_topk",
    oracle=f"""
    WITH ex AS (
      SELECT vec_id, embedding[t.i]::DOUBLE AS x, t.i AS dim
      FROM embeddings, unnest(generate_series(1, 64)) AS t(i)
    ),
    stats AS (
      SELECT dim, min(x::DOUBLE) AS mn,
             max(x::DOUBLE) - min(x::DOUBLE) AS rng
      FROM ex GROUP BY dim
    ),
    arrs AS (
      SELECT list(mn ORDER BY dim) AS mins,
             list(rng ORDER BY dim) AS rngs
      FROM stats
    ),
    enc AS (
      SELECT vec_id, embedding,
             list_transform(generate_series(1, 64), i ->
               mins[i] + (CASE WHEN rngs[i] > 0
                    THEN floor(((embedding[i]::DOUBLE - mins[i]) * 255.0)
                               / rngs[i])
                    ELSE 0 END * rngs[i]) / 255.0) AS dq
      FROM embeddings CROSS JOIN arrs
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id < 8),
    approx AS (
      SELECT q.query_id, q.qv, e.vec_id AS neighbor_id, e.embedding,
             {_COS.format(a="q.qv", b="e.dq")} AS approx_sim
      FROM q CROSS JOIN enc e
      WHERE e.vec_id != q.query_id
    ),
    pool AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY approx_sim DESC, neighbor_id
        ) AS ar FROM approx
      ) WHERE ar <= 20
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
    FROM (
      SELECT query_id, neighbor_id,
             {_COS.format(a="qv", b="embedding")} AS cos_sim,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY {_COS.format(a="qv", b="embedding")} DESC,
                        neighbor_id
             ) AS rank
      FROM pool
    ) WHERE rank <= 5
    """,
)
def ann_sq8_topk(spark, sf_dir):
    """Scalar-quantized (int8) ANN with exact re-ranking: per-dim affine
    codes (floor — engine-identical), approximate cosine on dequantized
    vectors picks a 20-candidate pool per query, exact full-precision
    cosine re-ranks the pool to the final top-5. The oracle replays the
    whole quantize -> probe -> re-rank pipeline — including the floor'd
    codes — so results are exact matches, not approximations."""
    from timeseries_spark.extensions.similarity import sq8_topk

    emb = load(spark, sf_dir, "embeddings")
    return sq8_topk(
        emb, _queries_df(spark, sf_dir), k=5, dims=64, rerank_factor=4
    )


def _pq_enc_ctes(
    m: int = 2, sub: int = 32, kk: int = 4, rounds: int = 2,
    src: str = "fpts",
) -> list[str]:
    """CTE list (no WITH) replaying extensions/pq.pq_encode: per-subspace
    deterministic Lloyd rounds on the vector slice, codebook =
    per-cluster per-dim means of the FINAL assignment, reconstruction =
    concatenated codebook entries -> ``enc`` (vid, fv, dq). ``src`` must
    provide (vid, fv)."""
    d = "(p.v[i] - c.c[i]) * (p.v[i] - c.c[i])"
    ctes = []
    for s in range(m):
        p = f"s{s}"
        lo, hi = s * sub + 1, (s + 1) * sub
        ctes.append(
            f"{p}pts AS (SELECT vid, list_slice(fv, {lo}, {hi}) AS v "
            f"FROM {src})"
        )
        ctes.append(
            f"{p}c0 AS (SELECT (row_number() OVER (ORDER BY vid)) - 1 "
            f"AS cid, v AS c FROM {p}pts ORDER BY vid LIMIT {kk})"
        )
        for r in range(rounds):
            ctes.append(f"""{p}a{r} AS (
      SELECT vid, v, cid AS cluster, sq_dist FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vid ORDER BY sq_dist, cid) AS rn
        FROM (
          SELECT p.vid, p.v, c.cid,
                 list_sum(list_transform(
                   generate_series(1, {sub}), i -> {d})) AS sq_dist
          FROM {p}pts p CROSS JOIN {p}c{r} c
        )
      ) WHERE rn = 1
    )""")
            if r < rounds - 1:
                ctes.append(f"""{p}m{r + 1} AS (
      SELECT cluster AS cid, list(mv ORDER BY dim) AS c FROM (
        SELECT a.cluster, i AS dim, avg(a.v[i]) AS mv
        FROM {p}a{r} a, unnest(generate_series(1, {sub})) AS g(i)
        GROUP BY a.cluster, i
      ) GROUP BY cluster
    )""")
                ctes.append(
                    f"{p}c{r + 1} AS (SELECT p.cid, coalesce(mm.c, p.c) "
                    f"AS c FROM {p}c{r} p LEFT JOIN {p}m{r + 1} mm "
                    f"ON mm.cid = p.cid)"
                )
        last = f"{p}a{rounds - 1}"
        ctes.append(f"""{p}book AS (
      SELECT cluster, list(mv ORDER BY dim) AS bc FROM (
        SELECT a.cluster, i AS dim, avg(a.v[i]) AS mv
        FROM {last} a, unnest(generate_series(1, {sub})) AS g(i)
        GROUP BY a.cluster, i
      ) GROUP BY cluster
    )""")
        ctes.append(
            f"{p}rec AS (SELECT a.vid, b.bc AS p{s} FROM {last} a "
            f"JOIN {p}book b USING (cluster))"
        )
    joins = "s0rec" + "".join(
        f" JOIN s{s}rec USING (vid)" for s in range(1, m)
    )
    concat = "p0"
    for s in range(1, m):
        concat = f"list_concat({concat}, p{s})"
    ctes.append(
        f"rec AS (SELECT vid, {concat} AS dq FROM {joins})"
    )
    ctes.append(
        f"enc AS (SELECT f.vid, f.fv, r.dq FROM {src} f JOIN rec r "
        "USING (vid))"
    )
    return ctes


def _pq_oracle(
    m: int = 2, sub: int = 32, kk: int = 4, rounds: int = 2,
    k: int = 5, pool: int = 20,
) -> str:
    """DuckDB replay of extensions/pq.pq_topk: the shared encoding CTEs
    plus approx-cosine pool -> exact re-rank. Same fold orders, 6dp
    rounds, and id tie-breaks as the Spark side."""
    ctes = [
        "WITH fpts AS (SELECT vec_id AS vid, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS fv "
        "FROM embeddings)"
    ]
    ctes += _pq_enc_ctes(m, sub, kk, rounds)
    ctes.append("q AS (SELECT vid AS query_id, fv AS qv FROM fpts WHERE vid < 8)")
    ctes.append(f"""approx AS (
      SELECT q.query_id, q.qv, e.vid AS neighbor_id, e.fv AS emb,
             {_COS.format(a="q.qv", b="e.dq")} AS approx_sim
      FROM q CROSS JOIN enc e
      WHERE e.vid != q.query_id
    )""")
    ctes.append(f"""pool AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY approx_sim DESC, neighbor_id
        ) AS ar FROM approx
      ) WHERE ar <= {pool}
    )""")
    return ",\n    ".join(ctes) + f"""
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
    FROM (
      SELECT query_id, neighbor_id,
             {_COS.format(a="qv", b="emb")} AS cos_sim,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY {_COS.format(a="qv", b="emb")} DESC, neighbor_id
             ) AS rank
      FROM pool
    ) WHERE rank <= {k}
    """


@query("ann_pq_topk", oracle=_pq_oracle(m=2, sub=32, kk=4, rounds=2))
def ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN: two 32-dim subspaces each train a
    deterministic 4-centroid Lloyd codebook (2 rounds); corpus vectors
    are approximated by their concatenated codebook entries (codes = 2
    small ints per vector — the m-byte compression tier beyond SQ8's
    one-byte-per-dim), ranked by approximate cosine, and the 20-wide
    per-query pool is re-ranked with exact cosine. The oracle replays
    subspace training, codebook means, reconstruction, pool, and
    re-rank exactly."""
    from timeseries_spark.extensions.pq import pq_fit_books, pq_topk

    emb = load(spark, sf_dir, "embeddings")
    books = pq_fit_books(emb, m=2, dims=64, n_clusters=4, kmeans_iter=2)
    return pq_topk(
        emb, _queries_df(spark, sf_dir), books, k=5, m=2, dims=64,
        n_clusters=4, rerank_factor=4,
    )


@query(
    "ann_pq_hires",
    oracle=_pq_oracle(m=8, sub=8, kk=4, rounds=2, k=5, pool=60),
)
def ann_pq_hires(spark, sf_dir):
    """PQ at the HIGHER-RESOLUTION operating point the clustered-
    geometry study motivated (experiments/ANN_RECALL_CLUSTERED_r15):
    eight 8-dim subspaces (16-bit codes — still 16× smaller than SQ8)
    and a 60-wide rerank pool. The m=2 frontier points collapse into
    approximate-distance ties on any corpus big enough that 16 code
    cells can't separate 20k vectors; finer codes + a pool sized past
    the expected cluster width keep the id tie-break from deciding the
    pool. Same deterministic Lloyd codebooks, 6dp rounds, and
    (sim desc, id) tie-breaks as ann_pq_topk — the oracle replays all
    eight subspace trainings, reconstruction, pool, and exact rerank."""
    from timeseries_spark.extensions.pq import pq_fit_books, pq_topk

    emb = load(spark, sf_dir, "embeddings")
    books = pq_fit_books(emb, m=8, dims=64, n_clusters=4, kmeans_iter=2)
    return pq_topk(
        emb, _queries_df(spark, sf_dir), books, k=5, m=8, dims=64,
        n_clusters=4, rerank_factor=12,
    )


def _ivf_pq_oracle(
    nprobe: int = 2, m: int = 2, sub: int = 32, pq_kk: int = 4,
    pq_rounds: int = 2, k: int = 5, pool: int = 20,
) -> str:
    """Full IVF-PQ replay: coarse full-dim k-means (the _KM_BODY rounds)
    routes queries to nprobe clusters; inside probed clusters candidates
    rank on the PQ reconstruction (the shared _pq_enc_ctes replay) and
    the pool re-ranks with exact cosine."""
    return (
        _KM_BODY
        + f""",
    vcl AS (SELECT vid AS vec_id, cluster FROM {_KM_LAST}),
    reps AS (
      SELECT r.cluster, p.v AS rep_vec
      FROM (SELECT cluster, min(vid) AS rid FROM {_KM_LAST}
            GROUP BY cluster) r
      JOIN pts p ON p.vid = r.rid
    ),
    qs AS (SELECT vid AS query_id, v AS q FROM pts WHERE vid < 8),
    routed AS (
      SELECT query_id, q, cluster FROM (
        SELECT qs.query_id, qs.q, r.cluster,
               row_number() OVER (
                 PARTITION BY qs.query_id
                 ORDER BY {_COS.format(a="qs.q", b="r.rep_vec")} DESC,
                          r.cluster
               ) AS rr
        FROM qs CROSS JOIN reps r
      ) WHERE rr <= {nprobe}
    ),
    fpts AS (SELECT vid, v AS fv FROM pts),
    """
        + ",\n    ".join(_pq_enc_ctes(m, sub, pq_kk, pq_rounds))
        + f""",
    approx AS (
      SELECT rt.query_id, rt.q AS qv, e.vid AS neighbor_id, e.fv AS emb,
             {_COS.format(a="rt.q", b="e.dq")} AS approx_sim
      FROM routed rt
      JOIN vcl c ON c.cluster = rt.cluster
      JOIN enc e ON e.vid = c.vec_id
      WHERE e.vid != rt.query_id
    ),
    pool AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY approx_sim DESC, neighbor_id
        ) AS ar FROM approx
      ) WHERE ar <= {pool}
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
    FROM (
      SELECT query_id, neighbor_id,
             {_COS.format(a="qv", b="emb")} AS cos_sim,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY {_COS.format(a="qv", b="emb")} DESC, neighbor_id
             ) AS rank
      FROM pool
    ) WHERE rank <= {k}
    """
    )


@query("ann_ivf_pq", oracle=_ivf_pq_oracle(nprobe=2))
def ann_ivf_pq(spark, sf_dir):
    """IVF-PQ — the production ANN composition: the trained full-dim
    k-means quantizer (k=4, 3 Lloyd rounds) routes each query to its 2
    nearest cluster representatives, candidates inside the probed
    clusters rank on the PQ reconstruction (two 32-dim subspace
    codebooks, 2 rounds each — m code bytes per vector instead of the
    full embedding), and the 20-wide pool re-ranks with exact cosine.
    Both quantizers, routing, pooling, and re-rank replay exactly in
    the oracle."""
    from timeseries_spark.extensions.pq import ivf_pq_topk, pq_fit_books

    emb = load(spark, sf_dir, "embeddings")
    books = pq_fit_books(emb, m=2, dims=64, n_clusters=4, kmeans_iter=2)
    return ivf_pq_topk(
        _ivf_clustered(emb), _queries_df(spark, sf_dir), "cluster", books,
        k=5, nprobe=2, m=2, dims=64, pq_clusters=4, rerank_factor=4,
    )


@query("ann_ivf_staged", oracle=_ivf_kmeans_oracle(nprobe=1))
def ann_ivf_staged(spark, sf_dir):
    """IVF(nprobe=1) top-5 from a STAGED quantizer — the fit/serve
    split the round-6 verdict asked for: the k-means centroid table is
    trained once and persisted as a k-row parquet artifact
    (extensions/staging.py), and this probe query's plan is a pure
    Catalyst tree over two parquet sources — a zero-shuffle broadcast
    argmin quantizes the corpus (extensions/kmeans.py:
    assign_to_centroids), then routing + probe as in ann_ivf_topk.
    Output is hash-identical to ann_ivf_topk (same oracle): staging
    changes WHEN the quantizer trains, never what it answers."""
    from timeseries_spark.extensions.kmeans import assign_to_centroids
    from timeseries_spark.extensions.staging import staged_centroids

    emb = load(spark, sf_dir, "embeddings")
    cents = staged_centroids(
        spark, emb, f"{sf_dir}/embeddings.parquet", k=4, max_iter=3
    )
    vecs = _ivf_clustered(emb, assign_to_centroids(emb, cents))
    return ivf_topk(vecs, _queries_df(spark, sf_dir), "cluster", k=5)


@query(
    "semantic_dedup_staged",
    oracle=REGISTRY["semantic_dedup"].oracle,
)
def semantic_dedup_staged(spark, sf_dir):
    """Semantic dedup from the SAME staged quantizer artifact the IVF
    probe uses (one clustering serves both the ANN index and the dedup
    blocker): block by broadcast-argmin assignment against persisted
    centroids, then pair -> connected components -> keep-one exactly as
    semantic_dedup. Hash-identical to semantic_dedup; the Lloyd subtree
    is gone from the per-run plan."""
    from timeseries_spark.extensions.dedup import semantic_dedup as sd
    from timeseries_spark.extensions.staging import staged_centroids

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    cents = staged_centroids(
        spark, emb, f"{sf_dir}/embeddings.parquet", k=4, max_iter=3
    )
    return sd(docs, emb, threshold=0.30, centroids=cents)


@query(
    "semantic_dedup_scaled_staged",
    oracle=REGISTRY["semantic_dedup_scaled"].oracle,
)
def semantic_dedup_scaled_staged(spark, sf_dir):
    """The production composition at 100 TB: CORPUS-SIZED k (see
    semantic_dedup_scaled) AND the staged quantizer — the auto-k Lloyd
    fit runs once per (corpus fingerprint, k) and every later dedup run
    is a broadcast-argmin blocking against the persisted k-row centroid
    table. The stage key includes k, so a corpus regeneration that
    changes n past a k boundary refits automatically. Hash-identical to
    semantic_dedup_scaled (same oracle): staging changes WHEN the
    quantizer trains, never what it answers."""
    from timeseries_spark.extensions.dedup import auto_n_clusters
    from timeseries_spark.extensions.dedup import semantic_dedup as sd
    from timeseries_spark.extensions.staging import staged_centroids

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    k = auto_n_clusters(emb.count(), target_block_size=512)
    cents = staged_centroids(
        spark, emb, f"{sf_dir}/embeddings.parquet", k=k, max_iter=3
    )
    return sd(docs, emb, threshold=0.30, centroids=cents)


# sampled-fit oracle (VERDICT r15 lever): the Lloyd replay's point set
# is the deterministic hash sample (md5('ksample:'||vec_id) % 8 = 0 —
# ~64 fit points per centroid at target_block_size=512), while k still
# binds to the FULL corpus count (blocks stay ~512 as data grows) and
# the final assignment runs over ALL vectors against the fitted
# centroids — exactly kmeans_fit(sample) + assign_to_centroids(all).
_SAMPLE_PRED = (
    "('0x' || substring(md5('ksample:' || CAST(vec_id AS VARCHAR)), 1, 15))"
    "::BIGINT % 8 = 0"
)
_CORPUS_K_SQL = (
    "(SELECT CAST(greatest(2, ceil(count(*) / 512.0)) AS BIGINT)"
    " FROM embeddings)"
)
_KM_SAMPLED_BODY, _ = _kmeans_oracle_sql(
    k=_CORPUS_K_SQL, dims=64, rounds=3, where=f"WHERE {_SAMPLE_PRED}"
)
_D_ALL = "(p.v[i] - c.c[i]) * (p.v[i] - c.c[i])"
# assign EVERY vector against the sampled fit's final centroid table
# (c2 for rounds=3 — the table kmeans_fit returns and
# assign_to_centroids consumes); same tie-break as the flat path
_ASSIGN_ALL_SQL = f""",
    allpts AS (
      SELECT vec_id AS vid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    aall AS (
      SELECT vid, v, cid AS cluster, sq_dist FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vid ORDER BY sq_dist, cid) AS rn
        FROM (
          SELECT p.vid, p.v, c.cid,
                 list_sum(list_transform(
                   generate_series(1, 64), i -> {_D_ALL})) AS sq_dist
          FROM allpts p CROSS JOIN c2 c
        )
      ) WHERE rn = 1
    )"""


@query(
    "semantic_dedup_sampled",
    oracle=_semantic_dedup_oracle(_KM_SAMPLED_BODY + _ASSIGN_ALL_SQL, "aall"),
)
def semantic_dedup_sampled(spark, sf_dir):
    """Semantic dedup with a SAMPLED-FIT corpus-sized blocker — the
    mini-batch-Lloyd production lever (VERDICT r15 item 6): the
    quantizer fits on a deterministic ~12.5% hash sample
    (md5('ksample:'||id) % 8 = 0, ≈64 fit points per centroid at
    block target 512), then EVERY vector is broadcast-argmin assigned
    against the fitted centroids. k still derives from the FULL corpus
    count, so blocks stay ~512 vectors as data grows — pair generation
    is unchanged-linear; the fit's n·k term drops 8×. The sample
    changes the centroids (⇒ blocks ⇒ pairs ⇒ kept set), so this is
    its own oracle-gated query: the DuckDB replay runs Lloyd on the
    SAME hash sample with k from the same corpus-count subquery, then
    assigns all rows against the final centroid table verbatim. The
    exact-fit pair (semantic_dedup_scaled[_staged]) stays registered."""
    from timeseries_spark.extensions.dedup import auto_n_clusters
    from timeseries_spark.extensions.dedup import semantic_dedup as sd
    from timeseries_spark.extensions.hashing import md5_long
    from timeseries_spark.extensions.kmeans import kmeans_fit

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    k = auto_n_clusters(emb.count(), target_block_size=512)
    sample = emb.filter(
        md5_long(
            F.concat(F.lit("ksample:"), F.col("vec_id").cast("string"))
        )
        % 8
        == 0
    )
    _, cents = kmeans_fit(sample, k=k, max_iter=3)
    return sd(docs, emb, threshold=0.30, centroids=cents)


def _semantic_incremental_oracle(
    shard_pred: str = "vec_id % 5 = 0",
    rounds: int = 3,
    dims: int = 64,
    threshold: float = 0.40,
    k: int | str = 4,
) -> str:
    """Replay of incremental (shard-vs-corpus) semantic dedup: Lloyd on
    the CORPUS rows only, shard rows argmin-assigned against the FINAL
    centroid table (the one the corpus's last assignment ranked
    against — c{rounds-1}, exactly what kmeans_fit returns and
    assign_to_centroids consumes), then a shard drops iff any corpus
    vector in its block reaches cosine >= threshold (0.40 keeps both
    the drop and the keep sets non-empty at every proof tier — an
    empty result would gate nothing)."""
    body, last = _kmeans_oracle_sql(
        k=k, dims=dims, rounds=rounds,
        where=f"WHERE NOT ({shard_pred})",
    )
    cents = f"c{rounds - 1}"
    d = "(s.v[i] - c.c[i]) * (s.v[i] - c.c[i])"
    return (
        body
        + f""",
    shard AS (
      SELECT vec_id AS vid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE {shard_pred}
    ),
    sassign AS (
      SELECT vid, v, cid AS cluster FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vid ORDER BY sq_dist, cid) AS rn
        FROM (
          SELECT s.vid, s.v, c.cid,
                 list_sum(list_transform(
                   generate_series(1, {dims}), i -> {d})) AS sq_dist
          FROM shard s CROSS JOIN {cents} c
        )
      ) WHERE rn = 1
    ),
    hits AS (
      SELECT DISTINCT s.vid
      FROM sassign s JOIN {last} c ON c.cluster = s.cluster
      WHERE {_COS.format(a="s.v", b="c.v")} >= {threshold}
    )
    SELECT s.vid AS doc_id, d.source
    FROM shard s
    JOIN documents d ON d.doc_id = s.vid
    WHERE s.vid NOT IN (SELECT vid FROM hits)
    """
    )


@query(
    "semantic_dedup_incremental",
    oracle=_semantic_incremental_oracle(),
)
def semantic_dedup_incremental(spark, sf_dir):
    """Ingestion-time semantic dedup: the 'new shard' (every 5th
    embedding) is deduplicated AGAINST the existing corpus (the rest) —
    a new doc drops when any corpus vector in its quantizer block
    reaches cosine >= 0.40. The quantizer (k=4, 3 Lloyd rounds) fits on
    the CORPUS only — a shard must never move the blocks it is judged
    against — and the shard assigns by the zero-shuffle broadcast
    argmin. The corpus is scanned once, never self-joined; the
    candidate join is the salted (cluster, salt) equi join, so pair
    cost is |shard| x block_size cosine folds. The embedding-space
    twin of dedup_incremental's n-gram path."""
    from timeseries_spark.extensions.dedup import incremental_semantic_dedup

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    is_shard = F.pmod(F.col("vec_id"), F.lit(5)) == 0
    return incremental_semantic_dedup(
        docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0),
        emb.filter(is_shard),
        emb.filter(~is_shard),
        threshold=0.40,
        n_clusters=4,
        kmeans_iter=3,
    )


@query(
    "semantic_dedup_incremental_staged",
    oracle=REGISTRY["semantic_dedup_incremental"].oracle,
)
def semantic_dedup_incremental_staged(spark, sf_dir):
    """The production shape of incremental semantic dedup: the corpus
    quantizer is a STAGED artifact (fit once per corpus fingerprint,
    tag-keyed apart from the full-table IVF quantizer), so every
    shard's ingestion pass is a pure Catalyst plan — two broadcast
    argmin assignments against a k-row parquet read, the salted
    block equi join, one anti join. No Lloyd subtree per shard.
    Hash-identical to semantic_dedup_incremental (same oracle):
    staging changes WHEN the quantizer trains, never what it
    answers."""
    from timeseries_spark.extensions.dedup import incremental_semantic_dedup
    from timeseries_spark.extensions.staging import staged_centroids

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    is_shard = F.pmod(F.col("vec_id"), F.lit(5)) == 0
    corpus = emb.filter(~is_shard)
    cents = staged_centroids(
        spark, corpus, f"{sf_dir}/embeddings.parquet", k=4, max_iter=3,
        tag="semincr",
    )
    return incremental_semantic_dedup(
        docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0),
        emb.filter(is_shard),
        corpus,
        threshold=0.40,
        centroids=cents,
    )


@query(
    "semantic_dedup_incremental_scaled",
    oracle=_semantic_incremental_oracle(k=_AUTO_K_SQL),
)
def semantic_dedup_incremental_scaled(spark, sf_dir):
    """Incremental semantic dedup with the CORPUS-SIZED blocker — the
    ingestion path's 100 TB configuration. The pinned-k twin
    (semantic_dedup_incremental) holds k=4, so its block_size grows
    ∝ n/4 and the shard×block candidate join is structurally quadratic
    (measured 14.21× wall for 10× data, BENCH_RATIO_SF1_r13.json);
    here k = max(2, ceil(corpus_n / 512)) pins blocks near 512 vectors,
    making the candidate join |shard|·512 cosine folds — linear in the
    shard, flat in the corpus. k derives from the CORPUS row count only
    (the shard must not size the blocks it is judged against); the
    DuckDB replay computes the same k via a scalar subquery over the
    same corpus-filtered pts CTE that Spark counts. k is
    semantics-affecting, so this is its own oracle-gated query and the
    pinned pair stays registered for compat (tagged compat_quadratic
    in bench artifacts)."""
    from timeseries_spark.extensions.dedup import incremental_semantic_dedup

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    is_shard = F.pmod(F.col("vec_id"), F.lit(5)) == 0
    return incremental_semantic_dedup(
        docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0),
        emb.filter(is_shard),
        emb.filter(~is_shard),
        threshold=0.40,
        n_clusters="auto",
        kmeans_iter=3,
        target_block_size=512,
    )


@query(
    "semantic_dedup_incremental_scaled_staged",
    oracle=REGISTRY["semantic_dedup_incremental_scaled"].oracle,
)
def semantic_dedup_incremental_scaled_staged(spark, sf_dir):
    """The production ingestion composition at 100 TB: corpus-sized k
    AND the staged quantizer — auto_n_clusters sizes k from one corpus
    count, staged_centroids fits once per (corpus fingerprint, k,
    tag) and every later shard's pass is a pure Catalyst plan: two
    broadcast argmin assignments against a k-row parquet read, the
    salted (cluster, salt) block equi join, one anti join — no Lloyd
    subtree, no quadratic term. The stage key includes k, so corpus
    growth past a k boundary refits automatically. Hash-identical to
    semantic_dedup_incremental_scaled (same oracle): staging changes
    WHEN the quantizer trains, never what it answers."""
    from timeseries_spark.extensions.dedup import (
        auto_n_clusters,
        incremental_semantic_dedup,
    )
    from timeseries_spark.extensions.staging import staged_centroids

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    is_shard = F.pmod(F.col("vec_id"), F.lit(5)) == 0
    corpus = emb.filter(~is_shard)
    k = auto_n_clusters(corpus.count(), target_block_size=512)
    cents = staged_centroids(
        spark, corpus, f"{sf_dir}/embeddings.parquet", k=k, max_iter=3,
        tag="semincr",
    )
    return incremental_semantic_dedup(
        docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0),
        emb.filter(is_shard),
        corpus,
        threshold=0.40,
        centroids=cents,
    )


_RECALL_TIERS = (
    "ann_hyperplane_topk",
    "ann_hyperplane_multiprobe",
    "ann_ivf_topk",
    "ann_sq8_topk",
    "ann_pq_topk",
)


def _recall_oracle() -> str:
    """Recall@5 of every ANN tier against the brute-force ground truth,
    composed from the ALREADY-VERIFIED per-tier oracles (each tier's
    SQL is the registry string that hash-matches its Spark twin, nested
    as a derived table)."""
    brute = REGISTRY["ann_brute_force_topk"].oracle
    parts = []
    for t in _RECALL_TIERS:
        parts.append(
            f"""
      SELECT '{t}' AS tier, CAST(count(*) AS BIGINT) AS hits
      FROM ({REGISTRY[t].oracle}) a
      JOIN truth USING (query_id, neighbor_id)"""
        )
    union = "\n      UNION ALL".join(parts)
    return f"""
    WITH truth AS (SELECT query_id, neighbor_id FROM ({brute}) t),
    tn AS (SELECT CAST(count(*) AS BIGINT) AS truth_n FROM truth),
    tiers AS ({union}
    )
    SELECT tier, hits, truth_n,
           round(hits::DOUBLE / truth_n, 4) AS recall
    FROM tiers, tn
    """


@query("ann_recall_report", oracle=_recall_oracle())
def ann_recall_report(spark, sf_dir):
    """Recall@5 per ANN tier vs the exact brute-force top-5 — pins the
    accuracy/cost trade of EVERY approximate tier (hyperplane LSH ± 
    multiprobe, trained IVF, SQ8 re-rank, PQ re-rank) as an
    oracle-gated number, the way lsh_quality_report already pins
    Jaccard-LSH. Ground truth is checkpointed once (5 tiers consume
    it); each tier contributes one bounded semi-join + single-row
    aggregate, so the report costs the tiers themselves plus
    negligible glue. Reuses the REGISTERED tier callables verbatim, so
    the measured operators are exactly the shipped ones."""
    truth = (
        REGISTRY["ann_brute_force_topk"]
        .fn(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    tn = truth.agg(F.count(F.lit(1)).cast("bigint").alias("truth_n"))
    tiers = None
    for t in _RECALL_TIERS:
        hits = (
            REGISTRY[t]
            .fn(spark, sf_dir)
            .select("query_id", "neighbor_id")
            .join(truth, ["query_id", "neighbor_id"], "left_semi")
            .agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
            .select(F.lit(t).alias("tier"), "hits")
        )
        tiers = hits if tiers is None else tiers.unionByName(hits)
    return tiers.crossJoin(F.broadcast(tn)).select(
        "tier",
        "hits",
        "truth_n",
        F.round(F.col("hits").cast("double") / F.col("truth_n"), 4).alias(
            "recall"
        ),
    )


@query(
    "semantic_decontaminate",
    oracle=f"""
    WITH ev AS (
      SELECT vec_id AS eval_id, embedding AS evv
      FROM embeddings WHERE vec_id < 40
    ),
    tr AS (
      SELECT vec_id AS train_id, embedding AS tv
      FROM embeddings WHERE vec_id >= 40
    ),
    hits AS (
      SELECT train_id, {_COS.format(a="tv", b="evv")} AS cos
      FROM tr CROSS JOIN ev
      WHERE {_COS.format(a="tv", b="evv")} >= 0.32
    )
    SELECT train_id AS vec_id, CAST(count(*) AS BIGINT) AS n_eval_hits,
           max(cos) AS max_cos
    FROM hits GROUP BY train_id
    """,
)
def semantic_decontaminate_q(spark, sf_dir):
    """Embedding-space decontamination: flag train vectors (vec_id >=
    40) whose cosine against ANY eval vector (vec_id < 40) reaches
    0.32 — the paraphrase-leakage screen n-gram decontamination cannot
    catch. Eval side broadcasts (benchmarks are small against a 100 TB
    corpus); the train scan is one partition-parallel pass with a
    per-row fold, and the only exchange is the flagged-id aggregate
    (extensions/dedup.py:semantic_decontaminate)."""
    from timeseries_spark.extensions.dedup import semantic_decontaminate

    emb = load(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") < 40)
    tr = emb.filter(F.col("vec_id") >= 40)
    return semantic_decontaminate(tr, ev, threshold=0.32)


@query("ann_pq_staged", oracle=REGISTRY["ann_pq_topk"].oracle)
def ann_pq_staged(spark, sf_dir):
    """PQ ANN from a STAGED codebook artifact: the m per-subspace
    (Lloyd centroid, mean codebook) tables are trained once and
    persisted (extensions/staging.py:staged_pq_books); encoding is then
    a zero-shuffle broadcast argmin per subspace against the persisted
    centroids — provably the training assignment — plus a broadcast
    mean join for reconstruction. Hash-identical to ann_pq_topk (same
    oracle); the per-query cost drops to encode+probe, with no Lloyd
    subtree anywhere in the plan."""
    from timeseries_spark.extensions.pq import pq_topk
    from timeseries_spark.extensions.staging import staged_pq_books

    emb = load(spark, sf_dir, "embeddings")
    books = staged_pq_books(
        spark, emb, f"{sf_dir}/embeddings.parquet",
        m=2, dims=64, n_clusters=4, kmeans_iter=2,
    )
    return pq_topk(
        emb, _queries_df(spark, sf_dir), books, k=5, m=2, dims=64,
        n_clusters=4, rerank_factor=4,
    )


@query("ann_pq_hires_staged", oracle=REGISTRY["ann_pq_hires"].oracle)
def ann_pq_hires_staged(spark, sf_dir):
    """The hires PQ operating point (m=8, 16-bit codes, 60-wide rerank
    pool) served from STAGED codebooks — VERDICT r15 item 2: the
    in-plan ann_pq_hires trains eight subspace codebooks per execution
    (20-30 s proof walls across tiers), exactly the cost the
    staged-artifact pattern amortizes for m=2. Here the eight
    (centroid, mean-codebook) tables are trained once per (source
    fingerprint, params) key and persisted
    (extensions/staging.py:staged_pq_books, tag pq8x64); the serving
    plan is encode (broadcast argmin per subspace) + probe + exact
    rerank, with no Lloyd subtree anywhere. Hash-identical to
    ann_pq_hires (same oracle)."""
    from timeseries_spark.extensions.pq import pq_topk
    from timeseries_spark.extensions.staging import staged_pq_books

    emb = load(spark, sf_dir, "embeddings")
    books = staged_pq_books(
        spark, emb, f"{sf_dir}/embeddings.parquet",
        m=8, dims=64, n_clusters=4, kmeans_iter=2,
    )
    return pq_topk(
        emb, _queries_df(spark, sf_dir), books, k=5, m=8, dims=64,
        n_clusters=4, rerank_factor=12,
    )


@query("ann_ivf_pq_staged", oracle=REGISTRY["ann_ivf_pq"].oracle)
def ann_ivf_pq_staged(spark, sf_dir):
    """IVF-PQ with BOTH quantizers staged — the full production serving
    path: the coarse router reads persisted centroids (broadcast argmin
    routing/blocking), the PQ encoder reads persisted
    (centroid, mean-codebook) subspace tables, and the per-query plan
    contains no training anywhere. Hash-identical to ann_ivf_pq (same
    oracle)."""
    from timeseries_spark.extensions.kmeans import assign_to_centroids
    from timeseries_spark.extensions.pq import ivf_pq_topk
    from timeseries_spark.extensions.staging import (
        staged_centroids,
        staged_pq_books,
    )

    emb = load(spark, sf_dir, "embeddings")
    src = f"{sf_dir}/embeddings.parquet"
    cents = staged_centroids(spark, emb, src, k=4, max_iter=3)
    books = staged_pq_books(
        spark, emb, src, m=2, dims=64, n_clusters=4, kmeans_iter=2
    )
    # materialized ONCE (eager checkpoint): the probe reads the clustered
    # corpus twice (routing representatives, encoded candidates), and
    # without the checkpoint the corpus-wide argmin projection
    # re-executes per consumer (an in-build kmeans_assign is already
    # materialized by kmeans_fit's checkpoints)
    clusters = assign_to_centroids(emb, cents).localCheckpoint(eager=True)
    return ivf_pq_topk(
        _ivf_clustered(emb, clusters), _queries_df(spark, sf_dir), "cluster",
        books, k=5, nprobe=2, m=2, dims=64, pq_clusters=4, rerank_factor=4,
    )


@query(
    "cluster_cohesion",
    oracle=_KM_BODY
    + f"""
    SELECT CAST(cluster AS INT) AS cluster,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(CAST(round(sq_dist, 6) AS DECIMAL(28,6))) AS DOUBLE)
             AS inertia,
           CAST(sum(CAST(round(sq_dist, 6) AS DECIMAL(28,6))) AS DOUBLE)
             / count(*) AS mean_sq_dist
    FROM {_KM_LAST} GROUP BY cluster
    """,
)
def cluster_cohesion_q(spark, sf_dir):
    """Quantizer-quality report for the trained k=4 clustering: per
    cluster member count, inertia, and mean squared distance — the
    balance/elbow diagnostic read before trusting the clustering for
    IVF blocking or diversity sampling. Sums run in decimal over the
    6dp distances, so the report is exact on any partitioning
    (extensions/kmeans.py:cluster_cohesion)."""
    from timeseries_spark.extensions.kmeans import (
        cluster_cohesion,
        kmeans_assign,
    )

    emb = load(spark, sf_dir, "embeddings")
    return cluster_cohesion(kmeans_assign(emb, k=4, max_iter=3))


@query(
    "cluster_balanced_sample",
    oracle=_KM_BODY
    + f"""
    SELECT CAST(cluster AS INT) AS cluster, vid AS vec_id,
           CAST(rn AS INT) AS rank_in_cluster
    FROM (
      SELECT cluster, vid, row_number() OVER (
        PARTITION BY cluster ORDER BY vid) AS rn
      FROM {_KM_LAST}
    ) WHERE rn <= 10
    """,
)
def cluster_balanced_sample_q(spark, sf_dir):
    """Diversity sampling: the 10 lowest-id members of every trained
    cluster — cluster-balanced draws keep every region of embedding
    space represented where a flat sample over-draws dense clusters
    (extensions/kmeans.py:cluster_balanced_sample)."""
    from timeseries_spark.extensions.kmeans import (
        cluster_balanced_sample,
        kmeans_assign,
    )

    emb = load(spark, sf_dir, "embeddings")
    return cluster_balanced_sample(
        kmeans_assign(emb, k=4, max_iter=3), n_per_cluster=10
    )


@query(
    "dedup_cluster_histogram",
    oracle=f"""
    SELECT n_members,
           CAST(count(*) AS BIGINT) AS n_clusters
    FROM ({REGISTRY["semantic_dedup"].oracle}) sd
    GROUP BY n_members
    """,
)
def dedup_cluster_histogram(spark, sf_dir):
    """Duplicate-cluster size distribution from the semantic-dedup
    pipeline (how much of the corpus is singletons vs. 2-copies vs.
    bigger near-dup families) — the audit number a dedup rollout
    reports. One extra bounded aggregate over the kept-doc table."""
    from timeseries_spark.extensions.dedup import semantic_dedup as sd

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    kept = sd(docs, emb, threshold=0.30, n_clusters=4, kmeans_iter=3)
    return kept.groupBy("n_members").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters")
    )


def _mmr_oracle(pool_k: int = 20, k: int = 5, lam: float = 0.7) -> str:
    """Unrolled greedy MMR replay. Every state CTE is MATERIALIZED —
    DuckDB inlines plain CTEs and the sel chain is re-referenced three
    times per step, which would make the plan tree exponential in k.
    The lam literals are the reprs of the SAME Python doubles the Spark
    side uses (1 - 0.7 is 0.30000000000000004 — writing '0.3' would
    diverge)."""
    lam_r, inv_r = repr(float(lam)), repr(1.0 - float(lam))
    ctes = [
        """q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 8)""",
        f"""scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_COS.format(a="q.qv", b="e.embedding")} AS rel
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id != q.query_id
    )""",
        f"""pool AS MATERIALIZED (
      SELECT query_id, neighbor_id, rel FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY rel DESC, neighbor_id
        ) AS rn FROM scored
      ) WHERE rn <= {pool_k}
    )""",
        """pv AS (
      SELECT p.query_id, p.neighbor_id, e.embedding
      FROM pool p JOIN embeddings e ON e.vec_id = p.neighbor_id
    )""",
        f"""psim AS MATERIALIZED (
      SELECT a.query_id, a.neighbor_id AS a_id, b.neighbor_id AS b_id,
             {_COS.format(a="a.embedding", b="b.embedding")} AS sim
      FROM pv a JOIN pv b
        ON a.query_id = b.query_id AND a.neighbor_id != b.neighbor_id
    )""",
        f"""sel1 AS MATERIALIZED (
      SELECT query_id, 1 AS step, neighbor_id, mmr_score FROM (
        SELECT query_id, neighbor_id, {lam_r} * rel AS mmr_score,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY ({lam_r} * rel) DESC, neighbor_id
               ) AS rn FROM pool
      ) WHERE rn = 1
    )""",
    ]
    for t in range(2, k + 1):
        ctes.append(
            f"""ms{t} AS (
      SELECT p.query_id, p.a_id AS neighbor_id, max(p.sim) AS ms
      FROM psim p JOIN sel{t - 1} s
        ON s.query_id = p.query_id AND s.neighbor_id = p.b_id
      GROUP BY p.query_id, p.a_id
    )""")
        ctes.append(
            f"""sel{t} AS MATERIALIZED (
      SELECT * FROM sel{t - 1}
      UNION ALL
      SELECT query_id, {t} AS step, neighbor_id, mmr_score FROM (
        SELECT c.query_id, c.neighbor_id,
               {lam_r} * c.rel - {inv_r} * coalesce(m.ms, 0.0)
                 AS mmr_score,
               row_number() OVER (
                 PARTITION BY c.query_id
                 ORDER BY ({lam_r} * c.rel
                           - {inv_r} * coalesce(m.ms, 0.0)) DESC,
                          c.neighbor_id
               ) AS rn
        FROM pool c LEFT JOIN ms{t} m
          ON m.query_id = c.query_id AND m.neighbor_id = c.neighbor_id
        WHERE NOT EXISTS (
          SELECT 1 FROM sel{t - 1} s
          WHERE s.query_id = c.query_id
            AND s.neighbor_id = c.neighbor_id
        )
      ) WHERE rn = 1
    )""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT query_id, step, neighbor_id, mmr_score FROM sel{k}
    """


@query("ann_mmr_rerank", oracle=_mmr_oracle(20, 5, 0.7))
def ann_mmr_rerank(spark, sf_dir):
    """Maximal-Marginal-Relevance diversity top-5 for 8 query vectors
    from their exact cosine top-20 pools: greedy lam*rel −
    (1−lam)*max-sim-to-selected with id tiebreaks, every round a
    bounded pool-relation op (the corpus is touched only by the salted
    pool phase) (extensions/similarity.py:mmr_rerank)."""
    from timeseries_spark.extensions.similarity import mmr_rerank

    emb = load(spark, sf_dir, "embeddings")
    return mmr_rerank(
        emb, _queries_df(spark, sf_dir), pool_k=20, k=5, lam=0.7
    )


# ---------------------------------------------------------------------------
# Recall/cost frontier (round-10: VERDICT r9 item 9)

_FRONTIER_SWEEP = (
    # (tier, param, oracle SQL) — param is each tier's recall/cost knob:
    # hyperplane: n_planes (more planes = narrower buckets = cheaper/lower
    # recall); ivf: nprobe (more probes = more clusters scanned = higher
    # recall); pq: m subspaces (more codebooks = finer reconstruction).
    ("hyperplane", 3, lambda: _hp_oracle(n_planes=3)),
    ("hyperplane", 4, lambda: _hp_oracle(n_planes=4)),
    ("hyperplane", 5, lambda: _hp_oracle(n_planes=5)),
    ("ivf", 1, lambda: _ivf_kmeans_oracle(nprobe=1)),
    ("ivf", 2, lambda: _ivf_kmeans_oracle(nprobe=2)),
    ("ivf", 3, lambda: _ivf_kmeans_oracle(nprobe=3)),
    ("pq", 1, lambda: _pq_oracle(m=1, sub=64, kk=4, rounds=2)),
    ("pq", 2, lambda: _pq_oracle(m=2, sub=32, kk=4, rounds=2)),
)


def _frontier_oracle() -> str:
    brute = REGISTRY["ann_brute_force_topk"].oracle
    parts = []
    for tier, param, sql in _FRONTIER_SWEEP:
        parts.append(
            f"""
      SELECT '{tier}' AS tier, CAST({param} AS INT) AS param,
             CAST(count(*) AS BIGINT) AS hits
      FROM ({sql()}) a
      JOIN truth USING (query_id, neighbor_id)"""
        )
    union = "\n      UNION ALL".join(parts)
    return f"""
    WITH truth AS (SELECT query_id, neighbor_id FROM ({brute}) t),
    tn AS (SELECT CAST(count(*) AS BIGINT) AS truth_n FROM truth),
    tiers AS ({union}
    )
    SELECT tier, param, hits, truth_n,
           round(hits::DOUBLE / truth_n, 4) AS recall
    FROM tiers, tn
    """


@query("ann_recall_frontier", oracle=_frontier_oracle())
def ann_recall_frontier(spark, sf_dir):
    """Recall@5 FRONTIER: sweeps each ANN tier's own recall/cost knob —
    hyperplane LSH n_planes in {3,4,5}, IVF nprobe in {1,2,3}, PQ
    subspace count m in {1,2} — against the exact brute-force top-5,
    turning the accuracy/cost trade into one oracle-gated table
    (ann_recall_report pins the shipped operating points; this pins the
    CURVE around them, so a knob regression shows up as a hash change).
    Ground truth is checkpointed once; the IVF quantizer is fit once
    and probed at every nprobe (each PQ point trains its own subspaces);
    every sweep point is the shipped extension callable with the swept
    parameter plus one bounded semi-join + single-row aggregate."""
    from timeseries_spark.extensions.pq import pq_fit_books, pq_topk
    from timeseries_spark.extensions.similarity import hyperplane_lsh_topk

    emb = load(spark, sf_dir, "embeddings")
    qs = _queries_df(spark, sf_dir)
    ivf_vecs = _ivf_clustered(emb)
    truth = (
        brute_force_topk(emb, qs, k=5)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    tn = truth.agg(F.count(F.lit(1)).cast("bigint").alias("truth_n"))

    def build(tier: str, param: int):
        if tier == "hyperplane":
            return hyperplane_lsh_topk(
                emb, qs, k=5, n_planes=param, dims=64
            )
        if tier == "ivf":
            return ivf_topk(ivf_vecs, qs, "cluster", k=5, nprobe=param)
        books = pq_fit_books(
            emb, m=param, dims=64, n_clusters=4, kmeans_iter=2
        )
        return pq_topk(
            emb, qs, books, k=5, m=param, dims=64, n_clusters=4,
            rerank_factor=4,
        )

    rows = None
    for tier, param, _sql in _FRONTIER_SWEEP:
        hits = (
            build(tier, param)
            .select("query_id", "neighbor_id")
            .join(truth, ["query_id", "neighbor_id"], "left_semi")
            .agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
            .select(
                F.lit(tier).alias("tier"),
                F.lit(param).cast("int").alias("param"),
                "hits",
            )
        )
        rows = hits if rows is None else rows.unionByName(hits)
    return rows.crossJoin(F.broadcast(tn)).select(
        "tier",
        "param",
        "hits",
        "truth_n",
        F.round(F.col("hits").cast("double") / F.col("truth_n"), 4).alias(
            "recall"
        ),
    )
