"""Nx scale-up experiment for the heaviest queries (SCALING.md).

Replicates the sf0.1 inputs Nx with shifted id/key spaces — so
cardinality scales WITH the data, as it does in production — and times
warm 1x vs Nx runs of the heaviest operators:

- dedup_minhash_lsh: documents replicated with per-replica token
  prefixes, making shingle spaces disjoint across replicas. Within-
  replica pair structure mirrors the original corpus, total pairs = Nx —
  the honest analogue of a corpus that grew Nx without global near-dups.
- ann_ivf_kmeans: embeddings replicated with shifted vec_ids (same
  query set — the realistic scale path is corpus growth, not query
  growth); k-means refit + IVF probe over the Nx corpus.
- ann_hyperplane_topk: training-free LSH over the Nx corpus.
- flagship score+novelty: orders replicated with per-replica
  orderpriority suffixes so the KEY space scales with the data (the
  regime a growing evidence corpus is actually in), then the full dense
  harmonic-score + logistic-novelty pipeline.

Usage: python tools/scale_check.py [sf_dir] [n_rep]
Prints one JSON line per operator: {name, t1, tN, ratio}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def replicate_docs(docs, n_rep: int):
    """n_rep copies; replica r shifts doc_id and prefixes every token with
    'r{r}_', so shingles never collide across replicas."""
    rep = docs.crossJoin(
        F.broadcast(
            docs.sparkSession.range(n_rep).select(F.col("id").alias("__r"))
        )
    )
    offset = 10_000_000
    return rep.select(
        (F.col("doc_id") + F.col("__r") * offset).alias("doc_id"),
        F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda t: F.concat(
                    F.lit("r"), F.col("__r").cast("string"), F.lit("_"), t
                ),
            ),
            " ",
        ).alias("text"),
    )


def replicate_vecs(vecs, n_rep: int):
    rep = vecs.crossJoin(
        F.broadcast(
            vecs.sparkSession.range(n_rep).select(F.col("id").alias("__r"))
        )
    )
    offset = 10_000_000
    return rep.select(
        (F.col("vec_id") + F.col("__r") * offset).alias("vec_id"),
        "embedding",
        "label",
    )


def time_warm(fn, reps: int = 3) -> float:
    fn()  # warm codegen + shuffles off the clock
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    times.sort()
    return round(times[len(times) // 2], 3)


def main() -> None:
    from timeseries_spark.extensions.dedup import lsh_candidates
    from timeseries_spark.extensions.kmeans import kmeans_assign
    from timeseries_spark.extensions.similarity import (
        hyperplane_lsh_topk,
        ivf_topk,
    )
    from timeseries_spark.queries import load
    from timeseries_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_rep = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark("scale_check")

    docs1 = load(spark, sf_dir, "documents").select("doc_id", "text")
    docsN = replicate_docs(docs1, n_rep).localCheckpoint()
    docs1 = docs1.localCheckpoint()

    def lsh(d):
        return lambda: lsh_candidates(d, n=3, num_hashes=32, bands=8).count()

    t1 = time_warm(lsh(docs1))
    tN = time_warm(lsh(docsN))
    print(json.dumps({
        "name": "dedup_minhash_lsh", "sf": sf_dir, "n_rep": n_rep, "t1": t1, "tN": tN,
        "ratio": round(tN / max(t1, 1e-3), 2),
        "rows1": docs1.count(), "rowsN": docsN.count(),
    }))

    vecs1 = load(spark, sf_dir, "embeddings").localCheckpoint()
    vecsN = replicate_vecs(vecs1, n_rep).localCheckpoint()
    queries = (
        vecs1.filter(F.col("vec_id") % 97 == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        .localCheckpoint()
    )

    def ivf(v):
        def run():
            clusters = kmeans_assign(v, k=4, max_iter=3)
            routed = v.join(clusters.select("vec_id", "cluster"), "vec_id")
            ivf_topk(routed, queries, "cluster", k=5, nprobe=2).count()
        return run

    t1 = time_warm(ivf(vecs1))
    tN = time_warm(ivf(vecsN))
    print(json.dumps({
        "name": "ann_ivf_kmeans", "sf": sf_dir, "n_rep": n_rep, "t1": t1, "tN": tN,
        "ratio": round(tN / max(t1, 1e-3), 2),
        "rows1": vecs1.count(), "rowsN": vecsN.count(),
    }))

    def hp(v):
        return lambda: hyperplane_lsh_topk(
            v, queries, k=5, n_planes=4, dims=64
        ).count()

    t1 = time_warm(hp(vecs1))
    tN = time_warm(hp(vecsN))
    print(json.dumps({
        "name": "ann_hyperplane_topk", "sf": sf_dir, "n_rep": n_rep, "t1": t1, "tN": tN,
        "ratio": round(tN / max(t1, 1e-3), 2),
        "rows1": vecs1.count(), "rowsN": vecsN.count(),
    }))

    # flagship: dense harmonic score + logistic novelty with the KEY
    # space scaling alongside the evidence (replica-suffixed priorities)
    from timeseries_spark.operators.novelty import add_novelty
    from timeseries_spark.operators.scoring import association_score
    from timeseries_spark.queries.tsq import KEYS, ORDERS_CFG

    orders1 = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderstatus", "o_orderdate",
        "o_totalprice",
    )
    rep = orders1.crossJoin(
        F.broadcast(spark.range(n_rep).select(F.col("id").alias("__r")))
    )
    ordersN = rep.select(
        (F.col("o_orderkey") + F.col("__r") * 10_000_000).alias("o_orderkey"),
        F.concat(
            F.col("o_orderpriority"), F.lit("#"), F.col("__r").cast("string")
        ).alias("o_orderpriority"),
        "o_orderstatus", "o_orderdate", "o_totalprice",
    ).localCheckpoint()
    orders1 = orders1.localCheckpoint()

    def flagship(o):
        def run():
            ev = o.select(
                "o_orderpriority",
                "o_orderstatus",
                F.year("o_orderdate").cast("int").alias("year"),
                (F.col("o_totalprice") / 600000).alias("score"),
            )
            add_novelty(
                association_score(ev, ORDERS_CFG, KEYS), ORDERS_CFG, KEYS
            ).count()
        return run

    t1 = time_warm(flagship(orders1))
    tN = time_warm(flagship(ordersN))
    print(json.dumps({
        "name": "flagship_score_novelty", "sf": sf_dir, "n_rep": n_rep,
        "t1": t1, "tN": tN, "ratio": round(tN / max(t1, 1e-3), 2),
        "rows1": orders1.count(), "rowsN": ordersN.count(),
    }))

    # BM25: corpus grows Nx with a CONSTANT vocabulary (shifted doc ids,
    # unprefixed text) — postings lists grow Nx, the realistic regime for
    # retrieval over a growing corpus
    from timeseries_spark.extensions.search import bm25_topk

    d1 = load(spark, sf_dir, "documents").select("doc_id", "text")
    dN = (
        d1.crossJoin(
            F.broadcast(spark.range(n_rep).select(F.col("id").alias("__r")))
        )
        .select(
            (F.col("doc_id") + F.col("__r") * 10_000_000).alias("doc_id"),
            "text",
        )
        .localCheckpoint()
    )
    d1 = d1.localCheckpoint()

    def bm25(d):
        return lambda: bm25_topk(
            d, ["spark", "hash", "window"], k=10, persist=False
        ).count()

    t1 = time_warm(bm25(d1))
    tN = time_warm(bm25(dN))
    print(json.dumps({
        "name": "search_bm25_topk", "sf": sf_dir, "n_rep": n_rep,
        "t1": t1, "tN": tN, "ratio": round(tN / max(t1, 1e-3), 2),
        "rows1": d1.count(), "rowsN": dN.count(),
    }))

    # PageRank: Nx disjoint replicas of the bipartite graph (shifted key
    # spaces) — nodes AND edges scale together, per-round join work Nx
    from timeseries_spark.extensions.graph import bipartite_edges, pagerank

    li1 = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    liN = (
        li1.crossJoin(
            F.broadcast(spark.range(n_rep).select(F.col("id").alias("__r")))
        )
        .select(
            (F.col("l_partkey") + F.col("__r") * 10_000_000).alias("l_partkey"),
            (F.col("l_suppkey") + F.col("__r") * 10_000_000).alias("l_suppkey"),
        )
        .localCheckpoint()
    )
    li1 = li1.localCheckpoint()

    def pr(li):
        return lambda: pagerank(
            bipartite_edges(li, "l_partkey", "l_suppkey", "P", "S"),
            n_iter=3, persist=False,
        ).count()

    t1 = time_warm(pr(li1))
    tN = time_warm(pr(liN))
    print(json.dumps({
        "name": "pagerank_parts_suppliers", "sf": sf_dir, "n_rep": n_rep,
        "t1": t1, "tN": tN, "ratio": round(tN / max(t1, 1e-3), 2),
        "rows1": li1.count(), "rowsN": liN.count(),
    }))

    # source_divergence: replicas get disjoint token prefixes AND their
    # own source labels, so vocabulary, source count, and corpus size
    # all scale Nx together — the honest analogue of onboarding N new
    # crawl sources at once.
    from timeseries_spark.extensions.text import source_divergence

    sd1 = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    sdN = (
        sd1.crossJoin(
            F.broadcast(
                spark.range(n_rep).select(F.col("id").alias("__r"))
            )
        )
        .select(
            (F.col("doc_id") + F.col("__r") * 10_000_000).alias("doc_id"),
            F.array_join(
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda t: F.concat(
                        F.lit("r"), F.col("__r").cast("string"),
                        F.lit("_"), t,
                    ),
                ),
                " ",
            ).alias("text"),
            F.concat(
                F.col("source"), F.lit("_r"), F.col("__r").cast("string")
            ).alias("source"),
        )
        .localCheckpoint()
    )
    sd1 = sd1.localCheckpoint()

    def sdiv(d):
        return lambda: source_divergence(d).count()

    t1 = time_warm(sdiv(sd1))
    tN = time_warm(sdiv(sdN))
    print(json.dumps({
        "name": "source_divergence", "sf": sf_dir, "n_rep": n_rep,
        "t1": t1, "tN": tN, "ratio": round(tN / max(t1, 1e-3), 2),
        "rows1": sd1.count(), "rowsN": sdN.count(),
    }))

    # --- round 6 additions ---

    # boilerplate_strip: replicas get disjoint token prefixes, so the
    # 4-gram space (and the boilerplate table) scales Nx with the corpus
    # while within-replica span structure mirrors the original.
    from timeseries_spark.extensions.cleaning import strip_boilerplate

    def boiler(d):
        return lambda: strip_boilerplate(d, n=4, min_df=3).count()

    t1 = time_warm(boiler(docs1))
    tN = time_warm(boiler(docsN))
    print(json.dumps({
        "name": "boilerplate_strip", "sf": sf_dir, "n_rep": n_rep,
        "t1": t1, "tN": tN, "ratio": round(tN / max(t1, 1e-3), 2),
    }))

    # BPE induction: corpus grows Nx with a CONSTANT vocabulary (plain
    # replication, unprefixed text) — after the one corpus scan into the
    # (token, count) table, every merge round is vocabulary-grain, so
    # wall should stay nearly FLAT as the corpus grows. Both the
    # sequential reference (batch_max=1) and the default batched rounds
    # are timed: disjoint-prefix batching merges many pairs per corpus
    # pass, so the batched Nx ratio AND absolute time should both beat
    # sequential induction.
    from timeseries_spark.extensions.bpe import induce_bpe

    for name, bm in (("bpe_merges", 1), ("bpe_merges_batched", 16)):

        def bpe(d, bm=bm):
            return lambda: induce_bpe(d, n_merges=4, batch_max=bm)[0].count()

        t1 = time_warm(bpe(d1))
        tN = time_warm(bpe(dN))
        print(json.dumps({
            "name": name, "sf": sf_dir, "n_rep": n_rep,
            "t1": t1, "tN": tN, "ratio": round(tN / max(t1, 1e-3), 2),
        }))

    # staged-quantizer IVF probe: the Nx corpus is quantized by
    # broadcast argmin against PRE-STAGED centroids (fit off the clock,
    # as production would) — probe cost scales with the probed cluster,
    # not with quantizer training.
    from timeseries_spark.extensions.kmeans import (
        assign_to_centroids,
        kmeans_fit,
    )

    def ivf_staged(v):
        _, cents = kmeans_fit(v, k=4, max_iter=3, id_col="vec_id",
                              vec_col="embedding")
        cents = cents.localCheckpoint(eager=True)

        def run():
            clusters = assign_to_centroids(v, cents)
            routed = v.join(clusters.select("vec_id", "cluster"), "vec_id")
            ivf_topk(routed, queries, "cluster", k=5).count()

        return run

    t1 = time_warm(ivf_staged(vecs1))
    tN = time_warm(ivf_staged(vecsN))
    print(json.dumps({
        "name": "ann_ivf_staged_probe", "sf": sf_dir, "n_rep": n_rep,
        "t1": t1, "tN": tN, "ratio": round(tN / max(t1, 1e-3), 2),
    }))

    # embedding covariance: corpus Nx, dims constant — the O(n * d^2)
    # products scale linearly but reduce map-side; the shuffle stays
    # 2080 rows per task at any N.
    from timeseries_spark.extensions.embeddings import covariance_pairs

    def cov(v):
        return lambda: covariance_pairs(v, dims=64).count()

    t1 = time_warm(cov(vecs1))
    tN = time_warm(cov(vecsN))
    print(json.dumps({
        "name": "embedding_covariance", "sf": sf_dir, "n_rep": n_rep,
        "t1": t1, "tN": tN, "ratio": round(tN / max(t1, 1e-3), 2),
    }))

    # label propagation: Nx disjoint graph replicas (nodes and edges
    # both scale) — per-round join work Nx, rounds constant.
    from timeseries_spark.extensions.graph import label_propagation

    def lpa(li):
        return lambda: label_propagation(
            bipartite_edges(li, "l_partkey", "l_suppkey", "P", "S"),
            n_iter=3, persist=False,
        ).count()

    t1 = time_warm(lpa(li1))
    tN = time_warm(lpa(liN))
    print(json.dumps({
        "name": "label_propagation", "sf": sf_dir, "n_rep": n_rep,
        "t1": t1, "tN": tN, "ratio": round(tN / max(t1, 1e-3), 2),
    }))

    # triangle counting: Nx DISJOINT graph replicas (shifted node ids)
    # — wedges and triangles both scale Nx; the degree-oriented wedge
    # bound keeps the join linear in replicas, so ratio ~= Nx at worst
    from timeseries_spark.extensions.graph import triangle_counts

    li_op = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pairs1 = (
        li_op.alias("a")
        .join(li_op.alias("b"), "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .localCheckpoint()
    )
    pairsN = (
        pairs1.crossJoin(
            F.broadcast(spark.range(n_rep).select(F.col("id").alias("__r")))
        )
        .select(
            (F.col("src") + F.col("__r") * 10_000_000).alias("src"),
            (F.col("dst") + F.col("__r") * 10_000_000).alias("dst"),
        )
        .localCheckpoint()
    )

    def tric(p):
        return lambda: triangle_counts(p).count()

    t1 = time_warm(tric(pairs1))
    tN = time_warm(tric(pairsN))
    print(json.dumps({
        "name": "triangle_counts", "sf": sf_dir, "n_rep": n_rep,
        "t1": t1, "tN": tN, "ratio": round(tN / max(t1, 1e-3), 2),
    }))


if __name__ == "__main__":
    main()
