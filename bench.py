"""Headline benchmark: runs the flagship queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line.

Per-query wall time = plan build + execution to a count() action (results
stay distributed; no driver collect). Each query runs N times
($SPARK_GRAFT_BENCH_N, default 3); "queries" reports the per-query
MEDIAN and "spread" the (max - min) across reps — single-shot timings on
a shared local[32] box swing up to ~70% on the heavy queries, and a
median with a published spread separates real plan regressions from
noise (the round-3 lesson: a 6.6 s outlier recorded as a 3.9 s query).
Queries whose spread exceeds 50% of their median after the initial reps
are re-run up to $SPARK_GRAFT_BENCH_N_MAX (default 7) total reps so
flappy timings converge instead of triggering round-over-round noise
investigations (the round-4 lesson: two queries flagged as regressions
were inside their own 64-77% spread). The metric is the total of the
medians — lower is better, compared per-round against BASELINE.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "assoc_score_yearly",
    "assoc_novelty_yearly",
    "assoc_custkey_novelty",  # 15k key groups: stresses the cumulative
    #                           window + novelty shuffle at real cardinality
    "assoc_weighted_overall",
    "harmonic_topk_per_order",
    "pricing_summary",
    "revenue_by_nation",
    "dense_daily_events",
    "union_missing_columns",
    "dedup_minhash_lsh",  # guard the extension surface in the bench
    "ann_ivf_topk",
    "ann_hyperplane_topk",  # round-4 additions: training-free LSH ANN
    "corpus_mix_weighted",  # and deterministic corpus mixing
    "semantic_dedup",  # round-5: end-to-end embedding dedup pipeline
    "ann_sq8_topk",  # and int8 quantized ANN with exact re-rank
    "ann_pq_topk",  # round-5: product-quantized ANN (trained codebooks)
    "corpus_prepare",  # round-5: composed decontaminate->quality->dedup
    #                    ->split->temperature-mix pipeline
    "search_bm25_topk",  # round-5b: BM25 ranked retrieval over postings
    "pagerank_parts_suppliers",  # round-5b: 3-round link analysis
    "token_cooccurrence_topk",  # round-5b: pair mining (bounded self-join)
    "logreg_quality_train",  # round-5b: in-engine GD training loop
    "source_divergence",  # round-5c: token-grain entropy/KL mix diagnostics
    "downsample_m4",  # round-5c: min_by/max_by M4 downsample at event grain
    "funnel_view_click_purchase",  # round-5c: chained conditional-min funnel
    "bigram_logprob",  # round-5d: bigram-LM perplexity quality filter
    "boilerplate_strip",  # round-6: C4-style duplicated-span removal
    "embedding_covariance",  # round-6: d x d single-scan pair aggregate
    "bpe_merges",  # round-6: 8-round tokenizer induction (vocab-grain)
    "scd2_user_status",  # round-6: single-shuffle CDC history build
    "pca_top_component",  # round-6: power iteration on the covariance
    "trigram_backoff",  # round-6: stupid-backoff LM, held-out split
    "ann_ivf_staged",  # round-7: probe-only IVF from a staged quantizer
    "semantic_dedup_staged",  # round-7: dedup from the same staged artifact
    "bpe_merges_batched",  # round-7: disjoint-prefix batched induction
    "bpe_encode_corpus",  # round-7: tokenizer APPLY via vocab broadcast join
    "ann_pq_staged",  # round-7: PQ probe from staged codebooks
    "pca_top3",  # round-8: 3-component deflation, single-row array state
    "ann_mmr_rerank",  # round-8: greedy MMR as per-query array expressions
    "triangle_counts_parts",  # round-8: degree-oriented wedge counting
    "token_source_mi",  # round-8: vocab-grain information-gain grid
    "stl_daily",  # round-8: moving-average seasonal decomposition
    "embedding_standardize",  # round-8: zero-shuffle broadcast rescale
    "theil_sen_daily",  # round-8: robust pairwise-slope median trend
    "revenue_gini_by_nation",  # round-8: exact rank-formula concentration
    "point_target_disease_staged",  # round-10: interactive point-query
    #   latency on the SERVING path (staged association tables; the
    #   first rep pays the one-time materialization, the adaptive-rep
    #   median converges on the ~0.5 s pruned-read serve)
    "semantic_dedup_scaled",  # round-13: corpus-sized blocker (k=auto) —
    #   the linear-pair-generation configuration; its sf1/sf0.1 ratio in
    #   BENCH_RATIO is the scale proof for the dedup path
    "semantic_dedup_scaled_staged",  # round-13: auto-k + staged quantizer
    "semantic_dedup_incremental_staged",  # round-13: ingestion-time
    #   shard-vs-corpus dedup from the staged quantizer — kept for
    #   answer/latency continuity; k=4 pinned, so BY_DESIGN_QUADRATIC
    "semantic_dedup_incremental_scaled_staged",  # round-14: the
    #   ingestion production path — auto-k staged quantizer; its
    #   BENCH_RATIO entry is the scale proof for shard ingestion
    "dedup_simhash_wide",  # round-13: 60-bit/7x8 banding — the uncapped
    #   simhash configuration whose buckets stay ~n/256
    "search_hybrid_rerank",  # round-14: BM25 candidates -> exact cosine
    #   rerank (the production RAG shape; broadcast-only rerank stage)
    "cusum_changepoint_daily",  # round-14: sequential drift monitor as
    #   a per-key array fold (no window exchange)
    "search_hybrid_staged",  # round-15: hybrid retrieval served from the
    #   staged postings index — zero text rescans in the whole plan
    "semantic_dedup_sampled",  # round-15: hash-sampled Lloyd fit +
    #   assign-all — cuts the auto-k pair's fit-side k-growth term
    "dedup_simhash_capped_wide",  # round-15: wide dilution + bucket cap
    #   — the configuration whose cap stays meaningful as n grows (the
    #   4-bit capped variant saturates to empty past ~1k docs/bucket)
    "ann_pq_hires_staged",  # round-16: the hires PQ operating point
    #   (m=8, 60-wide rerank pool) served from staged codebooks — the
    #   production path for the clustered-geometry recall rule; the
    #   in-plan twin's 20-30 s walls are one-time staging cost here
]

# Pinned-k compat entries whose sf-ratio is super-linear BY DESIGN:
# k=4 is frozen for answer-compat, so the batch pair's per-block
# self-join costs Σ block² ≈ n²/4 and the incremental pair's
# shard×block join costs |shard|·(n/4) — both quadratic in the corpus,
# measured 13-19x (batch) and 14.2x (incremental) wall for 10x data
# (BENCH_RATIO_SF1_r11/r13). The corpus-sized twins
# (semantic_dedup_scaled*, semantic_dedup_incremental_scaled*) are the
# headline scale path; the pinned entries stay in the bench for
# answer/latency continuity but are reported under compat_quadratic by
# tools/bench_ratio.py instead of flagged_super_linear, so a real
# regression can't hide behind the permanent by-design flags.
BY_DESIGN_QUADRATIC = (
    "semantic_dedup",
    "semantic_dedup_staged",
    "semantic_dedup_incremental",
    "semantic_dedup_incremental_staged",
    # same frozen-block-count semantics, surfaced by the r15
    # full-registry ratio artifact: label-blocking has 4 fixed labels,
    # so blocks grow n/4 and the per-block self-join is n²/4; the
    # pinned k=4 quantizer blocks identically. The corpus-sized
    # (auto-k) and capped families are the scale paths.
    "dedup_embedding_cosine",
    "dedup_embedding_kmeans",
    "dedup_cluster_histogram",
)


def _calibration_once(spark, sf_dir: str) -> float:
    """Fixed machine-load probe: a frozen inline scan+agg that NO round
    ever touches (it bypasses the registry entirely), so its median is a
    pure measure of box contention. Round-9 lesson: corpus_prepare
    drifted 1.34x with zero code changes on its path and there was no
    way to prove it was noise — compare this field across BENCH_r{N}
    files first; if calibration moved, the round's deltas are machine
    load, not plan regressions."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("q"),
            F.avg("l_extendedprice").alias("p"),
            F.count(F.lit(1)).alias("n"),
        )
        .count()
    )
    return time.perf_counter() - t0


def main() -> None:
    from timeseries_spark.queries import all_queries
    from timeseries_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_N", "3")))
    n_max = max(n_reps, int(os.environ.get("SPARK_GRAFT_BENCH_N_MAX", "7")))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    spark = get_spark("bench")

    registry = all_queries()
    names = [n for n in HEADLINE if n in registry]
    # warm the JVM, codegen, and parquet footers once, off the clock, with
    # the full flagship plan (scoring + novelty subtrees): measured numbers
    # are steady-state throughput, the regime a long-lived cluster runs in
    registry["assoc_novelty_yearly"](spark, sf_dir).count()
    calibration = round(
        statistics.median(_calibration_once(spark, sf_dir) for _ in range(5)), 3
    )

    def run_once(name: str) -> float:
        t0 = time.perf_counter()
        registry[name](spark, sf_dir).count()
        return time.perf_counter() - t0

    per_query: dict[str, float] = {}
    spread: dict[str, float] = {}
    reps_used: dict[str, int] = {}
    for name in names:
        times = [run_once(name) for _ in range(n_reps)]
        # adaptive: noisy queries (spread > 50% of median) get extra reps
        # so the published median converges on a shared box
        while (
            len(times) < n_max
            and max(times) - min(times) > 0.5 * statistics.median(times)
        ):
            times.append(run_once(name))
        per_query[name] = round(statistics.median(times), 3)
        spread[name] = round(max(times) - min(times), 3)
        reps_used[name] = len(times)

    total = round(sum(per_query.values()), 3)
    record = {
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": sf,
        "calibration": calibration,
        "by_design_quadratic": [
            n for n in BY_DESIGN_QUADRATIC if n in per_query
        ],
    }
    # The driver records a bounded TAIL of stdout: round 6's line — with
    # per-query spread + reps_used inlined — blew that bound and the
    # committed BENCH_r06.json lost its head (metric, total, first ~20
    # medians). The printed contract line now carries ONLY the required
    # fields; the noise diagnostics land in a diag file alongside the
    # full record. The DEFAULT diag path is bench_diag_run.json
    # (gitignored): the driver's per-round bench run must not overwrite
    # the committed bench_diag.json, which pins the specific best-of-N
    # run each round ships (set SPARK_GRAFT_BENCH_DIAG=bench_diag.json
    # explicitly to refresh the committed pin).
    diag_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DIAG",
        os.path.join(os.path.dirname(__file__), "bench_diag_run.json"),
    )
    with open(diag_path, "w") as f:
        json.dump(
            {**record, "n_reps": n_reps, "spread": spread, "reps_used": reps_used},
            f,
            indent=1,
        )
    print(json.dumps(record))


if __name__ == "__main__":
    main()
