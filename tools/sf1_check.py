"""sf1 proof tier (VERDICT r8/r9 carried item): run the FULL registry
at sf1 (tools/make_sf1.py output, 10x sf0.1 — 6M lineitem / 1.5M
orders / 1M events / 50k docs / 20k vectors) with two gates:

1. rows + digest SELF-CONSISTENCY for every query: each query executes
   TWICE and must produce the identical order-insensitive value hash —
   this catches nondeterminism that only appears at higher parallelism
   (partial-agg order sensitivity, unstable tie-breaks, overflow that
   depends on partition boundaries), with no oracle cost.
2. full DuckDB hash compare for a headline SUBSET — the cross-engine
   gate at the scale where int32/precision cliffs live (the round-8
   slice-INT_MAX bug class). The subset keeps oracle wall time sane;
   the sf0.01/sf0.1 tiers already hash-check all 216.

Usage: python tools/sf1_check.py [sf1_dir] [query ...]
With query args: only those queries, but BOTH gates where applicable.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check_oracle import TABLES, value_hash  # noqa: E402

# cross-engine subset, widened in round 11 from 16 to the full
# FLOAT-SENSITIVE set: sf1 magnitudes are exactly what break 1e-6
# snaps (daily_series_correlation's partial-order double sums proved
# it in round 10), so every query whose output passes through a snap,
# a ratio of large aggregates, an iterative float recurrence, or a
# rank formula gets the DuckDB cross-check at sf1 — not just digest
# self-consistency. Structural/set-valued queries (joins, dedup pair
# sets, point lookups) keep the digest gate plus their full sf0.01 /
# sf0.1 oracle coverage.
ORACLE_SUBSET = (
    # flagship + original round-10 representatives
    "pricing_summary",
    "revenue_by_nation",
    "assoc_score_yearly",
    "assoc_novelty_yearly",
    "assoc_weighted_overall",
    "harmonic_topk_per_order",
    "dense_daily_events",
    "union_missing_columns",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_brute_force_topk",
    "corpus_mix_weighted",
    "funnel_view_click_purchase",
    "downsample_m4",
    "revenue_gini_by_nation",
    "point_target_disease",
    # time-series recurrences and snapped statistics
    "acf_daily",
    "series_trend",
    "daily_series_correlation",
    "ema_daily",
    "twa_daily",
    "cusum_daily",
    "holt_daily",
    "holt_winters_daily",
    "hw_residual_anomaly",
    "stl_daily",
    "theil_sen_daily",
    "rolling_anomaly",
    "rolling_mad_daily",
    "rolling_median_daily",
    "seasonal_naive_eval",
    "novelty_null_correlation",
    # rank / distribution statistics
    "welch_ttest_click_view",
    "mann_whitney_click_view",
    "ks_two_sample_click_view",
    "zipf_fit",
    "benford_first_digit",
    "psi_value_drift",
    "lang_source_chi2",
    "value_percentiles",
    "weighted_median_price",
    "winsorized_values",
    "order_price_deciles",
    "quantile_histogram_by_type",
    "token_burstiness",
    # iterative float algorithms (GD / power iteration / LM scores)
    "logreg_quality_train",
    "logreg_quality_scores",
    "classifier_calibration",
    "classifier_confusion",
    "pca_top_component",
    "pca_top3",
    "pca_scores",
    "pca_whiten_scores",
    "embedding_covariance",
    "embedding_standardize",
    "embedding_projection",
    "embedding_outliers",
    # token-grain log/entropy arithmetic
    "bigram_logprob",
    "unigram_logprob",
    "trigram_backoff",
    "collocations_pmi",
    "tfidf_top_terms",
    "source_divergence",
    "token_source_mi",
    "doc_quality",
)


def main() -> int:
    from timeseries_spark.queries import all_oracles, all_queries
    from timeseries_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/testdata_sf1"
    only = sys.argv[2:]
    spark = get_spark("sf1_check")
    queries = all_queries()
    oracles = all_oracles()
    if only:
        queries = {k: v for k, v in queries.items() if k in only}

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    n_bad = 0
    for name in sorted(queries):
        t0 = time.time()
        try:
            df = queries[name](spark, sf_dir)
            cols = df.columns
            rows1 = df.collect()
            # first-execution wall only (build + one collect) — the
            # comparable-across-tiers number tools/bench_ratio.py's
            # correctness mode diffs; the determinism re-run below is
            # excluded so the ratio isn't 2x-inflated vs check_oracle
            dt = time.time() - t0
            h1 = value_hash(rows1, cols)
            # second execution from a fresh plan: determinism at sf1
            h2 = value_hash(queries[name](spark, sf_dir).collect(), cols)
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: {type(exc).__name__}: {exc}")
            n_bad += 1
            continue
        if h1 != h2:
            print(f"FAIL  {name}: NONDETERMINISTIC digest ({dt:.1f}s)")
            n_bad += 1
            continue
        verdict = f"ok    {name}: {len(rows1)} rows ({dt:.1f}s)"
        if name in ORACLE_SUBSET and name in oracles:
            t1 = time.time()
            try:
                res = con.execute(oracles[name])
                orows = res.fetchall()
                ocols = [d[0] for d in res.description]
                oh = value_hash(orows, ocols)
            except Exception as exc:  # noqa: BLE001
                print(f"FAIL  {name}: oracle error {exc}")
                n_bad += 1
                continue
            if len(orows) != len(rows1) or oh != h1:
                print(
                    f"FAIL  {name}: oracle mismatch rows {len(rows1)} vs "
                    f"{len(orows)} hash {'==' if oh == h1 else '!='}"
                )
                n_bad += 1
                continue
            verdict += f" +oracle-exact ({time.time() - t1:.1f}s)"
        print(verdict, flush=True)

    total = len(queries)
    print(f"\n{total - n_bad}/{total} queries pass at sf1")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
