"""Zipf-skew stress for the two shuffles SURVEY.md §4 flags as skew
risks (round-6/8/9 carried item): the flagship scoring aggregation and
the MinHash-LSH band join.

Fixtures are the sf0.1 inputs replicated N× (tools/scale_check.py's
honest key-space scaling), then SKEWED so ONE key carries ~10% of all
rows — the Zipf head a real evidence corpus has (one blockbuster
disease-target pair; one boilerplate template across a scraped corpus):

- flagship: 10% of all replicated orders rows are rewritten onto a
  single (o_orderpriority, o_orderstatus) key before the dense
  harmonic-score + logistic-novelty pipeline. The engine's skew
  tolerance here is STRUCTURAL, not tuned: the wide aggregate runs at
  (key, year) grain so the hot key fans out across the year axis, each
  cell truncates to top-k immediately, and the round-10 fold rewrite
  (operators/scoring.py) then cumulates per KEY over the bounded
  year-spine array — a per-key ArrayAggregate behind one
  REPARTITION_BY_NUM-pinned exchange, no window — so no reducer ever
  holds the hot key's full row mass, only its truncated per-year
  top-k cells.
- LSH: 10% of replicated docs are rewritten to share one boilerplate
  template (+1 unique trailing token each). UNCAPPED, those docs agree
  on nearly every band and mint a quadratic mega-bucket — the
  counterfactual this script also measures. With the shipped
  ``max_doc_freq`` cap, the boilerplate shingles (document frequency
  far above the cap) are nulled before signatures, so the hot docs
  hash on their unique shingles and the bucket never forms.

Per-stage task distributions (max vs p50 task time of the heaviest
stages, from the Spark status store via tools/profiler.py) land in the
JSON artifact so "no straggler reducer" is evidence, not prose.

Usage: python tools/skew_check.py [sf_dir] [n_rep] [out_json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from profiler import mark, stage_stats  # noqa: E402


def time_warm(fn, reps: int = 3) -> float:
    fn()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    times.sort()
    return round(times[len(times) // 2], 3)


def replicate_orders(orders, n_rep: int):
    """Nx replica with shifted keys, partitioned the way a real cluster
    input is: the caller repartitions the checkpoint to cluster width
    (a 100 TB scan arrives in thousands of splits; leaving the fixture
    on the crossJoin's 1-3 partitions would serialize the first map
    side and measure the fixture, not the engine — round-10 lesson)."""
    rep = orders.crossJoin(
        F.broadcast(
            orders.sparkSession.range(n_rep).select(F.col("id").alias("__r"))
        )
    )
    return rep.select(
        (F.col("o_orderkey") + F.col("__r") * 10_000_000).alias("o_orderkey"),
        F.concat(
            F.col("o_orderpriority"), F.lit("#"), F.col("__r").cast("string")
        ).alias("o_orderpriority"),
        "o_orderstatus",
        "o_orderdate",
        "o_totalprice",
    )


def zipf_head_orders(ordersN):
    """Rewrite ~10% of rows (deterministic xxhash64 sample) onto ONE
    (priority, status) key — the Zipf head."""
    hot = F.pmod(F.xxhash64("o_orderkey"), F.lit(10)) == 0
    return ordersN.select(
        "o_orderkey",
        F.when(hot, F.lit("HOT#KEY"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
        F.when(hot, F.lit("H")).otherwise(F.col("o_orderstatus")).alias(
            "o_orderstatus"
        ),
        "o_orderdate",
        "o_totalprice",
    )


def replicate_docs(docs, n_rep: int):
    rep = docs.crossJoin(
        F.broadcast(
            docs.sparkSession.range(n_rep).select(F.col("id").alias("__r"))
        )
    )
    return rep.select(
        (F.col("doc_id") + F.col("__r") * 10_000_000).alias("doc_id"),
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


# 53 shared tokens + 1 unique = 54, the corpus MEDIAN doc length — the
# skewed corpus carries the same shingle workload as the uniform one,
# so any wall-time delta is attributable to the hot bucket, not to
# longer documents
_BOILER = " ".join(f"btok{i}" for i in range(53))


def zipf_head_docs(docsN):
    """Rewrite ~10% of docs onto one boilerplate template (corpus-median
    length) plus a single doc-unique trailing token (near-identical,
    not identical)."""
    hot = F.pmod(F.col("doc_id"), F.lit(10)) == 0
    return docsN.select(
        "doc_id",
        F.when(
            hot,
            F.concat(
                F.lit(_BOILER + " uniq"), F.col("doc_id").cast("string")
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def main() -> None:
    from timeseries_spark.extensions.dedup import lsh_candidates
    from timeseries_spark.operators.novelty import add_novelty
    from timeseries_spark.operators.scoring import association_score
    from timeseries_spark.queries import load
    from timeseries_spark.queries.tsq import KEYS, ORDERS_CFG
    from timeseries_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_rep = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    out_json = sys.argv[3] if len(sys.argv) > 3 else "experiments/SKEW_r10.json"
    spark = get_spark("skew_check")
    out: dict = {"sf": sf_dir, "n_rep": n_rep}

    # ---------------- flagship scoring under a Zipf head ----------------
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderstatus", "o_orderdate",
        "o_totalprice",
    )
    width = spark.sparkContext.defaultParallelism
    uniform = replicate_orders(orders, n_rep).repartition(width).localCheckpoint()
    skewed = zipf_head_orders(uniform).localCheckpoint()
    hot_rows = skewed.filter(F.col("o_orderpriority") == "HOT#KEY").count()
    total_rows = skewed.count()

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

    t_uni = time_warm(flagship(uniform))
    seen = mark(spark)
    t_skew = time_warm(flagship(skewed))
    out["flagship"] = {
        "rows": total_rows,
        "hot_key_rows": hot_rows,
        "hot_frac": round(hot_rows / total_rows, 3),
        "t_uniform": t_uni,
        "t_skewed": t_skew,
        "ratio": round(t_skew / max(t_uni, 1e-3), 2),
        "skewed_stage_stats": stage_stats(spark, seen),
    }
    print(json.dumps({"flagship": out["flagship"]}))

    # ---------------- LSH bands under a boilerplate head ----------------
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    docs_uni = replicate_docs(docs, n_rep).repartition(width).localCheckpoint()
    docs_skew = zipf_head_docs(docs_uni).localCheckpoint()

    def lsh(d, cap):
        return lambda: lsh_candidates(
            d, n=3, num_hashes=32, bands=8, max_doc_freq=cap
        ).count()

    t_uni = time_warm(lsh(docs_uni, 50))
    seen = mark(spark)
    t_skew = time_warm(lsh(docs_skew, 50))
    pairs_uniform = lsh_candidates(
        docs_uni, n=3, num_hashes=32, bands=8, max_doc_freq=50
    ).count()
    pairs_capped = lsh_candidates(
        docs_skew, n=3, num_hashes=32, bands=8, max_doc_freq=50
    ).count()
    # counterfactual: no doc-frequency cap — the mega-bucket forms;
    # single shot (not warmed medians): the point is the blowup factor.
    # Guarded to the 5x tier — at 25x the bucket alone is C(12.5k, 2)
    # pairs x 8 bands, which only re-proves the same quadratic
    hot_n = docs_skew.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0).count()
    if hot_n <= 5000:
        t0 = time.perf_counter()
        pairs_uncapped = lsh_candidates(
            docs_skew, n=3, num_hashes=32, bands=8, max_doc_freq=None
        ).count()
        t_uncapped = round(time.perf_counter() - t0, 3)
    else:
        pairs_uncapped = None
        t_uncapped = None
    out["lsh"] = {
        "docs": docs_skew.count(),
        "hot_docs": hot_n,
        "t_uniform_capped": t_uni,
        "t_skewed_capped": t_skew,
        "ratio": round(t_skew / max(t_uni, 1e-3), 2),
        "pairs_uniform_capped": pairs_uniform,
        "pairs_skewed_capped": pairs_capped,
        "t_skewed_uncapped_single_shot": t_uncapped,
        "pairs_skewed_uncapped": pairs_uncapped,
        "skewed_stage_stats": stage_stats(spark, seen),
    }
    print(json.dumps({"lsh": out["lsh"]}))

    os.makedirs(os.path.dirname(out_json) or ".", exist_ok=True)
    with open(out_json, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"wrote {out_json}")


if __name__ == "__main__":
    main()
