"""Demonstrate the advisory-bytes lever on the 25x flagship (VERDICT
r8/r9 carried item).

Background (round-7 event log, memory'd as the AQE bytes-vs-compute
mismatch): stages whose input is byte-small but compute-real get
coalesced onto 1-2 tasks by AQE's byte-based sizing. Round 10 removed
the worst such stage structurally (the cumulative window is now a
pinned per-key fold — operators/scoring.py), so this experiment
documents what remains: lowering BOTH
``spark.sql.adaptive.advisoryPartitionSizeInBytes`` AND
``spark.sql.adaptive.coalescePartitions.minPartitionSize`` (coalescing
never goes below the latter, 1MB default — advisory alone is inert for
sub-MB stages) fans the residual byte-small reduces out across the
executors. Wall time plus per-stage task distributions land in the
JSON artifact.

Usage: python tools/advisory_check.py [sf_dir] [n_rep] [out_json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from profiler import mark, stage_stats  # noqa: E402
from skew_check import replicate_orders  # noqa: E402


def main() -> None:
    from timeseries_spark.operators.novelty import add_novelty
    from timeseries_spark.operators.scoring import association_score
    from timeseries_spark.queries import load
    from timeseries_spark.queries.tsq import KEYS, ORDERS_CFG
    from timeseries_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_rep = int(sys.argv[2]) if len(sys.argv) > 2 else 25
    out_json = (
        sys.argv[3] if len(sys.argv) > 3 else "experiments/ADVISORY_r10.json"
    )
    spark = get_spark("advisory_check")

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderstatus", "o_orderdate",
        "o_totalprice",
    )
    big = (
        replicate_orders(orders, n_rep)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
    )

    def flagship():
        ev = big.select(
            "o_orderpriority",
            "o_orderstatus",
            F.year("o_orderdate").cast("int").alias("year"),
            (F.col("o_totalprice") / 600000).alias("score"),
        )
        add_novelty(
            association_score(ev, ORDERS_CFG, KEYS), ORDERS_CFG, KEYS
        ).count()

    out: dict = {"sf": sf_dir, "n_rep": n_rep, "rows": big.count()}
    # advisory alone does nothing here: coalescing never goes below
    # coalescePartitions.minPartitionSize (1MB default), and the whole
    # compute-heavy reduce is byte-smaller than that — BOTH knobs must
    # drop for AQE to leave the stage fanned out
    for label, advisory in (("default_64MB", None), ("lowered_16KB", "16KB")):
        if advisory is not None:
            spark.conf.set(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory
            )
            spark.conf.set(
                "spark.sql.adaptive.coalescePartitions.minPartitionSize",
                "1KB",
            )
        flagship()  # warm (and let AQE settle) off the clock
        seen = mark(spark)
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            flagship()
            times.append(time.perf_counter() - t0)
        times.sort()
        out[label] = {
            "wall_median_s": round(times[1], 3),
            "stage_stats": stage_stats(spark, seen, top_n=6),
        }
        print(json.dumps({label: out[label]}))

    os.makedirs(os.path.dirname(out_json) or ".", exist_ok=True)
    with open(out_json, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"wrote {out_json}")


if __name__ == "__main__":
    main()
