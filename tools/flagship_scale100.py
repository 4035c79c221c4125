"""100x flagship replication step (round-11 verdict item 5).

tools/scale_check.py stops at 25x; this drives the fold-rewrite
scoring+novelty pipeline (operators/scoring.py per-key ArrayAggregate
fold) at 25x AND 100x sf0.1 — 15M evidence rows at 100x — with the key
space scaling alongside the data (replica-suffixed priorities) and the
fixtures checkpointed at cluster width (the round-10 lesson: a 1-file
replication measures its own serialized scan, not the engine).

Evidence captured per tier: median-of-3 warm wall time and per-stage
task-balance stats from the Spark status store (max vs p50 task time of
the heaviest stages — a straggler reducer shows as max >> p50). Linear
scaling predicts t(100x) ~ 4 * t(25x) on a fixed 32-core box once the
corpus is large enough to saturate it.

Usage: python tools/flagship_scale100.py [sf_dir] [out_json]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from profiler import mark, stage_stats  # noqa: E402
from skew_check import replicate_orders, time_warm  # noqa: E402


def main() -> None:
    from timeseries_spark.operators.novelty import add_novelty
    from timeseries_spark.operators.scoring import association_score
    from timeseries_spark.queries import load
    from timeseries_spark.queries.tsq import KEYS, ORDERS_CFG
    from timeseries_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_json = (
        sys.argv[2]
        if len(sys.argv) > 2
        else "experiments/FLAGSHIP100_r11.json"
    )
    spark = get_spark("flagship_scale100")
    width = spark.sparkContext.defaultParallelism
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_orderstatus",
        "o_orderdate",
        "o_totalprice",
    )

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

    out: dict = {"sf": sf_dir, "width": width, "tiers": {}}
    prev_wall = None
    for n_rep in (25, 100):
        fix = (
            replicate_orders(orders, n_rep)
            .repartition(width)
            .localCheckpoint()
        )
        rows = fix.count()
        n_keys = (
            fix.select("o_orderpriority", "o_orderstatus")
            .distinct()
            .count()
        )
        seen = mark(spark)
        wall = time_warm(flagship(fix))
        tier = {
            "rows": rows,
            "keys": n_keys,
            "wall_s": wall,
            "stage_stats": stage_stats(spark, seen),
        }
        if prev_wall is not None:
            tier["ratio_vs_prev_tier"] = round(wall / max(prev_wall, 1e-3), 2)
        prev_wall = wall
        out["tiers"][f"{n_rep}x"] = tier
        print(json.dumps({f"{n_rep}x": tier}), flush=True)
        fix.unpersist()

    with open(out_json, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {out_json}")


if __name__ == "__main__":
    main()
