"""Incremental-vs-full recompute experiment for the flagship pipeline
(SCALING.md; plans/incremental.py).

The claim under test: when a release appends ~1% new evidence touching
~1% of key groups, `incremental_association` (semi-join-scoped
recompute + anti-join merge) costs a small fraction of the full
score+novelty rebuild, and produces the IDENTICAL table.

Setup mirrors tools/scale_check.py: the sf_dir orders table is
replicated n_rep x with shifted custkeys so the key space scales with
the data (the regime a growing evidence corpus is in), evidence grain
is per-customer (the high-cardinality flagship grain,
assoc_custkey_novelty). The append is deterministic: every custkey
divisible by 100 gains one 2001 evidence row — ~1% of groups touched.

Equality is proven by an order-insensitive per-row digest (doubles
rounded to 9 dp, the driver harness's normalization) aggregated with a
commutative bit-xor — no driver-side collect of either table.

Usage: python tools/incremental_check.py [sf_dir] [n_rep]
Prints one JSON line: {name, rows, groups, touched, t_full, t_inc,
speedup, equal}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def time_warm(fn, reps: int = 3) -> float:
    fn()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    times.sort()
    return round(times[len(times) // 2], 3)


def table_digest(df):
    """Order-insensitive digest: xor of per-row xxhash64 over the
    9dp-normalized row rendering. Computed distributedly; one long."""
    cols = [
        F.coalesce(
            F.format_number(F.col(c).cast("double"), 9), F.lit("NULL")
        )
        if t in ("double", "float")
        else F.coalesce(F.col(c).cast("string"), F.lit("NULL"))
        for c, t in df.dtypes
    ]
    row = F.xxhash64(F.concat_ws("\x1f", *cols))
    # xor-fold via sum of (hash, hash^2) is not commutative-safe for
    # duplicates; bit_xor is, and duplicate rows cannot occur at key
    # grain (one output row per group-year)
    return df.select(row.alias("h")).agg(
        F.expr("bit_xor(h)").alias("d"), F.count("*").alias("n")
    ).first()


def main() -> None:
    from timeseries_spark.operators.novelty import add_novelty
    from timeseries_spark.operators.scoring import association_score
    from timeseries_spark.plans.incremental import incremental_association
    from timeseries_spark.queries import load
    from timeseries_spark.queries.tsq import ORDERS_CFG
    from timeseries_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_rep = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark("incremental_check")
    keys = ["o_custkey"]

    base = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    rep = base.crossJoin(
        F.broadcast(spark.range(n_rep).select(F.col("id").alias("__r")))
    )
    evidence = (
        rep.select(
            (F.col("o_custkey") + F.col("__r") * 10_000_000).alias(
                "o_custkey"
            ),
            F.year("o_orderdate").cast("int").alias("year"),
            (F.col("o_totalprice") / 600000).alias("score"),
        )
        .localCheckpoint()
    )

    # ~1% of groups: one new 2001 evidence row per custkey % 100 == 0
    new_batch = (
        evidence.filter(F.col("o_custkey") % 100 == 0)
        .groupBy("o_custkey")
        .agg(F.round(F.max("score") * 0.5, 6).alias("score"))
        .select("o_custkey", F.lit(2001).cast("int").alias("year"), "score")
        .localCheckpoint()
    )
    all_evidence = evidence.unionByName(new_batch).localCheckpoint()

    def full(ev):
        return add_novelty(
            association_score(ev, ORDERS_CFG, keys), ORDERS_CFG, keys
        )

    existing = full(evidence).localCheckpoint()

    t_full = time_warm(lambda: full(all_evidence).count())
    t_inc = time_warm(
        lambda: incremental_association(
            existing, all_evidence, new_batch, ORDERS_CFG, keys
        ).count()
    )

    inc_d = table_digest(
        incremental_association(
            existing, all_evidence, new_batch, ORDERS_CFG, keys
        )
    )
    full_d = table_digest(full(all_evidence))

    print(json.dumps({
        "name": "incremental_vs_full",
        "sf": sf_dir, "n_rep": n_rep,
        "rows": all_evidence.count(),
        "groups": evidence.select("o_custkey").distinct().count(),
        "touched": new_batch.count(),
        "t_full": t_full, "t_inc": t_inc,
        "speedup": round(t_full / max(t_inc, 1e-3), 2),
        "equal": bool(
            inc_d["d"] == full_d["d"] and inc_d["n"] == full_d["n"]
        ),
    }))


if __name__ == "__main__":
    main()
