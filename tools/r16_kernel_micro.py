"""Microbenchmark + bit-identity check for the round-16 unrolled vector
kernels (guide §1.2 step 2 / §4.1: the per-pair cosine is an interpreted
higher-order-function fold today; unrolling to flat arithmetic for the
STATIC dims the fixtures guarantee lets whole-stage codegen compile it).

Compares, on the real sf0.1 embeddings crossed to ~1M pairs:
  fold   : aggregate(zip_with(a, b, *), 0.0, +)   (current kernel)
  unroll : lit(0.0) + a[0]*b[0] + ... + a[63]*b[63] (left-assoc, same
           IEEE association, so bit-identical by construction)
and asserts the two produce identical doubles on every pair.

Usage: python tools/r16_kernel_micro.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    from timeseries_spark.session import get_spark

    spark = get_spark("r16_kernel_micro")
    emb = (
        spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        .repartition(32)
        .localCheckpoint()
    )
    rhs = emb.select(
        F.col("vec_id").alias("vec_id_b"), F.col("v").alias("vb")
    ).filter(F.pmod("vec_id_b", F.lit(4)) == 0)  # 500 rows -> 1M pairs
    pairs = emb.crossJoin(F.broadcast(rhs)).localCheckpoint()
    print("pairs:", pairs.count())

    def fold_dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    def unroll_dot(a, b, dims=64):
        acc = F.lit(0.0)
        for i in range(dims):
            acc = acc + a[i] * b[i]
        return acc

    def timeit(col, label, reps=3):
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            pairs.select(F.sum(col)).collect()
            times.append(time.perf_counter() - t0)
        times.sort()
        print(f"{label}: median {times[len(times) // 2]:.3f}s  {times}")

    a, b = F.col("v"), F.col("vb")
    # warm both codepaths
    pairs.select(F.sum(fold_dot(a, b))).collect()
    pairs.select(F.sum(unroll_dot(a, b))).collect()
    timeit(fold_dot(a, b), "fold_dot  ")
    timeit(unroll_dot(a, b), "unroll_dot")

    mism = pairs.select(
        (fold_dot(a, b) != unroll_dot(a, b)).alias("ne")
    ).filter("ne").count()
    print("dot mismatches:", mism)

    # sq_dist variant
    def fold_sq(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    def unroll_sq(a, b, dims=64):
        acc = F.lit(0.0)
        for i in range(dims):
            acc = acc + (a[i] - b[i]) * (a[i] - b[i])
        return acc

    pairs.select(F.sum(fold_sq(a, b))).collect()
    pairs.select(F.sum(unroll_sq(a, b))).collect()
    timeit(fold_sq(a, b), "fold_sq   ")
    timeit(unroll_sq(a, b), "unroll_sq ")
    mism = pairs.select(
        (fold_sq(a, b) != unroll_sq(a, b)).alias("ne")
    ).filter("ne").count()
    print("sq mismatches:", mism)

    # interpreted context: the same expressions inside an array transform
    # (the Lloyd argmin shape) — measures the HOF-interior win
    cents = F.array(*[F.col("vb")] * 4)
    inner_fold = F.array_min(
        F.transform(
            cents,
            lambda c: F.struct(fold_sq(F.col("v"), c).alias("d")),
        )
    )["d"]
    inner_unroll = F.array_min(
        F.transform(
            cents,
            lambda c: F.struct(unroll_sq(F.col("v"), c).alias("d")),
        )
    )["d"]
    pairs.select(F.sum(inner_fold)).collect()
    pairs.select(F.sum(inner_unroll)).collect()
    timeit(inner_fold, "hof fold  ")
    timeit(inner_unroll, "hof unroll")


if __name__ == "__main__":
    main()
