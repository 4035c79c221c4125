"""Concurrent point-query serving evidence (round-11 verdict item 8).

The reference's real serving pattern is MANY plots against the same
precomputed association tables (plot_timeseries.py is run per
(disease, target) pair). This measures that: one warm session, the
staged tables materialized once, then N concurrent point reads —
each a different (disease, target) key, submitted from its own driver
thread exactly as a notebook/dashboard fan-out would — reporting
p50/p95/p99 per-request latency and aggregate throughput.

Spark's driver schedules concurrent jobs from separate threads without
extra configuration (FIFO across jobs; each point read is a handful of
sub-second tasks, so FIFO head-of-line blocking is bounded by one
task's runtime — FAIR pools would only matter if long scans shared the
session). The point plans prune to one Hive partition directory +
one pushed targetId filter each, so concurrent requests do not contend
on IO beyond the shared driver.

Usage: python tools/point_concurrency.py [sf_dir] [n_requests] [out]
"""

from __future__ import annotations

import json
import statistics
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from timeseries_spark.plans.pipeline import point_query
    from timeseries_spark.queries.domain import _staged_assoc_tables
    from timeseries_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_req = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    out_json = (
        sys.argv[3]
        if len(sys.argv) > 3
        else "experiments/POINT_CONCURRENCY_r11.json"
    )
    spark = get_spark("point_concurrency")

    t0 = time.perf_counter()
    overall, by_ds = _staged_assoc_tables(spark, sf_dir)
    stage_s = round(time.perf_counter() - t0, 2)

    # the request mix: every staged (disease, target) pair, cycled to
    # n_req — distinct keys so partition pruning is exercised per
    # request, not amortized by a shared cached read
    pairs = [
        (r["diseaseId"], r["targetId"])
        for r in overall.select("diseaseId", "targetId")
        .distinct()
        .orderBy("diseaseId", "targetId")
        .collect()
    ]
    keys = [(d, t) for i in range(n_req) for (d, t) in [pairs[i % len(pairs)]]]

    def serve(key):
        d, t = key
        t1 = time.perf_counter()
        rows = point_query(overall, by_ds, d, t).collect()
        return time.perf_counter() - t1, len(rows)

    # warm once (codegen + parquet footers), off the clock
    serve(keys[0])

    t_wall = time.perf_counter()
    with ThreadPoolExecutor(max_workers=n_req) as pool:
        results = list(pool.map(serve, keys))
    wall = round(time.perf_counter() - t_wall, 2)

    lat = sorted(r[0] for r in results)
    q = lambda p: round(lat[min(len(lat) - 1, int(p * len(lat)))], 3)  # noqa: E731
    out = {
        "sf": sf_dir,
        "n_requests": n_req,
        "distinct_keys": len(pairs),
        "stage_build_or_read_s": stage_s,
        "wall_s": wall,
        "throughput_qps": round(n_req / wall, 1),
        "latency_s": {
            "p50": q(0.50),
            "p95": q(0.95),
            "p99": q(0.99),
            "max": round(lat[-1], 3),
            "mean": round(statistics.mean(lat), 3),
        },
        "rows_per_request": {
            "min": min(r[1] for r in results),
            "max": max(r[1] for r in results),
        },
    }
    with open(out_json, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
