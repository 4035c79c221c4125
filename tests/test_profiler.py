"""tools/profiler.py reads jobs and stages back from the Spark status
store: a ``mark`` window sees exactly the jobs run inside it, with their
descriptions and per-stage task-time balance."""

from __future__ import annotations

from tools.profiler import job_rows, mark, stage_stats


def test_mark_window_reads_jobs_and_stages(spark):
    sc = spark.sparkContext
    spark.range(10).count()  # before the window: not counted
    group = mark(spark)
    try:
        sc.setJobDescription("probe: shuffle")
        spark.range(1000).repartition(4).groupBy().count().collect()
    finally:
        sc.setJobDescription(None)
        sc.setLocalProperty("spark.jobGroup.id", None)
    jids = sc.statusTracker().getJobIdsForGroup(group)
    rows = job_rows(spark, jids)
    assert rows and {r["desc"] for r in rows} == {"probe: shuffle"}
    assert sum(r["tasks"] for r in rows) >= 2
    stats = stage_stats(spark, group)
    assert stats and all(s["max_s"] >= s["p50_s"] >= 0 for s in stats)
    assert sum(s["tasks"] for s in stats) <= sum(r["tasks"] for r in rows)
