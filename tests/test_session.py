"""timeseries_spark/session.py: ``phase`` labels the jobs run inside it
and gives the caller's job description back, nested or on error."""

from __future__ import annotations

import pytest

from timeseries_spark.session import phase
from tools.profiler import job_rows, mark


def test_phase_nests_and_restores(spark):
    sc = spark.sparkContext

    def label():
        return sc.getLocalProperty("spark.job.description")

    group = mark(spark)
    try:
        sc.setJobDescription("caller")
        with phase(spark, "outer"):
            spark.range(3).count()
            with phase(spark, "inner"):
                assert label() == "inner"
                spark.range(4).count()
            assert label() == "outer"
            with pytest.raises(ZeroDivisionError):
                with phase(spark, "failing"):
                    1 / 0
            assert label() == "outer"
        assert label() == "caller"
        spark.range(5).count()
        jids = sc.statusTracker().getJobIdsForGroup(group)
        descs = {r["desc"] for r in job_rows(spark, jids)}
    finally:
        sc.setJobDescription(None)
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert descs == {"caller", "inner", "outer"}
