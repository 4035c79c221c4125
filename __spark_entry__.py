"""Driver contract for the spark-graft builder (PySpark target).

``entry`` smoke-runs the flagship pipeline at sf0.001; ``queries`` /
``oracle_sql`` expose every implemented operator from SURVEY.md §2 (plus
the training-data-pipeline extensions) for the sf0.01 DuckDB-oracle gate.
The actual implementations live in ``timeseries_spark/queries/``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: dense yearly cumulative harmonic score + logistic novelty
    (the reference's core engine run, timeseries.py:441-635) over the
    sf0.001 orders table."""
    from timeseries_spark.queries.tsq import assoc_novelty_yearly

    return assoc_novelty_yearly(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator (SURVEY.md §2 ids in docstrings)."""
    from timeseries_spark.queries import all_queries

    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; keys missing here are rows-only."""
    from timeseries_spark.queries import all_oracles

    return all_oracles()
