"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (one JVM); production targets a
multi-executor cluster. Every knob here is cluster-safe: AQE handles
runtime shuffle sizing and skew so we never hard-code partition counts
the way the reference does (``repartition(400, "year")``,
timeseries.py:454 — see SURVEY.md §4).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "timeseries_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-ready defaults.

    - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
      broadcast-join demotion/promotion from runtime stats.
    - UTC session timezone: deterministic timestamp semantics across engines
      (the DuckDB oracle also runs UTC).
    - Arrow enabled for the Pandas-UDF extension operators.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no nanos
        # type, so read as long and convert at the source wrapper
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus)),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def explain(df: DataFrame) -> str:
    """``df``'s formatted-mode explain string. Every node appears twice
    in it (tree line + detail header), so raw substring counts of a node
    name are twice the node count."""
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@contextmanager
def phase(spark: SparkSession, label: str) -> Iterator[None]:
    """Run the block's jobs under job description ``label``, then give
    the caller's description back, also when the block raises. Phases
    nest: an inner phase restores the outer label, so an operator never
    wipes its caller's. The profiler groups jobs by this label."""
    sc = spark.sparkContext
    outer = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try:
        yield
    finally:
        sc.setJobDescription(outer)
