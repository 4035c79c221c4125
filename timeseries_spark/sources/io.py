"""Parquet / CSV IO with explicit schemas and a *correct* existence check.

Fixes the reference's latent skip-if-exists bug: it guards recomputation
with ``os.path.exists`` on ``gs://`` URIs, which is always False off the
local filesystem (timeseries.py:344-347; SURVEY.md §2.1 S9). Here existence
goes through Hadoop's FileSystem API, which resolves any configured scheme
(file://, hdfs://, gs://, s3a://).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def table_exists(spark: SparkSession, path: str) -> bool:
    """Scheme-aware path existence via the JVM Hadoop FileSystem."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hadoop_path = jvm.org.apache.hadoop.fs.Path(path)
    fs = hadoop_path.getFileSystem(jsc.hadoopConfiguration())
    return bool(fs.exists(hadoop_path))


def read_parquet(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Parquet scan (S1/S3). ``schema`` validates/prunes instead of trusting
    footers; ``merge_schema`` for directories mixing per-source schemas
    (timestamp_evidence.py:255-257)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV scan with declared types (S4) — no inference pass."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: str | list[str] | None = None,
    mode: str = "error",
) -> None:
    """Parquet sink (S6/S7/S8). Partitioned layouts (``sourceId=...``) keep
    partition pruning available to every downstream scan. Unlike the
    reference we never read-modify-overwrite the same path in one job
    (timeseries.py:632-634 risk, SURVEY.md §7) — callers version outputs."""
    writer = df.write.mode(mode)
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        writer = writer.partitionBy(*cols)
    writer.parquet(path)


def write_csv(
    df: DataFrame,
    path: str,
    single_file: bool = False,
    mode: str = "error",
) -> None:
    """CSV sink (S11): the reference collects aggregate matrices to driver
    pandas and ``to_csv``s them (novelty_approval.py:707-715). Staying
    distributed scales; ``single_file=True`` coalesces presentation-sized
    results to one part file without a driver round-trip."""
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).option("header", "true").csv(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: str | list[str],
    num_buckets: int = 32,
    sort_cols: str | list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-table sink: pre-hash-partitions rows into
    ``num_buckets`` files per partition keyed on ``bucket_cols``.

    This is the 100 TB co-location tool the path-based sinks can't give:
    two tables bucketed on the same key with the same bucket count join
    WITHOUT any Exchange — Spark trusts the on-disk hash layout, so the
    fact-to-fact joins that would otherwise shuffle terabytes (evidence ⋈
    association on (diseaseId, targetId)) become partition-local map
    joins. ``sort_cols`` additionally pre-sorts within buckets, turning
    sort-merge joins into merge-only. Bucketing requires the table
    catalog (``saveAsTable``) — bucket metadata lives there, not in
    parquet footers."""
    cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    writer = df.write.mode(mode).bucketBy(num_buckets, *cols)
    if sort_cols is not None:
        s = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        writer = writer.sortBy(*s)
    writer.format("parquet").saveAsTable(table)


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType | str
) -> DataFrame:
    """Line-delimited JSON scan with a REQUIRED explicit schema: at
    100 TB, schema inference is a full extra pass over the data and a
    correctness hazard (a late partition can widen a type the early
    sample chose). Missing fields surface as NULLs; JSON string
    escaping keeps embedded newlines one-record-per-line."""
    return spark.read.schema(schema).json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "error") -> None:
    """Line-delimited JSON sink — the interchange format training-data
    pipelines actually feed tokenizers from. Distributed (one part file
    per task), no driver round-trip."""
    df.write.mode(mode).json(path)


def register_views(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None
) -> None:
    """Register the testdata tables as temp views so the whole engine
    surface is reachable from plain ``spark.sql`` — the reference has no
    SQL entry point; with views every oracle query in
    ``__spark_entry__.oracle_sql()`` (modulo dialect) also runs on Spark
    directly."""
    names = tables or [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]
    for name in names:
        spark.read.parquet(f"{sf_dir}/{name}.parquet").createOrReplaceTempView(
            name
        )


def read_orc(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
) -> DataFrame:
    """ORC scan — the second columnar format large warehouses actually
    hold (Hive-era lakes are ORC; a migration engine must read both).
    Spark's native vectorized ORC reader gives the same pushdown /
    pruning contract as parquet: pass ``columns`` to prune at the scan
    (ReadSchema), and filters placed on the result push into the file
    (PushedFilters) exactly as asserted for parquet in
    tests/test_plans.py."""
    df = spark.read.orc(path)
    return df.select(*columns) if columns else df


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: str | list[str] | None = None,
    mode: str = "error",
) -> None:
    """ORC sink with optional Hive partitioning — same layout contract
    as ``write_parquet`` (one directory level per partition column,
    pruned by Catalyst on read-back)."""
    w = df.write.mode(mode)
    if partition_by:
        cols = (
            [partition_by] if isinstance(partition_by, str) else partition_by
        )
        w = w.partitionBy(*cols)
    w.orc(path)


def zorder_value(
    x: Column, y: Column, x_min: Column, x_rng: Column,
    y_min: Column, y_rng: Column, bits: int = 16,
) -> Column:
    """Morton (Z-curve) interleave of two min-max-normalized columns:
    each value maps to a ``bits``-bit code via exact integer floor
    scaling, then bit b of x lands at position 2b and bit b of y at
    2b+1. Pure 64-bit integer expressions — codegen'd, no UDF."""
    scale = (1 << bits) - 1
    xc = F.floor(
        (x - x_min) * scale / F.greatest(x_rng, F.lit(1e-12))
    ).cast("bigint")
    yc = F.floor(
        (y - y_min) * scale / F.greatest(y_rng, F.lit(1e-12))
    ).cast("bigint")
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        z = z + F.shiftleft(
            F.shiftright(xc, b).bitwiseAND(F.lit(1)), 2 * b
        ) + F.shiftleft(
            F.shiftright(yc, b).bitwiseAND(F.lit(1)), 2 * b + 1
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    num_files: int = 16,
    mode: str = "error",
) -> None:
    """Z-order clustered parquet write — the lakehouse layout move
    (public: Databricks OPTIMIZE ZORDER, Iceberg sort orders) that
    makes MULTI-dimensional predicates skippable from footer min/max
    stats alone: rows near each other on the Z-curve are near each
    other in BOTH columns, so each file covers a small rectangle of
    (x, y) space instead of a full-width stripe.

    Plan: one tiny min/max aggregate broadcast back (1 row), the Morton
    code as a codegen'd projection, then ONE range repartition on the
    code (a global sort boundary — the unavoidable shuffle any
    clustering write pays) with files written in code order. The z
    column itself is dropped before writing."""
    stats = df.agg(
        F.min(col_x).alias("xm"),
        (F.max(col_x) - F.min(col_x)).alias("xr"),
        F.min(col_y).alias("ym"),
        (F.max(col_y) - F.min(col_y)).alias("yr"),
    )
    coded = df.crossJoin(F.broadcast(stats)).withColumn(
        "__z",
        zorder_value(
            F.col(col_x).cast("double"), F.col(col_y).cast("double"),
            F.col("xm").cast("double"), F.col("xr").cast("double"),
            F.col("ym").cast("double"), F.col("yr").cast("double"),
        ),
    ).drop("xm", "xr", "ym", "yr")
    (
        coded.repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def table_bytes(spark: SparkSession, path: str) -> int:
    """Recursive on-disk size of a table directory via the JVM Hadoop
    FileSystem (scheme-aware — works for file://, hdfs://, gs://)."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hadoop_path = jvm.org.apache.hadoop.fs.Path(path)
    fs = hadoop_path.getFileSystem(jsc.hadoopConfiguration())
    return int(fs.getContentSummary(hadoop_path).getLength())


def compact_table(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    mode: str = "error",
) -> int:
    """Small-file compaction: rewrite a parquet table into
    ``ceil(table_bytes / target_file_bytes)`` files — the maintenance
    pass every streaming/incremental sink needs (a micro-batch sink
    mints one file per trigger per partition; a year of 1-minute
    triggers is half a million footers, and at 100 TB the NameNode/
    listing cost dwarfs the data). Uses round-robin ``repartition(n)``
    (no key assumption, even output sizes); callers that also want
    multi-dimensional skipping compose ``write_zordered`` instead.
    Writes to ``dst`` — production wraps this in an atomic
    rename/metadata swap, which is an orchestration concern, not an
    engine one. Returns the target file count."""
    if target_file_bytes < 1:
        raise ValueError(
            f"target_file_bytes must be >= 1, got {target_file_bytes}"
        )
    total = table_bytes(spark, src)
    n = max(1, -(-total // int(target_file_bytes)))
    spark.read.parquet(src).repartition(n).write.mode(mode).parquet(dst)
    return n
