"""IO layer (SURVEY.md §2.1): CSV round-trip with declared schemas,
schema-merging parquet scans, shuffled-null permutation."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests.conftest import explain
from timeseries_spark.operators.scaffold import shuffled_null_years
from timeseries_spark.sources.io import read_csv, read_parquet, write_csv


def test_csv_round_trip(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", 1, 0.5), ("b", 2, None)], "k string, n int, v double"
    )
    out = str(tmp_path / "csv_out")
    write_csv(df, out, single_file=True)
    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("n", T.IntegerType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    back = read_csv(spark, out, schema=schema)
    assert back.schema == schema  # declared, not inferred
    assert {tuple(r) for r in back.collect()} == {("a", 1, 0.5), ("b", 2, None)}
    import os

    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 1  # single_file coalesced


def test_merge_schema_scan(spark, tmp_path):
    """S3: a directory mixing per-source schemas reads as the union of
    columns with NULLs where a file lacks one."""
    out = str(tmp_path / "mixed")
    spark.createDataFrame([("e1", 2001)], "id string, studyYear int").write.parquet(
        out + "/src=a"
    )
    spark.createDataFrame(
        [("e2", "2002-01-01")], "id string, studyStartDate string"
    ).write.parquet(out + "/src=b")
    df = read_parquet(spark, out, merge_schema=True)
    assert {"id", "studyYear", "studyStartDate", "src"} <= set(df.columns)
    rows = {r["id"]: r for r in df.collect()}
    assert rows["e1"]["studyYear"] == 2001 and rows["e1"]["studyStartDate"] is None
    assert rows["e2"]["studyStartDate"] == "2002-01-01"


def test_shuffled_null_preserves_year_multiset(spark, evidence_dated):
    """O5: the null model is a true permutation — the year multiset is
    conserved, keys untouched, and a fixed seed reproduces itself."""
    a = shuffled_null_years(evidence_dated, seed=7)
    b = shuffled_null_years(evidence_dated, seed=7)
    orig_years = sorted(
        (r["year"] is None, r["year"] or 0)
        for r in evidence_dated.select("year").collect()
    )
    got_years = sorted(
        (r["year"] is None, r["year"] or 0) for r in a.select("year").collect()
    )
    assert got_years == orig_years
    assert sorted(r["id"] for r in a.collect()) == sorted(
        r["id"] for r in evidence_dated.collect()
    )
    import math

    def norm(v):
        if isinstance(v, list):
            return tuple(v)
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return v

    def freeze(rows):
        return {
            tuple((k, norm(v)) for k, v in sorted(r.asDict().items()))
            for r in rows
        }

    assert freeze(a.collect()) == freeze(b.collect())


def test_register_views_sql_surface(spark, sf_dir):
    from timeseries_spark.sources.io import register_views

    register_views(spark, sf_dir)
    n = spark.sql(
        "SELECT count(*) AS n FROM orders JOIN customer ON o_custkey = c_custkey"
    ).first()["n"]
    assert n > 0


def test_asof_join_semantics(spark):
    """>= ties match; no-prior-right rows get NULL; tolerance drops stale
    matches."""
    from timeseries_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u1", 5, "a"), ("u1", 10, "b"), ("u1", 30, "c"), ("u2", 7, "d")],
        "k string, t long, tag string",
    )
    right = spark.createDataFrame(
        [("u1", 5, 1.0), ("u1", 9, 2.0)], "k string, t long, v double"
    )
    out = {
        r["tag"]: r["v"]
        for r in asof_join(left, right, ["k"], "t", "t", ["v"]).collect()
    }
    assert out == {"a": 1.0, "b": 2.0, "c": 2.0, "d": None}
    bounded = {
        r["tag"]: r["v"]
        for r in asof_join(
            left, right, ["k"], "t", "t", ["v"], tolerance=10
        ).collect()
    }
    # at t=30 the last right row (t=9) is 21 old -> dropped by tolerance
    assert bounded == {"a": 1.0, "b": 2.0, "c": None, "d": None}


def test_asof_join_null_payload_rows_match(spark):
    """DuckDB ASOF semantics: the LATEST right row wins even when its
    payload columns are NULL — no carry-through of an older non-null
    value, and multiple value columns never mix rows."""
    from timeseries_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u1", 10, "a"), ("u1", 20, "b")], "k string, t long, tag string"
    )
    right = spark.createDataFrame(
        [("u1", 5, 1.0, "x"), ("u1", 9, None, "y"), ("u1", 15, 3.0, None)],
        "k string, t long, v double, s string",
    )
    out = {
        r["tag"]: (r["v"], r["s"])
        for r in asof_join(
            left, right, ["k"], "t", "t", ["v", "s"]
        ).collect()
    }
    # at t=10 the latest right row is t=9 with v NULL: v must be NULL (not
    # the t=5 value) and s must be 'y' — both fields from the SAME row
    assert out["a"] == (None, "y")
    assert out["b"] == (3.0, None)


def test_interval_join_left_and_broadcast(spark):
    from timeseries_spark.operators.ranges import interval_join

    pts = spark.createDataFrame(
        [(1, 5.0), (2, 15.0), (3, 99.0)], "pid long, v double"
    )
    ivals = spark.createDataFrame(
        [("a", 0.0, 10.0), ("b", 4.0, 20.0)], "name string, lo double, hi double"
    )
    inner = {
        (r["pid"], r["name"])
        for r in interval_join(pts, ivals, "v", "lo", "hi", 8.0).collect()
    }
    assert inner == {(1, "a"), (1, "b"), (2, "b")}  # overlaps multi-match
    left = {
        (r["pid"], r["name"])
        for r in interval_join(pts, ivals, "v", "lo", "hi", 8.0, how="left").collect()
    }
    assert left == inner | {(3, None)}
    bc = {
        (r["pid"], r["name"])
        for r in interval_join(
            pts, ivals, "v", "lo", "hi", broadcast=True
        ).collect()
    }
    assert bc == inner


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC source/sink: partitioned write, exact read-back, and the
    same scan-pushdown contract as parquet (partition pruning + filter
    into the file scan)."""
    from timeseries_spark.sources.io import read_orc, write_orc

    df = spark.createDataFrame(
        [(i, i % 3, f"v{i}") for i in range(30)],
        "id bigint, part int, val string",
    )
    path = str(tmp_path / "orc_tbl")
    write_orc(df, path, partition_by="part")
    back = read_orc(spark, path)
    assert {tuple(r) for r in back.select("id", "part", "val").collect()} == {
        tuple(r) for r in df.collect()
    }
    pruned = read_orc(spark, path, columns=["id", "part"]).where(
        "part = 1 AND id > 3"
    )
    plan = explain(pruned)
    assert "Scan orc" in plan
    assert "PushedFilters" in plan and "id" in plan.split("PushedFilters")[1][:120]
    assert "val" not in plan.split("ReadSchema")[1][:120]  # column pruned


def test_zorder_write_shrinks_per_file_ranges(spark, tmp_path):
    """Data-skipping evidence: after a Z-order write on (a, b), each
    file's min/max envelope covers a small RECTANGLE of the value
    space, so the summed per-file range width in BOTH dimensions is far
    below an unclustered write's (where every file spans nearly the
    full range of at least one column)."""
    from pyspark.sql import functions as F

    from timeseries_spark.sources.io import write_zordered

    n = 20_000
    df = (
        spark.range(n)
        .select(
            (F.pmod(F.col("id") * 48271, F.lit(65537))).alias("a"),
            (F.pmod(F.col("id") * 16807, F.lit(65537))).alias("b"),
        )
    )

    def per_file_coverage(path):
        back = spark.read.parquet(path).withColumn(
            "f", F.input_file_name()
        )
        row = (
            back.groupBy("f")
            .agg(
                (F.max("a") - F.min("a")).alias("ra"),
                (F.max("b") - F.min("b")).alias("rb"),
            )
            .agg(F.avg("ra").alias("ma"), F.avg("rb").alias("mb"))
            .collect()[0]
        )
        return row["ma"], row["mb"]

    base = str(tmp_path / "plain")
    df.repartition(16).write.parquet(base)
    zord = str(tmp_path / "zord")
    write_zordered(df, zord, "a", "b", num_files=16)

    pa, pb = per_file_coverage(base)
    za, zb = per_file_coverage(zord)
    # random layout: every file spans ~the full 65k range in both dims.
    # 16 z-curve tiles: each file covers ~1/4 of each dimension.
    assert za < pa * 0.5 and zb < pb * 0.5
    # 16 range-partitioned z tiles ≈ a 4×4 grid, but partition
    # boundaries don't align with tile edges — each file still covers
    # well under half of each dimension (vs ~full range unclustered)
    assert za < 32000 and zb < 32000
    # and the data itself round-trips
    assert spark.read.parquet(zord).count() == n


def test_compact_table_reduces_file_count(spark, tmp_path):
    from pyspark.sql import functions as F

    from timeseries_spark.sources.io import compact_table, table_bytes

    src = str(tmp_path / "many")
    dst = str(tmp_path / "few")
    spark.range(5000).select(
        "id", (F.col("id") % 7).alias("k")
    ).repartition(64).write.parquet(src)
    total = table_bytes(spark, src)
    assert total > 0
    # target half the table per file -> 2 files (+1 for rounding)
    n = compact_table(spark, src, dst, target_file_bytes=total // 2 + 1)
    assert n == 2
    import glob

    files = glob.glob(dst + "/part-*")
    assert len(files) == 2
    assert spark.read.parquet(dst).count() == 5000
    import pytest

    with pytest.raises(ValueError):
        compact_table(spark, src, dst + "2", target_file_bytes=0)
