"""Structured Streaming surface: the same transformations must produce
identical results via readStream (availableNow drain) and batch."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from timeseries_spark.queries import load
from timeseries_spark.streaming import (
    read_event_stream,
    run_available_now,
    sessionize,
    windowed_type_counts,
)


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    """Re-materialize events as micros timestamps so the streaming source
    (explicit schema, no nanos) can read them."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    load(spark, SF_DIR, "events").write.mode("overwrite").parquet(out)
    return out


def test_stream_matches_batch_windowed(spark, event_dir):
    batch = windowed_type_counts(
        spark.read.parquet(event_dir), "1 hour", streaming=False
    )
    stream = windowed_type_counts(
        read_event_stream(spark, event_dir), "1 hour", watermark="2 hours"
    )
    got = run_available_now(stream, "win_counts_test", spark)
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in got.collect()}
    assert b == s
    assert len(b) > 0


def test_stream_sessionize_matches_batch(spark, event_dir):
    batch = sessionize(spark.read.parquet(event_dir), "2 hours", streaming=False)
    stream = sessionize(
        read_event_stream(spark, event_dir), "2 hours", streaming=True
    )
    got = run_available_now(stream, "sessions_test", spark)
    assert {tuple(r) for r in batch.collect()} == {tuple(r) for r in got.collect()}


def test_watermark_bounds_state(spark, event_dir):
    """The streaming plan carries an event-time watermark node."""
    stream = windowed_type_counts(
        read_event_stream(spark, event_dir), "1 hour", watermark="2 hours"
    )
    assert "EventTimeWatermark" in stream._jdf.queryExecution().analyzed().toString()


def test_stateful_running_peaks_matches_batch(spark, event_dir, tmp_path_factory):
    """applyInPandasWithState (one double of state per user) must equal the
    batch running-max window, including state carried across micro-batches:
    the input is split into 3 ts-ordered files and drained with
    maxFilesPerTrigger=1, so each user's record must survive the state
    store between batches."""
    from timeseries_spark.streaming import running_peaks

    events = spark.read.parquet(event_dir)
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    step = (hi - lo) / 3
    multi = str(tmp_path_factory.mktemp("events_parts"))
    for p in range(3):
        lower = lo + p * step
        upper = hi if p == 2 else lo + (p + 1) * step
        cond = (F.col("ts") >= lower) & (
            F.col("ts") <= upper if p == 2 else F.col("ts") < upper
        )
        events.filter(cond).coalesce(1).write.mode("append").parquet(multi)
    batch = running_peaks(events, streaming=False)
    stream = running_peaks(read_event_stream(spark, multi), streaming=True)
    got = run_available_now(stream, "peaks_test", spark, output_mode="append")
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in got.collect()}
    assert b == s
    assert len(b) > 0


def test_watermark_drops_late_data(spark, tmp_path_factory):
    """A row arriving in a later micro-batch with event time older than
    max(event_time) - watermark must be DROPPED by the streaming agg but
    counted by batch — the bounded-state contract, demonstrated."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    mkrow = lambda i, hours, v: (
        i, base + dt.timedelta(hours=hours), 1, "click", float(v), "{}"
    )
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    d = str(tmp_path_factory.mktemp("late"))
    import time

    # batch 0: events at hours 0 and 10 -> watermark becomes 10h - 2h = 8h,
    # but it is applied with a ONE-BATCH lag (computed at batch end, used
    # from the next batch on)
    spark.createDataFrame(
        [mkrow(1, 0, 1.0), mkrow(2, 10, 1.0)], schema
    ).coalesce(1).write.mode("append").parquet(d)
    time.sleep(0.05)  # distinct mod times => deterministic batch order
    # batch 1: within-watermark row, also burns the lag batch
    spark.createDataFrame([mkrow(4, 9.5, 5.0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    time.sleep(0.05)
    # batch 2: hour 1 is 7h behind the now-effective 8h watermark -> dropped
    spark.createDataFrame([mkrow(3, 1, 100.0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(d)

    stream = windowed_type_counts(
        read_event_stream(spark, d), "1 hour", watermark="2 hours"
    )
    # update mode: complete mode retains ALL state (the watermark never
    # drops anything there); in update mode late rows are filtered. The
    # memory sink appends one row per updated window per batch — counts
    # only grow, so each window's final value is its max.
    got = run_available_now(stream, "late_test", spark, output_mode="update")
    final = got.groupBy("window_start_s", "event_type").agg(
        F.max("total_value").alias("tv")
    )
    stream_total = final.agg(F.sum("tv")).first()[0]
    batch_total = windowed_type_counts(
        spark.read.parquet(d), "1 hour", streaming=False
    ).agg(F.sum("total_value")).first()[0]
    assert batch_total == pytest.approx(107.0)
    assert stream_total == pytest.approx(7.0)  # the 100.0 late row dropped


def test_stream_dedup_within_watermark(spark, tmp_path_factory):
    """At-least-once input (the same event file delivered twice across
    micro-batches) collapses to exactly-once rows on event_id; the
    streaming result equals the batch dropDuplicates key set."""
    from timeseries_spark.streaming.incremental import (
        dedup_events,
        read_event_stream,
    )

    events = load(spark, SF_DIR, "events").limit(200)
    d = str(tmp_path_factory.mktemp("dup_events"))
    # two identical deliveries: maxFilesPerTrigger=1 makes them separate
    # micro-batches, so dedup must happen across batch boundaries (state)
    events.coalesce(1).write.mode("overwrite").parquet(d + "/part=a")
    events.coalesce(1).write.mode("append").parquet(d + "/part=b")

    stream = dedup_events(
        read_event_stream(spark, d), streaming=True, watermark="24 hours"
    )
    got = run_available_now(stream, "dedup_test", spark, output_mode="append")
    batch = dedup_events(spark.read.parquet(d))
    assert got.count() == events.count()
    assert got.count() == batch.count()
    assert {r["event_id"] for r in got.select("event_id").collect()} == {
        r["event_id"] for r in events.select("event_id").collect()
    }


def test_stream_sampling_matches_batch(spark, tmp_path_factory):
    """The sampling/mixing operators are stateless projections, so they
    run unchanged on a stream and pick the SAME rows/replicas as batch —
    hash-decided sampling is replay-safe (a re-delivered row makes the
    same decision), which df.sample can never guarantee."""
    from timeseries_spark.extensions.sampling import (
        stratified_sample,
        weighted_mix,
    )
    from timeseries_spark.streaming import run_available_now

    out = str(tmp_path_factory.mktemp("docs_stream"))
    docs = spark.createDataFrame(
        [(i, "s" + str(i % 3), "text " + str(i)) for i in range(300)],
        "doc_id long, source string, text string",
    )
    docs.write.mode("overwrite").parquet(out)

    batch_df = spark.read.parquet(out)
    stream_df = spark.readStream.schema(batch_df.schema).parquet(out)

    frac = {"s0": 1.0, "s1": 0.25, "s2": 0.0}
    b = {
        r["doc_id"]
        for r in stratified_sample(batch_df, frac).select("doc_id").collect()
    }
    s_out = run_available_now(
        stratified_sample(stream_df, frac).select("doc_id"),
        "sample_stream_test",
        spark,
        output_mode="append",
    )
    assert b == {r["doc_id"] for r in s_out.collect()}

    w = {"s0": 2.5, "s1": 1.0, "s2": 0.5}
    bm = {
        (r["doc_id"], r["copy"])
        for r in weighted_mix(batch_df, w).select("doc_id", "copy").collect()
    }
    sm_out = run_available_now(
        weighted_mix(stream_df, w).select("doc_id", "copy"),
        "mix_stream_test",
        spark,
        output_mode="append",
    )
    assert bm == {(r["doc_id"], r["copy"]) for r in sm_out.collect()}


def test_stream_text_pipeline_matches_batch(spark, tmp_path_factory):
    """The round-5 text/corpus operators that are stateless projections
    (dataset split, chunking, PII redaction, quality metrics) run
    unchanged on a stream and produce exactly the batch rows — the
    ingestion-time shape where each arriving shard is split, chunked,
    and redacted on the way in."""
    from timeseries_spark.extensions.sampling import dataset_split
    from timeseries_spark.extensions.text import (
        chunk_documents,
        quality_metrics,
        redact_pii,
    )
    from timeseries_spark.streaming import run_available_now

    out = str(tmp_path_factory.mktemp("docs_stream_r5"))
    docs = spark.createDataFrame(
        [
            (i, "word " * (i % 7 + 1) + ("a.b@x.io" if i % 5 == 0 else "end"))
            for i in range(120)
        ],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(out)
    batch_df = spark.read.parquet(out)
    stream_df = spark.readStream.schema(batch_df.schema).parquet(out)

    def pipeline(df):
        chunked = chunk_documents(
            redact_pii(dataset_split(df, key_col="doc_id")),
            chunk_tokens=4,
            overlap=1,
        )
        return chunked.select("doc_id", "chunk_idx", "chunk_text")

    b = {tuple(r) for r in pipeline(batch_df).collect()}
    s = run_available_now(
        pipeline(stream_df), "text_stream_r5", spark, output_mode="append"
    )
    assert b == {tuple(r) for r in s.collect()}
    assert len(b) > 120  # chunking fans out
    # quality metrics also stream (pure projection)
    qb = {
        (r["doc_id"], r["n_words"])
        for r in quality_metrics(batch_df).select("doc_id", "n_words").collect()
    }
    qs = run_available_now(
        quality_metrics(stream_df).select("doc_id", "n_words"),
        "quality_stream_r5",
        spark,
        output_mode="append",
    )
    assert qb == {(r["doc_id"], r["n_words"]) for r in qs.collect()}


def test_stream_static_incremental_exact_dedup(spark, tmp_path_factory):
    """The exact tier of incremental dedup runs on a STREAM: arriving
    docs anti-join the static corpus digest table (stream-static joins
    need no state) and then collapse re-deliveries within the
    micro-batch stream via dropDuplicates on the digest — the
    ingestion-as-a-stream shape."""
    from timeseries_spark.streaming import run_available_now

    corpus = spark.createDataFrame(
        [(1, "known doc one"), (2, "known doc two")],
        "doc_id bigint, text string",
    )
    known = corpus.select(F.md5("text").alias("digest")).distinct()

    out = str(tmp_path_factory.mktemp("incoming"))
    incoming = spark.createDataFrame(
        [
            (10, "known doc one"),   # exact match vs corpus -> dropped
            (11, "a brand new doc"),
            (12, "a brand new doc"),  # re-delivery within the stream
            (13, "another new doc"),
        ],
        "doc_id bigint, text string",
    )
    incoming.write.mode("overwrite").parquet(out)
    stream = spark.readStream.schema(incoming.schema).parquet(out)

    deduped = (
        stream.withColumn("digest", F.md5("text"))
        .join(known, "digest", "left_anti")
        .dropDuplicates(["digest"])
    )
    got = run_available_now(
        deduped, "incr_dedup_stream", spark, output_mode="append"
    )
    texts = sorted(r["text"] for r in got.collect())
    assert texts == ["a brand new doc", "another new doc"]


def test_stream_hll_registers_match_batch(spark, tmp_path_factory):
    """The HLL register table is a plain (reg, max) aggregate, so it
    streams: draining the corpus through micro-batches produces EXACTLY
    the batch registers (and therefore the same estimate) — the
    continuously-maintained distinct-count sketch."""
    from timeseries_spark.extensions.sketches import (
        hll_estimate,
        hll_registers,
    )
    from timeseries_spark.streaming import run_available_now

    out = str(tmp_path_factory.mktemp("hll_stream"))
    df = spark.range(0, 2000).select(F.col("id").alias("v"))
    # two files -> two micro-batches with maxFilesPerTrigger=1
    df.filter("v < 1000").coalesce(1).write.mode("append").parquet(out)
    df.filter("v >= 1000").coalesce(1).write.mode("append").parquet(out)

    batch_regs = {
        (r["reg"], r["max_rho"])
        for r in hll_registers(spark.read.parquet(out), "v", p=8).collect()
    }
    stream = hll_registers(
        spark.readStream.schema("v long").parquet(out), "v", p=8
    )
    got = run_available_now(
        stream, "hll_stream_test", spark, output_mode="complete"
    )
    assert {(r["reg"], r["max_rho"]) for r in got.collect()} == batch_regs
    # and the estimate folded from the streamed registers matches
    est_b = hll_estimate(hll_registers(df, "v", p=8), p=8).first()["hll_est"]
    est_s = hll_estimate(
        spark.createDataFrame(got.collect(), got.schema), p=8
    ).first()["hll_est"]
    assert est_s == est_b


def test_stream_histogram_sketch_matches_batch(spark, tmp_path_factory):
    """The fixed-grid histogram is a plain (bin, n) aggregate, so it
    streams: draining the corpus through micro-batches produces EXACTLY
    the batch bin counts, and the quantiles folded from the streamed
    sketch equal the batch quantiles — the continuously-maintained
    p50/p90/p99 monitor."""
    from timeseries_spark.extensions.sketches import (
        histogram_counts,
        histogram_quantiles,
    )
    from timeseries_spark.streaming import run_available_now

    out = str(tmp_path_factory.mktemp("hist_stream"))
    df = spark.range(0, 2000).select(
        (F.col("id") % 997).cast("double").alias("v")
    )
    # two files -> two micro-batches with maxFilesPerTrigger=1
    df.filter("v < 500").coalesce(1).write.mode("append").parquet(out)
    df.filter("v >= 500").coalesce(1).write.mode("append").parquet(out)

    grid = dict(lo=0.0, hi=1000.0, n_bins=20)
    batch_bins = histogram_counts(spark.read.parquet(out), "v", **grid)
    stream = histogram_counts(
        spark.readStream.schema("v double").parquet(out), "v", **grid
    )
    got = run_available_now(
        stream, "hist_stream_test", spark, output_mode="complete"
    )
    assert {(r["bin"], r["n"]) for r in got.collect()} == {
        (r["bin"], r["n"]) for r in batch_bins.collect()
    }
    qs = [0.5, 0.9, 0.99]
    est_b = {
        r["q"]: r["est"]
        for r in histogram_quantiles(batch_bins, qs, **grid).collect()
    }
    est_s = {
        r["q"]: r["est"]
        for r in histogram_quantiles(
            spark.createDataFrame(got.collect(), got.schema), qs, **grid
        ).collect()
    }
    assert est_s == est_b and len(est_s) == 3


def test_stream_stream_attribution_matches_batch(spark, event_dir, tmp_path_factory):
    """Stream-stream interval join (conversion attribution): the
    watermarked, time-bounded join over the drained stream must equal
    the batch twin (the oracle-gated click_attribution shape)."""
    from timeseries_spark.streaming import attribute_conversions

    batch_src = spark.read.parquet(event_dir)
    batch = attribute_conversions(
        batch_src.filter(F.col("event_type") == "click"),
        batch_src.filter(F.col("event_type") == "purchase"),
        streaming=False,
    )
    src = read_event_stream(spark, event_dir)
    stream = attribute_conversions(
        src.filter(F.col("event_type") == "click"),
        src.filter(F.col("event_type") == "purchase"),
        streaming=True,
    )
    got = run_available_now(
        stream, "attribution_test", spark, output_mode="append"
    )
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in got.collect()}
    assert b == s
    assert len(b) > 0


def test_stream_dq_constraints_match_batch(spark, tmp_path_factory):
    """Continuous data-quality monitoring: the declarative constraint
    suite is one aggregate, so it runs on a stream in complete mode and
    the final micro-batch report equals the batch report exactly."""
    from timeseries_spark.extensions.dataquality import (
        completeness,
        min_value,
        row_count,
        run_checks,
        uniqueness_approx,
    )
    from timeseries_spark.streaming import run_available_now

    out = str(tmp_path_factory.mktemp("dq_stream_r6"))
    rows = [(i, None if i % 10 == 0 else f"t{i % 7}", float(i)) for i in range(200)]
    spark.createDataFrame(rows, "id long, tag string, x double").write.mode(
        "overwrite"
    ).parquet(out)
    batch_df = spark.read.parquet(out)
    stream_df = spark.readStream.schema(batch_df.schema).parquet(out)

    # exact uniqueness (countDistinct) is NOT streamable — the approx
    # twin (HLL merge) is, and is exact at this cardinality
    checks = [
        completeness("tag", 0.95),
        uniqueness_approx("id"),
        min_value("x", 0.0),
        row_count(200),
    ]
    b = {tuple(r) for r in run_checks(batch_df, checks).collect()}
    s = run_available_now(
        run_checks(stream_df, checks),
        "dq_stream_r6",
        spark,
        output_mode="complete",
    )
    assert {tuple(r) for r in s.collect()} == b


def test_stream_shard_stats_matches_batch(spark, tmp_path_factory):
    """shard_stats is a pure hash-partition + aggregate, so the shard
    balance report computes identically over a stream (complete-mode
    groupBy) — an ingestion pipeline can publish per-shard counts live
    while the batch export runs from the same code path."""
    from timeseries_spark.extensions.sampling import shard_stats
    from timeseries_spark.streaming import run_available_now

    out = str(tmp_path_factory.mktemp("shard_stream"))
    docs = spark.createDataFrame(
        [(i, "w " * (i % 7 + 1) + "end", "s") for i in range(200)],
        "doc_id long, text string, source string",
    )
    docs.write.mode("overwrite").parquet(out)
    batch_df = spark.read.parquet(out)
    stream_df = spark.readStream.schema(batch_df.schema).parquet(out)

    b = {tuple(r) for r in shard_stats(batch_df, n_shards=4).collect()}
    s_out = run_available_now(
        shard_stats(stream_df, n_shards=4),
        "shard_stats_stream_test",
        spark,
        output_mode="complete",
    )
    assert b == {tuple(r) for r in s_out.collect()}
