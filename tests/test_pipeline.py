"""End-to-end pipeline golden run (SURVEY.md §5.2): dating → expansion →
score → novelty over the domain fixtures, staged parquet round-trip, point
query."""

import pytest
from pyspark.sql import functions as F

from timeseries_spark.plans import TimeseriesPipeline, point_query


@pytest.fixture(scope="module")
def staged(spark, evidence_dated, disease, cfg, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipeline_out"))
    pipe = TimeseriesPipeline(cfg, out_dir=out)
    return pipe.run(evidence_dated, disease), out


def test_all_stages_produced(staged):
    tables, _ = staged
    assert set(tables) == {
        "association_by_datasource",
        "association_by_datasource_indirect",
        "association_overall",
        "association_overall_indirect",
    }
    for name, df in tables.items():
        assert df.count() > 0, name


def test_indirect_propagates_to_ancestors(staged):
    """D1's evidence must also score under its ancestors DA and ROOT."""
    tables, _ = staged
    direct = tables["association_by_datasource"]
    indirect = tables["association_by_datasource_indirect"]
    assert direct.filter("diseaseId = 'DA'").count() == 0
    da = indirect.filter(
        (F.col("diseaseId") == "DA") & (F.col("targetId") == "T1")
    )
    assert da.count() > 0
    # ROOT aggregates D1 + D2 evidence: its 2003 score for (ROOT, T1, src_a)
    # equals the D1 score (only D1 contributes T1 evidence)
    r = {
        row["year"]: row["score"]
        for row in indirect.filter(
            "diseaseId = 'ROOT' AND targetId = 'T1' AND datasourceId = 'src_a'"
        ).collect()
    }
    d = {
        row["year"]: row["score"]
        for row in direct.filter(
            "diseaseId = 'D1' AND targetId = 'T1' AND datasourceId = 'src_a'"
        ).collect()
    }
    assert r[2003] == pytest.approx(d[2003])


def test_overall_grain_combines_sources(staged, cfg):
    """Overall grain = two-level harmonic over the per-source scores
    (timeseries.py:638-732; weights default to 1.0 for sources outside the
    registry): at 2005 src_a has cumulated [0.891, 0.87, 0.0576] and src_b
    [0.5]; each is harmonic-summed and /1.64-normalized per source, then
    the two source scores are harmonic-summed and /1.64-normalized again."""
    tables, _ = staged
    overall = tables["association_overall"]
    s = {
        r["year"]: r["score"]
        for r in overall.filter("diseaseId = 'D1' AND targetId = 'T1'").collect()
    }
    src_a = (0.891 / 1 + 0.87 / 4 + 0.0576 / 9) / 1.64
    src_b = 0.5 / 1.64
    expected = (max(src_a, src_b) / 1 + min(src_a, src_b) / 4) / 1.64
    assert s[2005] == pytest.approx(expected)
    assert s[2010] == pytest.approx(expected)


def test_staged_parquet_partitioning(staged, spark):
    _, out = staged
    df = spark.read.parquet(f"{out}/association_by_datasource")
    assert "sourceId" in df.columns
    # partition pruning: reading one source touches one partition dir
    import os

    parts = [
        p
        for p in os.listdir(f"{out}/association_by_datasource")
        if p.startswith("sourceId=")
    ]
    assert sorted(parts) == ["sourceId=src_a", "sourceId=src_b"]


def test_skip_if_exists_is_correct(staged, spark, evidence_dated, disease, cfg):
    """S9 fix: a second run against the same out_dir reuses staged tables
    (no recompute-and-fail on existing paths)."""
    _, out = staged
    pipe = TimeseriesPipeline(cfg, out_dir=out)
    again = pipe.run(evidence_dated, disease)
    assert again["association_by_datasource"].count() > 0


def test_point_query_shape(staged, disease, spark):
    tables, _ = staged
    out = point_query(
        tables["association_overall"],
        tables["association_by_datasource"],
        "D1",
        "T1",
        disease=disease,
    ).collect()
    sources = {r["datasourceId"] for r in out}
    assert sources == {"overall", "src_a", "src_b"}
    assert all(r["diseaseName"] == "asthma" for r in out)
    years = [r["year"] for r in out if r["datasourceId"] == "overall"]
    assert years == sorted(years, key=lambda y: (y is None, y))


def test_timeline_renders_to_decodable_ppm(spark, tmp_path):
    """The presentation gap closed without matplotlib: point-query rows
    rasterize to a real PPM file that the repo's own pure-numpy codec
    decodes back — dimensions derive from the series/year grid, score
    cells are colored, novelty peaks carry the red underline."""
    from timeseries_spark.extensions.multimodal import _sniff_and_decode
    from timeseries_spark.plans.plotting import (
        render_timeline_ppm,
        write_timeline,
    )

    rows = [
        {"datasourceId": "overall", "year": 2000, "score": 0.9, "novelty": 0.5},
        {"datasourceId": "overall", "year": 2001, "score": 0.4, "novelty": 0.0},
        {"datasourceId": "chembl", "year": 2001, "score": 0.2, "novelty": 0.0},
    ]
    payload = render_timeline_ppm(rows, cell=10, gutter=2)
    d = _sniff_and_decode(payload)
    # 2 years x 2 series grid: w = 2 + 2*(10+2) = 26, h likewise
    assert (d["width"], d["height"]) == (26, 26)
    # top-left cell is the high-score overall/2000 cell -> saturated blue
    raw = payload[payload.index(b"255\n") + 4 :]
    px = raw[(2 * 26 + 2) * 3 : (2 * 26 + 2) * 3 + 3]  # (x=2, y=2)
    assert px[2] == 255 and px[0] < 100  # blue-dominant
    # novelty underline present in that cell's bottom rows
    underline = raw[((2 + 9) * 26 + 2) * 3 : ((2 + 9) * 26 + 2) * 3 + 3]
    assert underline == bytes((220, 40, 40))
    # file writer round-trips
    p = write_timeline(str(tmp_path / "tl.ppm"), rows)
    assert _sniff_and_decode(open(p, "rb").read())["format"] == "ppm"
    with pytest.raises(ValueError, match="no rows"):
        render_timeline_ppm([])


def test_prepared_corpus_persists_partitioned(spark, tmp_path, sf_dir):
    """The prepare -> persist -> reload story end to end: corpus_prepare
    output lands as source-partitioned parquet (the S7 layout), reads
    back with identical rows, and partition pruning reaches the reloaded
    scan."""
    from timeseries_spark.queries import all_queries

    out = str(tmp_path / "prepared")
    df = all_queries()["corpus_prepare"](spark, sf_dir)
    df.write.partitionBy("source").mode("overwrite").parquet(out)

    back = spark.read.parquet(out)
    assert back.count() == df.count()
    a = {tuple(sorted(r.asDict().items())) for r in df.collect()}
    b = {tuple(sorted(r.asDict().items())) for r in back.collect()}
    assert a == b
    one_src = back.select("source").first()["source"]
    plan = (
        back.filter(F.col("source") == one_src)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(source" in plan


def test_point_query_rows_render_end_to_end(staged, disease, spark, tmp_path):
    """The reference's full presentation path on REAL pipeline output:
    point_query rows -> zero-dep raster -> decoded back by the repo's
    own codec with the expected series/year grid. The undated
    (NULL-year) bucket point_query returns has no place on the year
    axis: the renderer skips it, and refuses input with no dated row."""
    from timeseries_spark.extensions.multimodal import _sniff_and_decode
    from timeseries_spark.plans.plotting import render_timeline_ppm

    tables, _ = staged
    rows = point_query(
        tables["association_overall"],
        tables["association_by_datasource"],
        "D1",
        "T1",
        disease=disease,
    ).collect()
    undated = [r for r in rows if r["year"] is None]
    dated = [r for r in rows if r["year"] is not None]
    assert undated, "fixture must exercise the undated bucket"
    payload = render_timeline_ppm(rows, cell=8, gutter=1)
    d = _sniff_and_decode(payload)
    n_series = len({r["datasourceId"] for r in dated})
    years = {r["year"] for r in dated}
    assert d["height"] == 1 + n_series * 9
    assert d["width"] == 1 + (max(years) - min(years) + 1) * 9
    with pytest.raises(ValueError, match="no rows"):
        render_timeline_ppm(undated)


def test_read_back_schema_equals_inferred(
    staged, spark, evidence_dated, disease, cfg, tmp_path
):
    """Each stage is read back with the schema it was just written with
    (no footer-inference job); that schema must be the one inference
    gives: names, order, types and nullability, for the partitioned
    ``sourceId`` stages and the indirect evidence stage too."""
    tables, out = staged
    indirect = TimeseriesPipeline(cfg, out_dir=str(tmp_path)).indirect_evidence(
        evidence_dated, disease
    )
    supplied = {name: df.schema for name, df in tables.items()}
    supplied["evidence_dated_indirect"] = indirect.schema
    assert len(supplied) == 5
    for name, schema in supplied.items():
        root = tmp_path if name == "evidence_dated_indirect" else out
        assert schema == spark.read.parquet(f"{root}/{name}").schema, name
