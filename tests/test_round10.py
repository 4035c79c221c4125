"""Round-10 regressions:

1. ann_recall_frontier — the knob sweep is ordered the way the knobs
   promise (IVF recall non-decreasing in nprobe; every point bounded by
   the brute-force truth).
2. point_target_disease_staged — serving path is row-identical to the
   in-plan point query, its artifact is Hive-partitioned by diseaseId,
   and a second call reuses the materialization instead of rebuilding.
"""

from __future__ import annotations

import os

from tests.conftest import SF_DIR


def test_ann_recall_frontier_sweep(spark):
    from timeseries_spark.queries import all_queries

    rows = {
        (r.tier, r.param): r
        for r in all_queries()["ann_recall_frontier"](spark, SF_DIR).collect()
    }
    assert len(rows) == 8
    for r in rows.values():
        assert 0.0 <= r.recall <= 1.0
        assert r.hits <= r.truth_n
    # nprobe is a pure recall knob: more probed clusters can only add
    # candidates, so recall is non-decreasing in nprobe
    assert (
        rows[("ivf", 1)].recall
        <= rows[("ivf", 2)].recall
        <= rows[("ivf", 3)].recall
    )
    # probing all 4 clusters IS brute force
    assert rows[("ivf", 3)].hits <= rows[("ivf", 3)].truth_n


def test_point_staged_matches_inline(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", str(tmp_path / "stage"))
    from timeseries_spark.queries import all_queries

    reg = all_queries()
    inline = sorted(
        map(tuple, reg["point_target_disease"](spark, SF_DIR).collect()),
        key=repr,  # year is NULL-able: None and int don't order natively
    )
    staged = sorted(
        map(tuple, reg["point_target_disease_staged"](spark, SF_DIR).collect()),
        key=repr,
    )
    assert staged == inline and len(staged) > 0


def test_staged_table_layout_and_reuse(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", str(tmp_path / "stage"))
    from timeseries_spark.extensions.staging import table_stage_path
    from timeseries_spark.queries import all_queries

    reg = all_queries()
    reg["point_target_disease_staged"](spark, SF_DIR).count()
    path = table_stage_path(SF_DIR, "assoc_by_ds")
    # Hive-partitioned by diseaseId: point filters prune to one directory
    parts = [p for p in os.listdir(path) if p.startswith("diseaseId=")]
    assert parts, f"expected diseaseId= partition dirs in {path}"
    stamp = os.path.getmtime(os.path.join(path, "_SUCCESS"))
    # second call serves from the artifact — nothing is rewritten
    reg["point_target_disease_staged"](spark, SF_DIR).count()
    assert os.path.getmtime(os.path.join(path, "_SUCCESS")) == stamp


def test_scoring_fold_plan_shape(plan):
    """Round-10 rewrite pins (operators/scoring.py): the flagship scoring
    plan must have exactly ONE scan of the evidence table (the old
    scaffold split the aggregate into two non-reusable exchanges and
    re-scanned the corpus), NO Window node (the cumulation is a per-key
    ArrayAggregate fold), and the fold exchange pinned as
    REPARTITION_BY_NUM (AQE-exempt against byte-based coalescing)."""
    p = plan("assoc_score_yearly")
    # formatted mode lists every node twice (tree + detail header), so
    # exactly one scan node means exactly two occurrences (// 2 would
    # also have accepted three)
    assert p.count("Scan parquet") == 2, "evidence must be scanned once"
    assert p.count("Window") == 0, "cumulation must be the fold, not a window"
    assert "REPARTITION_BY_NUM" in p, "fold exchange must be pinned"
