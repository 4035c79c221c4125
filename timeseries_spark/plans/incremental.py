"""Incremental recompute: fold a batch of new evidence into an existing
association table by recomputing ONLY the touched (disease, target[,
datasource]) groups (SURVEY.md §2.9 extension — the reference recomputes
everything from scratch every release).

Correctness rests on a locality property of the engine's math: score and
novelty of a key group depend only on that group's own evidence, so a new
evidence row can change exactly one group per grain. The delta plan is

    affected  = distinct keys of the new batch            (tiny)
    recompute = pipeline(evidence ⋉ affected)             (semi join prunes
                the big evidence scan to touched groups)
    output    = old table ⋉̸ affected  ∪  recompute       (anti join drops
                stale rows, union appends fresh ones)

At 100 TB the wins compound: the semi/anti joins broadcast the affected-key
set; with the evidence and association tables bucketed or partitioned by
key, both prunes become partition-local and the whole delta costs
O(|touched groups|), not O(|table|). Verified equal to a full recompute in
tests/test_incremental.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from timeseries_spark.config import EngineConfig
from timeseries_spark.operators.novelty import add_novelty
from timeseries_spark.operators.scoring import association_score


def affected_keys(
    new_evidence: DataFrame, key_cols: Sequence[str]
) -> DataFrame:
    """Distinct key groups the batch touches (tiny; broadcast by callers)."""
    return new_evidence.select(*key_cols).distinct()


def incremental_association(
    existing_assoc: DataFrame,
    all_evidence: DataFrame,
    new_evidence: DataFrame,
    cfg: EngineConfig,
    key_cols: Sequence[str] = ("diseaseId", "targetId", "datasourceId"),
) -> DataFrame:
    """Merge ``new_evidence`` into ``existing_assoc`` (score + novelty).

    ``all_evidence`` must already contain the new rows (it is the evidence
    table *after* the append); ``existing_assoc`` is the association table
    built *before* it. Only touched groups are recomputed."""
    keys = list(key_cols)
    touched = affected_keys(new_evidence, keys)

    scoped = all_evidence.join(F.broadcast(touched), keys, "left_semi")
    scores = association_score(scoped, cfg, keys)
    fresh = add_novelty(scores, cfg, keys)

    kept = existing_assoc.join(F.broadcast(touched), keys, "left_anti")
    return kept.unionByName(fresh)
