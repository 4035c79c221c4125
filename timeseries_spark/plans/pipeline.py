"""End-to-end pipeline: the reference's main sequence as one composable
runner (timeseries.py:836-855; timestamp_evidence.py:360-375).

Stages (each a materializable table — the staged Parquet layout IS the
public API, SURVEY.md §4):

  evidence_dated            <- select_best_date(per-source daters)
  evidence_dated_indirect   <- expand_ontology(evidence_dated, disease)
  association_by_datasource <- association_score(keys=d,t,ds) + novelty
  association_overall       <- association_score(keys=d,t; weighted) + novelty

Unlike the reference, stages never read-modify-overwrite the same path
(timeseries.py:632-634 risk): each output is written once, versioned by the
caller's path choice. Nothing is persisted: the reference persists the
novelty input because it reads it twice (timeseries.py:766-768), while
``add_novelty`` reads it once.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from timeseries_spark.config import EngineConfig
from timeseries_spark.operators.novelty import add_novelty
from timeseries_spark.operators.ontology import expand_ontology
from timeseries_spark.operators.scoring import association_score, overall_score
from timeseries_spark.sources.io import table_exists, write_parquet

DS_KEYS = ("diseaseId", "targetId", "datasourceId")
OVERALL_KEYS = ("diseaseId", "targetId")


def _written_schema(schema: StructType, partition_by: str | None) -> StructType:
    """The schema a parquet read infers for ``schema`` written with
    ``partition_by``: the writer makes every column nullable, and the
    partition column comes back last."""
    parts = [partition_by] if partition_by else []
    fields = [f for f in schema.fields if f.name not in parts]
    fields += [schema[p] for p in parts]
    return StructType(
        [StructField(f.name, f.dataType, True, f.metadata) for f in fields]
    )


@dataclass
class TimeseriesPipeline:
    """Composable engine run over dated evidence.

    In-memory by default; pass ``out_dir`` to materialize every stage as
    partitioned Parquet (partitioned by ``sourceId`` where the reference
    does, so downstream scans prune)."""

    cfg: EngineConfig
    out_dir: str | None = None

    def _sink(self, df: DataFrame, name: str, partition_by=None) -> DataFrame:
        if self.out_dir is None:
            return df
        path = f"{self.out_dir}/{name}"
        spark = df.sparkSession
        if table_exists(spark, path):  # correct skip-if-exists (S9 fix)
            return spark.read.parquet(path)
        write_parquet(df, path, partition_by=partition_by)
        # read back with the schema just written: inferring it would run
        # a footer-reading job per stage
        return spark.read.schema(_written_schema(df.schema, partition_by)).parquet(
            path
        )

    def indirect_evidence(self, evidence_dated: DataFrame, disease: DataFrame) -> DataFrame:
        """Ontology expansion (timeseries.py:339-366)."""
        out = expand_ontology(evidence_dated, disease)
        return self._sink(out, "evidence_dated_indirect")

    def association_by_datasource(
        self, evidence_dated: DataFrame, stage: str = "association_by_datasource"
    ) -> DataFrame:
        """Dense yearly score + novelty at (d,t,ds) grain
        (timeseries.py:369-635)."""
        scores = association_score(evidence_dated, self.cfg, DS_KEYS)
        out = add_novelty(scores, self.cfg, DS_KEYS).withColumn(
            "sourceId", F.col("datasourceId")
        )
        return self._sink(out, stage, "sourceId")

    def association_overall(
        self, by_datasource: DataFrame, stage: str = "association_overall"
    ) -> DataFrame:
        """Weighted overall grain from the PER-DATASOURCE score table
        (timeseries.py:638-833): the per-source cumulative scores (already
        top-k harmonic-summed and /1.64-normalized) are weighted, pooled
        per (d,t,year), and harmonic-summed again with a second /1.64
        normalization — the reference's two-level formula. No extra
        cumulative window: per-source series are already cumulative."""
        weights = dict(self.cfg.weights())
        scores = overall_score(
            by_datasource.select(
                *OVERALL_KEYS, "datasourceId", "year", "score"
            ),
            self.cfg,
            OVERALL_KEYS,
            weights=weights,
        )
        # no persist: the reference consumes scores twice here
        # (timeseries.py:766-768), add_novelty reads its input once
        out = add_novelty(scores, self.cfg, OVERALL_KEYS)
        return self._sink(out, stage)

    def run(
        self, evidence_dated: DataFrame, disease: DataFrame
    ) -> dict[str, DataFrame]:
        """Full sequence: direct + indirect variants of both grains, the
        overall grain chained from the per-datasource stage output exactly
        as the reference reads it back (timeseries.py:657-663, 836-855)."""
        indirect = self.indirect_evidence(evidence_dated, disease)
        out: dict[str, DataFrame] = {}
        for suffix, ev in (("", evidence_dated), ("_indirect", indirect)):
            by_ds = self.association_by_datasource(
                ev, f"association_by_datasource{suffix}"
            )
            out[f"association_by_datasource{suffix}"] = by_ds
            out[f"association_overall{suffix}"] = self.association_overall(
                by_ds, f"association_overall{suffix}"
            )
        return out


def point_query(
    overall: DataFrame,
    by_datasource: DataFrame,
    disease_id: str,
    target_id: str,
    disease: DataFrame | None = None,
    target: DataFrame | None = None,
    include_non_dated: bool = False,
) -> DataFrame:
    """The plotTargetDisease query (plot_timeseries.py:667-799) minus the
    matplotlib coupling: one (disease, target) timeline across the overall
    series and every datasource series, with optional name joins.

    ``include_non_dated=False`` (the reference's plot default,
    plot_timeseries.py:773-794) drops every datasource series with no
    dated positive row — and the overall series when IT has none — via a
    left-semi join against the dated-source set, so all-undated series
    never reach the output.

    Point filters push down to the Parquet scan (partition pruning on
    sourceId-partitioned layouts); output is presentation-ordered."""
    o = overall.filter(
        (F.col("diseaseId") == disease_id) & (F.col("targetId") == target_id)
    ).select(
        "diseaseId",
        "targetId",
        F.lit("overall").alias("datasourceId"),
        "year",
        "score",
        "novelty",
    )
    d = by_datasource.filter(
        (F.col("diseaseId") == disease_id) & (F.col("targetId") == target_id)
    ).select(
        "diseaseId", "targetId", "datasourceId", "year", "score", "novelty"
    )
    if not include_non_dated:
        # window-max keep flag instead of a self-semi-join: the semi form
        # re-evaluates the full upstream pipeline subtree for its build
        # side, doubling the composed plan's work; the window reuses the
        # rows already flowing through
        dated = F.col("year").isNotNull() & (F.col("score") > 0)
        keep = F.max(F.when(dated, 1).otherwise(0))
        o = (
            o.withColumn(
                "__keep",
                keep.over(Window.partitionBy("diseaseId", "targetId")),
            )
            .filter(F.col("__keep") == 1)
            .drop("__keep")
        )
        d = (
            d.withColumn(
                "__keep", keep.over(Window.partitionBy("datasourceId"))
            )
            .filter(F.col("__keep") == 1)
            .drop("__keep")
        )
    out = o.unionByName(d)
    if disease is not None:
        names = disease.select(
            F.col("id").alias("diseaseId"), F.col("name").alias("diseaseName")
        )
        out = out.join(F.broadcast(names), "diseaseId", "left")
    if target is not None:
        names = target.select(
            F.col("id").alias("targetId"),
            F.col("approvedSymbol").alias("targetSymbol"),
        )
        out = out.join(F.broadcast(names), "targetId", "left")
    return out.orderBy("datasourceId", F.col("year").asc_nulls_last())


def point_evidence(
    evidence_dated: DataFrame,
    disease_id: str,
    target_id: str,
    include_non_dated: bool = False,
) -> DataFrame:
    """The plot's third panel (plot_timeseries.py:762-794): the raw dated
    evidence rows behind one (disease, target) pair — per-evidence scores
    by year and datasource, with the same non-dated drop as the series
    panels (sources with no dated positive row vanish entirely)."""
    out = evidence_dated.filter(
        (F.col("diseaseId") == disease_id) & (F.col("targetId") == target_id)
    ).select("diseaseId", "targetId", "datasourceId", "year", "score")
    if not include_non_dated:
        dated = F.col("year").isNotNull() & (F.col("score") > 0)
        out = (
            out.withColumn(
                "__keep",
                F.max(F.when(dated, 1).otherwise(0)).over(
                    Window.partitionBy("datasourceId")
                ),
            )
            .filter(F.col("__keep") == 1)
            .drop("__keep")
        )
    return out.select("diseaseId", "targetId", "datasourceId", "year", "score")
