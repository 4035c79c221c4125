"""Typed engine configuration.

The reference keeps these as module globals (timeseries.py:30-35) and a
23-entry dict list (timeseries.py:37-298). Here they are a frozen dataclass
plus a typed datasource registry, so pipelines are parameterized instead of
reading globals.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field


@dataclass(frozen=True)
class DataSource:
    """One evidence datasource (timeseries.py:37-298).

    ``weight`` scales scores in the overall (cross-source) harmonic sum
    (timeseries.py:689-691); ``aggregation_id`` groups sources into data
    types for the distribution analytics (novelty_distribution.py).
    """

    id: str
    label: str
    aggregation_id: str
    weight: float  # must stay float — int weights break the harmonic kernel


# The 23 active sources of OT release 25.03 with their weights
# (timeseries.py:37-298; weights: 1.0 default, 0.5 pathway-inference,
# 0.2 text-mining/expression/animal-model).
DATA_SOURCES: tuple[DataSource, ...] = (
    DataSource("gwas_credible_sets", "GWAS associations", "genetic_association", 1.0),
    DataSource("eva", "ClinVar", "genetic_association", 1.0),
    DataSource("gene_burden", "Gene Burden", "genetic_association", 1.0),
    DataSource("genomics_england", "GEL PanelApp", "genetic_association", 1.0),
    DataSource("gene2phenotype", "Gene2phenotype", "genetic_association", 1.0),
    DataSource("uniprot_literature", "UniProt literature", "genetic_association", 1.0),
    DataSource("uniprot_variants", "UniProt curated variants", "genetic_association", 1.0),
    DataSource("orphanet", "Orphanet", "genetic_association", 1.0),
    DataSource("clingen", "Clingen", "genetic_association", 1.0),
    DataSource("cancer_gene_census", "Cancer Gene Census", "somatic_mutation", 1.0),
    DataSource("intogen", "IntOGen", "somatic_mutation", 1.0),
    DataSource("eva_somatic", "ClinVar (somatic)", "somatic_mutation", 1.0),
    DataSource("cancer_biomarkers", "Cancer Biomarkers", "somatic_mutation", 1.0),
    DataSource("chembl", "ChEMBL", "known_drug", 1.0),
    DataSource("crispr_screen", "CRISPR Screens", "affected_pathway", 1.0),
    DataSource("crispr", "Project Score", "affected_pathway", 1.0),
    DataSource("slapenrich", "SLAPenrich", "affected_pathway", 0.5),
    DataSource("progeny", "PROGENy", "affected_pathway", 0.5),
    DataSource("reactome", "Reactome", "affected_pathway", 1.0),
    DataSource("sysbio", "Gene signatures", "affected_pathway", 0.5),
    DataSource("europepmc", "Europe PMC", "literature", 0.2),
    DataSource("expression_atlas", "Expression Atlas", "rna_expression", 0.2),
    DataSource("impc", "IMPC", "animal_model", 0.2),
)


@dataclass(frozen=True)
class EngineConfig:
    """Engine parameters (timeseries.py:30-35).

    - ``first_year``/``last_year``: the dense year scaffold bounds; evidence
      with no date gets the sentinel ``last_year + 1`` during cumulation and
      is restored to NULL on output (timeseries.py:435-438, 519-523).
    - ``novelty_scale``/``novelty_shift``/``novelty_window``: logistic decay
      ``peak / (1 + exp(scale * (pos - shift)))`` over ``pos in 0..window``
      (timeseries.py:598-619).
    - ``max_score``: harmonic-series normalizer sum(1/i^2, i=1..10000) ≈ 1.64
      (timeseries.py:35).
    - ``top_k``: number of top evidence scores entering the harmonic sum
      (timeseries.py:493-494 slices 1..50).
    """

    first_year: int = 2000
    last_year: int = 2025
    novelty_scale: float = 2.0
    novelty_shift: float = 2.0
    novelty_window: int = 10
    max_score: float = 1.64
    top_k: int = 50
    datasources: tuple[DataSource, ...] = field(default=DATA_SOURCES)

    def __post_init__(self) -> None:
        # a NaN/inf decay parameter makes the novelty values NaN or a
        # degenerate step; reject it here, not deep inside a plan
        for name in ("novelty_scale", "novelty_shift"):
            value = getattr(self, name)
            if not math.isfinite(value):
                raise ValueError(f"{name} must be finite, got {value!r}")

    @property
    def sentinel_year(self) -> int:
        """Year stand-in for undated evidence; restored to NULL on output."""
        return self.last_year + 1

    def weights(self) -> list[tuple[str, float]]:
        """(datasourceId, weight) rows for the overall-score join
        (timeseries.py:333, 689-691)."""
        return [(ds.id, ds.weight) for ds in self.datasources]
