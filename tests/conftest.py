"""Shared Spark session + domain fixtures (FIXTURES.md §A)."""

from __future__ import annotations

import functools
import os
from typing import NamedTuple

import pytest
from pyspark.sql import DataFrame, SparkSession

from timeseries_spark.config import EngineConfig
from timeseries_spark import schemas
from timeseries_spark.queries import all_queries
from timeseries_spark.session import explain, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = get_spark(app_name="timeseries_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def cfg() -> EngineConfig:
    # small bounds keep hand-computed expectations readable
    return EngineConfig(first_year=2000, last_year=2010)


@pytest.fixture(scope="session")
def evidence_dated(spark):
    """Tiny dated-evidence fixture with the hand-checkable TSLP/asthma-style
    cell from the reference's own validation (analysis.ipynb cells 75-77):
    one year with scores [0.891, 0.0576] -> (0.891/1 + 0.0576/4)/1.64."""
    rows = [
        # (id, targetId, diseaseId, datasourceId, score, literature, year)
        ("e1", "T1", "D1", "src_a", 0.891, ["1111"], 2003),
        ("e2", "T1", "D1", "src_a", 0.0576, None, 2003),
        ("e3", "T1", "D1", "src_a", 0.87, ["2222", "3333"], 2005),
        ("e4", "T1", "D1", "src_b", 0.5, None, 2004),
        ("e5", "T1", "D1", "src_b", float("nan"), None, 2004),  # NaN dropped
        ("e6", "T2", "D1", "src_a", 0.3, None, None),  # undated sentinel
        ("e7", "T2", "D2", "src_a", 1.0, None, 2000),
    ]
    return spark.createDataFrame(
        rows,
        schema="id string, targetId string, diseaseId string, datasourceId string,"
        " score double, literature array<string>, year int",
    )


@pytest.fixture(scope="session")
def disease(spark):
    rows = [
        ("D1", "asthma", ["DA", "ROOT"], ["TA1"]),
        ("D2", "eczema", ["ROOT"], ["TA1"]),
        ("DA", "airway disease", ["ROOT"], ["TA1"]),
        ("ROOT", "disease", [], ["TA1"]),
    ]
    return spark.createDataFrame(rows, schema=schemas.DISEASE)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def load(spark, sf_dir: str, name: str):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def shuffles(p: str) -> int:
    """Shuffle exchanges (broadcasts excluded) in a formatted plan."""
    return (p.count("Exchange") - p.count("BroadcastExchange")) // 2


def partitionless_windows(df: DataFrame) -> list[str]:
    """Names of partition-less window-family physical nodes in ``df``'s
    pre-AQE physical plan (WindowExec / WindowGroupLimitExec /
    WindowInPandasExec with an empty partitionSpec). Such a node is a
    SinglePartition window: its whole input funnels through ONE task."""
    hits: list[str] = []

    def walk(node) -> None:
        if node.getClass().getSimpleName() in (
            "WindowExec",
            "WindowGroupLimitExec",
            "WindowInPandasExec",
        ):
            try:
                empty = node.partitionSpec().isEmpty()
            except Exception:  # noqa: BLE001 - node without the method
                empty = False
            if empty:
                hits.append(node.nodeName())
        children = node.children()
        for i in range(children.length()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().sparkPlan())
    return hits


class RegistryPlan(NamedTuple):
    explain: str  # formatted explain string
    windows: int  # partition-less window nodes in the pre-AQE plan


@pytest.fixture(scope="session")
def registry_plan(spark):
    """``name -> RegistryPlan`` for a registered query at ``SF_DIR``.
    Each query is built once per session, the first time it is asked
    for, and only the two facts the plan audits read are kept. Built
    COLD: the cache is cleared first, so no other query's persisted
    relation (with its lineage) is spliced into the plan text and the
    facts do not depend on test order."""
    queries = all_queries()

    @functools.cache
    def get(name: str) -> RegistryPlan:
        spark.catalog.clearCache()
        df = queries[name](spark, SF_DIR)
        return RegistryPlan(explain(df), len(partitionless_windows(df)))

    return get


@pytest.fixture(scope="session")
def plan(registry_plan):
    """``name -> formatted explain string`` of a registered query."""
    return lambda name: registry_plan(name).explain
