"""release_batch: stages 1 to 3 of a release, run as one batch job.

A pass dates the evidence (``DatingDriver``), runs the
``TimeseriesPipeline`` (direct and indirect evidence, per-datasource and
overall grain, every stage materialised as parquet) and writes the
``analytics`` distribution and approval tables. It is execution-bound:
shuffles, windows, explode and partitioned parquet writes.

In a traced run the pipeline's stage methods and the operator functions
it calls are wrapped from here, so every span sits at a call from the
benchmark into a layer; the program itself is not changed. After the
measured passes a traced run also serves the published release: point
reads of single (disease, target) timelines (``plans.point``) and one
evidence delta folded in by ``plans.incremental``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from functools import reduce

N_EVIDENCE = 5000
N_TARGETS = 100
N_DISEASES = 60
N_DELTA = 200
TA_RANK = [f"TA_{i}" for i in range(N_DISEASES // 10)]
TABLES = (
    "evidence_dated",
    "evidence_dated_indirect",
    "association_by_datasource",
    "association_overall",
    "association_by_datasource_indirect",
    "association_overall_indirect",
    "novelty_distribution",
    "approval_timeline",
)


def table_digest(df):
    """Order-independent digest: (rows, sum of row hashes). Doubles are
    rounded to 9 places and arrays sorted, so row order, column order and
    collect_set order do not matter."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.round(c, 9)
        elif isinstance(f.dataType, T.ArrayType):
            c = F.array_sort(c)
        cols.append(c)
    return df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").cast("string").alias("h")
    )


def digest_tables(spark, paths: dict[str, str]) -> dict[str, list]:
    """Digest several parquet tables in one job."""
    from pyspark.sql import functions as F

    parts = [
        table_digest(spark.read.parquet(p)).select(F.lit(n).alias("t"), "n", "h")
        for n, p in paths.items()
    ]
    rows = reduce(lambda a, b: a.unionByName(b), parts).collect()
    return {r["t"]: [r["n"], r["h"]] for r in rows}


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under a directory tree."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


@contextlib.contextmanager
def _patched(module, names: dict):
    saved = {n: getattr(module, n) for n in names}
    for n, fn in names.items():
        setattr(module, n, fn)
    try:
        yield
    finally:
        for n, fn in saved.items():
            setattr(module, n, fn)


class ReleaseBatch:
    OPS = TABLES

    def __init__(self, seed: int):
        self.seed = seed

    def setup(self, spark, in_dir: str) -> dict:
        from timeseries_spark.sources import fixtures as fx
        from timeseries_spark.sources.io import write_parquet

        s = f"s{self.seed}"
        t = time.perf_counter()
        frames = {
            "evidence": fx.gen_evidence(spark, N_EVIDENCE, N_TARGETS, N_DISEASES, s),
            "disease": fx.gen_disease(spark, N_DISEASES, s),
            "target": fx.gen_target(spark, N_TARGETS),
            # dimension sizes are the fixture defaults, which match the id
            # ranges gen_evidence draws drug, study and locus ids from
            "drugs": fx.gen_drugs(spark, n_targets=N_TARGETS),
            "study": fx.gen_study(spark),
            "credible_set": fx.gen_credible_set(spark),
        }
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        paths = {}
        for name, df in frames.items():
            paths[name] = f"{in_dir}/{name}"
            write_parquet(df, paths[name])
        write_s = time.perf_counter() - t
        return {"paths": paths, "gen_s": gen_s, "write_s": write_s}

    def run_pass(self, spark, tracer, inputs: dict, out_dir: str) -> dict:
        from pyspark.sql import functions as F

        from timeseries_spark import analytics as A
        from timeseries_spark.config import DATA_SOURCES, EngineConfig
        from timeseries_spark.operators.dating import DatingDriver, reference_daters
        from timeseries_spark.plans import pipeline
        from timeseries_spark.sources.io import read_parquet, write_parquet

        r = {k: read_parquet(spark, p) for k, p in inputs["paths"].items()}
        with tracer.span("operators.dating", "stage"):
            with tracer.span("operators.dating", "build"):
                dated = DatingDriver(reference_daters()).run(
                    r["evidence"],
                    {"study": r["study"], "credible_set": r["credible_set"]},
                )
            with tracer.span("operators.dating", "action"):
                write_parquet(dated, f"{out_dir}/evidence_dated")
        dated = read_parquet(spark, f"{out_dir}/evidence_dated")

        pipe = pipeline.TimeseriesPipeline(EngineConfig(), out_dir=out_dir)
        patches = {}
        if tracer.enabled:
            # stage spans at the pipeline's public stage methods; build
            # spans at the operator functions they call; action spans at
            # the stage's parquet write
            pipe.indirect_evidence = tracer.wrap(
                pipe.indirect_evidence, "operators.ontology", "stage")
            pipe.association_by_datasource = tracer.wrap(
                pipe.association_by_datasource, "operators.scoring", "stage")
            pipe.association_overall = tracer.wrap(
                pipe.association_overall, "operators.scoring", "stage")
            patches = {
                "expand_ontology": tracer.wrap(pipeline.expand_ontology, "operators.ontology"),
                "association_score": tracer.wrap(pipeline.association_score, "operators.scoring"),
                "overall_score": tracer.wrap(pipeline.overall_score, "operators.scoring"),
                "add_novelty": tracer.wrap(pipeline.add_novelty, "operators.novelty"),
                "write_parquet": tracer.wrap(pipeline.write_parquet, None, "action"),
            }
        with _patched(pipeline, patches):
            tables = pipe.run(dated, r["disease"])

        by_ds = tables["association_by_datasource"]
        with tracer.span("analytics", "stage"):
            with tracer.span("analytics", "build"):
                ta = A.top_therapeutic_area(r["disease"], TA_RANK)
                dist = A.novelty_distribution(by_ds, ta)
                chembl = dated.filter(F.col("datasourceId") == "chembl")
                # the drugs fixture carries its own targetId; the approval
                # operators take targets from the clinical evidence links
                novel = A.novel_drug_targets(r["drugs"].drop("targetId"), chembl)
                appr = A.approval_timeline(novel, by_ds, chembl, DATA_SOURCES)
            with tracer.span("analytics", "action"):
                write_parquet(dist, f"{out_dir}/novelty_distribution")
                write_parquet(appr, f"{out_dir}/approval_timeline")
        return {"dated": dated, "tables": tables, "disease": r["disease"],
                "target": r["target"], "inputs": r}

    def digests(self, spark, passes: list[tuple[str, dict]]) -> list[dict]:
        """Per pass, per table digest; all passes in one job."""
        flat = digest_tables(spark, {
            f"{i}/{t}": f"{out}/{t}" for i, (out, _) in enumerate(passes)
            for t in TABLES})
        return [{t: flat[f"{i}/{t}"] for t in TABLES} for i in range(len(passes))]

    def check(self, digests: dict) -> list[str]:
        """Tables failing the pass-independent checks: dating keeps one
        row per evidence row, and no published table is empty."""
        bad = [t for t in TABLES if digests.get(t, [0])[0] == 0]
        if digests.get("evidence_dated", [0])[0] != N_EVIDENCE:
            bad.append("evidence_dated")
        return bad

    def corrupt(self, spark, out_dir: str, results: dict) -> None:
        """Drop one row of a published table, on disk."""
        path = f"{out_dir}/association_overall"
        df = spark.read.parquet(path)
        df.limit(df.count() - 1).write.parquet(path + ".corrupt")
        shutil.rmtree(path)
        os.rename(path + ".corrupt", path)

    def layer_counts(self, digests: dict, out_dir: str) -> dict:
        files, size = dir_stats(out_dir)
        rows = {t: d[0] for t, d in digests.items()}
        return {
            "operators.ontology.fanout": rows.get("evidence_dated_indirect", 0)
            / max(rows.get("evidence_dated", 0), 1),
            "sources.write_mb": size / 1e6,
            "sources.files_written": files,
        }

    def serve_probe(self, spark, tracer, results: dict, out_dir: str) -> tuple[int, int, dict]:
        """Serve the published release (traced runs only): two point reads
        rendered as timelines, then one evidence delta folded in by the
        incremental recompute and checked against a full recompute.
        Returns (ops, failed, layer counts)."""
        from pyspark.sql import functions as F

        from timeseries_spark.config import EngineConfig
        from timeseries_spark.operators.dating import DatingDriver, reference_daters
        from timeseries_spark.operators.novelty import add_novelty
        from timeseries_spark.operators.scoring import association_score
        from timeseries_spark.plans.incremental import incremental_association
        from timeseries_spark.plans.pipeline import (
            DS_KEYS, point_evidence, point_query)
        from timeseries_spark.plans.plotting import render_timeline_ppm
        from timeseries_spark.sources.fixtures import gen_evidence
        from timeseries_spark.sources.io import write_parquet

        cfg = EngineConfig()
        tables, dated = results["tables"], results["dated"]
        overall = tables["association_overall"]
        by_ds = tables["association_by_datasource"]
        ops = failed = 0
        counts: dict[str, float] = {}
        with tracer.py4j.paused():
            pairs = [
                (r["diseaseId"], r["targetId"])
                for r in overall.filter(F.col("year").isNotNull() & (F.col("score") > 0))
                .select("diseaseId", "targetId").distinct()
                .orderBy("diseaseId", "targetId").limit(2).collect()
            ]
            counts["plans.point.files_read"] = sum(
                len(df.inputFiles()) for df in (overall, by_ds, dated))
        for d, t in pairs:
            ops += 1
            with tracer.span("plans.point", "stage"):
                with tracer.span("plans.point", "build"):
                    q = point_query(overall, by_ds, d, t,
                                    results["disease"], results["target"])
                    e = point_evidence(dated, d, t)
                with tracer.span("plans.point", "action"):
                    rows, erows = q.collect(), e.collect()
            # the renderer takes dated rows only: it cannot place the
            # undated (NULL-year) bucket that point_query returns
            img = render_timeline_ppm([x for x in rows if x["year"] is not None])
            if not rows or not erows or not img.startswith(b"P6\n"):
                failed += 1

        ops += 1
        delta = gen_evidence(spark, N_DELTA, N_TARGETS, N_DISEASES, f"delta{self.seed}")
        delta = delta.withColumn("id", F.concat(F.lit("delta-"), "id"))
        inp = results["inputs"]
        delta_dated = DatingDriver(reference_daters()).run(
            delta, {"study": inp["study"], "credible_set": inp["credible_set"]})
        delta_path = f"{out_dir}/delta_dated"
        write_parquet(delta_dated, delta_path)
        delta_dated = spark.read.parquet(delta_path)
        all_ev = dated.unionByName(delta_dated)
        existing = by_ds.drop("sourceId")
        path = f"{out_dir}/association_incremental"
        with tracer.span("plans.incremental", "stage"):
            with tracer.span("plans.incremental", "build"):
                inc = incremental_association(existing, all_ev, delta_dated, cfg)
            with tracer.span("plans.incremental", "action"):
                write_parquet(inc, path)
        with tracer.py4j.paused():
            full = add_novelty(association_score(all_ev, cfg, DS_KEYS), cfg, DS_KEYS)
            got = [list(r) for r in table_digest(spark.read.parquet(path)).collect()]
            want = [list(r) for r in table_digest(full).collect()]
            if got != want:
                failed += 1
            touched = delta_dated.select(*DS_KEYS).distinct().count()
            groups = existing.select(*DS_KEYS).distinct().count()
        counts["plans.incremental.touched_frac"] = touched / max(groups, 1)
        return ops, failed, counts
