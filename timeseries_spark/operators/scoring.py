"""Yearly cumulative harmonic-sum association scores.

Semantics from the reference (timeseries.py:369-527, 638-732): for each key
group (disease, target[, datasource]) and each year in a dense spine
``first_year..last_year+1``:

    score(keys, y) = sum_{i=1..k} top_i({score(e) : e dated <= y}) / i^2
                     / max_score

with NaN evidence scores dropped, undated evidence mapped to the sentinel
year ``last_year + 1`` (so the sentinel row is the all-time score) and
restored to NULL on output, and NULL (not 0) score for years before the
first evidence.

Scale design (SURVEY.md §7 risks / §4): the reference accumulates *all*
scores per group before top-k slicing — the cumulative array is the memory
hot spot. Because top-k of a union equals top-k of the union of per-part
top-ks, we pre-truncate each year's scores to the top-k *before* the
cumulative window, bounding the window state to ``k × |years|`` elements per
group regardless of evidence volume. Verified equivalent by the DuckDB
oracle and property tests.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from timeseries_spark.config import EngineConfig
from timeseries_spark.functions.arrays import harmonic_sum, let, top_k_desc


def association_score(
    evidence_dated: DataFrame,
    cfg: EngineConfig,
    key_cols: Sequence[str] = ("diseaseId", "targetId", "datasourceId"),
    year_col: str = "year",
    score_col: str = "score",
) -> DataFrame:
    """Dense yearly harmonic scores per key group. The weighted overall
    grain is ``overall_score`` over this function's per-source output.

    Output columns: ``*key_cols, year (int, NULL = undated bucket), score``.
    """
    spark = evidence_dated.sparkSession
    keys = list(key_cols)

    data = evidence_dated.withColumn(
        year_col,
        F.coalesce(F.col(year_col), F.lit(cfg.sentinel_year)).cast("int"),
    )

    # No input fan-out here, deliberately (round-10 lesson): a
    # stats-guarded repartition was tried and REVERTED — plan-stats
    # sizeInBytes is a wild overestimate on join subtrees (it multiplies
    # child sizes), and the guard asked the domain pipeline for a
    # multi-million-partition shuffle. Real scans are already split at
    # maxPartitionBytes; an oversized single-partition input can only
    # come from the CALLER (a checkpoint, a collected extract), and the
    # caller is the one who knows its true size — repartition there.

    # 1 shuffle at evidence grain: per-(keys, year) score arrays, truncated
    # to top-k immediately (see module docstring).
    per_year = (
        data.groupBy(*keys, year_col)
        .agg(F.collect_list(score_col).alias("year_scores"))
        .withColumn("year_scores", top_k_desc(F.col("year_scores"), cfg.top_k))
    )

    # Densify + cumulate as ONE more aggregate and a per-key array fold
    # (round-10 rewrite; was scaffold-join + cumulative window). The old
    # shape had three scale problems the event logs exposed:
    #   1. the scaffold consumed per_year twice (distinct keys + join
    #      back), and column pruning pushed the distinct BELOW the
    #      aggregate into a second non-reusable exchange — a second full
    #      corpus scan per run (two 470 MB single-scan stages at 25x,
    #      experiments/ADVISORY_r10.json);
    #   2. the cumulative window needed its own ENSURE_REQUIREMENTS
    #      exchange, which AQE coalesced onto 1-2 tasks (byte-small
    #      arrays, real flatten/harmonic compute — the round-7 finding);
    #   3. a plan-level repartition pin cannot fix (2): Catalyst strips
    #      a distribution-matching user repartition.
    # Now: per_year folds to ONE row per key (cells are (year, top-k
    # array) structs — bounded at years x top_k, output grain), and the
    # dense spine + running top-k + harmonic sum are a single
    # ArrayAggregate over the year sequence. One corpus scan, two
    # shuffles total, no window exchange; the hot compute parallelizes
    # per KEY, not per byte, so AQE coalescing is irrelevant. The
    # running state stays exact because top-k is a streaming selection:
    # top_k(cum ++ year_scores) == top_k(flatten(all years so far)).
    # The fold exchange is pinned with REPARTITION_BY_NUM (AQE-exempt,
    # satisfies the aggregate's required distribution — no extra
    # shuffle): its payload is byte-small (keys x years x top_k) but the
    # per-key fold is real compute, exactly the bytes-vs-compute shape
    # AQE coalesces onto 1-2 tasks (round-7 finding; re-measured here:
    # 1.93 s coalesced vs 1.06 s pinned at the 15k-key grain). The pin
    # scales with the cluster (defaultParallelism), and per-task state
    # is bounded by the top-k truncation — never by evidence mass — so
    # a fixed task count is memory-safe at any corpus size.
    fold_parallelism = spark.sparkContext.defaultParallelism
    cells = per_year.repartition(fold_parallelism, *keys).groupBy(*keys).agg(
        F.map_from_entries(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(year_col).alias("y"),
                        F.col("year_scores").alias("s"),
                    )
                )
            )
        ).alias("cells")
    )

    empty = F.array().cast("array<double>")
    years = F.sequence(F.lit(cfg.first_year), F.lit(cfg.sentinel_year))
    rows_t = "array<struct<year:int,score:double>>"

    def fold_year(acc, y):
        # let-bind the running top-k pool (functions/arrays.py:let):
        # it feeds BOTH the carried state and the harmonic score, and
        # without the binding the sort+slice re-evaluates per reference
        # (the round-16 plan audit counted four copies per fold step —
        # no CSE inside lambdas). Values are unchanged: same pool
        # expression, evaluated once.
        def step(cur):
            return F.struct(
                cur.alias("cum"),
                F.concat(
                    acc["rows"],
                    F.array(
                        F.struct(
                            y.cast("int").alias("year"),
                            (harmonic_sum(cur) / F.lit(cfg.max_score)).alias(
                                "score"
                            ),
                        )
                    ),
                ).alias("rows"),
            )

        return let(
            top_k_desc(
                F.concat(
                    acc["cum"],
                    F.coalesce(F.element_at(F.col("cells"), y), empty),
                ),
                cfg.top_k,
            ),
            step,
        )

    scored = cells.select(
        *keys,
        F.explode(
            F.aggregate(
                years,
                F.struct(
                    empty.alias("cum"), F.array().cast(rows_t).alias("rows")
                ),
                fold_year,
                lambda acc: acc["rows"],
            )
        ).alias("__yr"),
    )

    # sentinel restore (timeseries.py:519-523)
    return scored.select(
        *keys,
        F.when(F.col("__yr.year") == cfg.sentinel_year, F.lit(None))
        .otherwise(F.col("__yr.year"))
        .cast("int")
        .alias(year_col),
        F.col("__yr.score").alias("score"),
    )


def overall_score(
    per_source: DataFrame,
    cfg: EngineConfig,
    key_cols: Sequence[str] = ("diseaseId", "targetId"),
    source_col: str = "datasourceId",
    year_col: str = "year",
    score_col: str = "score",
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """Overall association score from the per-datasource score table — the
    reference's two-level harmonic (timeseries.py:638-732).

    Each per-source score is already a cumulative top-k harmonic sum
    normalized by ``max_score``; the overall grain weights those scores by
    datasource, collects them per (*key_cols, year), and applies the
    harmonic sum AGAIN with a second ``/max_score`` normalization
    (timeseries.py:687-718 — the double normalization is deliberate
    reference behavior, not a bug here). No cumulative window: the
    per-source series are already cumulative, so one groupBy per year
    suffices — a single shuffle at (keys, year) grain.

    The per-source input is dense over the full year spine for every key
    group, so the output is dense too; years with no scored source fold to
    NULL score (empty-array harmonic), matching the reference's
    NULL-propagating fold. Unknown sources default to weight 1.0
    (documented departure: the reference's LEFT weight join NULLs their
    scores out, silently dropping the source — its registry always covers
    its sources, so the cases never diverge in practice).
    """
    spark = per_source.sparkSession
    keys = list(key_cols)

    data = per_source.withColumn(
        year_col,
        F.coalesce(F.col(year_col), F.lit(cfg.sentinel_year)).cast("int"),
    )
    if weights:
        # round-17 (guide §2.4): the weight registry is vocab-grain and
        # known at plan time, so it multiplies in as a literal-map
        # lookup instead of a broadcast left join — one BroadcastExchange
        # build (a blocking driver job per materialization) gone from
        # every weighted-overall plan. Value-identical: the join produced
        # score * coalesce(weight, 1.0) with at most one match per
        # source (dict keys are unique); a map lookup of an unknown or
        # NULL source is NULL, so the same 1.0 fallback applies. A flat
        # map keeps the expression's depth (and its py4j construction
        # calls) from growing with each source, as a CASE chain would.
        pairs = [x for wk, wv in weights.items() for x in (wk, float(wv))]
        w_map = F.create_map(*map(F.lit, pairs))
        w_expr = F.coalesce(w_map[F.col(source_col)], F.lit(1.0))
        data = data.withColumn(score_col, F.col(score_col) * w_expr)

    pooled = data.groupBy(*keys, year_col).agg(
        F.collect_list(score_col).alias("source_scores")
    )
    scored = pooled.withColumn(
        score_col,
        harmonic_sum(top_k_desc(F.col("source_scores"), cfg.top_k))
        / F.lit(cfg.max_score),
    )
    return scored.select(
        *keys,
        F.when(F.col(year_col) == cfg.sentinel_year, F.lit(None))
        .otherwise(F.col(year_col))
        .cast("int")
        .alias(year_col),
        score_col,
    )
