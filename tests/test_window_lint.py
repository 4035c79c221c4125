"""Bounded-window lint (VERDICT r15 item 7).

A partition-less window compiles to a SinglePartition WindowExec —
every input row funnels through ONE task. All current sites are
bounded by construction, but 115 known-benign WARNs in a full registry
run meant the NEXT unbounded global window would land silently. This
test reads every registered query's partition-less window count from
the session plan cache (tests/conftest.py) and asserts such window
nodes appear only in the whitelisted queries, each documented with WHY
its input is bounded. Scope note: the walk covers the RETURNED
DataFrame's plan; iterative operators' interior eager jobs (the kmeans
Lloyd seed's k-row window after .limit(k), kmeans.py:63-69) execute
before the query returns and are bounded at their own call sites.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, partitionless_windows
from timeseries_spark.queries import all_queries


# every query allowed to carry a partition-less window node, with the
# bounded-cardinality argument. Adding a name here requires the same
# justification — an unlisted query with a global window FAILS.
BOUNDED_WINDOW_WHITELIST = {
    # window runs over the ≤50-row histogram bin table (the sketch is
    # the aggregation; the quantile interpolation is bin-grain)
    "quantile_histogram_sketch",
    # marginal sums over the (lang × source) contingency CELLS — the
    # input is the |langs|·|sources| aggregate, never the corpus
    "lang_source_chi2",
    # dense ids over the top-k vocabulary AFTER TakeOrderedAndProject's
    # limit(k=20) — k rows by construction
    "vocab_topk",
    # same k-row vocab id window, consumed by the encode join
    "tokenized_docs",
}


def test_registry_has_no_unbounded_global_windows(registry_plan):
    offenders = {
        name: n
        for name in sorted(all_queries())
        if (n := registry_plan(name).windows)
    }
    unlisted = {
        name: n
        for name, n in offenders.items()
        if name not in BOUNDED_WINDOW_WHITELIST
    }
    assert not unlisted, (
        "partition-less window(s) in non-whitelisted quer(ies), "
        f"query -> hit count {unlisted} — if the window input is bounded, "
        "document it in BOUNDED_WINDOW_WHITELIST; if not, partition it"
    )
    # the whitelist must not rot: every entry still has its window
    stale = BOUNDED_WINDOW_WHITELIST - set(offenders)
    assert not stale, f"whitelist entries with no window anymore: {stale}"


def test_lint_catches_a_deliberate_unbounded_window(spark):
    # the detector itself must fire on the classic scale-killer: a
    # corpus-grain global row_number
    from timeseries_spark.queries import load

    docs = load(spark, SF_DIR, "documents")
    bad = docs.withColumn(
        "rn", F.row_number().over(Window.orderBy("doc_id"))
    )
    assert partitionless_windows(bad), (
        "lint failed to flag a global corpus-grain window"
    )
    good = docs.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("source").orderBy("doc_id")),
    )
    assert not partitionless_windows(good)


def test_whitelisted_windows_feed_from_bounded_subtrees(spark):
    # the boundedness claims above, spot-checked by executing each
    # whitelisted site's WINDOW INPUT (not the query output — a query
    # may be corpus-grain downstream of a bounded window)
    from timeseries_spark.extensions.sketches import histogram_counts
    from timeseries_spark.extensions.text import vocab_topk
    from timeseries_spark.queries import load

    docs = load(spark, SF_DIR, "documents")
    events = load(spark, SF_DIR, "events")
    # quantile_histogram_sketch: window input = the bin table, ≤50 rows
    assert histogram_counts(events, "value", 0.0, 500.0, 50).count() <= 50
    # lang_source_chi2: window input = the contingency cells, bounded
    # by |langs|·|sources| — two small fixed vocabularies, not corpus
    n_langs = docs.select("lang").distinct().count()
    n_sources = docs.select("source").distinct().count()
    cells = docs.groupBy("lang", "source").count().count()
    assert n_langs <= 20 and n_sources <= 20
    assert cells <= n_langs * n_sources
    # vocab_topk / tokenized_docs: window input = the post-limit vocab
    assert vocab_topk(docs, k=20).count() == 20
