"""Persist-lifecycle lint (VERDICT r15 item 1).

Every ``.persist()`` in the package must be lifecycle-managed: either
it IS the registry (``caching.register_cache``), or a loop-local cache
the operator itself unpersists in a ``finally`` once its eager
checkpoint discipline makes the block dead weight (connected
components' edge relation, label propagation's edge relation). Any
OTHER bare persist is the leak class the round-14/15 cache registry
exists to close — multi-consumer blocks in a RETURNED plan's lineage
that nothing can ever free in a long-lived serving session. Those must
route through ``register_cache(df, family)`` instead (classifier /
text / graph / behavior were enrolled this round).

The lint walks the package AST, so a new bare ``.persist()`` anywhere
fails the build until it is either loop-unpersisted (and whitelisted
here WITH the justification) or family-registered.
"""

from __future__ import annotations

import ast
import os

PKG_ROOT = os.path.join(os.path.dirname(__file__), "..", "timeseries_spark")

# (file relative to the package, enclosing function) -> why the bare
# persist is lifecycle-safe. Adding an entry requires the same
# justification discipline as BOUNDED_WINDOW_WHITELIST.
PERSIST_WHITELIST = {
    # the registry itself: every registered cache goes through here
    ("extensions/caching.py", "register_cache"),
    # loop-local: labels are EAGER localCheckpoints, so the edge cache
    # is unpersisted in the operator's own `finally` before return
    ("extensions/dedup.py", "connected_components"),
    ("extensions/graph.py", "label_propagation"),
}


def _persist_sites() -> set[tuple[str, str | None]]:
    sites: set[tuple[str, str | None]] = set()
    for dirpath, _dirs, files in os.walk(PKG_ROOT):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, PKG_ROOT).replace(os.sep, "/")
            tree = ast.parse(open(path).read())
            spans = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "persist"
                ):
                    encl = [
                        name
                        for a, b, name in spans
                        if a <= node.lineno <= (b or a)
                    ]
                    sites.add((rel, encl[-1] if encl else None))
    return sites


def test_every_package_persist_is_lifecycle_managed():
    sites = _persist_sites()
    rogue = sites - PERSIST_WHITELIST
    assert not rogue, (
        f"bare .persist() outside the lifecycle whitelist: {sorted(rogue)} "
        "— route it through caching.register_cache(df, family), or (if "
        "loop-unpersisted in a finally) whitelist it here with the "
        "justification"
    )
    # the whitelist must not rot
    stale = PERSIST_WHITELIST - sites
    assert not stale, f"whitelist entries with no persist anymore: {stale}"


def test_lint_sees_a_deliberate_bare_persist(tmp_path, monkeypatch):
    # the detector must actually fire: drop a module with a naked
    # persist into a scratch package root and walk it
    scratch = tmp_path / "pkg"
    scratch.mkdir()
    (scratch / "bad.py").write_text(
        "def leaky(df):\n    return df.persist()\n"
    )
    import tests.test_persist_lint as lint

    monkeypatch.setattr(lint, "PKG_ROOT", str(scratch))
    assert ("bad.py", "leaky") in lint._persist_sites()


def test_registered_families_are_releasable(spark, sf_dir):
    # the four freshly-enrolled families actually register under their
    # names when their operators run, and release frees them
    from pyspark.sql import functions as F

    from timeseries_spark.extensions import caching
    from timeseries_spark.extensions.graph import pagerank
    from timeseries_spark.operators.behavior import funnel_counts
    from timeseries_spark.queries import load

    caching.release_caches(spark)  # clean slate

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src int, dst int"
    )
    pagerank(edges, n_iter=1).collect()
    assert len(caching.live_caches(spark, family="graph")) == 2

    events = load(spark, sf_dir, "events")
    types = [
        r[0]
        for r in events.select("event_type").distinct().limit(2).collect()
    ]
    if len(types) == 2:
        funnel_counts(
            events, "user_id", "event_type", "ts", types
        ).collect()
        assert len(caching.live_caches(spark, family="behavior")) == 2

    freed = caching.release_caches(spark)
    assert freed >= 2
    assert caching.live_caches(spark) == []
