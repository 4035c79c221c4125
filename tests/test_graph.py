"""PageRank: hand-checkable semantics, mass conservation, and plan
shape (per-round equi-join + node-grain agg, nothing cartesian)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from timeseries_spark.extensions.graph import bipartite_edges, pagerank
from timeseries_spark.queries import all_queries


def test_two_node_symmetric_graph_is_uniform(spark):
    e = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    got = {r["node"]: r["rank"] for r in pagerank(e, n_iter=3).collect()}
    assert got == {"a": 0.5, "b": 0.5}


def test_star_center_outranks_leaves(spark):
    # hub h <-> leaves x,y,z (symmetric)
    pairs = [("h", l) for l in "xyz"]
    e = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src string, dst string"
    )
    got = {r["node"]: r["rank"] for r in pagerank(e, n_iter=3).collect()}
    assert got["h"] > got["x"]
    assert got["x"] == got["y"] == got["z"]
    # rank mass is conserved up to the 1e-10 per-round snap
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_hand_computed_one_round(spark):
    # a -> b only (plus b -> a so nothing dangles); one round from 1/2:
    # r(b) = 0.15/2 + 0.85 * (0.5 / 1) = 0.5
    e = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    got = {r["node"]: r["rank"] for r in pagerank(e, n_iter=1).collect()}
    assert got["b"] == pytest.approx(0.075 + 0.85 * 0.5, abs=1e-9)


def test_bipartite_edges_are_symmetric_and_tagged(spark):
    rel = spark.createDataFrame([(1, 7), (1, 7), (2, 7)], "p long, s long")
    e = bipartite_edges(rel, "p", "s", "P", "S")
    rows = {(r["src"], r["dst"]) for r in e.collect()}
    assert rows == {
        ("P1", "S7"), ("S7", "P1"), ("P2", "S7"), ("S7", "P2"),
    }


def test_bad_iter_raises(spark):
    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError):
        pagerank(e, n_iter=0)


def test_pagerank_mass_conserved_on_real_graph(spark):
    df = all_queries()["pagerank_parts_suppliers"](spark, SF_DIR)
    total = df.agg(F.sum("rank").alias("t")).collect()[0]["t"]
    assert abs(total - 1.0) < 1e-4


def test_pagerank_plan_no_cartesian(plan):
    p = plan("pagerank_parts_suppliers")
    assert "CartesianProduct" not in p


def test_label_propagation_two_cliques(spark):
    from timeseries_spark.extensions.graph import label_propagation

    # two triangles bridged by one weak edge: LPA should give each
    # triangle one community, labeled by its smallest node id
    tri1 = [("a", "b"), ("b", "c"), ("a", "c")]
    tri2 = [("x", "y"), ("y", "z"), ("x", "z")]
    bridge = [("c", "x")]
    und = [(s, d) for s, d in tri1 + tri2 + bridge]
    edges = spark.createDataFrame(
        und + [(d, s) for s, d in und], "src string, dst string"
    )
    out = {
        r["node"]: r["community"]
        for r in label_propagation(edges, n_iter=4).collect()
    }
    assert out["a"] == out["b"] == out["c"] == "a"
    assert out["x"] == out["y"] == out["z"]
    assert out["x"] != out["a"]


def test_label_propagation_validates(spark):
    import pytest

    from timeseries_spark.extensions.graph import label_propagation

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError):
        label_propagation(edges, n_iter=0)


def test_label_propagation_unpersists_edge_cache(spark, monkeypatch):
    # ADVICE r6: the edge DataFrame is persisted for the rounds but the
    # returned labels are an eager checkpoint — the cache must be
    # released before return (long-lived sessions would otherwise leak
    # one cached relation per invocation). Spy on DataFrame.persist and
    # assert every relation the operator cached is unpersisted by the
    # time it returns (storage level drops to NONE).
    from timeseries_spark.extensions.graph import label_propagation

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c")], "src string, dst string"
    )
    # patch the CONCRETE DataFrame class (pyspark 4 routes
    # pyspark.sql.DataFrame to an abstract base; the session builds
    # pyspark.sql.classic.dataframe.DataFrame)
    cls = type(edges)
    orig = cls.persist

    def spy(self, *a, **k):
        out = orig(self, *a, **k)
        cached.append(out)
        return out

    cached = []
    monkeypatch.setattr(cls, "persist", spy)
    out = label_propagation(edges, n_iter=2, persist=True)
    assert out.count() == 3
    assert cached, "persist=True must cache the edge relation"
    assert all(not c.storageLevel.useMemory and not c.storageLevel.useDisk
               for c in cached)
