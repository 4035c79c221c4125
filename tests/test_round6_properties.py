"""Property-based invariants for the round-6 operators: BPE induction
equals the sequential reference algorithm on arbitrary corpora;
containment dominates Jaccard; the Morton interleave is a bijection."""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

SLOW = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# small alphabet so merges genuinely collide and cascade
word = st.text(alphabet="ab1", min_size=1, max_size=5)
corpus = st.lists(
    st.lists(word, min_size=1, max_size=6).map(" ".join),
    min_size=1,
    max_size=5,
)


def _bpe_reference(texts, n_merges):
    """Sequential BPE exactly as documented: greedy leftmost merge of
    the (count DESC, left ASC, right ASC)-best adjacent pair."""
    vocab = Counter()
    for t in texts:
        for tok in t.split(" "):
            if tok and all(c in "ab1" for c in tok):
                vocab[tok] += 1
    words = {tok: list(tok) for tok in vocab}
    merges = []
    for step in range(1, n_merges + 1):
        pairs = Counter()
        for tok, syms in words.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += vocab[tok]
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((step, best[0], best[1], best[0] + best[1], pairs[best]))
        for tok, syms in words.items():
            out = []
            for s in syms:
                if out and out[-1] == best[0] and s == best[1]:
                    out[-1] = best[0] + best[1]
                else:
                    out.append(s)
            words[tok] = out
    return merges, words


@SLOW
@given(corpus=corpus)
def test_bpe_matches_sequential_reference(spark, corpus):
    from timeseries_spark.extensions.bpe import induce_bpe

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id bigint, text string"
    )
    want_merges, want_words = _bpe_reference(corpus, 3)
    got_m, got_w = induce_bpe(docs, n_merges=3, batch_max=1)
    got_merges = [
        (r["step"], r["pair_left"], r["pair_right"], r["merged"], r["pair_count"])
        for r in got_m.orderBy("step").collect()
    ]
    assert got_merges == want_merges
    got_words = {
        r["token"]: r["s"] for r in got_w.collect()
    }
    want_render = {
        tok: "[" + "][".join(syms) + "]" for tok, syms in want_words.items()
    }
    assert got_words == want_render


@SLOW
@given(corpus=st.lists(
    st.lists(word, min_size=3, max_size=8).map(" ".join),
    min_size=2,
    max_size=5,
))
def test_containment_dominates_jaccard(spark, corpus):
    """For every pair, max(containment_a, containment_b) >= jaccard —
    so a containment threshold never misses a pair the same-threshold
    Jaccard filter keeps."""
    from timeseries_spark.extensions.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id bigint, text string"
    )
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, n=2, threshold=0.0).collect()
    }
    con = {
        (r["id_a"], r["id_b"]): max(r["containment_a"], r["containment_b"])
        for r in containment_pairs(docs, n=2, threshold=0.0).collect()
    }
    assert set(jac) == set(con)
    for k, j in jac.items():
        assert con[k] >= j - 1e-9, (k, con[k], j)


@SLOW
@given(
    xs=st.lists(st.integers(0, 65535), min_size=1, max_size=16),
    ys=st.lists(st.integers(0, 65535), min_size=1, max_size=16),
)
def test_zorder_interleave_is_bijective(spark, xs, ys):
    """The Morton code must decode back to exactly the two input codes
    (bit de-interleave), for any pair of 16-bit values."""
    from timeseries_spark.sources.io import zorder_value

    n = min(len(xs), len(ys))
    rows = [(float(xs[i]), float(ys[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "x double, y double")
    out = df.select(
        "x",
        "y",
        zorder_value(
            F.col("x"), F.col("y"),
            F.lit(0.0), F.lit(65535.0), F.lit(0.0), F.lit(65535.0),
        ).alias("z"),
    ).collect()
    for r in out:
        z = int(r["z"])
        xd = sum(((z >> (2 * b)) & 1) << b for b in range(16))
        yd = sum(((z >> (2 * b + 1)) & 1) << b for b in range(16))
        assert (xd, yd) == (int(r["x"]), int(r["y"]))


@SLOW
@given(corpus=corpus, bm=st.sampled_from([2, 4, 16, 64, 256]))
def test_batched_bpe_matches_sequential_reference(spark, corpus, bm):
    """The strict-boundary disjoint-prefix batch is provably equal to
    sequential greedy BPE — asserted against the same pure-Python
    reference the sequential operator is pinned to, across batch
    widths (round 11 widens the sampled widths to the 64/256 regime
    the production-depth vocabulary run uses; a deeper merge budget
    exercises multi-round batching at every width)."""
    from timeseries_spark.extensions.bpe import induce_bpe

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id bigint, text string"
    )
    want_merges, want_words = _bpe_reference(corpus, 12)
    got_m, got_w = induce_bpe(docs, n_merges=12, batch_max=bm)
    got_merges = [
        (r["step"], r["pair_left"], r["pair_right"], r["merged"], r["pair_count"])
        for r in got_m.orderBy("step").collect()
    ]
    assert got_merges == want_merges
    got_words = {r["token"]: r["s"] for r in got_w.collect()}
    want_render = {
        tok: "[" + "][".join(syms) + "]" for tok, syms in want_words.items()
    }
    assert got_words == want_render
