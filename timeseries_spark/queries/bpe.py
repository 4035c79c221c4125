"""BPE tokenizer-induction queries (extensions/bpe.py). The oracle
replays the full iterative induction as mechanically generated chained
CTE stages — one (pairs → argmax → rewrite) triple per merge round —
proving the distributed driver-loop implementation is exactly the
sequential algorithm."""

from __future__ import annotations

from pyspark.sql import functions as F

from timeseries_spark.extensions.bpe import induce_bpe, segment_topk
from timeseries_spark.queries import load, query

N_MERGES = 8


def _bpe_ctes(n: int) -> str:
    parts = [
        """w0 AS (
      SELECT token, CAST(count(*) AS BIGINT) AS cnt,
             '[' || array_to_string(string_split_regex(token, ''), '][')
                 || ']' AS s
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      WHERE regexp_matches(token, '^[a-z0-9]+$')
      GROUP BY token
    )"""
    ]
    for k in range(1, n + 1):
        parts.append(
            f"""p{k} AS (
      SELECT a, b, CAST(sum(cnt) AS BIGINT) AS total FROM (
        SELECT t.sy[g.i] AS a, t.sy[g.i + 1] AS b, t.cnt
        FROM (SELECT cnt, string_split(s[2:-2], '][') AS sy FROM w{k - 1}) t,
             unnest(generate_series(1, len(t.sy) - 1)) AS g(i)
      ) GROUP BY a, b
    )"""
        )
        parts.append(
            f"b{k} AS (SELECT a, b, total FROM p{k} "
            "ORDER BY total DESC, a, b LIMIT 1)"
        )
        parts.append(
            f"""w{k} AS (
      SELECT token, cnt,
             replace(s, '[' || b.a || '][' || b.b || ']',
                     '[' || b.a || b.b || ']') AS s
      FROM w{k - 1}, b{k} b
    )"""
        )
    return "WITH " + ",\n".join(parts)


_MERGES_ORACLE = (
    _bpe_ctes(N_MERGES)
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT {k} AS step, a AS pair_left, b AS pair_right, "
        f"a || b AS merged, total AS pair_count FROM b{k}"
        for k in range(1, N_MERGES + 1)
    )
)

_SEG_ORACLE = (
    _bpe_ctes(N_MERGES)
    + f"""
    SELECT token, cnt, s AS seg FROM w{N_MERGES}
    ORDER BY cnt DESC, token LIMIT 50
    """
)


@query("bpe_merges", oracle=_MERGES_ORACLE)
def bpe_merges(spark, sf_dir):
    """Train 8 BPE merges on the documents corpus and return the
    ordered merge table (step, pair_left, pair_right, merged,
    pair_count) — tokenizer training as an engine operator. Corpus
    scanned once into a (token, count) vocabulary; every round after is
    vocabulary-grain: one pair-count shuffle with map-side combine, ONE
    bounded TakeOrdered collect of the top 17 pairs from which the
    driver validates an exact batch of up to 16 disjoint merges, and a
    per-row string-replace rewrite folded into the next round
    (extensions/bpe.py:induce_bpe)."""
    docs = load(spark, sf_dir, "documents")
    merges, _ = induce_bpe(docs, n_merges=N_MERGES)
    return merges


@query("bpe_segmentation", oracle=_SEG_ORACLE)
def bpe_segmentation(spark, sf_dir):
    """The 50 most frequent tokens with their segmentation after the 8
    trained merges — the inspectable artifact of ``bpe_merges`` (did
    frequent words collapse to few symbols?)."""
    docs = load(spark, sf_dir, "documents")
    _, words = induce_bpe(docs, n_merges=N_MERGES)
    return segment_topk(words, k=50)


@query("bpe_merges_batched", oracle=_MERGES_ORACLE)
def bpe_merges_batched(spark, sf_dir):
    """The SAME 8 merges as bpe_merges, at the same batch width, stated
    explicitly: each corpus round merges the longest exact disjoint
    PREFIX of the pair ranking (up to ``batch_max=16`` at once), which
    is provably identical to sequential greedy BPE merge-for-merge
    (extensions/bpe.py:_disjoint_prefix). Sharing bpe_merges' oracle —
    the sequential DuckDB replay, one merge per CTE stage — IS the
    claim: a 30k-merge production vocabulary trains in ~hundreds of
    rounds instead of 30k sequential Spark jobs, with a bit-identical
    merge table."""
    docs = load(spark, sf_dir, "documents")
    merges, _ = induce_bpe(docs, n_merges=N_MERGES, batch_max=16)
    return merges


_ENCODE_ORACLE = (
    _bpe_ctes(N_MERGES)
    + f""",
    tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    seg AS (
      SELECT t.doc_id, t.token, w.s
      FROM tok t JOIN w{N_MERGES} w USING (token)
      WHERE regexp_matches(t.token, '^[a-z0-9]+$')
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(len(string_split(s, ']['))) AS BIGINT) AS n_symbols,
           CAST(sum(length(token)) AS BIGINT) AS n_chars,
           round(sum(length(token))::DOUBLE
                 / sum(len(string_split(s, ']['))), 4) AS compression
    FROM seg GROUP BY doc_id
    """
)


@query("bpe_encode_corpus", oracle=_ENCODE_ORACLE)
def bpe_encode_corpus(spark, sf_dir):
    """APPLY the trained 8-merge tokenizer to the whole corpus — the
    serve half of the train/apply split: the final vocabulary
    segmentation broadcasts and tokenization is ONE vocabulary equi
    join per corpus token (the corpus never replays merges). Per-doc
    report: token/symbol/char counts + compression (chars per BPE
    symbol, the fertility metric). Training uses batched rounds, whose
    output is provably identical to sequential BPE
    (extensions/bpe.py:encode_corpus)."""
    from timeseries_spark.extensions.bpe import encode_corpus

    docs = load(spark, sf_dir, "documents")
    _, words = induce_bpe(docs, n_merges=N_MERGES)
    return encode_corpus(docs, words)
