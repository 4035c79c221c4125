"""Distributed BPE (byte-pair-encoding) merge induction — tokenizer
training inside the engine.

The published BPE algorithm (Sennrich et al. 2016, public): start from
characters, repeatedly (1) count adjacent symbol pairs across the
corpus weighted by word frequency, (2) merge the most frequent pair
everywhere. The trained artifact is the ordered merge list; applying it
to text is the tokenizer.

Scale shape — the part that matters at 100 TB: the corpus is scanned
ONCE to build the (token, count) vocabulary; every merge round after
that runs at VOCABULARY grain (pair counting shuffles |vocab|·avg_len
rows with map-side partial aggregation, the top batch_max + 1 pairs
come back as ONE bounded TakeOrdered collect — bounded metadata, never
corpus data — and the driver validates the longest exact batch of
merges from that window alone, with no second job; the batch rewrite is
a per-row literal string replace folded lazily into the next round's
plan). Rounds follow the ``kmeans_fit`` / ``connected_components``
discipline: a bounded driver loop whose state is eagerly
``localCheckpoint``-ed every few rounds so the plan never grows past a
constant (plan-size blowup, not data, is the failure mode of chained
iterations) while per-round driver actions stay at one.

Determinism: ties on pair count break lexicographically on (left,
right), so the same corpus always yields the same merge table — which
is what lets a plain SQL engine replay the whole induction as chained
CTE stages for the oracle.

Representation: a word's segmentation is rendered as a bracket string
``[h][e][l][l][o]``. Merging pair (l, l) is then the plain string
replace ``[l][l] → [ll]`` — non-overlapping left-to-right replacement
IS greedy BPE merging, identical in Spark and ANSI SQL, with no
list-fold accumulator (and no DuckDB list_reduce mutation pitfall).
Tokens are restricted to ``^[a-z0-9]+$`` so the brackets can never
collide with symbol text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from timeseries_spark.functions.inline import inline_rows

TOKEN_RE = "^[a-z0-9]+$"


def _vocab(docs: DataFrame, text_col: str) -> DataFrame:
    """(token, cnt, s) at vocabulary grain; s = bracketed char split."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .where(F.col("token").rlike(TOKEN_RE))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "s",
            F.concat(
                F.lit("["),
                F.array_join(F.split(F.col("token"), ""), "]["),
                F.lit("]"),
            ),
        )
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-pair totals over the current segmentation, weighted by
    word frequency: (a, b, total)."""
    syms = F.split(
        F.expr("substring(s, 2, length(s) - 2)"), r"\]\["
    )
    n = F.size(syms)
    pairs = F.zip_with(
        F.slice(syms, 1, n - 1),
        F.slice(syms, 2, n - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    return (
        words.select(F.explode(pairs).alias("p"), "cnt")
        .groupBy("p.a", "p.b")
        .agg(F.sum("cnt").cast("bigint").alias("total"))
    )


def segment_topk(words: DataFrame, k: int = 50) -> DataFrame:
    """The k most frequent tokens with their final BPE segmentation —
    the human-inspectable artifact (did the tokenizer learn 'the' as
    one symbol?). Tie-break on token keeps the top-k set deterministic.
    """
    return (
        words.orderBy(F.desc("cnt"), "token")
        .limit(k)
        .select("token", "cnt", F.col("s").alias("seg"))
    )


def _disjoint_prefix(
    rows,
    batch_max: int,
    remaining: int,
    earlier_mints: set[str] | None = None,
):
    """The exactness-preserving batch: the longest PREFIX of the
    (total desc, a, b)-ordered pair list that is pairwise
    symbol-disjoint, truncated at the first member the minted-output
    lex guard rejects (below). Equal-count (tie-plateau) members ARE
    batched — the round-11 strict-count boundary serialized full-copy
    corpora to 1 merge/round — and exactness is preserved by checking
    the one way a tie can actually be stolen.

    Why this equals sequential greedy BPE, merge for merge:
    - prefix + first-conflict stop ⇒ every non-batch pair ranks at or
      below the stopping pair nxt, so its count <= count(nxt);
    - disjointness ⇒ merging p_i never changes the count of p_j (no
      shared symbol, and adjacency of a disjoint pair is untouched by
      a bracket rewrite elsewhere in the word); merges only DECREASE
      old pairs' counts, so at slot j every un-batched OLD pair still
      (count, lex)-ranks below p_j: below by count when
      count(p_j) > count(nxt); at equal count its lex rank is its
      identity, unchanged, and already after p_j's;
    - a NEW pair minted by merging p_i = (a, b) -> ab occurs at most
      as often as an OLD pair that shares a symbol with p_i — which
      conflicts with the batch, hence ranks <= nxt. So when
      count(p_j) > count(nxt), no new pair can outrank p_j either,
      and ties are decided by lex, where exactly one jump-in exists:
        (x, ab): needs lex (x, ab) < (a_j, b_j) while the old pair
        (x, a) it derives from ranked after p_j. Both force x == a_j,
        then a > b_j and a+b < b_j — impossible, since a+b has a as
        a strict prefix so a+b > a > b_j. SAFE unconditionally.
        (ab, y): lex is decided by the MINTED STRING itself; nothing
        relates ab to a_j. If ab <= a_j (string compare), a count-c
        (ab, y) can rank above a tied p_j and sequential would merge
        it first — e.g. words {"a z y", "c d"} x c: merging (a, z)
        mints (az, y), and "az" < "c" steals slot 2 from (c, d).
    The guard therefore drops batch members from the first j where
    count(p_j) == count(nxt) AND some earlier kept member's minted
    output a_i+b_i <= a_j; members above the tie count never need it.

    "Disjoint" is POSITIONAL (round 13): two pairs interfere only when
    a symbol is shared across OPPOSITE positions. Merging (a,b)
    destroys occurrences of (x,a) ("x a b" -> "x ab") and of (b,y)
    ("a b y" -> "ab y"), but never of (a,c) — an `a` followed by `b`
    is not followed by `c`, so same-LEFT pairs have disjoint occurrence
    sets (same for same-RIGHT); their counts are mutually invariant and
    their literal rewrites cannot overlap, so rewrite order stays
    immaterial. This is what unlocks plateau runs like (r,1),(r,2),...
    that the component-set rule serialized to one merge per round.
    A candidate (x, y) therefore conflicts iff y is some member's LEFT,
    x is some member's RIGHT, either component is a member's MINTED
    string, or its own minted output x+y collides with any reserved
    string (minting instances of a reserved symbol would inflate
    other members' pair counts mid-batch).

    A second, rarer hazard is a MINT COLLISION: the minted string
    a_i+b_i may ALREADY exist as a symbol (two different merge paths
    can build the same string — leftmost-overlap resolution segments
    the same substring differently in different contexts), in which
    case an OLD pair (x, a_ib_i) GAINS count from p_i's merge and can
    outrank later batch members regardless of count boundaries. The
    batch therefore stops right after the first member whose minted
    output appears as a component of any existing pair.

    The window is ONE collect of the top batch_max + 1 rows. When it
    holds every pair (fewer rows than requested) both checks read it
    directly. When it is truncated, count-c left symbols beyond it are
    unknown, so any lex-earlier kept mint is assumed to steal; and the
    collision check reads ``earlier_mints``, the strings minted by
    earlier merges of the same induction: every symbol longer than one
    character was minted by such a merge, so a minted string that
    already exists as a symbol is one of them, and "minted ∩
    earlier_mints" covers every real collision. Both fallbacks are
    conservative — every prefix of an exact batch is exact, so they
    shorten rounds and never change the merge table. Without
    ``earlier_mints`` (unit fixtures) a truncated window ends the batch
    after its first member.
    """
    rows = list(rows)
    batch: list = []
    lefts: set[str] = set()
    rights: set[str] = set()
    mints: set[str] = set()
    nxt = None
    for r in rows:
        if len(batch) >= min(batch_max, remaining):
            nxt = r
            break
        a, b, m = r["a"], r["b"], r["a"] + r["b"]
        if (
            b in lefts
            or a in rights
            or a in mints
            or b in mints
            or m in lefts
            or m in rights
            or m in mints
        ):
            nxt = r
            break
        batch.append(r)
        lefts.add(a)
        rights.add(b)
        mints.add(m)
    if len(batch) <= 1:
        return batch  # single merge == plain greedy, exact by definition
    minted = {r["a"] + r["b"] for r in batch}
    c = nxt["total"] if nxt is not None else None
    # completeness of the collected window: all pairs are visible iff
    # limit(batch_max+1) returned fewer rows than requested; all
    # count-c pairs are visible if additionally the last row ranks
    # strictly below c
    all_pairs_visible = len(rows) <= batch_max
    ties_visible = all_pairs_visible or (
        c is not None and rows[-1]["total"] < c
    )
    tie_lefts = (
        {r["a"] for r in rows if r["total"] == c} if ties_visible else None
    )
    if all_pairs_visible:
        colliding = {s for r in rows for s in (r["a"], r["b"]) if s in minted}
    elif earlier_mints is not None:
        colliding = minted & earlier_mints
    else:
        colliding = None  # unknowable -> conservative

    def may_steal(k) -> bool:
        # (ab, y) can only reach count c if an OLD pair (b, y) holds
        # count exactly c (the new pair's occurrences are a subset of
        # the old pair's): a steal needs a count-c successor of b
        return tie_lefts is None or k["b"] in tie_lefts

    kept: list = []
    for r in batch:
        if (
            nxt is not None
            and r["total"] == c
            and any(
                k["a"] + k["b"] <= r["a"] and may_steal(k) for k in kept
            )
        ):
            break
        kept.append(r)
        if colliding is None or r["a"] + r["b"] in colliding:
            # p_i's own merge is still the i-th sequential pick; the
            # inflated (x, a_ib_i) pairs only compete with LATER slots
            break
    return kept


def select_batch(
    pc: DataFrame, batch_max: int, remaining: int, earlier_mints: set[str]
) -> list:
    """One batched round's merge selection over a pair-count DataFrame:
    ONE bounded collect of the top (batch_max + 1) (a, b, total) rows,
    then ``_disjoint_prefix`` validates the exact batch on the driver
    from that window and ``earlier_mints`` (the strings minted by this
    induction's earlier merges) — one DataFrame action per round, no
    second job."""
    top = (
        pc.orderBy(F.desc("total"), "a", "b").limit(batch_max + 1).collect()
    )
    return _disjoint_prefix(top, batch_max, remaining, earlier_mints)


def induce_bpe(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    batch_max: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """Train ``n_merges`` BPE merges on the corpus. Returns
    ``(merges, words)``:

    - merges: (step, pair_left, pair_right, merged, pair_count) — the
      ordered merge table, the tokenizer artifact;
    - words: (token, cnt, s) — the final vocabulary segmentation under
      those merges (bracket rendering).

    Stops early (fewer rows in ``merges``) if the vocabulary runs out
    of adjacent pairs — single-character words can exhaust a toy corpus
    before ``n_merges`` rounds.

    Each corpus round merges up to ``batch_max`` pairwise-disjoint
    pairs at once (see ``_disjoint_prefix`` for the proof sketch), so a
    realistic 30k-merge vocabulary needs hundreds of Spark rounds
    instead of 30k sequential jobs. Output is identical to sequential
    greedy BPE — ``batch_max=1``, one merge per round, the reference
    the tests compare against — same merge table (steps, counts,
    order), same final segmentation.

    Driver boundary: ONE bounded collect of <= batch_max + 1 tiny
    (a, b, total) rows per round — the same metadata-only discipline as
    the kmeans convergence aggregate, never a data collect. The batch
    rewrite is a single chained literal replace per round (the merges
    are disjoint, so replace order within the chain is immaterial)."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    if batch_max < 1:
        raise ValueError(f"batch_max must be >= 1, got {batch_max}")
    spark = docs.sparkSession
    words = _vocab(docs, text_col).localCheckpoint(eager=True)
    # ONE action per round: the batch comes back as a bounded collect,
    # the rewrite folds into the NEXT round's plan as a lazy
    # literal-replace chain instead of its own crossJoin + checkpoint
    # job, and the merge table materializes once from driver literals
    # at the end. A checkpoint every _CKPT_REPLACES chained replaces
    # keeps per-round analysis and recompute bounded whatever the batch
    # sizes.
    _CKPT_REPLACES = 64
    merge_lits: list[tuple] = []
    mints: set[str] = set()
    since_ckpt = 0
    while len(merge_lits) < n_merges:
        batch = select_batch(
            _pair_counts(words), batch_max, n_merges - len(merge_lits), mints
        )
        if not batch:
            break
        for r in batch:
            merge_lits.append(
                (len(merge_lits) + 1, r["a"], r["b"], r["a"] + r["b"], r["total"])
            )
            mints.add(r["a"] + r["b"])
        s = F.col("s")
        for r in batch:
            s = F.replace(
                s,
                F.lit(f"[{r['a']}][{r['b']}]"),
                F.lit(f"[{r['a']}{r['b']}]"),
            )
        words = words.withColumn("s", s).select("token", "cnt", "s")
        since_ckpt += len(batch)
        if since_ckpt >= _CKPT_REPLACES and len(merge_lits) < n_merges:
            words = words.localCheckpoint(eager=True)
            since_ckpt = 0
    merges = inline_rows(
        spark,
        merge_lits,
        "step int, pair_left string, pair_right string, "
        "merged string, pair_count bigint",
    )
    return merges, words


def encode_corpus(
    docs: DataFrame,
    words: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """APPLY a trained tokenizer to the corpus — the serve half of the
    BPE train/apply split: the final vocabulary segmentation table
    (token -> bracket rendering, as returned by ``induce_bpe``) is
    broadcast, and tokenization is one vocabulary equi join — the
    corpus never replays a merge. Returns
    the per-doc tokenizer report: (doc_id, n_tokens, n_symbols,
    n_chars, compression) where compression = chars per emitted BPE
    symbol (the fertility metric tokenizer evaluations track).

    Docs whose every token falls outside the induction alphabet
    ([a-z0-9]+) produce no row — they contributed nothing to training
    and have no segmentation to report."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    ).where(F.col("token").rlike(TOKEN_RE))
    seg = toks.join(F.broadcast(words.select("token", "s")), "token")
    return (
        seg.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.size(F.split(F.col("s"), r"\]\["))).cast("bigint").alias(
                "n_symbols"
            ),
            F.sum(F.length("token")).cast("bigint").alias("n_chars"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_symbols",
            "n_chars",
            F.round(
                F.col("n_chars").cast("double") / F.col("n_symbols"), 4
            ).alias("compression"),
        )
    )
