"""BPE induction at production vocabulary depth (round-11 verdict
item 6): drive ``induce_bpe`` to a 2-4k-merge vocabulary at
sf0.1 and record what the per-round collect discipline actually costs
at depth — corpus rounds taken, wall time, merges landed per round,
and the vocab-grain state size (distinct word types and total
segmentation characters) the checkpoint loop carries.

Exactness at depth is covered separately: the hypothesis suite
(tests/test_round6_properties.py) replays batched-vs-sequential
equality at batch widths up to 256, and the proof sketch in
extensions/bpe.py (strict-boundary disjoint prefix == sequential
greedy) is width-independent. This script is the SCALE evidence:
rounds ~= n_merges / effective-batch, each round touching only the
(token, cnt, s) vocabulary table, never the corpus.

The synthetic documents table carries only ~31 distinct word types —
far too few pairs to sustain thousands of merges — so the depth corpus
replicates it ``n_rep``x with per-replica IN-ALPHABET token prefixes
(``r7xtoken``, not ``r7_token`` — an underscore would fall out of the
``^[a-z0-9]+$`` vocab filter and silently empty the run, the round-10
fixture trap), scaling vocabulary and pair space together exactly as
tools/scale_check.py scales key spaces.

Usage:
  python tools/bpe_depth.py [sf_dir] [n_merges] [batch_max] [n_rep] [out]
                            [mode: subset|full]

``mode=full`` replicates every doc into every replica (identical
per-replica counts -> a pure count-tie plateau, the regime that
serialized the round-11 strict-boundary rule to 1 merge/round); the
round-13 tie-plateau batching rule is measured against exactly this.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def replicate_vocab(docs, n_rep: int, full: bool = False):
    """n_rep doc SUBSETS; replica r keeps a hash-deterministic
    (n_rep - r)/n_rep fraction of docs and prefixes every token with
    'r{r}x' (in-alphabet). Subsetting is load-bearing: a FULL copy per
    replica gives every replica's pairs IDENTICAL counts, and the
    batched inducer's strict-boundary rule (count(p_m) must strictly
    exceed count(p_{m+1}), the exactness proof's premise) then shrinks
    every batch to 1 merge — a uniform-count plateau degenerates
    batched induction to sequential. Distinct per-replica subset sizes
    give a Zipf-ish count spectrum, the shape a real corpus has."""
    rep = docs.crossJoin(
        F.broadcast(
            docs.sparkSession.range(n_rep).select(F.col("id").alias("__r"))
        )
    )
    if not full:
        rep = rep.where(
            F.pmod(F.xxhash64("doc_id"), F.lit(n_rep))
            < (F.lit(n_rep) - F.col("__r"))
        )
    return rep.select(
        (F.col("doc_id") + F.col("__r") * 10_000_000).alias("doc_id"),
        F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda t: F.concat(
                    F.lit("r"), F.col("__r").cast("string"), F.lit("x"), t
                ),
            ),
            " ",
        ).alias("text"),
    )


def main() -> None:
    from timeseries_spark.extensions.bpe import (
        _pair_counts,
        _vocab,
        select_batch,
    )
    from timeseries_spark.queries import load
    from timeseries_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_merges = int(sys.argv[2]) if len(sys.argv) > 2 else 3000
    batch_max = int(sys.argv[3]) if len(sys.argv) > 3 else 256
    n_rep = int(sys.argv[4]) if len(sys.argv) > 4 else 100
    out_json = (
        sys.argv[5] if len(sys.argv) > 5 else "experiments/BPE_DEPTH_r11.json"
    )
    mode = sys.argv[6] if len(sys.argv) > 6 else "subset"
    spark = get_spark("bpe_depth")
    width = spark.sparkContext.defaultParallelism
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    if n_rep > 1:
        docs = (
            replicate_vocab(docs, n_rep, full=(mode == "full"))
            .repartition(width)
            .localCheckpoint(eager=True)
        )

    # the induce_bpe loop, instrumented per round (same code path:
    # _vocab -> [_pair_counts -> top -> disjoint prefix -> chained
    # replace -> checkpoint]*; extensions/bpe.py:induce_bpe)
    t_start = time.perf_counter()
    words = _vocab(docs, "text").localCheckpoint(eager=True)
    vocab_rows = words.count()
    t_vocab = time.perf_counter() - t_start

    rounds: list[dict] = []
    mints: set[str] = set()
    n_done = 0
    while n_done < n_merges:
        t0 = time.perf_counter()
        # select_batch floors at 1 (plain greedy), so the loop
        # always advances while pairs remain
        batch = select_batch(
            _pair_counts(words), batch_max, n_merges - n_done, mints
        )
        if not batch:
            break
        mints.update(r["a"] + r["b"] for r in batch)
        s = F.col("s")
        for r in batch:
            s = F.replace(
                s,
                F.lit(f"[{r['a']}][{r['b']}]"),
                F.lit(f"[{r['a']}{r['b']}]"),
            )
        words = (
            words.withColumn("s", s)
            .select("token", "cnt", "s")
            .localCheckpoint(eager=True)
        )
        n_done += len(batch)
        rounds.append(
            {"merges": len(batch), "wall_s": round(time.perf_counter() - t0, 2)}
        )
        if len(rounds) % 10 == 0:
            print(
                f"round {len(rounds)}: {n_done}/{n_merges} merges",
                flush=True,
            )

    state = words.select(
        F.count(F.lit(1)).alias("types"),
        F.sum(F.length("s")).alias("seg_chars"),
    ).collect()[0]
    wall = round(time.perf_counter() - t_start, 1)
    out = {
        "sf": sf_dir,
        "n_rep": n_rep,
        "mode": mode,
        "n_merges_requested": n_merges,
        "n_merges_done": n_done,
        "batch_max": batch_max,
        "rounds": len(rounds),
        "wall_s": wall,
        "vocab_scan_s": round(t_vocab, 2),
        "word_types": vocab_rows,
        "final_state": {
            "types": state["types"],
            "segmentation_chars": int(state["seg_chars"]),
        },
        "merges_per_round": {
            "mean": round(n_done / max(len(rounds), 1), 1),
            "min": min((r["merges"] for r in rounds), default=0),
            "max": max((r["merges"] for r in rounds), default=0),
        },
        "round_wall_s": {
            "mean": round(
                sum(r["wall_s"] for r in rounds) / max(len(rounds), 1), 2
            ),
            "max": max((r["wall_s"] for r in rounds), default=0.0),
        },
    }
    with open(out_json, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "sf"}))
    print(f"wrote {out_json}")


if __name__ == "__main__":
    main()
