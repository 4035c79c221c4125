"""Interleaved fresh-process A/B timing of registry queries from two
checkouts.

Every rep starts one fresh Python process per arm, alternating A B A B
..., so both trees see the same box load and neither sees the other's
JVM state. An arm process imports the engine from its own checkout, runs
bench.py's warmup (``assoc_novelty_yearly``), then per query one warm
run and one run timed the way bench.py times it (plan build +
``.count()``). Prints every rep as it lands, then each arm's median per
query and the B/A ratio.

Usage: python tools/ab.py <checkout_a> <checkout_b> <query> [query ...]
       [--reps N] [--sf-dir DIR]   (--sf-dir defaults to $SPARK_GRAFT_SF_DIR)
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

_ARM = "import sys, ab; ab.arm(sys.argv[1], sys.argv[2], sys.argv[3:])"


def arm(checkout: str, sf_dir: str, queries: list[str]) -> None:
    """One arm process: time each query once, print one RESULT line."""
    sys.path.insert(0, checkout)
    from timeseries_spark.queries import all_queries
    from timeseries_spark.session import get_spark

    spark = get_spark("ab")
    registry = all_queries()
    registry["assoc_novelty_yearly"](spark, sf_dir).count()
    out = {}
    for name in queries:
        registry[name](spark, sf_dir).count()
        t0 = time.perf_counter()
        registry[name](spark, sf_dir).count()
        out[name] = round(time.perf_counter() - t0, 3)
    print("RESULT " + json.dumps(out), flush=True)


def _run_arm(checkout: str, sf_dir: str, queries: list[str]) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", _ARM, checkout, sf_dir, *queries],
        cwd=os.path.dirname(os.path.abspath(__file__)),
        capture_output=True,
        text=True,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    sys.exit(f"arm {checkout} failed:\n{proc.stderr[-3000:]}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("checkout_a")
    ap.add_argument("checkout_b")
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    args = ap.parse_args()
    if not args.sf_dir:
        ap.error("pass --sf-dir or set SPARK_GRAFT_SF_DIR")
    arms = {
        "A": os.path.abspath(args.checkout_a),
        "B": os.path.abspath(args.checkout_b),
    }
    reps: dict[str, dict[str, list[float]]] = {
        a: {q: [] for q in args.queries} for a in arms
    }
    for i in range(1, args.reps + 1):
        for a, checkout in arms.items():
            res = _run_arm(checkout, args.sf_dir, args.queries)
            for q, t in res.items():
                reps[a][q].append(t)
            print(f"rep {i} {a} {json.dumps(res)}", flush=True)
    for q in args.queries:
        med = {a: statistics.median(reps[a][q]) for a in arms}
        print(
            f"{q}: A median {med['A']:.3f} s {reps['A'][q]} | "
            f"B median {med['B']:.3f} s {reps['B'][q]} | "
            f"B/A {med['B'] / med['A']:.3f}"
        )


if __name__ == "__main__":
    main()
