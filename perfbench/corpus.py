"""corpus_iterative: iterative registry queries over a seeded corpus.

The queries are driver-bound: each call runs eager per-round jobs (BPE
merge rounds, gradient-descent rounds) and builds its plan through
thousands of py4j round trips, then one action collects a few rows.
Their code lives in ``timeseries_spark.extensions``, which the release
pass never touches.

The corpus is made here from the workload seed, shaped like the
registry's ``documents`` table (the queries read
``{dir}/documents.parquet``). Each result must hash-equal the DuckDB
oracle SQL registered with its query, under ``tools/check_oracle.py``'s
normalizer.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# query -> the extensions module that implements it
QUERIES = {
    "bpe_merges": "extensions.bpe",
    "logreg_quality_train": "extensions.classifier",
}
N_DOCS = 500
WORDS = (
    "a the row key agg scan slow fast table value part hash merge batch "
    "line sort window spark data column join small big customer query "
    "order group filter stream vector"
).split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")


def generate(seed: int) -> pa.Table:
    """The documents table, drawn from ``seed`` alone."""
    rng = np.random.default_rng(seed)
    texts = [" ".join(rng.choice(WORDS, size=int(rng.integers(8, 80))))
             for _ in range(N_DOCS)]
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(len(LANGS), size=N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


class CorpusIterative:
    OPS = tuple(QUERIES)

    def __init__(self, seed: int):
        self.seed = seed
        self._oracle: dict | None = None
        self._dir = ""

    def setup(self, spark, in_dir: str) -> dict:
        t = time.perf_counter()
        docs = generate(self.seed)
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        pq.write_table(docs, f"{in_dir}/documents.parquet")
        write_s = time.perf_counter() - t
        self._dir = in_dir
        return {"dir": in_dir, "gen_s": gen_s, "write_s": write_s}

    def run_pass(self, spark, tracer, inputs: dict, out_dir: str) -> dict:
        from timeseries_spark.queries import all_queries

        registry = all_queries()
        results = {}
        for q, module in QUERIES.items():
            with tracer.span(f"queries.{q}", "stage", module=module):
                with tracer.span(f"queries.{q}", "build"):
                    df = registry[q](spark, inputs["dir"])
                with tracer.span(f"queries.{q}", "action"):
                    rows = [tuple(r) for r in df.collect()]
            results[q] = (rows, df.columns)
        return results

    def digests(self, spark, passes: list[tuple[str, dict]]) -> list[dict]:
        from tools.check_oracle import value_hash

        return [
            {q: [len(rows), value_hash(rows, cols)] for q, (rows, cols) in res.items()}
            for _, res in passes
        ]

    def check(self, digests: dict) -> list[str]:
        """Queries whose result differs from their DuckDB oracle."""
        want = self._reference()
        return [q for q in QUERIES if digests.get(q) != want[q]]

    def _reference(self) -> dict:
        """Digest of each query's DuckDB oracle over the same file."""
        if self._oracle is None:
            import duckdb

            from timeseries_spark.queries import all_oracles
            from tools.check_oracle import value_hash

            oracles = all_oracles()
            con = duckdb.connect()
            try:
                con.execute("CREATE VIEW documents AS SELECT * FROM "
                            f"'{self._dir}/documents.parquet'")
                self._oracle = {}
                for q in QUERIES:
                    res = con.execute(oracles[q])
                    cols = [d[0] for d in res.description]
                    rows = res.fetchall()
                    self._oracle[q] = [len(rows), value_hash(rows, cols)]
            finally:
                con.close()
        return self._oracle

    def corrupt(self, spark, out_dir: str, results: dict) -> None:
        rows, cols = results["bpe_merges"]
        results["bpe_merges"] = (rows[:-1], cols)

    def layer_counts(self, digests: dict, out_dir: str) -> dict:
        return {}

    def serve_probe(self, spark, tracer, results: dict, out_dir: str):
        return 0, 0, {}
