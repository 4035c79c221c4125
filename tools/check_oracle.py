"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its oracle on DuckDB at a given
scale factor, then compares row count, column names/order-insensitive
schema, and an order-insensitive value hash. Use while iterating:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))  # 3.0 == 3 across engines
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    return str(v)


def value_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "|".join(norm_value(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    from pyspark.sql import functions as F  # noqa: F401

    from timeseries_spark.queries import all_oracles, all_queries
    from timeseries_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    queries, oracles = all_queries(), all_oracles()
    failed = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failed.append(name)
            continue
        # SPARK-ONLY wall (build + one collect), excluding the DuckDB
        # oracle below — the number tools/bench_ratio.py's correctness
        # mode diffs across scale tiers, so it must time the engine,
        # not the oracle
        t_run = time.time() - t0
        if name not in oracles:
            print(f"ok*   {name}: rows-only check, {len(srows)} rows "
                  f"({t_run:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failed.append(name)
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} != {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} != {sorted(ocols)}")
        if not problems:
            sh = value_hash([tuple(r) for r in srows], scols)
            oh = value_hash(orows, ocols)
            if sh != oh:
                problems.append("value hash mismatch")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failed.append(name)
        else:
            print(f"ok    {name}: {len(srows)} rows ({t_run:.1f}s)")

    print(f"\n{len(queries) - len(failed)}/{len(queries)} queries match")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
