"""Small local lookup tables as pure-JVM plans.

``spark.createDataFrame(rows, schema)`` parallelizes the Python list
into ``defaultParallelism`` slices backed by a PythonRDD — so EVERY
materialization of the little table (and every BroadcastExchange built
over it: query-term filters, weight registries, rank tables) launches a
wave of Python workers just to deserialize a handful of rows. The
round-16 event-log profile measured each such build at ~0.25-0.3 s of
pure worker-round-trip wait per job (32 tasks × ~10 ms-0.3 s, near-zero
CPU) — a flat tax on every query that joins against a local list, paid
once per broadcast build.

``inline_rows`` renders the rows as ONE SQL expression,
``inline(array(named_struct(...), ...))``, over a ONE-split range: the
table evaluates entirely in the JVM (one tiny task, no Python boundary)
and is built in a constant number of py4j calls whatever the row count
(a ``F.lit``/``F.struct`` tree paid about 33 calls per cell). Values
are identical to the createDataFrame path — each cell is
``functions/sqlexpr.py:lit_sql``, ``CAST(<literal> AS <field type>)``,
the same typed conversion ``lit().cast()`` performs, and NULLs become
typed nulls. Intended for vocab-grain tables (query terms, source
registries, weight maps, rank/mapping tables); anything corpus-sized
should arrive as a real distributed source instead.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from timeseries_spark.functions.sqlexpr import lit_sql, lit_string


def inline_rows(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: str | StructType,
) -> DataFrame:
    """A DataFrame over ``rows`` (sequences matching ``schema``'s field
    order) that plans as one literal ``inline()`` expression — no
    PythonRDD, no Python workers at any materialization. Empty ``rows``
    falls back to an empty local relation (cold path, no runtime tasks
    either). A value with no SQL literal form raises ``TypeError``."""
    st = (
        StructType.fromDDL(schema) if isinstance(schema, str) else schema
    )
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], st)
    for i, r in enumerate(rows):
        # createDataFrame verifies row arity; zip() would silently drop
        # extra values or emit short structs — fail loudly instead
        # (round-17 advice)
        if len(r) != len(st.fields):
            raise ValueError(
                f"inline_rows: row {i} has {len(r)} values for "
                f"{len(st.fields)} schema fields"
            )
    structs = ", ".join(
        "named_struct("
        + ", ".join(
            f"{lit_string(f.name)}, {lit_sql(v, f.dataType)}"
            for v, f in zip(r, st.fields)
        )
        + ")"
        for r in rows
    )
    return spark.range(0, 1, 1, 1).selectExpr(f"inline(array({structs}))")
