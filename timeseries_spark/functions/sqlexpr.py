"""Python values as Spark SQL literal text.

Plans authored as SQL strings (``selectExpr``, ``F.expr``) embed driver
values — weights, hyperplanes, lookup rows — as literal text. Each
renderer here produces text that parses back to exactly the Python
value, so a one-string plan carries the same values a ``F.lit`` tree
would, for one py4j call instead of several per value.
"""

from __future__ import annotations

from pyspark.sql.types import DataType


def lit_double(x: float) -> str:
    """A DOUBLE literal bit-identical to ``float(x)``: the shortest
    round-trip repr, cast from a string. Unlike a ``1.5D`` suffix
    literal it also parses NaN, ±inf and subnormals, and keeps the sign
    of -0.0. NaN renders as the canonical quiet NaN (its payload is not
    kept)."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def lit_string(s: str) -> str:
    """A single-quoted string literal; backslash and quote are escaped
    (Spark unescapes backslash sequences in string literals), and ``$``
    is written as the ``\\u0024`` escape, because the SQL parser
    substitutes ``${name}`` variables in the raw text before it reads
    literals. Every other character, newlines and non-BMP code points
    included, is embedded as is."""
    return (
        "'"
        + s.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
        + "'"
    )


def lit_sql(v, dtype: DataType) -> str:
    """``v`` as ``CAST(<literal> AS <dtype>)``: the literal is typed by
    the Python value (as ``F.lit`` types it), then cast to the field
    type, so ``lit_sql(v, t)`` evaluates to ``F.lit(v).cast(t)``.
    Supports None, bool, int, float and str; anything else raises
    ``TypeError`` rather than rendering an approximation."""
    if v is None:
        lit = "NULL"
    elif isinstance(v, bool):  # before int: bool is an int subclass
        lit = "TRUE" if v else "FALSE"
    elif isinstance(v, int):
        lit = str(v)
    elif isinstance(v, float):
        lit = lit_double(v)
    elif isinstance(v, str):
        lit = lit_string(v)
    else:
        raise TypeError(
            f"no SQL literal for {type(v).__name__} value {v!r}"
        )
    return f"CAST({lit} AS {dtype.simpleString()})"
