"""SQL literal rendering (functions/sqlexpr.py) and the one-expression
``inline_rows`` table built from it."""

from __future__ import annotations

import struct

import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql.types import StructType

from perfbench.tracing import Py4jCounter
from timeseries_spark.functions.inline import inline_rows
from timeseries_spark.functions.sqlexpr import lit_sql

MAX = 1.7976931348623157e308
SCHEMA = "d double, i int, l bigint, b boolean, s string"

doubles = st.one_of(
    st.none(),
    st.floats(allow_nan=False),
    st.sampled_from(
        [float("nan"), float("inf"), -float("inf"), -0.0, 0.0, 5e-324,
         -5e-324, 2.2250738585072014e-308, 1.1125369292536007e-308, MAX,
         -MAX]
    ),
)
int32s = st.one_of(
    st.none(),
    st.integers(-(2**31), 2**31 - 1),
    st.sampled_from([-(2**31), 2**31 - 1]),
)
int64s = st.one_of(
    st.none(),
    st.integers(-(2**63), 2**63 - 1),
    st.sampled_from([-(2**63), 2**63 - 1]),
)
strings = st.one_of(
    st.none(),
    st.text(),
    st.sampled_from(
        ["", "'", "\\", "\\'", "''", "a\nb", "\\n", "\\u0041", "\U0001f600",
         "$", "${x}", "\x00"]
    ),
)
rows = st.lists(
    st.tuples(doubles, int32s, int64s, st.one_of(st.none(), st.booleans()),
              strings),
    min_size=1,
    max_size=8,
)


def _bits(row):
    """A row with every double replaced by its IEEE-754 bit pattern."""
    return tuple(
        struct.pack(">d", v) if isinstance(v, float) else v for v in row
    )


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=rows)
# the SQL parser substitutes ${name} in raw text before reading literals
@example(rows=[(None, None, None, None, "${x}")])
def test_inline_rows_round_trips_like_create_dataframe(spark, rows):
    want = spark.createDataFrame(rows, SCHEMA).collect()
    got = inline_rows(spark, rows, SCHEMA).collect()
    assert [_bits(r) for r in got] == [_bits(r) for r in want]


def test_inline_rows_py4j_calls_do_not_grow_with_rows(spark):
    client = spark.sparkContext._gateway._gateway_client
    schema = StructType.fromDDL(SCHEMA)
    table = [(i * 0.5, i, -i, i % 2 == 0, f"t'{i}") for i in range(200)]

    def calls(n):
        had_own = "send_command" in vars(client)
        original = client.send_command
        counter = Py4jCounter(client)
        try:
            inline_rows(spark, table[:n], schema)
        finally:
            if had_own:
                client.send_command = original
            else:
                del client.send_command
        return counter.calls

    assert calls(1) == calls(200)


def test_lit_sql_rejects_values_without_a_literal():
    from pyspark.sql.types import DoubleType

    with pytest.raises(TypeError):
        lit_sql(b"\x00", DoubleType())
    with pytest.raises(TypeError):
        lit_sql([1.0], DoubleType())


def test_hyperplane_bucket_renders_non_finite_and_subnormal_planes(spark):
    # planes holding inf, -0.0 and subnormals must reach the engine as
    # the same doubles: the bucket equals the same left fold in Python
    from timeseries_spark.extensions.similarity import hyperplane_bucket

    planes = [
        [float("inf"), -0.0, 5e-324],
        [5e-324, -0.0, -5e-324],
        [-float("inf"), 5e-324, 1.0],
    ]
    vecs = [
        [2.0, 2.0, 1.0],
        [-1.0, 0.5, 1e308],
        [1.0, 3.0, 1.0],
        [1.0, -4.0, 1.0],
        [-3.0, 1.0, -2.0],
    ]

    def fold(v, plane):
        acc = 0.0
        for x, y in zip(v, plane):
            acc = acc + x * y
        assert acc == acc  # no NaN: Spark orders NaN above every double
        return acc

    want = [
        sum(1 << p for p, pl in enumerate(planes) if fold(v, pl) > 0)
        for v in vecs
    ]
    df = spark.createDataFrame(
        list(enumerate(vecs)), "id int, v array<double>"
    )
    got = [
        r["bucket"]
        for r in df.select(
            "id", hyperplane_bucket("v", planes).alias("bucket")
        ).orderBy("id").collect()
    ]
    assert got == want
    # the subnormal plane leaves vector 0 one ulp above zero and
    # vector 2 at exactly zero
    assert [w >> 1 & 1 for w in want] == [1, 0, 0, 0, 0]
