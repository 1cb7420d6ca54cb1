"""Literal-vector expressions built as parsed SQL (functions/vectors.py).

The literal renderer must hand Catalyst the exact doubles ``F.lit`` would,
and the wide expressions of the ANN family must stay cheap to build: each
is one parsed expression, not thousands of Py4J calls.
"""

from __future__ import annotations

import math
import struct

import numpy as np
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from tweets_elastic_spark.functions.vectors import col_sql, vec_sql
from tweets_elastic_spark.operators import similarity as S

FINITE = st.lists(
    st.floats(allow_nan=False, allow_infinity=False), min_size=1, max_size=16
)


def _eval(spark, col):
    return spark.range(1).select(col.alias("v")).head()["v"]


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


@settings(max_examples=25, deadline=None)
@given(vals=FINITE)
@example(vals=[-0.0, 0.0, 5e-324, -5e-324, 2.225073858507201e-308])
@example(vals=[1e-05, 1e+16, -1e+16, 1.7976931348623157e+308, 0.1])
def test_vec_sql_round_trips_every_finite_double(spark, vals):
    got = _eval(spark, F.expr(vec_sql(vals)))
    assert [_bits(g) for g in got] == [_bits(v) for v in vals]


def test_vec_sql_non_finite_match_f_lit(spark):
    vals = [math.nan, math.inf, -math.inf]
    parsed = spark.range(1).select(F.expr(vec_sql(vals)).alias("v"))
    built = spark.range(1).select(F.array(*[F.lit(v) for v in vals]).alias("v"))
    assert parsed.schema == built.schema
    got, want = parsed.head()["v"], built.head()["v"]
    assert math.isnan(got[0]) and math.isnan(want[0])
    assert got[1:] == want[1:] == [math.inf, -math.inf]


# Built from Column calls these took ~7.2k (ann_lsh_topk) and ~4.5k
# (portable_cell_col) commands; parsed, ~120 and 3.
MAX_BUILD_COMMANDS = 300


def _vectors(spark, rng, n, dim):
    return spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(dim)]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )


def test_ann_lsh_topk_builds_in_few_round_trips(spark, py4j_commands):
    rng = np.random.RandomState(3)
    emb = _vectors(spark, rng, 40, 16)
    q = [float(x) for x in rng.randn(16)]
    with py4j_commands() as n:
        S.ann_lsh_topk(emb, q, k=10, n_bits=6, n_tables=4)
    assert n[0] < MAX_BUILD_COMMANDS


def test_portable_cell_col_builds_in_few_round_trips(spark, py4j_commands):
    rng = np.random.RandomState(4)
    emb = _vectors(spark, rng, 40, 16)
    seeds = rng.randn(16, 16)
    with py4j_commands() as n:
        cells = emb.select("vec_id", S.portable_cell_col("embedding", seeds).alias("c"))
    assert n[0] < MAX_BUILD_COMMANDS
    X = np.stack([r["embedding"] for r in emb.orderBy("vec_id").collect()])
    got = [r["c"] for r in cells.orderBy("vec_id").collect()]
    assert got == S._nearest_rows(X, seeds).tolist()


def test_col_sql_keeps_a_request_field_name_out_of_the_sql(spark):
    """A field name from a request is one identifier, never SQL syntax."""
    df = spark.createDataFrame([([3.0, 4.0],)], "`x`` + 1 AS y` array<double>")
    size = F.expr(f"size({col_sql('x` + 1 AS y')})")
    assert df.select(size).head()[0] == 2
