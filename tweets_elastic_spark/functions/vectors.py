"""Vector math as JVM-side SQL expressions (similarity-search support).

All arithmetic is promoted to double BEFORE multiplication (float×float
would lose precision differently than the oracle) and accumulated in array
order, so results are bit-comparable with an engine that does the same.
No Python in the hot path — these are codegen'd SQL higher-order functions;
a vectorized Pandas-UDF variant only pays off once NumPy BLAS beats codegen
on very wide vectors (≫1k dims), which 64-dim fixtures are far from.

**One parsed expression per literal-heavy expression.** Every expression
that embeds literal vectors (LSH hyperplanes, seed centroids, codebooks,
a query vector) is rendered here as SQL text and built with ONE
``F.expr`` call. Assembling the same tree from Column calls costs Py4J
round trips per node — every ``F.lit``, ``F.col``, ``zip_with`` lambda and
``struct`` is 3–60 of them — so the driver, not the executors, paid for
the wide expressions: 7.2k commands to build a 16-dim ``ann_lsh_topk``
(4 tables × 6 planes) and 4.5k for a 16-seed ``portable_cell_col``,
against ~120 and 3 once parsed from text (bounded in
tests/test_vector_sql.py). Catalyst sees the same expression tree either
way. Operands are therefore SQL fragments: a column reference
(``col_sql(name)``, or a plain name such as ``a._vn``), a literal vector
(``vec_sql(v)``) or any array expression (``slice(`embedding`, 1, 16)``).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def col_sql(name: str) -> str:
    """``name`` as a SQL column reference: dotted parts are qualifier/field
    steps, like ``F.col(name)``; each part is backquoted (inner backquotes
    doubled), so a name from a request can hold any character or reserved
    word and never reads as SQL syntax."""
    return ".".join("`" + part.replace("`", "``") + "`" for part in name.split("."))


def double_sql(x: float) -> str:
    """A double literal that parses back to the same bits: ``repr`` is the
    shortest round-tripping decimal, the ``D`` suffix types it DOUBLE (a
    bare ``2.0`` would be DECIMAL). NaN and ±inf have no literal form: a
    string cast makes them, and ``coalesce`` with a non-null double drops
    the cast's nullability, so the optimizer folds both to the same
    non-null constant ``F.lit`` gives."""
    x = float(x)
    if math.isfinite(x):
        return repr(x) + "D"
    name = "NaN" if math.isnan(x) else "-Infinity" if x < 0 else "Infinity"
    return f"coalesce(CAST('{name}' AS DOUBLE), 0.0D)"


def lit_sql(v) -> str:
    """``v`` as the SQL literal ``F.lit(v)`` makes: a string (every
    backslash and quote escaped, control characters as ``\\uXXXX``, so
    request text can never end the literal), a boolean, an integer
    (INT, or BIGINT past 32 bits), a double (``double_sql``) or NULL."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return double_sql(v)
    if isinstance(v, str):
        body = "".join(
            "\\\\" if ch == "\\" else "\\'" if ch == "'"
            else f"\\u{ord(ch):04x}" if ord(ch) < 32 else ch
            for ch in v
        )
        return f"'{body}'"
    raise TypeError(f"no SQL literal for {type(v).__name__} {v!r}")


def vec_sql(v) -> str:
    """A literal ``array<double>`` of the values of ``v``."""
    return "array(" + ", ".join(double_sql(x) for x in v) + ")"


def dot_sql(a: str, b: str) -> str:
    """Σ double(a_i)·double(b_i), left fold in array order."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def dot(a: str, b: str) -> Column:
    return F.expr(dot_sql(a, b))


def norm(a: str) -> Column:
    return F.expr(f"sqrt({dot_sql(a, a)})")


def cosine(a: str, b: str) -> Column:
    return F.expr(f"{dot_sql(a, b)} / (sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)}))")
