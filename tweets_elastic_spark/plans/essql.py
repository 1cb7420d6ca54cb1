"""ES SQL endpoint (``POST /_sql``): a SQL front-end over one index.

ES translates its SQL dialect into the same search/agg primitives the DSL
uses; this engine translates the equivalent subset into DataFrame
operations, which Catalyst then plans — the filter rides the scan, a
GROUP BY is one partial/final hash aggregation, ORDER BY + LIMIT becomes
TakeOrderedAndProject. The translator's output is ordinary declarative
Spark, never an interpreter.

Supported subset (ANSI-compatible on purpose — a query accepted here runs
verbatim on DuckDB/Postgres, which is exactly how the oracle checks it):

* ``SELECT col | agg | ROUND(agg, n) | datefn(col) [AS alias], ...
  FROM <table>`` with aggs ``COUNT(*) | COUNT(col) | COUNT(DISTINCT
  col) | SUM | AVG | MIN | MAX`` and date parts ``YEAR/MONTH/DAY/HOUR/MINUTE/SECOND/DAYOFWEEK/
  DAYOFYEAR`` (ES SQL's scalar date functions; same names in DuckDB, so
  the string stays verbatim-oracle-able — results are BIGINT, DuckDB's
  width, alias required and usable in GROUP BY/HAVING/ORDER BY);
  aggregates MUST be aliased (engines disagree on default names).
  String scalar functions (same verbatim-portability contract):
  ``LCASE/UCASE/TRIM/LENGTH`` (LENGTH → BIGINT),
  ``SUBSTRING(col, start, len)`` (1-based, both engines), and variadic
  ``CONCAT`` (NULL arguments count as ``''`` — ES's and DuckDB's
  NULL-skipping; Spark-side coalesce). Scalar calls NEST
  (``LENGTH(TRIM(x))``) and work in SELECT (aliased), WHERE, and —
  through their alias — GROUP BY/HAVING/ORDER BY.
* ``WHERE`` with ``= <> != < <= > >=``, ``AND/OR/NOT`` + parentheses,
  ``[NOT] IN (...)``, ``[NOT] LIKE``, ``[NOT] BETWEEN a AND b``
  (inclusive), ``IS [NOT] NULL``.
* ``GROUP BY`` on plain columns; ``HAVING`` over select-list ALIASES.
* ``ORDER BY col|alias|SCORE() [ASC|DESC], ...`` and ``LIMIT n``.
* ES's full-text extensions: ``MATCH(field, 'text' [, 'options'])`` as a
  WHERE predicate (options = ``;``-separated ``operator=and`` /
  ``minimum_should_match=n``) and ``SCORE()`` in the select list (alias
  required) / ORDER BY. A MATCH compiles to the SAME nodes the query DSL
  uses, through the builder ES|QL's MATCH shares (plans/esql.py
  ``_match_builder``), which asks plans/search.py's ``bm25_match`` for the
  choice: ``BM25Match`` when the field has analyzer + token-column
  bindings and a ``bm25_stats_for`` provider, else the overlap/keyword
  ``Match`` (constant score 1.0 — ES's non-scored semantics).
  ``SCORE()`` is the sum of the per-MATCH clause scores, each 0 when
  that clause doesn't match the row (ES bool scoring). MATCH
  without bindings on an analyzed query, or SCORE() with no MATCH in
  WHERE, raises loudly.

* ``HISTOGRAM(col, interval)`` in the select list (alias required,
  GROUP BY the alias) — ES SQL's grouping function on the
  functions/time_units.py grid: numeric interval → the fixed-width
  floor grid (DOUBLE, the histogram-agg contract); ``INTERVAL n
  SECOND|MINUTE|HOUR|DAY`` → the epoch floor grid; ``INTERVAL 1
  WEEK|MONTH|QUARTER|YEAR`` → calendar date_trunc (N > 1 calendar
  refused). Not ANSI — the oracle replays the grid arithmetic instead
  of running the string verbatim.
* ``QUERY('lucene query string')`` as a WHERE predicate — ES SQL's
  query_string escape hatch, compiled through plans/query_string.py
  (same parser as the DSL front-end and ES|QL QSTR()); its score joins
  SCORE() like any MATCH.

* Metadata commands: ``SHOW TABLES``, ``SHOW COLUMNS IN idx`` /
  ``DESCRIBE idx`` — answered from the bound catalog (driver-side
  rows, no data motion), the ES SQL operational surface.

Anything else — subqueries, JOINs (one index, like ES), expressions in
SELECT — raises loudly with the offending token.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tweets_elastic_spark.functions.time_units import bucket, unit_of
from tweets_elastic_spark.plans.esql import _match_builder, _qstr_builder

__all__ = ["es_sql"]

_TOKEN_RE = re.compile(
    r"\s*(?:(?P<num>-?\d+(?:\.\d+)?)"
    r"|(?P<str>'(?:[^']|'')*')"
    r"|(?P<ident>[A-Za-z_][A-Za-z0-9_.]*)"
    r"|(?P<op><=|>=|<>|!=|=|<|>|\(|\)|,|\*))"
)

_AGG_FNS = {"COUNT", "SUM", "AVG", "MIN", "MAX"}
# ES SQL's date-part scalar functions, ANSI-portable (DuckDB has the same
# names). All return BIGINT — DuckDB's year() is 64-bit and the engines
# must agree on the wire type, so the Spark side casts (documented).
_DATE_FNS = {
    "YEAR": F.year, "MONTH": F.month, "DAY": F.dayofmonth,
    "HOUR": F.hour, "MINUTE": F.minute, "SECOND": F.second,
    "DAYOFWEEK": F.dayofweek, "DAYOFYEAR": F.dayofyear,
}
# ES SQL's string scalar functions, chosen for ANSI/DuckDB name
# parity so queries stay verbatim-oracle-able: LCASE/UCASE are DuckDB
# aliases of lower/upper; LENGTH is BIGINT there (the Spark side casts);
# SUBSTRING is 1-based in both; CONCAT skips NULLs in DuckDB and ES SQL,
# so the Spark compile coalesces each argument to '' (documented).
_STR_FNS_1 = {"LCASE": F.lower, "UCASE": F.upper, "TRIM": F.trim}
_SCALAR_FNS = set(_DATE_FNS) | set(_STR_FNS_1) | {
    "LENGTH", "SUBSTRING", "CONCAT"}

_KEYWORDS = {"SELECT", "FROM", "WHERE", "GROUP", "BY", "HAVING", "ORDER",
             "LIMIT", "AND", "OR", "NOT", "IN", "LIKE", "BETWEEN", "IS",
             "NULL", "AS", "ASC", "DESC", "ROUND", "TRUE", "FALSE",
             "MATCH", "SCORE", "DISTINCT", "HISTOGRAM", "QUERY",
             "INTERVAL"} | _SCALAR_FNS


def _tokenize(sql: str) -> tuple[list[tuple[str, object]], list[str | None]]:
    """→ (tokens, raws): raws[i] is the original spelling of a keyword
    token (so `AS score` can still alias a column 'score' even though
    SCORE is a keyword), None for non-keyword tokens."""
    out: list[tuple[str, object]] = []
    raws: list[str | None] = []
    pos = 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if not m:
            if sql[pos:].strip() == "":
                break
            raise ValueError(f"ES SQL: cannot tokenize at {sql[pos:pos+20]!r}")
        pos = m.end()
        if m.group("num") is not None:
            t = m.group("num")
            out.append(("num", float(t) if "." in t else int(t)))
            raws.append(None)
        elif m.group("str") is not None:
            out.append(("str", m.group("str")[1:-1].replace("''", "'")))
            raws.append(None)
        elif m.group("ident") is not None:
            word = m.group("ident")
            up = word.upper()
            if up in _KEYWORDS or up in _AGG_FNS:
                out.append(("kw", up))
                raws.append(word)
            else:
                out.append(("ident", word))
                raws.append(None)
        else:
            out.append(("op", m.group("op")))
            raws.append(None)
    out.append(("end", None))
    raws.append(None)
    return out, raws


class _Parser:
    def __init__(self, sql: str):
        self.toks, self.raws = _tokenize(sql)
        self.i = 0
        # full-text state: es_sql installs make_match once the FROM table
        # (and so the SparkSession / bindings) is known; every MATCH
        # parsed in WHERE lands in match_nodes so SCORE() can sum them
        self.make_match = None  # (field, text, opts) -> (pred, score)
        self.make_query = None   # (lucene text) -> (pred, score)
        self.match_nodes: list[tuple] = []  # (pred_col, score_col)

    def peek(self):
        return self.toks[self.i]

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect_kw(self, kw: str):
        k, v = self.next()
        if k != "kw" or v != kw:
            raise ValueError(f"ES SQL: expected {kw}, got {v!r}")

    def accept_kw(self, kw: str) -> bool:
        k, v = self.peek()
        if k == "kw" and v == kw:
            self.i += 1
            return True
        return False

    def accept_op(self, op: str) -> bool:
        k, v = self.peek()
        if k == "op" and v == op:
            self.i += 1
            return True
        return False

    # ---- select items -------------------------------------------------
    def select_item(self):
        """-> (kind, payload, alias) with kind col|agg; agg payload =
        (fn, arg_col|None for *, round_digits|None)."""
        k, v = self.peek()
        if k == "kw" and v == "SCORE":
            self.next()
            if not (self.accept_op("(") and self.accept_op(")")):
                raise ValueError("ES SQL: SCORE takes no arguments: SCORE()")
            alias = self._alias(required=True)
            return ("score", None, alias)
        if k == "kw" and v == "HISTOGRAM":
            self.next()
            col = self._histogram_call()
            alias = self._alias(required=True)
            return ("exprcol", col, alias)
        if k == "kw" and v in _SCALAR_FNS:
            col = self.scalar_expr()
            alias = self._alias(required=True)
            return ("exprcol", col, alias)
        if k == "kw" and v in (_AGG_FNS | {"ROUND"}):
            item = self._agg_call()
            alias = self._alias(required=True)
            if item[0] == "SCORE":  # ROUND(SCORE(), n)
                return ("score", item[2], alias)
            return ("agg", item, alias)
        if k == "ident":
            self.next()
            nk, nv = self.peek()
            if nk == "op" and nv == "(":
                raise ValueError(
                    f"ES SQL: unsupported function {v!r} (COUNT/SUM/AVG/"
                    "MIN/MAX/ROUND only)"
                )
            alias = self._alias(required=False) or v
            return ("col", v, alias)
        raise ValueError(f"ES SQL: unsupported select item near {v!r}")

    def _agg_call(self):
        k, fn = self.next()
        digits = None
        if fn == "ROUND":
            if not self.accept_op("("):
                raise ValueError("ES SQL: ROUND needs (")
            pk, pv = self.peek()
            if pk == "kw" and pv == "SCORE":
                self.next()
                if not (self.accept_op("(") and self.accept_op(")")):
                    raise ValueError("ES SQL: SCORE takes no arguments")
                inner = ("SCORE", None, None)
            else:
                inner = self._agg_call()
            if not self.accept_op(","):
                raise ValueError("ES SQL: ROUND(agg, digits)")
            dk, dv = self.next()
            if dk != "num":
                raise ValueError("ES SQL: ROUND digits must be a number")
            if not self.accept_op(")"):
                raise ValueError("ES SQL: ROUND missing )")
            fn2, arg, _ = inner
            return (fn2, arg, int(dv))
        if fn not in _AGG_FNS:
            raise ValueError(f"ES SQL: unsupported function {fn!r}")
        if not self.accept_op("("):
            raise ValueError(f"ES SQL: {fn} needs (")
        if self.accept_op("*"):
            if fn != "COUNT":
                raise ValueError(f"ES SQL: {fn}(*) is not a thing")
            arg = None
        else:
            distinct = self.accept_kw("DISTINCT")
            if distinct and fn != "COUNT":
                raise ValueError(
                    f"ES SQL: DISTINCT is supported in COUNT only, "
                    f"not {fn}"
                )
            ak, av = self.next()
            if ak != "ident":
                raise ValueError(f"ES SQL: {fn} argument must be a column")
            arg = ("DISTINCT", av) if distinct else av
        if not self.accept_op(")"):
            raise ValueError(f"ES SQL: {fn} missing )")
        return (fn, arg, digits)

    def _alias(self, required: bool):
        if self.accept_kw("AS"):
            raw = self.raws[self.i]  # keyword-spelled aliases keep their case
            k, v = self.next()
            if k == "kw" and raw is not None:
                return raw
            if k != "ident":
                raise ValueError(f"ES SQL: bad alias {v!r}")
            return v
        k, v = self.peek()
        if k == "ident":  # bare alias
            self.i += 1
            return v
        if required:
            raise ValueError(
                "ES SQL: aggregates must be aliased (engines disagree on "
                "default aggregate column names)"
            )
        return None

    # ---- scalar expressions --------------------------------------------
    def scalar_expr(self) -> Column:
        """A scalar-function call — date parts, LCASE/UCASE/TRIM, LENGTH,
        SUBSTRING(col, start, len), CONCAT(a, b, ...) — with NESTED calls
        allowed (``LENGTH(TRIM(x))``). Returns the compiled Column; the
        SQL string itself stays verbatim-oracle-able (same names and
        semantics in DuckDB, LENGTH/date parts cast to BIGINT to match
        its width, CONCAT coalesces NULL args to '' to match its
        NULL-skipping)."""
        k, fn = self.next()
        if k != "kw" or fn not in _SCALAR_FNS:
            raise ValueError(f"ES SQL: unsupported scalar function {fn!r}")
        if not self.accept_op("("):
            raise ValueError(f"ES SQL: {fn} needs (")

        def arg(allow_lit: bool = False) -> Column:
            ak, av = self.peek()
            if ak == "kw" and av in _SCALAR_FNS:
                return self.scalar_expr()
            ak, av = self.next()
            if ak == "ident":
                return F.col(av)
            if allow_lit and ak in ("num", "str"):
                return F.lit(av)
            raise ValueError(
                f"ES SQL: {fn} argument must be a column"
                + (" or literal" if allow_lit else "")
                + " (or a nested scalar call)"
            )

        if fn in _DATE_FNS:
            out = _DATE_FNS[fn](arg()).cast("bigint")
        elif fn in _STR_FNS_1:
            out = _STR_FNS_1[fn](arg())
        elif fn == "LENGTH":
            out = F.length(arg()).cast("bigint")
        elif fn == "SUBSTRING":
            src = arg()
            if not self.accept_op(","):
                raise ValueError("ES SQL: SUBSTRING(col, start, len)")
            sk, sv = self.next()
            if sk != "num" or isinstance(sv, float):
                raise ValueError("ES SQL: SUBSTRING start must be an int")
            if not self.accept_op(","):
                raise ValueError("ES SQL: SUBSTRING(col, start, len)")
            lk, lv = self.next()
            if lk != "num" or isinstance(lv, float):
                raise ValueError("ES SQL: SUBSTRING length must be an int")
            out = F.substring(src, int(sv), int(lv))
        else:  # CONCAT — variadic; NULL args count as '' (ES/DuckDB)
            parts = [arg(allow_lit=True)]
            while self.accept_op(","):
                parts.append(arg(allow_lit=True))
            out = F.concat(*[
                F.coalesce(c.cast("string"), F.lit("")) for c in parts
            ])
        if not self.accept_op(")"):
            raise ValueError(f"ES SQL: {fn} missing )")
        return out

    # ---- boolean expressions ------------------------------------------
    def expr(self, cols) -> Column:
        left = self.and_expr(cols)
        while self.accept_kw("OR"):
            left = left | self.and_expr(cols)
        return left

    def and_expr(self, cols) -> Column:
        left = self.not_expr(cols)
        while self.accept_kw("AND"):
            left = left & self.not_expr(cols)
        return left

    def not_expr(self, cols) -> Column:
        if self.accept_kw("NOT"):
            return ~self.not_expr(cols)
        if self.accept_op("("):
            e = self.expr(cols)
            if not self.accept_op(")"):
                raise ValueError("ES SQL: missing )")
            return e
        return self.predicate(cols)

    def _literal(self):
        k, v = self.next()
        if k in ("num", "str"):
            return v
        if k == "kw" and v in ("TRUE", "FALSE"):
            return v == "TRUE"
        raise ValueError(f"ES SQL: expected a literal, got {v!r}")

    def _histogram_call(self) -> Column:
        """``HISTOGRAM(col, interval)`` — ES SQL's grouping function
        (the SQL spelling of the histogram / date_histogram agg): a
        number or ``INTERVAL n unit`` on the functions/time_units.py
        grid. Scan-local arithmetic — the key feeds one hash
        aggregation."""
        if not self.accept_op("("):
            raise ValueError("ES SQL: HISTOGRAM needs (")
        ck, cv = self.next()
        if ck != "ident":
            raise ValueError("ES SQL: HISTOGRAM argument must be a column")
        if not self.accept_op(","):
            raise ValueError("ES SQL: HISTOGRAM(col, interval)")
        unit = None
        if self.accept_kw("INTERVAL"):
            nk, nv = self.next()
            if nk != "num" or isinstance(nv, float):
                raise ValueError(
                    "ES SQL: INTERVAL amount must be an integer")
            uk, uv = self.next()
            unit = unit_of(str(uv)) if uk in ("kw", "ident") else None
            if unit is None:
                raise ValueError(
                    f"ES SQL: unsupported INTERVAL unit {uv!r}")
        else:
            nk, nv = self.next()
            if nk != "num":
                raise ValueError(
                    "ES SQL: HISTOGRAM interval must be a number or "
                    "INTERVAL n unit")
        if not self.accept_op(")"):
            raise ValueError("ES SQL: HISTOGRAM missing )")
        return bucket(F.col(cv), nv, unit)

    def _query_call(self) -> Column:
        """``QUERY('lucene query string')`` — ES SQL's query_string
        escape hatch, compiled through the SAME plans/query_string.py
        parser the DSL and ES|QL QSTR() use; the (pred, score) pair
        joins match_nodes so SCORE() sums it like any MATCH."""
        if self.make_query is None:
            raise ValueError(
                "ES SQL: QUERY() needs full-text bindings — pass "
                "analyzers/tokens_cols to es_sql()"
            )
        if not self.accept_op("("):
            raise ValueError("ES SQL: QUERY needs (")
        tk, tv = self.next()
        if tk != "str":
            raise ValueError("ES SQL: QUERY takes a string")
        if not self.accept_op(")"):
            raise ValueError("ES SQL: QUERY missing )")
        pred, score = self.make_query(tv)
        self.match_nodes.append((pred, score))
        return pred

    def _match_call(self) -> Column:
        """``MATCH(field, 'text' [, 'opts'])`` — compile via the installed
        builder, record the (pred, score) pair for SCORE(), return pred."""
        if self.make_match is None:
            raise ValueError(
                "ES SQL: MATCH() needs full-text bindings — pass "
                "analyzers/tokens_cols (and bm25_stats_for for relevance) "
                "to es_sql()"
            )
        if not self.accept_op("("):
            raise ValueError("ES SQL: MATCH needs (")
        fk, fv = self.next()
        if fk != "ident":
            raise ValueError(f"ES SQL: MATCH field must be a column, got {fv!r}")
        if not self.accept_op(","):
            raise ValueError("ES SQL: MATCH(field, 'text')")
        tk, tv = self.next()
        if tk != "str":
            raise ValueError("ES SQL: MATCH query text must be a string")
        opts: dict[str, str] = {}
        if self.accept_op(","):
            ok_, ov = self.next()
            if ok_ != "str":
                raise ValueError("ES SQL: MATCH options must be a string")
            for kv in ov.split(";"):
                kv = kv.strip()
                if not kv:
                    continue
                if "=" not in kv:
                    raise ValueError(f"ES SQL: bad MATCH option {kv!r}")
                key, _, val = kv.partition("=")
                opts[key.strip()] = val.strip()
        if not self.accept_op(")"):
            raise ValueError("ES SQL: MATCH missing )")
        pred, score = self.make_match(fv, tv, opts)
        self.match_nodes.append((pred, score))
        return pred

    def predicate(self, cols) -> Column:
        k, v = self.next()
        if k == "kw" and v == "MATCH":
            return self._match_call()
        if k == "kw" and v == "QUERY":
            return self._query_call()
        if k == "kw" and v == "SCORE":
            raise ValueError(
                "ES SQL: SCORE() is not a predicate — select it (aliased) "
                "or ORDER BY it"
            )
        if k == "kw" and v in _SCALAR_FNS:
            # WHERE YEAR(ts) = 2024 / WHERE LENGTH(text) > 100 — a scalar
            # call as the comparison LHS, same rendering as the
            # select-list form
            self.i -= 1  # rewind: scalar_expr consumes the fn token
            c = self.scalar_expr()
        elif k != "ident":
            raise ValueError(f"ES SQL: expected a column, got {v!r}")
        else:
            c = cols(v)
        neg = self.accept_kw("NOT")
        if self.accept_kw("IS"):
            if neg:
                raise ValueError("ES SQL: NOT IS is malformed")
            isnot = self.accept_kw("NOT")
            self.expect_kw("NULL")
            return c.isNotNull() if isnot else c.isNull()
        if self.accept_kw("IN"):
            if not self.accept_op("("):
                raise ValueError("ES SQL: IN needs (")
            vals = [self._literal()]
            while self.accept_op(","):
                vals.append(self._literal())
            if not self.accept_op(")"):
                raise ValueError("ES SQL: IN missing )")
            e = c.isin(vals)
            return ~e if neg else e
        if self.accept_kw("LIKE"):
            lk, lv = self.next()
            if lk != "str":
                raise ValueError("ES SQL: LIKE needs a string pattern")
            e = c.like(lv)
            return ~e if neg else e
        if self.accept_kw("BETWEEN"):
            lo = self._literal()
            self.expect_kw("AND")
            hi = self._literal()
            e = (c >= F.lit(lo)) & (c <= F.lit(hi))
            return ~e if neg else e
        if neg:
            raise ValueError("ES SQL: NOT must precede IN/LIKE/BETWEEN")
        ok, ov = self.next()
        if ok != "op" or ov not in ("=", "<>", "!=", "<", "<=", ">", ">="):
            raise ValueError(f"ES SQL: unsupported comparison {ov!r}")
        lit = F.lit(self._literal())
        return {
            "=": c == lit, "<>": c != lit, "!=": c != lit,
            "<": c < lit, "<=": c <= lit, ">": c > lit, ">=": c >= lit,
        }[ov]


def _agg_col(fn: str, arg, digits: int | None, alias: str) -> Column:
    if fn == "COUNT":
        if arg is None:
            out = F.count(F.lit(1))
        elif isinstance(arg, tuple):  # ("DISTINCT", col)
            out = F.countDistinct(F.col(arg[1]))
        else:
            out = F.count(F.col(arg))
    else:
        out = {"SUM": F.sum, "AVG": F.avg, "MIN": F.min, "MAX": F.max}[fn](
            F.col(arg)
        )
    if digits is not None:
        out = F.round(out, digits)
    return out.alias(alias)


def es_sql(
    sql: str,
    tables: dict[str, DataFrame],
    *,
    analyzers: dict[str, str] | None = None,
    tokens_cols: dict[str, str] | None = None,
    bm25_stats_for=None,
) -> DataFrame:
    """Run an ES-SQL query against ``tables`` (index name → DataFrame).

    ``analyzers`` / ``tokens_cols`` / ``bm25_stats_for`` are the same
    full-text bindings ``from_es_json`` takes (field → analyzer name,
    field → materialized token column, stats provider) — they activate
    MATCH()/SCORE() compilation; without them MATCH falls back to keyword
    equality and SCORE() is constant."""
    # metadata commands (ES SQL: SHOW TABLES / SHOW COLUMNS IN idx /
    # DESCRIBE idx) — answered from the bound catalog, one driver-side
    # row per table/column, no data motion
    m = re.match(r"\s*SHOW\s+TABLES\s*$", sql, re.I)
    if m:
        spark = next(iter(tables.values())).sparkSession
        return spark.createDataFrame(
            [(n, "TABLE") for n in sorted(tables)],
            "name string, type string",
        )
    m = re.match(
        r"\s*(?:SHOW\s+COLUMNS\s+(?:IN|FROM)|DESCRIBE|DESC)\s+"
        r"([A-Za-z_][A-Za-z0-9_.]*)\s*$", sql, re.I)
    if m:
        tname = m.group(1)
        if tname not in tables:
            raise ValueError(
                f"ES SQL: unknown index {tname!r} (have {sorted(tables)})"
            )
        df = tables[tname]
        spark = df.sparkSession
        return spark.createDataFrame(
            [(f.name, f.dataType.simpleString()) for f in df.schema],
            "column string, type string",
        )
    p = _Parser(sql)
    p.expect_kw("SELECT")
    items = [p.select_item()]
    while p.accept_op(","):
        items.append(p.select_item())
    p.expect_kw("FROM")
    tk, tname = p.next()
    if tk != "ident" or tname not in tables:
        raise ValueError(
            f"ES SQL: unknown index {tname!r} (have {sorted(tables)})"
        )
    df = tables[tname]
    p.make_match = _match_builder(df, analyzers, tokens_cols, bm25_stats_for)
    p.make_query = _qstr_builder(df, analyzers, tokens_cols)

    if p.accept_kw("WHERE"):
        df = df.filter(p.expr(F.col))

    # scalar select items (YEAR(ts) AS y, LCASE(lang) AS l, ...)
    # materialize as named columns before aggregation, so GROUP BY /
    # HAVING / ORDER BY can reference the alias — exactly how DuckDB
    # resolves the same string
    for kind, pay, alias in items:
        if kind == "exprcol":
            df = df.withColumn(alias, pay)
    items = [("col", alias, alias) if kind == "exprcol"
             else (kind, pay, alias)
             for kind, pay, alias in items]

    score_aliases = [alias for kind, _, alias in items if kind == "score"]
    if score_aliases and not p.match_nodes:
        raise ValueError("ES SQL: SCORE() needs at least one MATCH() in WHERE")
    have_score = bool(p.match_nodes)
    if have_score:
        # SCORE() = Σ per-clause scores (each 0 for rows the clause does
        # not match) — computed pre-projection so ORDER BY SCORE() can
        # reference it; dropped at the end unless selected
        total = p.match_nodes[0][1]
        for _, s in p.match_nodes[1:]:
            total = total + s
        df = df.withColumn("__score", total)

    group_cols: list[str] = []
    if p.accept_kw("GROUP"):
        p.expect_kw("BY")
        gk, gv = p.next()
        if gk != "ident":
            raise ValueError("ES SQL: GROUP BY needs columns")
        group_cols = [gv]
        while p.accept_op(","):
            gk, gv = p.next()
            if gk != "ident":
                raise ValueError("ES SQL: GROUP BY needs columns")
            group_cols.append(gv)

    aggs = [(pay, alias) for kind, pay, alias in items if kind == "agg"]
    plain = [(pay, alias) for kind, pay, alias in items if kind == "col"]
    if score_aliases and (group_cols or aggs):
        raise ValueError(
            "ES SQL: SCORE() is per-document — it cannot be selected "
            "alongside GROUP BY / aggregates"
        )
    if group_cols:
        bad = [c for c, _ in plain if c not in group_cols]
        if bad:
            raise ValueError(
                f"ES SQL: selected columns {bad} are not in GROUP BY"
            )
        out = df.groupBy(*group_cols).agg(
            *[_agg_col(fn, arg, d, alias) for (fn, arg, d), alias in aggs]
        )
        renames = {c: a for c, a in plain if a != c}
        for c, a in renames.items():
            out = out.withColumnRenamed(c, a)
        keep = [a for _, _, a in items]
        out = out.select(*keep)
        have_score = False  # __score cannot survive an aggregation
    elif aggs:
        if plain:
            raise ValueError(
                "ES SQL: mixing aggregates and plain columns needs GROUP BY"
            )
        out = df.agg(
            *[_agg_col(fn, arg, d, alias) for (fn, arg, d), alias in aggs]
        )
        have_score = False
    else:
        proj = []
        for kind, pay, alias in items:
            if kind == "col":
                proj.append(F.col(pay).alias(alias))
            else:  # score; pay = ROUND digits or None (raw)
                c = F.col("__score")
                if pay is not None:
                    c = F.round(c, pay)
                proj.append(c.alias(alias))
        if have_score:
            proj.append(F.col("__score"))  # hidden, for ORDER BY SCORE()
        out = df.select(*proj)

    if p.accept_kw("HAVING"):
        if not group_cols:
            raise ValueError("ES SQL: HAVING needs GROUP BY")
        out = out.filter(p.expr(F.col))

    order = []
    if p.accept_kw("ORDER"):
        p.expect_kw("BY")
        while True:
            ok_, ov = p.next()
            if ok_ == "kw" and ov == "SCORE":
                if not (p.accept_op("(") and p.accept_op(")")):
                    raise ValueError("ES SQL: SCORE takes no arguments")
                if not have_score:
                    raise ValueError(
                        "ES SQL: ORDER BY SCORE() needs a MATCH() in WHERE "
                        "(and no GROUP BY / aggregates)"
                    )
                c = F.col("__score")
            elif ok_ != "ident":
                raise ValueError("ES SQL: ORDER BY needs columns/aliases")
            else:
                c = F.col(ov)
            if p.accept_kw("DESC"):
                c = c.desc()
            else:
                p.accept_kw("ASC")
                c = c.asc()
            order.append(c)
            if not p.accept_op(","):
                break
        out = out.orderBy(*order)

    if p.accept_kw("LIMIT"):
        nk, nv = p.next()
        if nk != "num" or isinstance(nv, float) or nv < 0:
            raise ValueError("ES SQL: LIMIT needs a non-negative integer")
        out = out.limit(int(nv))

    k, v = p.next()
    if k != "end":
        raise ValueError(f"ES SQL: trailing input at {v!r}")
    if have_score:
        out = out.drop("__score")  # the hidden sort key, never emitted
    return out
