"""ES|QL (``POST /_query``, ES 8.11+): the piped query language that is
now Elasticsearch's primary query surface, next to the JSON DSL, EQL and
ES-SQL front-ends this engine already ships.

    FROM documents
    | WHERE lang == "en" AND n_chars > 200
    | EVAL tag = CONCAT(lang, "-", source)
    | STATS cnt = COUNT(*), avg_chars = AVG(n_chars) BY source
    | SORT cnt DESC, source
    | LIMIT 10

Each pipe stage compiles to the corresponding DataFrame transformation
— WHERE → filter (rides the scan), EVAL → withColumns, STATS → one
partial/final hash aggregation, SORT+LIMIT → TakeOrderedAndProject,
MV_EXPAND → explode, DISSECT → one regexp extraction — so Catalyst
plans the whole pipe as ordinary declarative Spark; the translator is
never an interpreter.

Supported subset (everything else raises loudly with the offending
token, the ES-SQL/EQL convention):

* sources: ``FROM <index>[, <index2>, pre*...] [METADATA _score
  [, _index]]`` (the engine's tables are the indices; multiple names
  / trailing-* patterns union with missing columns NULL, the ES
  multi-index read; ``METADATA _score`` surfaces the BM25 relevance
  accumulated by scoring ``WHERE MATCH(...)`` / ``WHERE QSTR(...)``
  stages, the 8.16 full-text contract (QSTR compiles the Lucene
  query-string syntax through plans/query_string.py — field:term,
  AND/OR/NOT, +/-, ranges, wildcards, fuzzy, boosts; bare terms
  resolve to the single analyzer-bound field, else refused). KQL()
  (8.17) compiles the Kibana search-bar language (parse_kql:
  field:value, and/or/not, field:(a or b) groups, comparisons,
  trailing-* prefix, field:* exists) as a FILTER-context predicate —
  no score contribution, the upstream contract; ``METADATA _index`` tags each row with the
  catalog name of the index it was read from — the multi-index
  provenance column, a scan-local literal) and
  ``ROW name = literal, ...``.
* temporal-amount literals in arithmetic: ``ts + 1 day``,
  ``NOW() - 15 minutes`` (full/plural unit names + the documented
  abbreviations, millisecond..year) compile to timestamp_add; a span
  anywhere except ± a timestamp is refused loudly. ``NOW()`` is the
  session-constant current timestamp (non-reproducible by nature —
  keep it out of oracle rows).
* ``WHERE`` expr; ``EVAL name = expr, ...``; ``KEEP``/``DROP`` column
  lists (``*`` suffix wildcards in KEEP); ``RENAME old AS new, ...``;
  ``SORT expr [ASC|DESC] [NULLS FIRST|LAST], ...``; ``LIMIT n``;
  ``MV_EXPAND col``; ``DISSECT col "%{a}<sep>%{b}..."
  [APPEND_SEPARATOR="s"]`` (literal separators; every key non-greedy
  except the last; non-matching rows yield NULL fields — ES
  semantics; modifiers: ``%{}``/``%{?skip}`` drop the capture,
  ``%{+key}`` appends in capture order joined by APPEND_SEPARATOR,
  ``%{key->}`` lets the following separator repeat — reference keys
  and /n order modifiers refuse loudly); ``GROK col
  "%{SYNTAX[:field[:type]]}..."`` (regex-library extraction over a
  documented pattern core — WORD/NOTSPACE/SPACE/DATA/GREEDYDATA/INT/
  POSINT/NUMBER/BASE10NUM/IP(v4)/UUID/USERNAME/HOSTNAME/LOGLEVEL/
  TIMESTAMP_ISO8601 — unanchored find like grok, NULL fields on
  non-match, :int/:long/:float/:double/:boolean casts with NULL on
  conversion failure; compiles to scan-local regexp_extract).
* expressions: ``== != < <= > >=``, arithmetic ``+ - * / %``,
  ``AND/OR/NOT``, parentheses, ``IN (...)``, ``LIKE`` (ES|QL's ``*``/
  ``?`` wildcards; single pattern or the 8.16 list form ``LIKE ("p1",
  "p2", ...)`` — any-match, one alternation regex), ``RLIKE`` (same
  list form), ``IS [NOT] NULL``, ``CASE(cond, val,
  ..., [default])``, double- or single-quoted strings, TRUE/FALSE/NULL.
* scalar functions: ROUND, ABS, LENGTH (BIGINT), SUBSTRING (1-based),
  CONCAT (NULL args -> '' — ES/DuckDB skip semantics), TO_LOWER,
  TO_UPPER, TO_STRING, TO_LONG (truncating, mirrored with floor() in
  oracles — DuckDB CAST rounds), TO_DOUBLE, TO_INTEGER (32-bit,
  truncating), TO_BOOLEAN (the ES table: "true"/"false" strings,
  numeric 0/else; numeric-looking strings take the numeric rule —
  documented), TO_IP (validation gate: malformed -> NULL),
  SPLIT(col, delim),
  COALESCE, STARTS_WITH, ENDS_WITH, DATE_TRUNC("unit", ts),
  TRIM/LTRIM/RTRIM, REPLACE (regex), LEFT/RIGHT,
  REVERSE, REPEAT, LOCATE (1-based, 0 absent), POW/SQRT/EXP/LOG
  ([base,] value)/LOG10/FLOOR/CEIL/SIGNUM, PI()/TAU()/E(),
  GREATEST/LEAST, CIDR_MATCH(ip, "block", ... — IPv4+IPv6, literal
  blocks folded at compile time, the predicate shared with EQL's
  cidrMatch), DATE_FORMAT("pattern", ts), DATE_EXTRACT("part", ts)
  (ChronoField-name core subset, BIGINT), DATE_DIFF("unit", a, b)
  (whole units from a to b, truncated toward zero),
  SIN/COS/TAN/ASIN/ACOS/ATAN/ATAN2/SINH/COSH/TANH/CBRT/
  HYPOT/TO_DEGREES/TO_RADIANS (1:1 Catalyst builtins), MV_APPEND,
  DATE_PARSE("pattern", s) (try_to_timestamp — NULL on unparseable),
  TO_DATETIME (ISO strings or millis-since-epoch),
  MD5/SHA1/SHA256 (lowercase hex over UTF-8 bytes — the ES wire
  form), TO_BASE64/FROM_BASE64, BIT_LENGTH/BYTE_LENGTH (BIGINT),
  SPACE, the 8.13 spatial point set — TO_GEOPOINT("POINT (lon lat)")
  (WKT -> struct(lon, lat), malformed -> NULL), ST_X/ST_Y,
  ST_DISTANCE (great-circle meters, the SAME haversine the DSL
  geo_distance query compiles to; shapes beyond points are the
  DSL front-end's territory),
  IP_PREFIX(ip, v4_len, v6_len) (8.15 — family-matched prefix mask
  rendered canonically, the functions/ip.py machinery),
  CATEGORIZE(field) (8.16 — the deterministic categorize_text first
  pass shared with the agg front-end; the ML similarity merge is the
  same refused divergence; valid anywhere, a permissive superset of
  upstream's STATS-BY-only rule), and BUCKET(expr, span) (8.13 —
  the functions/time_units.py grid: numeric span = floor grid;
  `N second..day` durations on the fixed-width epoch grid; calendar
  `1 week|month|quarter|year` via date_trunc (week is Monday-anchored,
  the upstream DATE_PERIOD rule), N > 1 calendar refused; the 4-arg
  auto-width form refused — not a reproducible contract). Span
  literals, BUCKET, DATE_TRUNC and DATE_DIFF read units through one
  table (``1 h``, ``1 hour``, ``"hours"``).
* multivalue functions: MV_COUNT, MV_MIN, MV_MAX, MV_FIRST, MV_LAST,
  MV_DEDUPE, MV_SORT(col[, "ASC"|"DESC"]), MV_ZIP(a, b[, delim]),
  MV_SUM/MV_AVG (DOUBLE; NULL on empty), MV_MEDIAN (exact; even
  counts average the middle two as DOUBLE — documented divergence
  from ES's integer-floor on whole-number inputs), MV_SLICE
  (0-based inclusive bounds; negative bounds count from the end,
  empty/out-of-range windows NULL), MV_APPEND, MV_PERCENTILE(col, p)
  (exact linear interpolation — the PERCENTILE divergence class;
  p outside [0,100] -> NULL), MV_CONCAT(arr, delim),
  MV_MEDIAN_ABSOLUTE_DEVIATION (exact), MV_PSERIES_WEIGHTED_SUM
  (positional rank weights in list order). MV_MEDIAN /
  MV_PERCENTILE / MV_MEDIAN_ABSOLUTE_DEVIATION drop NULL elements
  before ranking.
* ``INLINESTATS [name =] agg [, ...] [BY expr [, ...]]`` (the 8.16
  preview command): STATS that APPENDS instead of collapsing — BY form
  compiles to window aggregates over partitionBy(keys) (one exchange,
  no join); the global form is a 1-row broadcast back onto the stream.
  Same-named columns are overridden (the ES collision rule).
* ``CHANGE_POINT value ON key`` (ES 8.18): marks the key-ordered
  series' CUSUM mean-shift peak in-stream — cp_type/cp_stat columns,
  NULL off the detected row; the deterministic statistic replaces
  ES's ML type taxonomy/p_value (shared divergence with the
  change_point sibling agg). Boundedness is ENFORCED: the pipe must
  have a prior STATS/LIMIT (or a ROW source) — ES caps the scan at
  1000 values, and the in-row detector is a single-partition window
  that must never see an unbounded stream.
* ``STATS [name =] agg [WHERE cond] [, ...] [BY [name =] expr
  [, ...]]`` — the per-aggregate WHERE filter (8.16) compiles to a
  conditional argument riding the SAME single hash aggregation (no
  extra pass, no second scan) — with
  COUNT(*)/COUNT(expr), COUNT_DISTINCT (EXACT — ES|QL uses HLL; the
  documented strictly-more-accurate divergence shared with the
  cardinality agg), SUM/AVG/MIN/MAX, MEDIAN and PERCENTILE(expr, p)
  (EXACT interpolated — ES|QL uses t-digest; same divergence class,
  same as DuckDB quantile_cont so oracles compare exactly),
  WEIGHTED_AVG(value, weight) (null value OR weight
  drops the row), STD_DEV (population, the extended_stats basis),
  MEDIAN_ABSOLUTE_DEVIATION (EXACT — upstream t-digest; shared with
  the aggs front-end's metric),
  VALUES (all values as a multivalue — sorted ascending here;
  upstream leaves the order unspecified), TOP(field, limit, "ASC" |
  "DESC") (bounded multivalue).

* ``LOOKUP JOIN <lookup_index> ON <field>`` (ES 8.18): a broadcast
  LEFT join against a second catalog table; lookup-side columns
  override same-named incoming columns (the documented ES collision
  rule), multiple lookup matches multiply rows like SQL LEFT JOIN.

* ``ENRICH <policy> [ON <col>] [WITH [new =] field, ...]`` (ES 8.x):
  sugar over the LOOKUP JOIN path. The ``enrich_policies``
  dict stands in for ES's policy store (policy → table +
  match_field + enrich_fields); compiles to the same broadcast LEFT
  join with the same collision rule.

* ``FORK (branch1) (branch2) ...`` (ES 8.19 preview): every
  branch receives the current stream and runs its own sub-pipe;
  results union by name (missing columns NULL) with the ``_fork``
  discriminator ("fork1".."forkN"). 2-8 branches (the ES cap).
  Compiled as N plans over the same scan + one no-shuffle
  unionByName. CHANGE_POINT boundedness composes conservatively:
  the union is bounded only if every branch ends bounded.

Documented semantic divergences from upstream ES|QL (each strictly
more accurate or type-visible, never silently wrong):

* COUNT_DISTINCT / MEDIAN / PERCENTILE are EXACT (ES uses HLL /
  t-digest sketches) — shared with the cardinality/percentiles aggs.
* ``/`` on two integer operands is DOUBLE division (Spark's ``/``);
  upstream ES|QL emits integer division there. ``TO_LONG(a / b)``
  therefore truncates the double toward negative infinity where
  ES|QL's integer ``/`` truncates toward zero — they differ on exact
  negative quotients. Write ``FLOOR``-free integer math with ``%``
  or cast explicitly when that matters; the Spark-mirroring oracles
  mirror the double semantics.

* ``SAMPLE p [seed]`` is DETERMINISTIC here (portable-hash predicate
  over the current columns + seed; same divergence class as the aggs
  front-end's random_sampler) — upstream redraws per execution.
* ``TO_DATETIME`` on a digit STRING yields NULL (upstream parity);
  only numeric-TYPED input takes the millis-since-epoch branch.

Refused loudly: remote (cross-cluster) indices, METADATA other than
``_score``/``_index`` (_id/_version have no analog — no live doc
store), ENRICH with a policy absent from ``enrich_policies``
(there is no live policy store to consult), bare LOOKUP (the 8.14
experimental table form), grok syntaxes outside the documented core,
FORK with <2 / >8 branches or unparenthesized text between branches
(sub-pipes outside FORK don't exist upstream either), nested FORK,
and the 8.19 inference commands RERANK / COMPLETION / FUSE (need a
live inference endpoint — the refusal points at the retriever tree
for reranking). ``SHOW INFO`` answers with the engine build row.
"""

from __future__ import annotations

import math as _math
import re

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tweets_elastic_spark.functions.hashing import hash60
from tweets_elastic_spark.functions.ip import (
    cidr_match_v4_long,
    cidr_match_v6_groups,
    ipv4_long,
    ipv6_canonical,
    ipv6_groups,
    ipv6_mask,
)
from tweets_elastic_spark.functions.time_units import bucket, unit_of
from tweets_elastic_spark.plans.aggs import categorize_key, mad_expr
from tweets_elastic_spark.plans.query_string import (
    parse_kql,
    parse_query_string,
)
from tweets_elastic_spark.plans.search import (
    Match,
    bm25_match,
    check_keys,
    haversine_meters,
    query_nodes,
)

__all__ = ["esql"]

_TOKEN_RE = re.compile(
    # no sign on num: unspaced binary minus ('n_chars-1') must lex as
    # [ident][op -][num 1]; negative literals are the parser's unary -
    r"\s*(?:(?P<num>\d+(?:\.\d+)?)"
    r'|(?P<dstr>"(?:[^"\\]|\\.)*")'
    r"|(?P<sstr>'(?:[^']|'')*')"
    r"|(?P<ident>[A-Za-z_@][A-Za-z0-9_.]*)"
    r"|(?P<op>==|!=|<=|>=|<|>|\+|-|\*|/|%|\(|\)|,|\||=))"
)

_KEYWORDS = {
    "FROM", "ROW", "WHERE", "EVAL", "STATS", "BY", "SORT", "LIMIT",
    "KEEP", "DROP", "RENAME", "AS", "ASC", "DESC", "NULLS", "FIRST",
    "LAST", "AND", "OR", "NOT", "IN", "LIKE", "RLIKE", "IS", "NULL",
    "TRUE", "FALSE", "MV_EXPAND", "DISSECT", "GROK", "ENRICH", "LOOKUP",
    "METADATA", "INLINESTATS", "CHANGE_POINT", "FORK", "SAMPLE",
}

_AGG_FNS = {"COUNT", "COUNT_DISTINCT", "SUM", "AVG", "MIN", "MAX",
            "MEDIAN", "MEDIAN_ABSOLUTE_DEVIATION", "PERCENTILE",
            "WEIGHTED_AVG", "STD_DEV", "VALUES", "TOP"}


class _Span:
    """A temporal-amount literal (``1 day``, ``15 minutes``) — the
    upstream time_duration / date_period types. Only valid added to /
    subtracted from a timestamp (add_expr compiles it to
    timestampadd); anywhere else the parser refuses loudly."""

    __slots__ = ("n", "unit")

    def __init__(self, n: int, unit: str):
        self.n, self.unit = n, unit


def _no_span(c, ctx: str):
    if isinstance(c, _Span):
        raise ValueError(
            f"ES|QL: a time span literal is only valid added to or "
            f"subtracted from a timestamp, not in {ctx}"
        )
    return c


def _tokenize(text: str):
    out, raws, pos = [], [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            if text[pos:].strip() == "":
                break
            raise ValueError(
                f"ES|QL: cannot tokenize at {text[pos:pos + 20]!r}"
            )
        pos = m.end()
        if m.group("num") is not None:
            t = m.group("num")
            out.append(("num", float(t) if "." in t else int(t)))
        elif m.group("dstr") is not None:
            s = m.group("dstr")[1:-1]
            out.append(("str", re.sub(r"\\(.)", r"\1", s)))
        elif m.group("sstr") is not None:
            out.append(("str", m.group("sstr")[1:-1].replace("''", "'")))
        elif m.group("ident") is not None:
            w = m.group("ident")
            up = w.upper()
            if up in _KEYWORDS:
                out.append(("kw", up))
                raws.append(w)
                continue
            out.append(("ident", w))
        else:
            out.append(("op", m.group("op")))
        raws.append(None)
    out.append(("end", None))
    raws.append(None)
    return out, raws


def _like_regex(pattern: str) -> str:
    """ES|QL LIKE wildcards: * = any run, ? = one char; anchored."""
    return "^" + "".join(
        ".*" if ch == "*" else "." if ch == "?" else re.escape(ch)
        for ch in pattern
    ) + "$"


class _ExprParser:
    """Pratt-style expression parser over the shared token stream.
    Precedence: OR < AND < NOT < comparison/IN/LIKE/IS < + - < * / %
    < unary minus < primary."""

    def __init__(self, toks, raws, i=0):
        self.toks, self.raws, self.i = toks, raws, i
        # full-text state: the WHERE stage installs make_match (the
        # shared ES-SQL builder compiling onto the DSL's Match/BM25Match
        # nodes); MATCH() outside WHERE raises
        self.make_match = None
        self.make_qstr = None
        self.make_kql = None
        self.match_scores: list = []

    def peek(self):
        return self.toks[self.i]

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect_op(self, op):
        k, v = self.next()
        if k != "op" or v != op:
            raise ValueError(f"ES|QL: expected {op!r}, got {v!r}")

    def at_kw(self, *kws):
        k, v = self.peek()
        return k == "kw" and v in kws

    def eat_kw(self, kw) -> bool:
        if self.at_kw(kw):
            self.i += 1
            return True
        return False

    # --- grammar ---------------------------------------------------------
    def expr(self) -> Column:
        c = self.and_expr()
        while self.eat_kw("OR"):
            c = c | _no_span(self.and_expr(), "OR")
        return _no_span(c, "a bare expression")

    def and_expr(self) -> Column:
        c = self.not_expr()
        while self.eat_kw("AND"):
            c = _no_span(c, "AND") & _no_span(self.not_expr(), "AND")
        return c

    def not_expr(self) -> Column:
        if self.eat_kw("NOT"):
            return ~_no_span(self.not_expr(), "NOT")
        return self.cmp_expr()

    def cmp_expr(self) -> Column:
        left = self.add_expr()
        k, v = self.peek()
        if k == "op" and v in ("==", "!=", "<", "<=", ">", ">="):
            self.i += 1
            left = _no_span(left, "a comparison")
            right = _no_span(self.add_expr(), "a comparison")
            return {"==": left == right, "!=": left != right,
                    "<": left < right, "<=": left <= right,
                    ">": left > right, ">=": left >= right}[v]
        negate = False
        if self.at_kw("NOT"):
            # lookahead: NOT IN / NOT LIKE / NOT RLIKE
            nk, nv = self.toks[self.i + 1]
            if nk == "kw" and nv in ("IN", "LIKE", "RLIKE"):
                self.i += 1
                negate = True
        if self.eat_kw("IN"):
            self.expect_op("(")
            items = [self.add_expr()]
            while self.peek() == ("op", ","):
                self.i += 1
                items.append(self.add_expr())
            self.expect_op(")")
            c = left.isin(*items)
            return ~c if negate else c
        if self.eat_kw("LIKE"):
            # LIKE "pat" or the 8.16 list form LIKE ("p1", "p2", ...)
            # — true when ANY pattern matches; compiled to ONE anchored
            # alternation regex, still a single scan-local rlike
            pats = []
            if self.peek() == ("op", "("):
                self.i += 1
                while True:
                    k2, pat = self.next()
                    if k2 != "str":
                        raise ValueError(
                            "ES|QL: LIKE (...) needs string patterns")
                    pats.append(pat)
                    if self.peek() == ("op", ","):
                        self.i += 1
                        continue
                    break
                self.expect_op(")")
            else:
                k2, pat = self.next()
                if k2 != "str":
                    raise ValueError(
                        "ES|QL: LIKE needs a string pattern")
                pats.append(pat)
            rx = "|".join("(?:" + _like_regex(pp) + ")" for pp in pats)
            c = left.rlike(rx)
            return ~c if negate else c
        if self.eat_kw("RLIKE"):
            # RLIKE "pat" or the 8.16 list form RLIKE ("p1", "p2", ...)
            pats = []
            if self.peek() == ("op", "("):
                self.i += 1
                while True:
                    k2, pat = self.next()
                    if k2 != "str":
                        raise ValueError(
                            "ES|QL: RLIKE (...) needs string patterns")
                    pats.append(pat)
                    if self.peek() == ("op", ","):
                        self.i += 1
                        continue
                    break
                self.expect_op(")")
            else:
                k2, pat = self.next()
                if k2 != "str":
                    raise ValueError(
                        "ES|QL: RLIKE needs a string pattern")
                pats.append(pat)
            # ES|QL RLIKE is anchored
            rx = "|".join("^(?:" + pp + ")$" for pp in pats)
            c = left.rlike(rx)
            return ~c if negate else c
        if self.eat_kw("IS"):
            neg = self.eat_kw("NOT")
            if not self.eat_kw("NULL"):
                raise ValueError("ES|QL: IS [NOT] NULL only")
            return left.isNotNull() if neg else left.isNull()
        return left

    def add_expr(self) -> Column:
        c = self.mul_expr()
        while True:
            k, v = self.peek()
            if k == "op" and v in ("+", "-"):
                self.i += 1
                nxt = self.mul_expr()
                if isinstance(nxt, _Span):
                    # ts ± span → timestampadd (the upstream temporal
                    # arithmetic: WHERE ts > NOW() - 1 day)
                    if isinstance(c, _Span):
                        raise ValueError(
                            "ES|QL: span ± span is not supported — "
                            "write a single combined span"
                        )
                    n = -nxt.n if v == "-" else nxt.n
                    c = F.timestamp_add(nxt.unit, F.lit(n), c)
                elif isinstance(c, _Span):
                    if v != "+":
                        raise ValueError(
                            "ES|QL: a time span can be subtracted "
                            "FROM a timestamp (ts - 1 day), not the "
                            "reverse"
                        )
                    c = F.timestamp_add(c.unit, F.lit(c.n), nxt)
                else:
                    c = c + nxt if v == "+" else c - nxt
            else:
                return c

    def mul_expr(self) -> Column:
        c = self.unary()
        while True:
            k, v = self.peek()
            if k == "op" and v in ("*", "/", "%"):
                self.i += 1
                _no_span(c, f"'{v}'")
                nxt = _no_span(self.unary(), f"'{v}'")
                c = c * nxt if v == "*" else (
                    c / nxt if v == "/" else c % nxt)
            else:
                return c

    def unary(self) -> Column:
        k, v = self.peek()
        if k == "op" and v == "-":
            self.i += 1
            c = self.unary()
            if isinstance(c, _Span):
                return _Span(-c.n, c.unit)
            return -c
        return self.primary()

    def primary(self) -> Column:
        k, v = self.next()
        if k == "num":
            nk, nv = self.peek()
            if nk == "ident" and unit_of(nv):
                # `1 day`, `15 minutes` — a temporal-amount literal
                if isinstance(v, float):
                    raise ValueError(
                        "ES|QL: time spans take an integer amount"
                    )
                self.i += 1
                return _Span(int(v), unit_of(nv))
            return F.lit(v)
        if k == "str":
            return F.lit(v)
        if k == "kw" and v in ("TRUE", "FALSE"):
            return F.lit(v == "TRUE")
        if k == "kw" and v == "NULL":
            return F.lit(None)
        if k == "op" and v == "(":
            c = self.expr()
            self.expect_op(")")
            return c
        if k == "ident":
            if self.peek() == ("op", "("):
                return self._call(v.upper())
            return F.col(v)
        raise ValueError(f"ES|QL: unexpected token {v!r} in expression")

    def _args(self) -> list[Column]:
        self.expect_op("(")
        if self.peek() == ("op", ")"):
            self.i += 1
            return []
        out = [self.expr()]
        while self.peek() == ("op", ","):
            self.i += 1
            out.append(self.expr())
        self.expect_op(")")
        return out

    def _lit_str_arg(self, what: str) -> str:
        k, v = self.next()
        if k != "str":
            raise ValueError(f"ES|QL: {what} must be a string literal")
        return v

    def _unit_arg(self, fn: str) -> str:
        """``fn``'s literal "unit" argument → its canonical time unit."""
        spelling = self._lit_str_arg(f"{fn} unit")
        unit = unit_of(spelling)
        if unit is None:
            raise ValueError(
                f"ES|QL: {fn} unit {spelling!r} is not a time unit")
        return unit

    def _lit_int_arg(self, what: str) -> int:
        neg = False
        if self.peek() == ("op", "-"):
            self.i += 1
            neg = True
        k, v = self.next()
        if k != "num" or isinstance(v, float):
            raise ValueError(f"ES|QL: {what} must be an integer literal")
        return -v if neg else v

    def _call(self, fn: str) -> Column:
        if fn in _AGG_FNS:
            raise ValueError(
                f"ES|QL: aggregate {fn} is only valid inside STATS"
            )
        if fn == "MATCH":
            # ES|QL 8.16 full-text: MATCH(field, "query") as a WHERE
            # predicate, compiled through the SAME Match/BM25Match
            # nodes the DSL / ES-SQL front-ends use (_match_builder) —
            # with analyzer + token-column bindings and a stats
            # provider the score is Okapi BM25, surfaced via FROM ...
            # METADATA _score.
            if self.make_match is None:
                raise ValueError(
                    "ES|QL: MATCH() is only valid in WHERE"
                )
            self.expect_op("(")
            k, field = self.next()
            if k != "ident":
                raise ValueError("ES|QL: MATCH(field, \"query\")")
            self.expect_op(",")
            k, text = self.next()
            if k != "str":
                raise ValueError(
                    "ES|QL: MATCH needs a string query"
                )
            self.expect_op(")")
            pred, score = self.make_match(field, text, {})
            self.match_scores.append(score)
            return pred
        if fn == "QSTR":
            # ES|QL 8.16 full-text: QSTR("lucene query string") as a
            # WHERE predicate — the Kibana-bar syntax compiled through
            # the SAME plans/query_string.py parser the DSL front-end
            # uses (field:term, AND/OR/NOT, +/-, ranges, wildcards,
            # fuzzy, boosts). Upstream resolves bare terms via the
            # index's default_field setting; this engine resolves them
            # to the single analyzer-bound field when exactly one is
            # bound, and refuses otherwise (field-scope the terms) —
            # a loud stand-in for a setting that has no analog here.
            if self.make_qstr is None:
                raise ValueError(
                    "ES|QL: QSTR() is only valid in WHERE"
                )
            self.expect_op("(")
            k, text = self.next()
            if k != "str":
                raise ValueError("ES|QL: QSTR needs a string query")
            self.expect_op(")")
            pred, score = self.make_qstr(text)
            self.match_scores.append(score)
            return pred
        if fn == "KQL":
            # ES|QL 8.17 full-text: KQL("kibana query") as a WHERE
            # predicate — the Kibana search-bar language
            # (plans/query_string.py parse_kql: field:value, and/or/
            # not, field:(a or b), comparisons, trailing-* prefix,
            # field:* exists). KQL is FILTER context upstream: it
            # contributes no relevance, so nothing is added to _score.
            if self.make_kql is None:
                raise ValueError(
                    "ES|QL: KQL() is only valid in WHERE"
                )
            self.expect_op("(")
            k, text = self.next()
            if k != "str":
                raise ValueError("ES|QL: KQL needs a string query")
            self.expect_op(")")
            return self.make_kql(text)
        # functions whose literal arguments must be consumed at the
        # TOKEN level (the pyspark builtin takes a Python value)
        if fn == "SPLIT":
            self.expect_op("(")
            c = self.expr()
            self.expect_op(",")
            delim = self._lit_str_arg("SPLIT delimiter")
            self.expect_op(")")
            return F.split(c, re.escape(delim))
        if fn == "DATE_TRUNC":
            self.expect_op("(")
            unit = self._unit_arg(fn)
            self.expect_op(",")
            c = self.expr()
            self.expect_op(")")
            return F.date_trunc(unit.lower(), c)
        if fn == "MV_SORT":
            # MV_SORT(col[, order]) — order is a LITERAL "ASC"/"DESC"
            # upstream; anything else (a typo like "DSC", a column) is
            # refused at compile time instead of silently sorting
            # ascending
            self.expect_op("(")
            c = self.expr()
            desc = False
            if self.peek() == ("op", ","):
                self.i += 1
                order = self._lit_str_arg("MV_SORT order").upper()
                if order not in ("ASC", "DESC"):
                    raise ValueError(
                        'ES|QL: MV_SORT order must be "ASC" or "DESC", '
                        f"got {order!r}"
                    )
                desc = order == "DESC"
            self.expect_op(")")
            return F.reverse(F.array_sort(c)) if desc else F.array_sort(c)
        if fn == "BUCKET":
            # BUCKET(expr, span) (8.13, the ES|QL histogram grouping
            # function — formerly AUTO_BUCKET): a numeric span or a time
            # span on the functions/time_units.py grid. The 4-arg
            # auto-width form (count, min, max -> a "nice" width chosen
            # by ES heuristics) is refused with a pointer: pick the
            # width explicitly, the heuristic is not a reproducible
            # contract.
            self.expect_op("(")
            c = self.expr()
            self.expect_op(",")
            k2, span = self.next()
            if k2 != "num":
                raise ValueError(
                    "ES|QL: BUCKET needs a positive literal span — "
                    "BUCKET(expr, 50.0) or BUCKET(ts, 1 day)"
                )
            unit = None
            k3, v3 = self.peek()
            if k3 == "ident":
                self.i += 1
                unit = unit_of(v3)
                if unit is None:
                    raise ValueError(
                        f"ES|QL: unknown BUCKET time unit {v3!r}")
                if isinstance(span, float):
                    raise ValueError(
                        "ES|QL: BUCKET time spans take an integer count")
            elif self.peek() == ("op", ","):
                raise ValueError(
                    "ES|QL: the 4-arg BUCKET(expr, count, min, max) "
                    "auto-width form is not supported — its 'nice "
                    "width' heuristic is not a reproducible contract; "
                    "pass the width explicitly"
                )
            self.expect_op(")")
            return bucket(c, span, unit)
        if fn == "IP_PREFIX":
            # IP_PREFIX(ip, v4_len, v6_len) (8.15): the address masked
            # at the family-matching prefix length, rendered back as an
            # address (no /len suffix — that is the ip_prefix AGG's
            # key rendering). Reuses the shared functions/ip.py parse/
            # mask/RFC-5952 machinery; malformed addresses -> NULL.
            self.expect_op("(")
            c = self.expr()
            self.expect_op(",")
            v4 = self._lit_int_arg("IP_PREFIX v4 length")
            self.expect_op(",")
            v6 = self._lit_int_arg("IP_PREFIX v6 length")
            self.expect_op(")")
            if not 0 <= v4 <= 32:
                raise ValueError(f"IP_PREFIX v4 length {v4} not in 0-32")
            if not 0 <= v6 <= 128:
                raise ValueError(
                    f"IP_PREFIX v6 length {v6} not in 0-128")

            mask4 = (0xFFFFFFFF << (32 - v4)) & 0xFFFFFFFF

            def _one(x: Column) -> Column:
                n4 = ipv4_long(x).bitwiseAND(F.lit(mask4))
                v4txt = F.concat_ws(
                    ".",
                    F.shiftright(n4, 24).cast("string"),
                    (F.shiftright(n4, 16) % 256).cast("string"),
                    (F.shiftright(n4, 8) % 256).cast("string"),
                    (n4 % 256).cast("string"),
                )
                v6txt = ipv6_canonical(ipv6_mask(ipv6_groups(x), v6))
                return F.when(x.contains(":"), v6txt).otherwise(
                    F.when(n4.isNotNull(), v4txt))

            # bind the (possibly computed) address once — the 1-element
            # HOF idiom; Catalyst has no CSE and the v6 parse is heavy
            return F.element_at(F.transform(F.array(c), _one), 1)
        if fn == "ROUND":
            self.expect_op("(")
            c = self.expr()
            if self.peek() == ("op", ","):
                self.i += 1
                digits = self._lit_int_arg("ROUND digits")
                self.expect_op(")")
                return F.round(c, digits)
            self.expect_op(")")
            return F.round(c)
        if fn == "CIDR_MATCH":
            # CIDR_MATCH(ip, "block", ...) — blocks are compile-time
            # literals so the network constants fold at plan time. The
            # address PARSES ONCE (Catalyst has no CSE, and the ip can
            # be an arbitrary computed expression: re-deriving the
            # regex-validate + octet split per block measured ~2x on
            # the cidr bench row) via the 1-element-HOF binding idiom;
            # each block is then one range/prefix compare, OR-folded.
            # Predicate arithmetic shared with EQL's cidrMatch
            # (functions/ip.py).

            self.expect_op("(")
            c = self.expr()
            blocks = []
            while self.peek() == ("op", ","):
                self.i += 1
                blocks.append(self._lit_str_arg("CIDR_MATCH block"))
            self.expect_op(")")
            if not blocks:
                raise ValueError(
                    "ES|QL: CIDR_MATCH(ip, \"block\"[, ...]) needs at "
                    "least one block literal"
                )
            v4 = [b for b in blocks if ":" not in b]
            v6 = [b for b in blocks if ":" in b]
            pred = None

            def fold(parsed, matchers):
                out = None
                for m in matchers:
                    p = m(parsed)
                    out = p if out is None else (out | p)
                return out

            if v4:
                bound = F.get(
                    F.transform(
                        F.array(ipv4_long(c)),
                        lambda v: fold(v, [
                            (lambda vv, b=b: cidr_match_v4_long(vv, b))
                            for b in v4
                        ]),
                    ),
                    F.lit(0),
                )
                pred = bound
            if v6:
                bound = F.get(
                    F.transform(
                        F.array(ipv6_groups(c)),
                        lambda g: fold(g, [
                            (lambda gg, b=b: cidr_match_v6_groups(gg, b))
                            for b in v6
                        ]),
                    ),
                    F.lit(0),
                )
                pred = bound if pred is None else (pred | bound)
            # rlike/compare on NULL parses yields NULL -> filter drops
            # the row, same as the unbound form
            return pred
        if fn == "DATE_FORMAT":
            # DATE_FORMAT("pattern", date) — java.time patterns, same
            # dialect Spark's date_format takes
            self.expect_op("(")
            fmt = self._lit_str_arg("DATE_FORMAT pattern")
            self.expect_op(",")
            c = self.expr()
            self.expect_op(")")
            return F.date_format(c, fmt)
        if fn == "DATE_PARSE":
            # DATE_PARSE("pattern", string) (8.x) — java.time patterns,
            # the same dialect DATE_FORMAT emits; unparseable strings
            # -> NULL (try_to_timestamp, the ES null contract)
            self.expect_op("(")
            fmt = self._lit_str_arg("DATE_PARSE pattern")
            self.expect_op(",")
            c = self.expr()
            self.expect_op(")")
            return F.try_to_timestamp(c, F.lit(fmt))
        if fn == "DATE_EXTRACT":
            # DATE_EXTRACT("part", date) — the ChronoField names ES|QL
            # takes, core subset; BIGINT result (ES long)
            self.expect_op("(")
            part = self._lit_str_arg("DATE_EXTRACT part").lower()
            self.expect_op(",")
            c = self.expr()
            self.expect_op(")")
            try:
                col = {
                    "year": F.year, "month_of_year": F.month,
                    "day_of_month": F.dayofmonth,
                    # ChronoField.DAY_OF_WEEK is ISO (1 = Monday);
                    # Spark's dayofweek is 1 = Sunday — use weekday+1
                    "day_of_week": lambda x: F.weekday(x) + 1,
                    "day_of_year": F.dayofyear,
                    "hour_of_day": F.hour,
                    "minute_of_hour": F.minute,
                    "second_of_minute": F.second,
                }[part](c)
            except KeyError:
                raise ValueError(
                    f"ES|QL: DATE_EXTRACT part {part!r} not in the "
                    f"supported ChronoField subset"
                ) from None
            return col.cast("bigint")
        if fn == "DATE_DIFF":
            # DATE_DIFF("unit", start, end) — signed count of whole
            # units from start to end, truncated toward zero (ES's
            # ChronoUnit.between, which Spark's timestampdiff runs)
            self.expect_op("(")
            unit = self._unit_arg(fn)
            self.expect_op(",")
            start = self.expr()
            self.expect_op(",")
            end = self.expr()
            self.expect_op(")")
            return F.timestamp_diff(unit, start, end)
        a = self._args()

        def need(n):
            if len(a) != n:
                raise ValueError(f"ES|QL: {fn} takes {n} argument(s)")

        if fn == "ABS":
            need(1)
            return F.abs(a[0])
        if fn == "LENGTH":
            need(1)
            return F.length(a[0]).cast("bigint")
        if fn == "SUBSTRING":
            need(3)
            return F.substring(a[0], a[1], a[2])
        if fn == "CONCAT":
            if not a:
                raise ValueError("ES|QL: CONCAT needs arguments")
            return F.concat(*[F.coalesce(x.cast("string"), F.lit(""))
                              for x in a])
        if fn == "TO_LOWER":
            need(1)
            return F.lower(a[0])
        if fn == "TO_UPPER":
            need(1)
            return F.upper(a[0])
        if fn == "TO_STRING":
            need(1)
            return a[0].cast("string")
        if fn == "TO_LONG":
            # truncating, like Spark CAST; oracles mirror with floor().
            # try_cast: junk strings/overflow -> NULL (the ES warn+null
            # contract), never an ANSI cast error
            need(1)
            return a[0].try_cast("bigint")
        if fn == "TO_DOUBLE":
            need(1)
            return a[0].try_cast("double")
        if fn == "TO_INTEGER":
            # 32-bit, truncating like TO_LONG (oracles mirror w/ floor)
            need(1)
            return a[0].try_cast("int")
        if fn == "TO_BOOLEAN":
            # ES: the string "true" (any case) -> true, "false" ->
            # false, other strings -> NULL; numerics: 0 -> false else
            # true. NOT Spark's cast (which also accepts y/n/yes/no/
            # t/f). Numeric-LOOKING strings take the numeric rule here
            # (untyped expression compile) — documented divergence.
            need(1)
            s = F.lower(a[0].cast("string"))
            num = a[0].try_cast("double")  # NULL (not error) on junk
            return (
                F.when(s == "true", F.lit(True))
                .when(s == "false", F.lit(False))
                .when(num.isNotNull(), num != 0)
            )
        if fn == "TO_GEOPOINT":
            # TO_GEOPOINT("POINT (lon lat)") (8.13 spatial): WKT point
            # -> struct(lon, lat) — the engine's geo_point value (the
            # DSL front-end uses degree column pairs; the struct is
            # the same pair carried as one column). Malformed WKT ->
            # NULL, the shared conversion-gate contract (TO_IP).
            need(1)
            rx = (r"(?i)^\s*POINT\s*\(\s*(-?\d+(?:\.\d+)?)\s+"
                  r"(-?\d+(?:\.\d+)?)\s*\)\s*$")

            def _pt(x: Column) -> Column:
                lon = F.regexp_extract(x, rx, 1).try_cast("double")
                lat = F.regexp_extract(x, rx, 2).try_cast("double")
                return F.when(
                    lon.isNotNull() & lat.isNotNull(),
                    F.struct(lon.alias("lon"), lat.alias("lat")),
                )

            # bind the (possibly computed) WKT once — the HOF idiom
            return F.element_at(F.transform(F.array(a[0]), _pt), 1)
        if fn == "ST_X":
            need(1)
            return a[0]["lon"]  # ES: X is the longitude
        if fn == "ST_Y":
            need(1)
            return a[0]["lat"]
        if fn == "ST_DISTANCE":
            # great-circle meters between two geo_points — the SAME
            # haversine (ES mean earth radius) the DSL geo_distance
            # query compiles to: plans/search.py haversine_sql, applied
            # to these Columns by haversine_meters
            need(2)
            return haversine_meters(
                a[0]["lat"], a[0]["lon"], a[1]["lat"], a[1]["lon"])
        if fn == "CATEGORIZE":
            # CATEGORIZE(field) (8.16): the deterministic
            # categorize_text first pass shared with the agg front-end
            # (plans/aggs.categorize_key) — upstream restricts it to
            # STATS BY; here the key column is valid anywhere (a
            # permissive superset, documented), and the ML
            # similarity-merging stage is the same refused divergence.
            need(1)
            return categorize_key(a[0])
        if fn == "TO_DATETIME":
            # TO_DATETIME(string|long): ISO-8601-ish strings via
            # try_to_timestamp (NULL on unparseable — the ES per-value
            # warning becomes a NULL, same as TO_IP); numeric input is
            # millis-since-epoch (the ES datetime wire type). The millis
            # branch applies ONLY when the argument is numeric-TYPED
            # (typeof is a compile-time constant Catalyst folds):
            # upstream yields NULL for a digit STRING that fails date
            # parsing — "1718" must not silently become 1970-01-01
            # 00:00:01.718.
            need(1)
            t = F.call_function("typeof", a[0])
            is_numeric = t.isin(
                "tinyint", "smallint", "int", "bigint",
                "float", "double",
            ) | t.startswith("decimal")
            return F.when(
                is_numeric, F.timestamp_millis(a[0].try_cast("long")),
            ).otherwise(F.try_to_timestamp(a[0].cast("string")))
        if fn == "TO_IP":
            # strings are the engine's IP representation; TO_IP is the
            # validation gate — malformed addresses become NULL (ES
            # raises a per-value warning and nulls the result)
            need(1)
            return F.when(
                ipv4_long(a[0]).isNotNull()
                | ipv6_groups(a[0]).isNotNull(),
                a[0],
            )
        if fn == "MV_COUNT":
            need(1)
            return F.size(a[0]).cast("bigint")
        if fn == "MV_MIN":
            need(1)
            return F.array_min(a[0])
        if fn == "MV_MAX":
            need(1)
            return F.array_max(a[0])
        if fn == "COALESCE":
            return F.coalesce(*a)
        if fn == "STARTS_WITH":
            need(2)
            return a[0].startswith(a[1])
        if fn == "ENDS_WITH":
            need(2)
            return a[0].endswith(a[1])
        if fn == "CASE":
            if len(a) < 2:
                raise ValueError("ES|QL: CASE(cond, val, ..., [default])")
            pairs, default = a, None
            if len(a) % 2 == 1:
                pairs, default = a[:-1], a[-1]
            c = F.when(pairs[0].cast("boolean"), pairs[1])
            for i in range(2, len(pairs), 2):
                c = c.when(pairs[i].cast("boolean"), pairs[i + 1])
            return c.otherwise(default) if default is not None else c
        # ---- direct JVM mappings ------------------------------------
        # string
        if fn == "TRIM":
            need(1)
            return F.trim(a[0])
        if fn == "LTRIM":
            need(1)
            return F.ltrim(a[0])
        if fn == "RTRIM":
            need(1)
            return F.rtrim(a[0])
        if fn == "REPLACE":
            # REPLACE(string, regex, new) — regex-based, ES semantics
            need(3)
            return F.regexp_replace(a[0], a[1], a[2])
        if fn == "LEFT":
            need(2)
            return F.left(a[0], a[1])
        if fn == "RIGHT":
            need(2)
            return F.right(a[0], a[1])
        if fn == "REVERSE":
            need(1)
            return F.reverse(a[0])
        # hash / encoding scalars (8.14) — 1:1 Catalyst builtins;
        # hashes return lowercase hex over the UTF-8 bytes, the ES wire
        # form (and DuckDB's md5()/sha256(), so oracles stay verbatim)
        if fn == "MD5":
            need(1)
            return F.md5(a[0].cast("string"))
        if fn == "SHA1":
            need(1)
            return F.sha1(a[0].cast("string"))
        if fn == "SHA256":
            need(1)
            return F.sha2(a[0].cast("string"), 256)
        if fn == "HASH":
            # HASH(alg, input) (8.16): the generic digest dispatcher.
            # The five MessageDigest names every JVM ships are
            # supported; an unknown algorithm is NULL per row (upstream
            # emits a per-value warning and nulls the result — same
            # contract as TO_IP). alg may be any expression (a literal
            # folds to one branch).
            need(2)
            alg = F.lower(a[0].cast("string"))
            s = a[1].cast("string")
            return (
                F.when(alg == "md5", F.md5(s))
                .when(alg == "sha1", F.sha1(s))
                .when(alg == "sha256", F.sha2(s, 256))
                .when(alg == "sha384", F.sha2(s, 384))
                .when(alg == "sha512", F.sha2(s, 512))
            )
        if fn == "TO_BASE64":
            need(1)
            return F.base64(a[0].cast("binary"))
        if fn == "FROM_BASE64":
            # decoded bytes rendered back as a UTF-8 string (the
            # engine's text representation; ES returns the raw bytes)
            need(1)
            return F.unbase64(a[0]).cast("string")
        if fn == "BIT_LENGTH":
            need(1)
            return F.bit_length(a[0].cast("string")).cast("bigint")
        if fn == "BYTE_LENGTH":
            need(1)
            return F.octet_length(a[0].cast("string")).cast("bigint")
        if fn == "SPACE":
            need(1)
            return F.repeat(F.lit(" "), a[0].cast("int"))
        if fn == "REPEAT":
            need(2)
            return F.repeat(a[0], a[1])
        if fn == "LOCATE":
            # LOCATE(string, substring[, start]) — 1-based, 0 if absent
            if len(a) not in (2, 3):
                raise ValueError(
                    "ES|QL: LOCATE(string, substring[, start])"
                )
            if len(a) == 2:
                return F.instr(a[0], a[1]).cast("bigint")
            # start > 1: search the suffix, re-offset non-zero hits
            # (bind the suffix instr once via a 1-element HOF so the
            # heavy subtree isn't evaluated twice — Catalyst has no CSE)
            tail_hit = F.get(
                F.transform(
                    F.array(F.instr(
                        F.substring(a[0], a[2].cast("int"),
                                    F.lit(2147483647)), a[1])),
                    lambda h: F.when(h == 0, F.lit(0))
                    .otherwise(h + a[2] - 1),
                ),
                F.lit(0),
            )
            return F.when(a[2] <= 1, F.instr(a[0], a[1])) \
                .otherwise(tail_hit).cast("bigint")
        # math
        if fn == "POW":
            need(2)
            return F.pow(a[0], a[1])
        if fn == "SQRT":
            need(1)
            return F.sqrt(a[0])
        if fn == "EXP":
            need(1)
            return F.exp(a[0])
        if fn == "LOG":
            # LOG(value) natural; LOG(base, value) = ln(v)/ln(base)
            if len(a) == 1:
                return F.log(a[0])
            need(2)
            return F.log(a[1]) / F.log(a[0])
        if fn == "LOG10":
            need(1)
            return F.log10(a[0])
        if fn == "FLOOR":
            need(1)
            return F.floor(a[0])
        if fn == "CEIL":
            need(1)
            return F.ceil(a[0])
        if fn == "SIGNUM":
            need(1)
            return F.signum(a[0])
        if fn in ("SIN", "COS", "TAN", "ASIN", "ACOS", "ATAN",
                  "SINH", "COSH", "TANH", "CBRT"):
            # trig/hyperbolic/cube-root (8.x) — 1:1 Catalyst builtins
            need(1)
            return getattr(F, fn.lower())(a[0])
        if fn == "ATAN2":
            need(2)
            return F.atan2(a[0], a[1])
        if fn == "HYPOT":
            need(2)
            return F.hypot(a[0], a[1])
        if fn == "SCALB":
            # SCALB(d, i) (8.19) = d * 2^i (Math.scalb)
            need(2)
            return a[0].cast("double") * F.pow(
                F.lit(2.0), a[1].cast("double"))
        if fn == "ROUND_TO":
            # ROUND_TO(field, p1, p2, ...) (8.19): round DOWN to the
            # largest point <= field; a value below every point takes
            # the smallest point (the upstream bucket-boundary
            # contract). Scan-local array arithmetic over the
            # literal-sized points list — the fast fixed-grid
            # alternative to CASE chains.
            if len(a) < 2:
                raise ValueError(
                    "ES|QL: ROUND_TO needs a field and at least one "
                    "point")
            v = a[0].cast("double")
            pts = F.array_sort(F.array(
                *[p.cast("double") for p in a[1:]]))
            le = F.filter(pts, lambda q: q <= v)
            return F.when(
                v.isNotNull(),
                F.coalesce(F.array_max(le), F.get(pts, F.lit(0))),
            )
        if fn == "TO_DEGREES":
            need(1)
            return F.degrees(a[0])
        if fn == "TO_RADIANS":
            need(1)
            return F.radians(a[0])
        if fn == "MV_APPEND":
            # MV_APPEND(a, b) (8.14): concatenate two multivalues;
            # NULL on either side -> NULL (the shared MV null contract)
            need(2)
            return F.concat(a[0], a[1])
        if fn == "NOW":
            # NOW() — the session-constant current timestamp (Spark
            # folds current_timestamp once per query, matching the
            # upstream single-value-per-request contract). Inherently
            # non-reproducible across runs — oracle rows must not use
            # it; the WHERE ts > NOW() - 1 day idiom is the target.
            need(0)
            return F.current_timestamp()
        if fn == "PI":
            need(0)
            return F.lit(_math.pi)
        if fn == "TAU":
            need(0)
            return F.lit(_math.tau)
        if fn == "E":
            need(0)
            return F.lit(_math.e)
        if fn == "GREATEST":
            return F.greatest(*a)
        if fn == "LEAST":
            return F.least(*a)
        # multivalue (F.get is 0-based and NULL out of bounds — the
        # ANSI-safe accessor; every MV fn is NULL on NULL/empty input,
        # the ES|QL contract)
        if fn == "MV_FIRST":
            need(1)
            return F.get(a[0], F.lit(0))
        if fn == "MV_LAST":
            need(1)
            return F.get(a[0], F.size(a[0]) - 1)
        if fn == "MV_DEDUPE":
            need(1)
            return F.array_distinct(a[0])
        if fn == "MV_CONCAT":
            # MV_CONCAT(arr, delim): join the string multivalues;
            # NULL/empty input -> NULL (the shared MV null contract;
            # NULL elements are skipped). A fold, not array_join —
            # array_join takes only a PYTHON literal delimiter and the
            # grammar hands us a Column (which may be computed).
            need(2)
            return F.aggregate(
                a[0], F.lit(None).cast("string"),
                lambda acc, x: F.when(x.isNull(), acc)
                .when(acc.isNull(), x.cast("string"))
                .otherwise(F.concat(acc, a[1], x.cast("string"))),
            )
        if fn == "MV_MEDIAN_ABSOLUTE_DEVIATION":
            # exact MAD over the non-null elements (8.14; upstream
            # computes exactly here too — MV values are one row's
            # list, no sketch involved)
            need(1)
            nn = F.array_sort(F.filter(
                F.transform(a[0], lambda x: x.cast("double")),
                lambda x: x.isNotNull()))

            def _amed(s: Column) -> Column:
                n = F.size(s)
                lo = F.element_at(s, ((n + 1) / 2).cast("int"))
                hi = F.element_at(s, (n / 2 + 1).cast("int"))
                return F.when(n > 0, (lo + hi) / 2.0)

            def _amad(xs: Column) -> Column:
                med = _amed(xs)
                devs = F.array_sort(
                    F.transform(xs, lambda x: F.abs(x - med)))
                return _amed(devs)

            # bind the sorted array ONCE (no CSE across lambda bodies)
            return F.element_at(
                F.transform(F.array(nn), _amad), 1)
        if fn == "MV_PSERIES_WEIGHTED_SUM":
            # MV_PSERIES_WEIGHTED_SUM(arr, p) (8.14): sum of
            # value_i / (i+1)^p in LIST ORDER (upstream reads the
            # stored order; rank weights are positional). NULL/empty
            # -> NULL.
            need(2)
            p = a[1].cast("double")
            weighted = F.transform(
                a[0],
                lambda x, i: x.cast("double")
                / F.pow((i + 1).cast("double"), p),
            )
            s = F.aggregate(
                weighted, F.lit(0.0), lambda acc, x: acc + x)
            return F.when(F.size(a[0]) > 0, s)
        if fn == "MV_ZIP":
            # MV_ZIP(a, b[, delim]) — pairwise join, default ","
            if len(a) == 2:
                a = a + [F.lit(",")]
            need(3)
            delim = a[2]
            # unmatched tail of the longer array passes through AS-IS
            # (ES semantics) — no trailing delimiter
            return F.zip_with(
                a[0], a[1],
                lambda x, y: F.when(x.isNull(), y)
                .when(y.isNull(), x)
                .otherwise(F.concat(x, delim, y)),
            )
        if fn == "MV_SUM":
            need(1)
            s = F.aggregate(
                a[0], F.lit(0.0),
                lambda acc, x: acc + x.cast("double"),
            )
            return F.when(F.size(a[0]) > 0, s)
        if fn == "MV_AVG":
            need(1)
            s = F.aggregate(
                a[0], F.lit(0.0),
                lambda acc, x: acc + x.cast("double"),
            )
            return F.when(F.size(a[0]) > 0,
                          s / F.size(a[0]).cast("double"))
        if fn == "MV_MEDIAN":
            # exact; even counts average the middle two as DOUBLE (the
            # documented divergence from ES's integer-floor behavior
            # on whole-number inputs). NULL elements are dropped first
            # (same contract as MV_PERCENTILE — array_sort putting
            # NULLs last must not shift the middle).
            need(1)
            nn = F.filter(a[0], lambda x: x.isNotNull())
            s = F.array_sort(nn)
            n = F.size(nn)
            mid = (n / 2).cast("int")
            odd = F.get(s, ((n - 1) / 2).cast("int")).cast("double")
            even = (F.get(s, mid - 1).cast("double")
                    + F.get(s, mid).cast("double")) / 2
            return F.when(
                n > 0, F.when(n % 2 == 1, odd).otherwise(even)
            )
        if fn == "MV_PERCENTILE":
            # MV_PERCENTILE(col, p) (8.14) — EXACT linear interpolation
            # over the sorted NON-NULL values (the PERCENTILE
            # divergence class: upstream estimates, this engine is
            # exact). NULL elements are dropped before ranking — an
            # array containing NULLs must not return NULL for high
            # percentiles just because array_sort places NULLs last.
            # p outside [0, 100] -> NULL, empty/NULL
            # input -> NULL.
            need(2)
            nn = F.filter(a[0], lambda x: x.isNotNull())
            s = F.array_sort(nn)
            n = F.size(nn)
            pcol = a[1].cast("double")
            rank = (pcol / 100.0) * (n - 1).cast("double")
            lo = F.floor(rank).cast("int")
            hi = F.ceil(rank).cast("int")
            frac = rank - lo.cast("double")
            val = (F.get(s, lo).cast("double") * (F.lit(1.0) - frac)
                   + F.get(s, hi).cast("double") * frac)
            return F.when(
                (n > 0) & (pcol >= 0) & (pcol <= 100), val)
        if fn == "MV_SLICE":
            # MV_SLICE(col, start[, end]) — 0-based INCLUSIVE bounds,
            # and NEGATIVE bounds count from the end (-1 = last), the
            # upstream ES|QL semantics (a negative literal must not feed
            # F.slice a wrong window). An empty window
            # (end < start after normalization, or fully out of range)
            # is NULL, the shared MV null contract.
            if len(a) == 2:
                a = a + [a[1]]
            need(3)
            arr = a[0]
            n = F.size(arr)
            start, end = a[1].cast("int"), a[2].cast("int")
            s = F.when(start < 0, n + start).otherwise(start)
            e = F.when(end < 0, n + end).otherwise(end)
            s2 = F.greatest(s, F.lit(0))
            e2 = F.least(e, n - 1)
            return F.when(
                (n > 0) & (e2 >= s2) & (s2 < n) & (e2 >= 0),
                F.slice(arr, s2 + 1, e2 - s2 + 1),
            )
        raise ValueError(f"ES|QL: unsupported function {fn}")


def _mask_strings(text: str) -> str:
    """Blank out string literals (length-preserving) so structural
    scans ('|' cuts, paren depth) never look inside them."""
    return re.sub(r'"(?:[^"\\]|\\.)*"|\'(?:[^\']|\'\')*\'',
                  lambda m: " " * len(m.group(0)), text)


def _split_pipes(text: str) -> list[str]:
    """Split the query on top-level '|' with string literals masked and
    parenthesized sub-pipes (FORK branches) kept intact."""
    masked = _mask_strings(text)
    parts, start, depth = [], 0, 0
    for i, ch in enumerate(masked):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "|" and depth == 0:
            parts.append(text[start:i])
            start = i + 1
    parts.append(text[start:])
    return [p.strip() for p in parts if p.strip()]


def _fork_branches(stage: str) -> list[str]:
    """FORK stage text -> the branch sub-pipe texts: after the FORK
    word, a sequence of top-level parenthesized groups (strings
    masked so parens inside literals don't count)."""
    masked = _mask_strings(stage)
    body = stage[len("FORK"):]
    mbody = masked[len("FORK"):]
    branches, depth, bstart = [], 0, None
    for i, ch in enumerate(mbody):
        if ch == "(":
            if depth == 0:
                bstart = i + 1
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                raise ValueError("ES|QL: unbalanced FORK parentheses")
            if depth == 0:
                branches.append(body[bstart:i].strip())
                bstart = None
        elif depth == 0 and not ch.isspace():
            raise ValueError(
                f"ES|QL: unexpected text {body[i:i+20]!r} between "
                "FORK branches — each branch must be parenthesized"
            )
    if depth != 0:
        raise ValueError("ES|QL: unbalanced FORK parentheses")
    return branches


def _parse_name(p: _ExprParser) -> str:
    k, v = p.next()
    if k != "ident":
        raise ValueError(f"ES|QL: expected a column name, got {v!r}")
    return v


# The grok pattern core (the public logstash/ES pattern library's
# workhorse subset, spelled as Java-safe regexes with only NON-capturing
# internal groups so the per-field capture indices stay aligned).
# %{IP} is IPv4 here (documented; IPv6 literals carry ':' and still
# match NOTSPACE/DATA routes).
_GROK_LIB = {
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "POSINT": r"\d+",
    "BASE10NUM": r"[+-]?(?:\d+(?:\.\d+)?|\.\d+)",
    "NUMBER": r"[+-]?(?:\d+(?:\.\d+)?|\.\d+)",
    "IPV4": r"(?:(?:25[0-5]|2[0-4]\d|[01]?\d?\d)\.){3}"
            r"(?:25[0-5]|2[0-4]\d|[01]?\d?\d)",
    "IP": r"(?:(?:25[0-5]|2[0-4]\d|[01]?\d?\d)\.){3}"
          r"(?:25[0-5]|2[0-4]\d|[01]?\d?\d)",
    "UUID": r"[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"[a-zA-Z0-9._-]+",
    "HOSTNAME": r"\b(?:[0-9A-Za-z][0-9A-Za-z-]{0,62})"
                r"(?:\.(?:[0-9A-Za-z][0-9A-Za-z-]{0,62}))*\.?\b",
    "LOGLEVEL": r"(?i:alert|trace|debug|notice|info(?:rmation)?|"
                r"warn(?:ing)?|err(?:or)?|crit(?:ical)?|fatal|"
                r"severe|emerg(?:ency)?)",
    "TIMESTAMP_ISO8601": r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}"
                         r"(?::\d{2}(?:\.\d+)?)?"
                         r"(?:Z|[+-]\d{2}:?\d{2})?",
}

_GROK_TYPES = {
    "int": "bigint", "long": "bigint", "float": "double",
    "double": "double", "boolean": "boolean", "keyword": None,
    "text": None,
}

_GROK_REF_RE = re.compile(r"%\{(\w+)(?::([A-Za-z_]\w*))?(?::(\w+))?\}")


def _grok_regex(pattern: str) -> tuple[str, list[tuple[str, str | None]]]:
    """GROK pattern -> (unanchored regex, [(field, cast_type|None)]):
    %{SYNTAX[:field[:type]]} refs swap in the library regex — CAPTURING
    when a field name is given, non-capturing otherwise — and literal
    text between refs escapes. Unknown syntaxes and duplicate field
    names refuse loudly."""
    fields: list[tuple[str, str | None]] = []
    out, pos = [], 0
    literals: list[str] = []
    for m in _GROK_REF_RE.finditer(pattern):
        literals.append(pattern[pos:m.start()])
        out.append(re.escape(pattern[pos:m.start()]))
        pos = m.end()
        syntax, field, typ = m.group(1), m.group(2), m.group(3)
        if field is None and typ is not None:
            # '%{INT:2field}': the "type" group swallowed a malformed
            # FIELD name — refuse instead of silently dropping the
            # capture (the module's raise-loudly convention)
            raise ValueError(
                f"ES|QL: GROK field name {typ!r} must start with a "
                f"letter or underscore"
            )
        if syntax not in _GROK_LIB:
            raise ValueError(
                f"ES|QL: GROK pattern %{{{syntax}}} is not in the "
                f"supported library ({sorted(_GROK_LIB)})"
            )
        if field is None:
            out.append("(?:" + _GROK_LIB[syntax] + ")")
            continue
        if typ is not None and typ not in _GROK_TYPES:
            raise ValueError(
                f"ES|QL: GROK type {typ!r} (int/long/float/double/"
                f"boolean/keyword/text)"
            )
        if any(f == field for f, _ in fields):
            raise ValueError(
                f"ES|QL: GROK field {field!r} captured twice"
            )
        fields.append((field, _GROK_TYPES.get(typ) if typ else None))
        out.append("(" + _GROK_LIB[syntax] + ")")
    literals.append(pattern[pos:])
    out.append(re.escape(pattern[pos:]))
    if any("%{" in lit for lit in literals):
        # a ref the reference regex could not parse at all (bad
        # characters inside %{...}) would otherwise match literally
        raise ValueError(
            "ES|QL: GROK pattern contains a malformed %{...} reference"
        )
    if not fields:
        raise ValueError("ES|QL: GROK pattern has no %{SYNTAX:field} refs")
    return "".join(out), fields


_DISSECT_NAME = re.compile(r"[A-Za-z_][A-Za-z0-9_]*$")


def _dissect_regex(pattern: str) -> tuple[str, list[tuple]]:
    """DISSECT pattern -> (regex, groups): literal separators between
    %{key} refs; every key matches non-greedily except the last, which
    takes the rest — the delimiter-based extraction semantics.

    Modifiers (the upstream dissect set): ``%{}`` / ``%{?name}``
    skip the capture (no output column); ``%{+name}`` appends this
    capture to ``name`` (joined with the command's APPEND_SEPARATOR,
    default "", in capture order); ``%{name->}`` allows the following
    separator to REPEAT (right padding). Reference keys (``%{*k}`` /
    ``%{&k}``) and ``/n`` append-order modifiers are refused loudly.

    Returns groups as ``[(name | None, is_append), ...]`` — one entry
    per regex capture group, in group order."""
    parts = re.split(r"%\{([^}]*)\}", pattern)
    # parts = [lit0, key1, lit1, key2, lit2, ...]
    raw_keys = parts[1::2]
    if not raw_keys:
        raise ValueError("ES|QL: DISSECT pattern has no %{key} fields")
    rx = "^" + re.escape(parts[0])
    groups: list[tuple] = []
    for i, rk in enumerate(raw_keys):
        last = i == len(raw_keys) - 1
        lit = parts[2 * i + 2]
        if rk.startswith(("*", "&")):
            raise ValueError(
                "ES|QL: DISSECT reference keys (%{*k}/%{&k}) are not "
                "supported — emit both columns and join downstream"
            )
        if "/" in rk:
            raise ValueError(
                "ES|QL: DISSECT /n append-order modifiers are not "
                "supported — appends join in capture order"
            )
        pad = rk.endswith("->")
        if pad:
            rk = rk[:-2]
        if rk == "" or rk.startswith("?"):
            name, is_append = None, False
            if rk.startswith("?") and not _DISSECT_NAME.match(rk[1:]):
                raise ValueError(
                    f"ES|QL: bad DISSECT skip key {rk!r}")
        elif rk.startswith("+"):
            name, is_append = rk[1:], True
            if not _DISSECT_NAME.match(name):
                raise ValueError(
                    f"ES|QL: bad DISSECT append key {rk!r}")
        else:
            name, is_append = rk, False
            if not _DISSECT_NAME.match(name):
                raise ValueError(f"ES|QL: bad DISSECT key {rk!r}")
        groups.append((name, is_append))
        rx += "(.*)" if last and lit == "" else "(.*?)"
        # right padding: the separator may repeat after this capture
        rx += ("(?:" + re.escape(lit) + ")+" if pad and lit
               else re.escape(lit))
    rx += "$"
    return rx, groups


def esql(
    spark: SparkSession,
    query: str,
    tables: dict[str, DataFrame] | None = None,
    *,
    analyzers: dict[str, str] | None = None,
    tokens_cols: dict[str, str] | None = None,
    bm25_stats_for=None,
    enrich_policies: dict[str, dict] | None = None,
) -> DataFrame:
    """Compile one ES|QL query to a DataFrame. ``tables`` maps index
    names to DataFrames (the FROM resolver); ROW queries need none.
    ``analyzers``/``tokens_cols``/``bm25_stats_for`` are the same
    full-text bindings from_es_json and es_sql take — they activate
    BM25 scoring for MATCH(); without them MATCH falls back to the
    keyword/overlap Match node (constant score), same as ES-SQL.
    ``enrich_policies`` maps policy names to ES enrich-policy dicts —
    ``{"table": DataFrame | index name, "match_field": str,
    "enrich_fields": [cols] | None}`` (None = every non-key column) —
    the compile-time stand-in for ES's policy store; ENRICH compiles
    onto the same broadcast-left-join path as LOOKUP JOIN."""
    stages = _split_pipes(query)
    if not stages:
        raise ValueError("ES|QL: empty query")

    # ---- source command --------------------------------------------------
    if re.match(r"\s*SHOW\s+INFO\s*$", stages[0], re.I):
        # SHOW INFO — ES|QL's only SHOW command: one row of engine
        # build info (upstream: date/hash/version of the ES build;
        # here the engine name + the Spark version actually running,
        # which is the number a capacity planner wants)
        if len(stages) > 1:
            raise ValueError(
                "ES|QL: SHOW INFO takes no further pipe stages")
        return spark.createDataFrame(
            [("tweets_elastic_spark", spark.version)],
            "engine string, version string",
        )
    if re.match(r"\s*(RERANK|COMPLETION|FUSE)\b", stages[0], re.I) or any(
        re.match(r"\s*(RERANK|COMPLETION|FUSE)\b", s, re.I)
        for s in stages[1:]
    ):
        cmd = next(
            m.group(1).upper()
            for s in stages
            for m in [re.match(r"\s*(RERANK|COMPLETION|FUSE)\b", s, re.I)]
            if m
        )
        raise ValueError(
            f"ES|QL: {cmd} (8.19 preview) needs a live inference "
            "endpoint, which this engine does not ship. For reranking "
            "compose the retriever tree (plans/search.py rrf/linear/"
            "rerank retrievers) with your own scorer; for text "
            "generation call the model outside the query engine."
        )
    toks, raws = _tokenize(stages[0])
    p = _ExprParser(toks, raws)
    if p.eat_kw("FROM"):
        # FROM idx[, idx2, pre*...]: multiple indices / trailing-*
        # patterns union with missing columns NULL (the ES multi-index
        # read contract; unionByName(allowMissingColumns) errors loudly
        # on same-name/different-type columns, ES's mapping-conflict
        # case). The union is a no-shuffle co-scan of all sources.
        pats = []
        while True:
            name = _parse_name(p)
            if p.peek() == ("op", "*"):
                p.i += 1
                name += "*"
            pats.append(name)
            if p.peek() == ("op", ","):
                p.i += 1
                continue
            break
        metadata_score = metadata_index = False
        if p.eat_kw("METADATA"):
            # METADATA _score [, _index] — any order, comma list.
            # _index tags each row with the catalog name of the index
            # it was read from (the multi-index provenance column);
            # _id/_version have no analog here (no live doc store)
            # and refuse loudly.
            while True:
                k, v = p.next()
                if k == "ident" and v == "_score":
                    metadata_score = True
                elif k == "ident" and v == "_index":
                    metadata_index = True
                else:
                    raise ValueError(
                        "ES|QL: only METADATA _score and _index are "
                        f"supported, got {v!r}"
                    )
                if p.peek() == ("op", ","):
                    p.i += 1
                    continue
                break
        if p.peek()[0] != "end":
            raise ValueError(
                f"ES|QL: unexpected token after FROM {pats[-1]}"
            )
        resolved: list[str] = []
        for pat in pats:
            if pat.endswith("*"):
                hits = sorted(t for t in (tables or {})
                              if t.startswith(pat[:-1]))
                if not hits:
                    raise ValueError(
                        f"ES|QL: index pattern {pat!r} matches nothing"
                    )
                resolved.extend(h for h in hits if h not in resolved)
            else:
                if not tables or pat not in tables:
                    raise ValueError(f"ES|QL: unknown index {pat!r}")
                if pat not in resolved:
                    resolved.append(pat)

        def _src(t: str) -> DataFrame:
            # tag BEFORE the union so each row carries the name of the
            # index it came from (a literal column, scan-local)
            return (tables[t].withColumn("_index", F.lit(t))
                    if metadata_index else tables[t])

        df = _src(resolved[0])
        for t in resolved[1:]:
            df = df.unionByName(_src(t), allowMissingColumns=True)
        if metadata_score:
            # docs carry _score 0.0 until a scoring WHERE runs — the
            # ES|QL contract (non-scoring queries leave _score at 0)
            df = df.withColumn("_score", F.lit(0.0))
    elif p.eat_kw("ROW"):
        names, vals = [], []
        while True:
            names.append(_parse_name(p))
            p.expect_op("=")
            vals.append(p.expr())
            if p.peek() == ("op", ","):
                p.i += 1
                continue
            break
        df = spark.range(1).select(
            *[v.alias(n) for n, v in zip(names, vals)]
        )
    else:
        raise ValueError(
            "ES|QL: the first command must be FROM or ROW"
        )

    # ---- processing commands ---------------------------------------------
    # CHANGE_POINT boundedness: ES caps
    # the command's scan at 1000 values; this engine's in-row detector is
    # a single-partition window — the coordinator-side shape, safe ONLY
    # over a bounded series. Track whether any stage has bounded the
    # stream (ROW source is literal-sized; STATS collapses to group
    # cardinality; LIMIT is explicit) and refuse an unbounded pipe
    # instead of silently serializing a full-table sort on one core.
    series_bounded = stages[0].lstrip().upper().startswith("ROW")
    df, _ = _run_stages(
        df, stages[1:],
        tables=tables, analyzers=analyzers, tokens_cols=tokens_cols,
        bm25_stats_for=bm25_stats_for, enrich_policies=enrich_policies,
        series_bounded=series_bounded,
    )
    return df


def _match_builder(df: DataFrame, analyzers, tokens_cols, bm25_stats_for):
    """(field, text, opts) → (predicate Column, score Column) for ES-SQL
    and ES|QL ``MATCH``, compiled through the query-DSL nodes so MATCH and
    DSL match can never drift: ``bm25_match`` (plans/search.py) picks
    BM25Match when the field has analyzer + tokens_col bindings and a
    stats provider, else the overlap/keyword Match (constant score)."""
    spark = df.sparkSession
    analyzers = analyzers or {}
    tokens_cols = tokens_cols or {}

    def make(field: str, text: str, opts: dict[str, str]):
        check_keys(opts, {"operator", "minimum_should_match"}, "MATCH")
        operator = opts.get("operator", "or")
        msm = int(opts.get("minimum_should_match", 0))
        node = bm25_match(
            field, text, analyzers, tokens_cols, bm25_stats_for,
            operator=operator, minimum_should_match=msm,
        )
        if node is None:
            # keyword equality (no analyzer binding) or overlap matching —
            # ES's non-relevance semantics; score is the constant 1.0
            node = Match(
                field, text, analyzer=analyzers.get(field),
                tokens_col=tokens_cols.get(field),
                operator=operator, minimum_should_match=msm,
            )
        pred = node.predicate(spark)
        score = node.score(spark)
        if not node.CONSTANT_SCORE:
            # a clause only contributes when IT matches (ES bool scoring);
            # constant-score nodes already gate inside Query.score
            score = F.when(pred, score).otherwise(F.lit(0.0))
        return pred, score

    return make


def _qstr_builder(df: DataFrame, analyzers, tokens_cols):
    """text → (predicate, score) through plans/query_string.py — the
    QSTR() full-text function (8.16). Bare terms resolve to the single
    analyzer-bound field (the stand-in for ES's index default_field
    setting); with zero or several bindings the query must field-scope
    every term, enforced loudly by the parser receiving no default."""
    spark = df.sparkSession
    analyzers = analyzers or {}
    tokens_cols = tokens_cols or {}

    _SENTINEL = "__qstr_no_default_field__"

    def make(text: str):
        default_field = (
            next(iter(analyzers)) if len(analyzers) == 1 else _SENTINEL
        )
        q = parse_query_string(
            text, default_field=default_field,
            analyzers=analyzers, tokens_cols=tokens_cols,
        )
        if default_field == _SENTINEL and any(
                getattr(n, "field", None) == _SENTINEL
                for n in query_nodes(q)):
            raise ValueError(
                "ES|QL: QSTR has a bare (unscoped) term but no single "
                "analyzed-field binding to resolve it against (ES's "
                "index default_field setting has no analog here); "
                "field-scope every term, or bind exactly one analyzer"
            )
        return q.predicate(spark), q.score(spark)

    return make


def _kql_builder(df: DataFrame, analyzers, tokens_cols):
    """text → predicate through plans/query_string.parse_kql — the
    KQL() full-text function (8.17). Filter context: no score. Bare
    terms resolve to the single analyzer-bound field like QSTR."""
    spark = df.sparkSession
    analyzers = analyzers or {}
    tokens_cols = tokens_cols or {}

    def make(text: str):
        default_field = (
            next(iter(analyzers)) if len(analyzers) == 1 else None
        )
        q = parse_kql(
            text, default_field=default_field,
            analyzers=analyzers, tokens_cols=tokens_cols,
        )
        return q.predicate(spark)

    return make


def _run_stages(
    df: DataFrame,
    stages: list[str],
    *,
    tables,
    analyzers,
    tokens_cols,
    bm25_stats_for,
    enrich_policies,
    series_bounded: bool,
    in_fork: bool = False,
) -> tuple:
    """Apply a list of processing-command stages to ``df`` — the
    shared pipe executor esql() and FORK branches both run.
    Returns (df, series_bounded) so callers can compose the
    CHANGE_POINT boundedness state across branches."""
    for stage in stages:
        if re.match(r"\s*FORK\b", stage, re.I):
            # FORK (branch1) (branch2) ... (ES 8.19 preview): every
            # branch receives the CURRENT stream, runs its own sub-pipe,
            # and the results union by name (missing columns NULL) with
            # a `_fork` discriminator ("fork1".."forkN" in branch
            # order) — compiled as N plans over the SAME source + one
            # no-shuffle unionByName. Each branch embeds its own copy of
            # the upstream logical plan, so Spark executes the upstream
            # stages once per branch (no Exchange added, but also no
            # automatic scan sharing) — callers with an expensive
            # pre-FORK pipe should persist()/localCheckpoint() first.
            # Boundedness composes conservatively: the union is bounded
            # only if EVERY branch ends bounded.
            if in_fork:
                raise ValueError(
                    "ES|QL: nested FORK inside a FORK branch is not "
                    "supported (upstream disallows it; the inner "
                    "branch's _fork discriminator would be lost)"
                )
            branches = _fork_branches(stage)
            if len(branches) < 2:
                raise ValueError(
                    "ES|QL: FORK needs at least two (branch) sub-pipes"
                )
            if len(branches) > 8:
                raise ValueError(
                    "ES|QL: FORK takes at most 8 branches (the ES cap)"
                )
            outs, bounded_states = [], []
            for bi, btext in enumerate(branches, start=1):
                bdf, bbound = _run_stages(
                    df, _split_pipes(btext),
                    tables=tables, analyzers=analyzers,
                    tokens_cols=tokens_cols,
                    bm25_stats_for=bm25_stats_for,
                    enrich_policies=enrich_policies,
                    series_bounded=series_bounded,
                    in_fork=True,
                )
                outs.append(bdf.withColumn("_fork", F.lit(f"fork{bi}")))
                bounded_states.append(bbound)
            df = outs[0]
            for o in outs[1:]:
                df = df.unionByName(o, allowMissingColumns=True)
            series_bounded = all(bounded_states)
            continue
        toks, raws = _tokenize(stage)
        p = _ExprParser(toks, raws)
        if p.eat_kw("WHERE"):
            p.make_match = _match_builder(
                df, analyzers, tokens_cols, bm25_stats_for)
            p.make_qstr = _qstr_builder(df, analyzers, tokens_cols)
            p.make_kql = _kql_builder(df, analyzers, tokens_cols)
            pred = p.expr()
            df = df.filter(pred)
            if p.match_scores and "_score" in df.columns:
                total = p.match_scores[0]
                for sc in p.match_scores[1:]:
                    total = total + sc
                # _score ACCUMULATES across scoring operators (the
                # ES|QL contract): add to the running total set by any
                # earlier scoring WHERE, never replace it
                df = df.withColumn("_score", F.col("_score") + total)
        elif p.eat_kw("EVAL"):
            while True:
                name = _parse_name(p)
                p.expect_op("=")
                df = df.withColumn(name, p.expr())
                if p.peek() == ("op", ","):
                    p.i += 1
                    continue
                break
        elif p.eat_kw("STATS"):
            df = _stats(df, p)
            series_bounded = True
        elif p.eat_kw("INLINESTATS"):
            df = _inlinestats(df, p)
        elif p.eat_kw("CHANGE_POINT"):
            if not series_bounded:
                raise ValueError(
                    "ES|QL: CHANGE_POINT runs a single-partition "
                    "window over the whole incoming series — ES caps "
                    "the scan at 1000 values; pipe through STATS or "
                    "LIMIT first so the series is bounded"
                )
            # CHANGE_POINT <value> ON <key> (ES 8.18): mark the row
            # where the key-ordered value series' CUSUM mean-shift
            # statistic T(k) = sqrt(nl*nr/n)*|mean_l - mean_r| peaks —
            # the SAME deterministic detector as the change_point
            # sibling agg (plans/aggs.py), in-row instead of 1-row.
            # Emits cp_type ("step_change" at the detected row, NULL
            # elsewhere) and cp_stat (the statistic) — ES's ML-derived
            # type taxonomy/p_value is replaced by the reproducible
            # statistic, the documented divergence shared with the agg.
            # Runs over a BOUNDED post-aggregation series (ES caps the
            # scan at 1000 values), so the single-partition window is
            # the coordinator-side shape, not a scale risk — ENFORCED
            # above: an unbounded pipe (no prior STATS/LIMIT, not
            # a ROW source) is refused at compile time.
            val = _parse_name(p)
            k, v = p.next()
            if k != "ident" or v.upper() != "ON":
                raise ValueError("ES|QL: CHANGE_POINT <value> ON <key>")
            key = _parse_name(p)
            for col in (val, key):
                if col not in df.columns:
                    raise ValueError(
                        f"ES|QL: CHANGE_POINT references unknown "
                        f"column {col!r}"
                    )

            w_all = Window.orderBy(F.col(key).asc())
            w_cum = w_all.rowsBetween(
                Window.unboundedPreceding, Window.currentRow)
            w_tot = Window.orderBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing)
            c = F.col(val).cast("double")
            # NULL-safe denominators: sums skip NULL values, so the
            # mean denominators must COUNT THE VALUE (not the row) on
            # both sides of the split, and NULL-valued rows carry no
            # statistic (they cannot be the detected change point)
            df = (
                df.withColumn("__i", F.row_number().over(w_all))
                .withColumn("__ci", F.count(c).over(w_cum))
                .withColumn("__cum", F.sum(c).over(w_cum))
                .withColumn("__tot", F.sum(c).over(w_tot))
                .withColumn("__cn", F.count(c).over(w_tot))
            )
            df = df.withColumn(
                "__t",
                F.when(
                    c.isNotNull()
                    & (F.col("__ci") > 0)
                    & (F.col("__ci") < F.col("__cn")),
                    F.round(
                        F.sqrt(
                            F.col("__ci").cast("double")
                            * (F.col("__cn") - F.col("__ci"))
                            / F.col("__cn")
                        )
                        * F.abs(
                            F.col("__cum") / F.col("__ci")
                            - (F.col("__tot") - F.col("__cum"))
                            / (F.col("__cn") - F.col("__ci"))
                        ),
                        6,
                    ),
                ),
            )
            df = df.withColumn("__best", F.max("__t").over(w_tot))
            df = df.withColumn(
                "__bi",
                F.min(
                    F.when(F.col("__t") == F.col("__best"), F.col("__i"))
                ).over(w_tot),  # ties -> earliest key, same as the agg
            )
            is_cp = F.col("__i") == F.col("__bi")
            df = (
                df.withColumn("cp_type",
                              F.when(is_cp, F.lit("step_change")))
                .withColumn("cp_stat", F.when(is_cp, F.col("__t")))
                .drop("__i", "__ci", "__cum", "__tot", "__cn", "__t",
                      "__best", "__bi")
            )
        elif p.eat_kw("SORT"):
            orders = []
            while True:
                c = p.expr()
                asc = True
                if p.eat_kw("DESC"):
                    asc = False
                else:
                    p.eat_kw("ASC")
                nulls = None
                if p.eat_kw("NULLS"):
                    if p.eat_kw("FIRST"):
                        nulls = "first"
                    elif p.eat_kw("LAST"):
                        nulls = "last"
                    else:
                        raise ValueError("ES|QL: NULLS FIRST|LAST")
                if asc:
                    o = (c.asc_nulls_first() if nulls == "first"
                         else c.asc_nulls_last() if nulls == "last"
                         else c.asc())
                else:
                    o = (c.desc_nulls_first() if nulls == "first"
                         else c.desc_nulls_last() if nulls == "last"
                         else c.desc())
                orders.append(o)
                if p.peek() == ("op", ","):
                    p.i += 1
                    continue
                break
            df = df.orderBy(*orders)
        elif p.eat_kw("LIMIT"):
            k, v = p.next()
            if k != "num" or isinstance(v, float):
                raise ValueError("ES|QL: LIMIT needs an integer")
            df = df.limit(int(v))
            series_bounded = True
        elif p.eat_kw("SAMPLE"):
            # SAMPLE <probability> [<seed>] (8.19 tech preview).
            # Upstream samples non-reproducibly over internal doc ids;
            # this engine samples DETERMINISTICALLY (the documented
            # determinism divergence shared with the aggs front-end's
            # random_sampler): a row survives iff
            # hash60(concat_ws(US, all current columns as strings, seed))
            # < p*2^60 — a pure scan-riding predicate, stable across
            # partitioning AND reproducible in the DuckDB oracle
            # (concat_ws skips NULLs identically in both engines; the
            # 0x1f unit separator keeps adjacent columns unambiguous).
            # The hash key is the CURRENT column set in stream order, so
            # the same pipe always draws the same sample; no shuffle,
            # no RNG, no partition dependence — df.sample() would be
            # none of those.
            neg = p.peek() == ("op", "-")
            if neg:
                p.i += 1
            k, v = p.next()
            if k != "num":
                raise ValueError("ES|QL: SAMPLE needs a numeric "
                                 "probability")
            prob = -float(v) if neg else float(v)
            if not (0.0 < prob < 1.0):
                raise ValueError(
                    f"ES|QL: SAMPLE probability must be in (0, 1), "
                    f"got {prob}"
                )
            seed = 0
            k, v = p.peek()
            if k == "num":
                p.i += 1
                if isinstance(v, float):
                    raise ValueError("ES|QL: SAMPLE seed must be an "
                                     "integer")
                seed = int(v)

            key = F.concat_ws(
                "\x1f",
                *[F.col(c).cast("string") for c in df.columns],
                F.lit(str(seed)),
            )
            df = df.filter(hash60(key) < F.lit(int(prob * (1 << 60))))
        elif p.eat_kw("KEEP"):
            cols = []
            while True:
                k, v = p.next()
                if k == "ident":
                    pat = v
                elif k == "op" and v == "*":
                    pat = "*"
                else:
                    raise ValueError(f"ES|QL: bad KEEP entry {v!r}")
                # trailing-* wildcard support (ident tokens swallow no
                # '*', so 'pre*' arrives as ident 'pre' + op '*')
                if p.peek() == ("op", "*"):
                    p.i += 1
                    pat += "*"
                if pat == "*":
                    cols.extend(c for c in df.columns if c not in cols)
                elif pat.endswith("*"):
                    hits = [c for c in df.columns
                            if c.startswith(pat[:-1])]
                    if not hits:
                        raise ValueError(
                            f"ES|QL: KEEP {pat} matches no columns"
                        )
                    cols.extend(h for h in hits if h not in cols)
                else:
                    if pat not in df.columns:
                        raise ValueError(
                            f"ES|QL: KEEP references unknown column "
                            f"{pat!r}"
                        )
                    cols.append(pat)
                if p.peek() == ("op", ","):
                    p.i += 1
                    continue
                break
            df = df.select(*cols)
        elif p.eat_kw("DROP"):
            # DROP col[, pre*...] — trailing-* wildcards expand like
            # KEEP's; a pattern matching nothing is the error,
            # matching the unknown-column rule
            drops = []
            while True:
                name = _parse_name(p)
                if p.peek() == ("op", "*"):
                    p.i += 1
                    hits = [c for c in df.columns
                            if c.startswith(name)]
                    if not hits:
                        raise ValueError(
                            f"ES|QL: DROP pattern {name + '*'!r} "
                            "matches no columns"
                        )
                    drops.extend(hits)
                else:
                    drops.append(name)
                if p.peek() == ("op", ","):
                    p.i += 1
                    continue
                break
            missing = [d for d in drops if d not in df.columns]
            if missing:
                raise ValueError(
                    f"ES|QL: DROP references unknown columns {missing}"
                )
            if not [c for c in df.columns if c not in drops]:
                raise ValueError(
                    "ES|QL: DROP would remove every column"
                )
            df = df.drop(*drops)
        elif p.eat_kw("RENAME"):
            while True:
                old = _parse_name(p)
                if not p.eat_kw("AS"):
                    raise ValueError("ES|QL: RENAME old AS new")
                new = _parse_name(p)
                df = df.withColumnRenamed(old, new)
                if p.peek() == ("op", ","):
                    p.i += 1
                    continue
                break
        elif p.eat_kw("MV_EXPAND"):
            name = _parse_name(p)
            df = df.withColumn(name, F.explode(F.col(name)))
        elif p.eat_kw("DISSECT"):
            col = _parse_name(p)
            k, pat = p.next()
            if k != "str":
                raise ValueError("ES|QL: DISSECT needs a string pattern")
            # optional APPEND_SEPARATOR="sep" (joins %{+key} captures)
            sep = ""
            k2, v2 = p.peek()
            if k2 == "ident" and v2.upper() == "APPEND_SEPARATOR":
                p.i += 1
                p.expect_op("=")
                sep = p._lit_str_arg("DISSECT APPEND_SEPARATOR")
            rx, groups = _dissect_regex(pat)
            src = F.col(col)
            matched = src.rlike(rx)
            # collect per-name capture groups in order; plain keys get
            # exactly one, %{+name} may own several (joined with sep)
            named: dict[str, list[int]] = {}
            for i, (name, is_append) in enumerate(groups, start=1):
                if name is None:
                    continue
                if name in named and not is_append:
                    raise ValueError(
                        f"ES|QL: DISSECT key {name!r} captured twice — "
                        "use %{+" + name + "} to append"
                    )
                named.setdefault(name, []).append(i)
            for name, idxs in named.items():
                if len(idxs) == 1:
                    val = F.regexp_extract(src, rx, idxs[0])
                else:
                    val = F.concat_ws(
                        sep, *[F.regexp_extract(src, rx, i)
                               for i in idxs])
                df = df.withColumn(name, F.when(matched, val))
        elif p.eat_kw("GROK"):
            # GROK col "pattern" — regex-library extraction, the sibling
            # of DISSECT: the %{SYNTAX:field:type} refs compile to ONE
            # Java regex whose captures feed scan-local regexp_extract
            # per field (unanchored find, the grok convention);
            # non-matching rows yield NULL fields, :int/:float convert
            # via cast (failure -> NULL, ES semantics).
            col = _parse_name(p)
            k, pat = p.next()
            if k != "str":
                raise ValueError("ES|QL: GROK needs a string pattern")
            rx, fields = _grok_regex(pat)
            src = F.col(col)
            matched = src.rlike(rx)
            for i, (field, cast_to) in enumerate(fields, start=1):
                val = F.regexp_extract(src, rx, i)
                if cast_to is not None:
                    # try_cast: conversion failure -> NULL field (the
                    # ES contract), never an ANSI cast error
                    val = val.try_cast(cast_to)
                df = df.withColumn(field, F.when(matched, val))
        elif p.eat_kw("LOOKUP"):
            # LOOKUP JOIN <lookup_index> ON <field> (ES 8.18): enrich
            # each row with the lookup index's columns. Lookup-mode
            # indices are small BY CONTRACT (ES enforces single-shard
            # lookup mode), so this compiles to a BROADCAST left join —
            # the main stream never shuffles. Collision rule per the ES
            # docs: lookup-side columns OVERRIDE same-named incoming
            # columns; multiple matches multiply rows (LEFT JOIN
            # semantics); no match leaves the lookup columns NULL.
            k, v = p.next()
            if k != "ident" or v.upper() != "JOIN":
                raise ValueError(
                    "ES|QL: bare LOOKUP (the 8.14 experimental table "
                    "form) is not supported — use LOOKUP JOIN <index> "
                    "ON <field> (ES 8.18)"
                )
            idx = _parse_name(p)
            k, v = p.next()
            if k != "ident" or v.upper() != "ON":
                raise ValueError(
                    "ES|QL: LOOKUP JOIN <index> ON <field>"
                )
            key = _parse_name(p)
            if not tables or idx not in tables:
                raise ValueError(f"ES|QL: unknown lookup index {idx!r}")
            lk = tables[idx]
            if key not in df.columns:
                raise ValueError(
                    f"ES|QL: LOOKUP JOIN key {key!r} is not a column "
                    f"of the incoming rows"
                )
            if key not in lk.columns:
                raise ValueError(
                    f"ES|QL: LOOKUP JOIN key {key!r} is not a column "
                    f"of lookup index {idx!r}"
                )
            overridden = [
                c for c in df.columns if c != key and c in lk.columns
            ]
            df = df.drop(*overridden).join(
                F.broadcast(lk), on=key, how="left"
            )
        elif p.eat_kw("ENRICH"):
            # ENRICH <policy> [ON <match_col>] [WITH [new =] field, ...]
            # (ES 8.x): sugar over the LOOKUP JOIN path. The policy dict
            # stands in for ES's executed .enrich-* index — which IS
            # small and key-unique by construction (policy execution
            # collapses the source index per match_field), so the join
            # side broadcasts and the fact stream never shuffles.
            # Collision rule per ES: enrich fields OVERRIDE same-named
            # incoming columns; no match leaves them NULL (left join).
            # A non-unique policy table multiplies rows exactly like
            # LOOKUP JOIN — faithfully-executed policies are unique.
            pol_name = _parse_name(p)
            pol = (enrich_policies or {}).get(pol_name)
            if pol is None:
                known = sorted(enrich_policies or {})
                raise ValueError(
                    f"ES|QL: unknown enrich policy {pol_name!r} "
                    f"(known: {known}) — pass enrich_policies="
                    "{name: {'table', 'match_field', 'enrich_fields'}}"
                )
            lk = pol["table"]
            if isinstance(lk, str):
                if not tables or lk not in tables:
                    raise ValueError(
                        f"ES|QL: enrich policy {pol_name!r} points at "
                        f"unknown index {lk!r}"
                    )
                lk = tables[lk]
            match_field = pol["match_field"]
            if match_field not in lk.columns:
                raise ValueError(
                    f"ES|QL: enrich policy {pol_name!r} match_field "
                    f"{match_field!r} is not a column of its table"
                )
            enrich_fields = list(
                pol.get("enrich_fields")
                or [c for c in lk.columns if c != match_field]
            )
            missing = [f for f in enrich_fields if f not in lk.columns]
            if missing:
                raise ValueError(
                    f"ES|QL: enrich policy {pol_name!r} enrich_fields "
                    f"{missing} are not columns of its table"
                )
            # ON / WITH lex as idents (keyword-ing them would shadow
            # same-named columns elsewhere); match them in place
            def _eat_ident(word: str) -> bool:
                k, v = p.peek()
                if k == "ident" and v.upper() == word:
                    p.i += 1
                    return True
                return False

            on_col = match_field
            if _eat_ident("ON"):
                on_col = _parse_name(p)
            if on_col not in df.columns:
                raise ValueError(
                    f"ES|QL: ENRICH match column {on_col!r} is not a "
                    f"column of the incoming rows"
                )
            if _eat_ident("WITH"):
                selected = []
                while True:
                    n1 = _parse_name(p)
                    if p.peek() == ("op", "="):
                        p.i += 1
                        selected.append((n1, _parse_name(p)))
                    else:
                        selected.append((n1, n1))
                    if p.peek() == ("op", ","):
                        p.i += 1
                        continue
                    break
                bad = [s for _, s in selected if s not in enrich_fields]
                if bad:
                    raise ValueError(
                        f"ES|QL: ENRICH WITH fields {bad} are not in "
                        f"policy {pol_name!r}'s enrich_fields "
                        f"{enrich_fields}"
                    )
            else:
                selected = [(f, f) for f in enrich_fields]
            out_names = [out for out, _ in selected]
            if len(set(out_names)) != len(out_names):
                raise ValueError(
                    f"ES|QL: ENRICH WITH names collide: {out_names}"
                )
            side = lk.select(
                F.col(match_field).alias("__enrich_key"),
                *[F.col(src).alias(out) for out, src in selected],
            )
            df = (
                df.withColumn("__enrich_on", F.col(on_col))
                .drop(*[c for c in df.columns if c in out_names])
                .join(
                    F.broadcast(side),
                    F.col("__enrich_on") == F.col("__enrich_key"),
                    "left",
                )
                .drop("__enrich_on", "__enrich_key")
            )
        else:
            raise ValueError(
                f"ES|QL: unsupported command at {stage[:30]!r}"
            )
        k, v = p.peek()
        if k != "end":
            raise ValueError(
                f"ES|QL: unexpected trailing token {v!r} in "
                f"{stage[:30]!r}"
            )
    return df, series_bounded


def _parse_agg_items(p: _ExprParser) -> list[tuple]:
    """Parse the shared STATS/INLINESTATS aggregate list:
    ``[name =] [ROUND(] AGG(args) [, digits)], ...`` →
    [(name, fn, arg_col_or_None, percentile_q, round_digits), ...]."""

    def item():
        name = None
        k, v = p.peek()
        if k == "ident" and p.toks[p.i + 1] == ("op", "="):
            name = v
            p.i += 2
        k, fnname = p.next()
        wants_round = False
        if k == "ident" and fnname.upper() == "ROUND":
            p.expect_op("(")
            k, fnname = p.next()
            wants_round = True  # digits parsed after the agg closes
        if k != "ident" or fnname.upper() not in _AGG_FNS:
            raise ValueError(
                f"ES|QL: STATS expects an aggregate, got {fnname!r}"
            )
        fn = fnname.upper()
        p.expect_op("(")
        arg, q = None, None
        if fn == "COUNT" and p.peek() == ("op", "*"):
            p.i += 1
            p.expect_op(")")
        else:
            arg = p.expr()
            if fn == "PERCENTILE":
                p.expect_op(",")
                k2, qv = p.next()
                if k2 != "num":
                    raise ValueError(
                        "ES|QL: PERCENTILE(expr, p) needs a numeric p"
                    )
                q = float(qv)
            elif fn == "WEIGHTED_AVG":
                # WEIGHTED_AVG(value, weight) (8.13)
                p.expect_op(",")
                arg = (arg, p.expr())
            elif fn == "TOP":
                # TOP(field, limit, order) (8.16) — literal limit/order
                p.expect_op(",")
                n = p._lit_int_arg("TOP limit")
                if n <= 0:
                    raise ValueError("ES|QL: TOP limit must be positive")
                p.expect_op(",")
                order = p._lit_str_arg("TOP order").upper()
                if order not in ("ASC", "DESC"):
                    raise ValueError(
                        'ES|QL: TOP order must be "ASC" or "DESC", '
                        f"got {order!r}"
                    )
                arg = (arg, n, order)
            p.expect_op(")")
        digits = None
        if wants_round:
            if fn in ("VALUES", "TOP"):
                raise ValueError(
                    f"ES|QL: ROUND cannot wrap the multivalue "
                    f"aggregate {fn}"
                )
            p.expect_op(",")
            # _lit_int_arg handles the unary minus (ROUND(AVG(x), -2));
            # the tokenizer lexes no signed numbers, so a bare next()
            # here rejected negative digits the scalar ROUND accepts
            digits = p._lit_int_arg("ROUND(agg, digits) digits")
            p.expect_op(")")
        # per-aggregate WHERE filter (8.16): the condition gates ONLY
        # this aggregate's input rows — compiled as a conditional
        # argument (agg(CASE WHEN cond THEN x END)), which rides the
        # same single hash aggregation; no extra pass, no second scan
        filt = None
        if p.eat_kw("WHERE"):
            filt = p.expr()
        if name is None:
            raise ValueError(
                "ES|QL: STATS aggregates must be named here "
                "(name = AGG(...)) — engines disagree on default "
                "column names"
            )
        return (name, fn, arg, q, digits, filt)

    items = [item()]
    while p.peek() == ("op", ","):
        p.i += 1
        items.append(item())
    return items


def _agg_column(fn: str, arg, q, filt=None, w=None) -> Column:
    """One aggregate item → a Column. ``filt`` is the per-aggregate
    WHERE condition (8.16), compiled as a conditional argument so it
    rides the same hash aggregation. ``w`` is the INLINESTATS window:
    it must apply to each PRIMITIVE aggregate before post-composition
    (WEIGHTED_AVG's ratio, VALUES/TOP's sort+slice are row-level work
    over the windowed aggregate, not aggregates themselves)."""
    ov = (lambda c: c.over(w)) if w is not None else (lambda c: c)
    gate = (lambda c: F.when(filt, c)) if filt is not None else (
        lambda c: c)
    if fn == "COUNT" and arg is None:
        return ov(F.count(gate(F.lit(1))))
    if fn == "WEIGHTED_AVG":
        # sum(v*w)/sum(w) over rows where BOTH are non-null (the ES
        # null contract: a null value or weight drops the row)
        v, wt = arg
        valid = v.isNotNull() & wt.isNotNull()
        if filt is not None:
            valid = valid & filt
        return ov(F.sum(F.when(valid, v * wt))) / ov(
            F.sum(F.when(valid, wt)))
    if fn == "VALUES":
        # upstream: "order isn't guaranteed" — this engine sorts
        # ascending so results stay oracle-checkable (a legal instance
        # of the unspecified order; documented divergence)
        return F.array_sort(ov(F.collect_list(gate(arg))))
    if fn == "TOP":
        c, n, order = arg
        s = F.array_sort(ov(F.collect_list(gate(c))))
        if order == "DESC":
            s = F.reverse(s)
        return F.slice(s, 1, n)
    a = gate(arg)
    if fn == "PERCENTILE":
        # EXACT interpolated percentile (= DuckDB quantile_cont), vs
        # ES|QL's t-digest: the documented strictly-more-accurate
        # divergence
        return ov(F.percentile(a, F.lit(q / 100.0)))
    if fn == "MEDIAN_ABSOLUTE_DEVIATION":
        # exact MAD (upstream: t-digest estimate) — shared with the
        # aggs front-end's metric; one sorted-array aggregate

        return mad_expr(a.cast("double"), ov=ov)
    return ov({
        "COUNT": lambda x: F.count(x),
        "COUNT_DISTINCT": lambda x: F.count_distinct(x),
        "SUM": F.sum, "AVG": F.avg, "MIN": F.min, "MAX": F.max,
        "MEDIAN": lambda x: F.percentile(x, F.lit(0.5)),
        # population std-dev, the same basis as ES extended_stats'
        # std_deviation (Welford-accumulated upstream)
        "STD_DEV": F.stddev_pop,
    }[fn](a))


def _finish_agg(col: Column, fn: str, digits: int | None) -> Column:
    """The shared aggregate finisher: counts -> BIGINT (hash-stable
    across engines), then the optional ROUND(agg, digits) wrapper."""
    if fn in ("COUNT", "COUNT_DISTINCT"):
        col = col.cast("bigint")
    if digits is not None:
        col = F.round(col, digits)
    return col


def _stats(df: DataFrame, p: _ExprParser) -> DataFrame:
    aggs = []
    for name, fn, arg, q, digits, filt in _parse_agg_items(p):
        col = _finish_agg(_agg_column(fn, arg, q, filt), fn, digits)
        aggs.append(col.alias(name))
    keys = []
    if p.eat_kw("BY"):
        while True:
            name = None
            k, v = p.peek()
            if k == "ident" and p.toks[p.i + 1] == ("op", "="):
                name = v
                p.i += 2
            c = p.expr()
            keys.append(c.alias(name) if name else c)
            if p.peek() == ("op", ","):
                p.i += 1
                continue
            break
    if keys:
        return df.groupBy(*keys).agg(*aggs)
    return df.agg(*aggs)


def _inlinestats(df: DataFrame, p: _ExprParser) -> DataFrame:
    """INLINESTATS (ES 8.16 preview): like STATS, but the aggregates are
    APPENDED to every row instead of collapsing the stream.

    Compile, by form:

    * ``BY keys`` → window aggregates over ``partitionBy(keys)`` — ONE
      hash-partition exchange on the grouping keys, no join, no second
      scan. COUNT_DISTINCT compiles to ``size(collect_set())`` over the
      window (Spark windows refuse DISTINCT aggregates; the set is
      bounded by per-group cardinality, the same bound the hash-agg
      form carries).
    * no BY → the aggregates collapse to ONE row which broadcast-cross-
      joins back onto the stream (the engine's standard scalar-totals
      idiom: dsir_sample, vocab_top_tokens, ...) — the stream itself
      never shuffles.

    Same-named existing columns are overridden (the ES collision rule,
    shared with LOOKUP JOIN)."""
    items = _parse_agg_items(p)
    keys = []
    if p.eat_kw("BY"):
        while True:
            k, v = p.peek()
            if k == "ident" and p.toks[p.i + 1] == ("op", "="):
                raise ValueError(
                    "ES|QL: INLINESTATS BY takes plain expressions "
                    "(named keys are only supported in STATS here)"
                )
            keys.append(p.expr())
            if p.peek() == ("op", ","):
                p.i += 1
                continue
            break
    new_names = {name for name, *_ in items}
    if keys:
        w = Window.partitionBy(*keys)
        # ONE select from the INPUT relation: every aggregate reads the
        # pre-command columns (the ES contract — sequential withColumn
        # would let `INLINESTATS h = AVG(h), mx = MAX(h)` feed the
        # already-overwritten h into MAX), and same-named existing
        # columns are overridden in the same step
        appended = []
        for name, fn, arg, q, digits, filt in items:
            if fn == "COUNT_DISTINCT":
                # Spark windows refuse DISTINCT aggregates; the set is
                # bounded by per-group cardinality (same bound as the
                # hash-agg form). The per-agg WHERE gates the argument
                # (collect_set skips the NULLed-out rows).
                a = F.when(filt, arg) if filt is not None else arg
                col = F.size(F.collect_set(a).over(w)).cast("bigint")
                if digits is not None:
                    col = F.round(col, digits)
            else:
                col = _finish_agg(_agg_column(fn, arg, q, filt, w),
                                  fn, digits)
            appended.append(col.alias(name))
        return df.select(
            *[c for c in df.columns if c not in new_names], *appended
        )
    aggs = [
        _finish_agg(_agg_column(fn, arg, q, filt), fn, digits).alias(name)
        for name, fn, arg, q, digits, filt in items
    ]
    clash = [c for c in df.columns if c in new_names]
    return df.drop(*clash).crossJoin(F.broadcast(df.agg(*aggs)))
