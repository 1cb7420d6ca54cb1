"""Search-query layer: the ES-DSL analogue as DataFrame plans (SURVEY §2.7).

The reference's one query language beyond SQL is the Elasticsearch DSL; its
showcase query (/root/reference/src/used_queries/elastic_queries.json:1-46)
composes ``function_score`` → ``bool`` with a weighted ``should`` (nested
match) and a non-scoring ``filter`` (two ranges + a nested exists). This
module re-expresses that surface as a small query tree that compiles to

    df.filter(<mandatory predicates>)
      .withColumn(score, <sum of matched should-weights>)
      .orderBy(desc(score), tiebreak).limit(k)

Scatter-gather-merge over shards (SURVEY §3.3) maps to Spark's
``TakeOrderedAndProject``: per-partition top-k, then a merge on the driver —
the same plan shape Lucene executes, for free, at any partition count.

**Every node renders SQL text.** A node's ``predicate_sql`` and
``score_sql`` return one SQL fragment each, built from its children's
fragments; ``search()`` parses the tree's predicate and its score once
each with ``F.expr``. Building the same expressions from Column calls
costs Py4J round trips per node (115 commands for the reference request,
284 for a BM25 ``multi_match``; ~37 once parsed from text) while
Catalyst sees the same expression tree either way. Field references are
rendered by a resolver, a function from a field path to a SQL reference:
``col_sql`` at row scope, a lambda variable's field inside ``nested``.
Request-supplied names go through ``col_sql`` and values through
``lit_sql``/``double_sql`` (functions/vectors.py), so no field name or
query text can read as SQL syntax. ``predicate(spark)``/``score(spark)``
parse a node's fragment into a Column for callers that compose Columns.

Inline analysis is the one thing SQL text cannot name: the analyzers are
Arrow UDFs. ``search()`` materializes each inline-analyzed (field,
analyzer) pair as one pinned token column (``bind_analyzed_tokens``) and
rebinds the tree to read it before rendering; ``predicate``/``score``
bind it as a field of one struct that the parsed fragment reads through a
SQL lambda. Inside a ``nested`` scope neither applies: a text match there
needs a token column.

Scoring fidelity (SURVEY §7 risk 4): the default implements exactly what
the reference exercises — constant ``weight`` per should-clause
(elastic_queries.json:20), keyword equality inside ``nested`` scopes
(domain.name is a keyword field, mapping.json:77), analyzed token-overlap
for text fields. Real relevance is ``BM25Match``, the one BM25 node:
Okapi BM25 over one or more weighted materialized token columns — one for
``match``, several for the ``combined_fields`` pseudo-field — priced by
one statistics contract, ``bm25_stats`` behind a ``(columns, analyzer,
text)`` provider (corpus- or index-backed). ``bm25_bound`` is the one
place that chooses BM25 over token overlap for a clause; the JSON DSL
(``from_es_json(..., bm25_stats_for=...)``) and the ES-SQL / ES|QL
``MATCH`` builder both ask it, so bound ``match``/``multi_match`` clauses
score with BM25 — what ES does implicitly for text fields — while the
reference artifact's tree stays byte-identical. ``multi_match`` has no
node of its own: its legs combine through ``DisMax`` (best_fields) or a
score-summing ``Bool`` (most_fields), over BM25 or overlap legs alike;
``Match`` and ``BM25Match`` share one and/or/minimum_should_match gate.

Match semantics for text fields mirror ES's two-sided analysis: the query
string is analyzed with the target field's analyzer at query time
(``analyze_text``) and compared against the field's index-time token column
(``materialize_tokens``) or a bound inline analysis — token overlap =
match. At 100 TB: materialize token columns at ingest; the match then
compiles to ``arrays_overlap(tokens_col, array(<query tokens>))``, a
codegen'd expression with full predicate pushdown on the non-analyzed
filters next to it.
"""

from __future__ import annotations

import base64
import dataclasses
import itertools
import json
import math
import re
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tweets_elastic_spark.functions.analyzers import (
    analyze,
    analyze_text,
    pin_computed,
)
from tweets_elastic_spark.functions.vectors import (
    col_sql,
    cosine,
    double_sql,
    lit_sql,
    vec_sql,
)

# A resolver maps a field path ("author.following_count", "domain.name")
# to its SQL reference: ``col_sql`` at row scope, a lambda variable's
# field inside a nested-array scope.
Resolver = Callable[[str], str]

def _element_ref(path: str) -> str:
    """``path`` inside a nested scope: a field of the element ``__el``."""
    return f"__el.{col_sql(path)}"


def _fold(op: str, parts) -> str:
    """``parts`` joined by the binary ``op``, left-associated and
    parenthesized — the tree the same chain of Column operators builds."""
    parts = list(parts)
    out = parts[0]
    for p in parts[1:]:
        out = f"({out} {op} {p})"
    return out


def _case(cond: str, then: str, otherwise: str = "0.0D") -> str:
    return f"CASE WHEN {cond} THEN {then} ELSE {otherwise} END"


def _array_sql(values) -> str:
    return "array(" + ", ".join(lit_sql(v) for v in values) + ")"


def _in_sql(ref: str, values) -> str:
    if not values:
        return "false"
    return f"({ref} IN (" + ", ".join(lit_sql(v) for v in values) + "))"


def _positions_sql(ts: str, hit) -> str:
    """The positions of ``ts`` (a token-array fragment) whose token
    satisfies ``hit(x)``, in order."""
    return (f"filter(transform({ts}, (__x, __i) -> "
            f"{_case(hit('__x'), '__i', '-1')}), __p -> (__p >= 0))")


def _bind_once(value: str, var: str, body: str) -> str:
    """``body`` with ``var`` bound to ``value`` evaluated once (Catalyst
    does not CSE repeated subtrees)."""
    return f"element_at(transform(array({value}), {var} -> {body}), 1)"


@dataclass
class Query:
    """Base node. ``predicate_sql`` = does the row/element match
    (non-scoring); ``score_sql`` = the clause's score contribution when
    matched. Both return one SQL fragment; ``predicate``/``score`` parse it
    (nodes render SQL and never override those two).

    ``CONSTANT_SCORE`` marks clauses whose score is 1.0 whenever they match
    (the reference only exercises constant ``weight`` scoring,
    elastic_queries.json:20). Bool's score exploits it to evaluate such
    clauses' predicates ONCE instead of predicate+score — Catalyst does
    not CSE the duplicated expression trees. Scoring nodes set
    CONSTANT_SCORE = False."""

    CONSTANT_SCORE = True

    def predicate_sql(self, spark: SparkSession, ref: Resolver) -> str:
        raise NotImplementedError

    def score_sql(self, spark: SparkSession, ref: Resolver) -> str:
        return _case(self.predicate_sql(spark, ref), "1.0D")

    def predicate(self, spark: SparkSession) -> Column:
        return self._parse(spark, "predicate_sql")

    def score(self, spark: SparkSession) -> Column:
        return self._parse(spark, "score_sql")

    def _parse(self, spark, render: str) -> Column:
        """The node's ``render`` fragment parsed into one Column. An inline
        analysis (no SQL name) is bound once per (field, analyzer) as a
        field of one struct, and the fragment reads it through a SQL
        lambda over that struct; ``search()`` binds it as a pinned column
        instead (``bind_analyzed_tokens``)."""
        helpers: dict[tuple[str, str], str] = {}
        tree = _rebind_analyzed(
            self, lambda f, a: helpers.setdefault((f, a), f"__toks{len(helpers)}"))
        if not helpers:
            return F.expr(getattr(self, render)(spark, col_sql))
        names = set(helpers.values())
        body = getattr(tree, render)(
            spark, lambda p: f"__h.{col_sql(p)}" if p in names else col_sql(p))
        struct = F.struct(*[analyze(F.expr(col_sql(f)), a).alias(name)
                            for (f, a), name in helpers.items()])
        return F.element_at(
            F.call_function("transform", F.array(struct), F.expr(f"__h -> {body}")), 1)


def _tokens_sql(node, ref: Resolver) -> str:
    """The token array a text node reads: its materialized or bound
    ``tokens_col``."""
    if node.tokens_col is None:
        raise ValueError(
            f"inline analysis of {node.field!r} ({node.analyzer}) has no SQL "
            "name and is bound at row scope only: pass a tokens_col"
        )
    return ref(node.tokens_col)


@dataclass
class MatchAll(Query):
    """Q8 (docs/protokol.md:545-550): the identity."""

    def predicate_sql(self, spark, ref) -> str:
        return "true"


@dataclass
class MatchNone(Query):
    """ES ``match_none``: the empty set — match_all's inverse (the
    placeholder ES template-built queries compile to when every optional
    clause is absent)."""

    def predicate_sql(self, spark, ref) -> str:
        return "false"


@dataclass
class Term(Query):
    """Exact keyword equality (non-analyzed string fields, SURVEY §1.3)."""

    field: str
    value: object

    def predicate_sql(self, spark, ref) -> str:
        return f"({ref(self.field)} = {lit_sql(self.value)})"


@dataclass
class Match(Query):
    """Q5: analyzed full-text match. With ``analyzer=None`` the field is a
    keyword → equality (exactly what the reference query needs for
    ``context_annotations.domain.name`` = "Person"). With an analyzer, the
    query text is analyzed at query time and matched against ``tokens_col``
    (materialized, or bound by ``bind_analyzed_tokens``). ES's match
    options:

    * ``operator="or"`` (default): any query token present — arrays_overlap.
    * ``operator="and"``: EVERY query token present — a conjunction of
      array_contains (each a codegen'd expression; no HOF loop).
    * ``minimum_should_match=n``: at least n query tokens present — the
      middle ground, a sum of matched-token indicators.
    * ``fuzziness`` (int or "AUTO", per-term tiering like the fuzzy query):
      a query token matches any FIELD token within that edit distance — an
      ``exists(tokens, levenshtein ≤ d)`` HOF per query term, scan-local
      (no shuffle; O(tokens · terms) per row). At index scale the faster
      route is the stored term dictionary: expand each fuzzy term against
      the bounded vocabulary driver-side (Lucene's Levenshtein-automaton
      walk re-expressed), then match exactly — see
      queries/search_q.fuzzy_expand.
    """

    field: str
    text: str
    analyzer: str | None = None
    tokens_col: str | None = None
    operator: str = "or"
    minimum_should_match: int = 0
    fuzziness: object = None

    def predicate_sql(self, spark, ref) -> str:
        _check_operator(self.operator)
        if self.analyzer is None:
            return f"({ref(self.field)} = {lit_sql(self.text)})"
        query_tokens = analyze_text(spark, self.text, self.analyzer)
        if not query_tokens:
            return "false"
        ft = _tokens_sql(self, ref)

        def contains(t: str) -> str:
            d = 0 if self.fuzziness is None else Fuzzy(
                self.field, t, fuzziness=self.fuzziness).max_edits()
            if d == 0:
                return f"array_contains({ft}, {lit_sql(t)})"
            return f"exists({ft}, __x -> (levenshtein(__x, {lit_sql(t)}) <= {d}))"

        overlap = (f"arrays_overlap({ft}, {_array_sql(query_tokens)})"
                   if self.fuzziness is None else None)
        return _token_gate(contains, query_tokens, self.operator,
                           self.minimum_should_match, overlap)


def _check_operator(operator: str) -> None:
    if operator not in ("or", "and"):
        raise ValueError(f"match operator must be 'or'/'and', got {operator!r}")


def _token_gate(contains, tokens: list[str], operator: str,
                minimum_should_match: int, overlap: str | None = None) -> str:
    """The candidate gate of a text match over its analyzed query tokens,
    shared by ``Match`` and ``BM25Match`` (ES: the match options pick the
    candidate set; BM25 then scores it). ``contains(t)`` is the per-token
    predicate:

    * ``operator="and"``: every token present — a conjunction;
    * ``minimum_should_match=n`` (n > 1): at least n tokens present — a
      sum of matched-token indicators;
    * ``operator="or"``: any token present — ``overlap`` when the caller
      has one expression for it (``arrays_overlap`` over one token
      column), else a disjunction."""
    if operator == "and":
        return _fold("AND", (contains(t) for t in tokens))
    if minimum_should_match > 1:
        matched = _fold("+", ["0"] + [f"CAST({contains(t)} AS INT)" for t in tokens])
        return f"({matched} >= {int(minimum_should_match)})"
    if overlap is not None:
        return overlap
    return _fold("OR", (contains(t) for t in tokens))


@dataclass
class Terms(Query):
    """ES ``terms``: keyword membership in a literal list (the multi-value
    Term). Compiles to an IN-list the scan can push down."""

    field: str
    values: list

    def predicate_sql(self, spark, ref) -> str:
        return _in_sql(ref(self.field), list(self.values))


@dataclass
class TermsSet(Query):
    """ES ``terms_set``: like ``terms`` over a multi-valued field, but a
    document matches only when at least N of the supplied terms are
    present — N being either a constant (``minimum_should_match``) or a
    PER-DOCUMENT numeric field (``minimum_should_match_field``, ES's
    required_matches pattern: each doc declares how many of its terms are
    mandatory). Compiles to a sum of array_contains indicators compared
    against the bound — codegen'd conjunction arithmetic riding the scan,
    no HOF loop, fully oracle-able (sum of list_contains CASEs)."""

    field: str
    terms: list
    minimum_should_match: int | None = None
    minimum_should_match_field: str | None = None

    def predicate_sql(self, spark, ref) -> str:
        if not self.terms:
            raise ValueError("terms_set needs a non-empty terms list")
        if (self.minimum_should_match is None) == (
            self.minimum_should_match_field is None
        ):
            raise ValueError(
                "terms_set needs exactly one of minimum_should_match / "
                "minimum_should_match_field"
            )
        arr = ref(self.field)
        matched = _fold("+", ["0"] + [
            f"CAST(array_contains({arr}, {lit_sql(t)}) AS INT)" for t in self.terms
        ])
        if self.minimum_should_match_field is not None:
            bound = ref(self.minimum_should_match_field)
        else:
            bound = str(int(self.minimum_should_match))
        return f"({matched} >= {bound})"


def _like_escape(s: str) -> str:
    return s.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")


@dataclass
class Prefix(Query):
    """ES ``prefix``: keyword starts-with. Compiles to ``LIKE 'p%'`` (the
    form range-index pruning understands on both engines)."""

    field: str
    value: str

    def predicate_sql(self, spark, ref) -> str:
        return f"({ref(self.field)} LIKE {lit_sql(_like_escape(self.value) + '%')})"


@dataclass
class Wildcard(Query):
    """ES ``wildcard``: ``*`` = any run, ``?`` = any one char, translated to
    SQL LIKE (``%``/``_``) with the target's own LIKE specials escaped —
    identical semantics in Spark and DuckDB, so fully oracle-able."""

    field: str
    pattern: str

    def predicate_sql(self, spark, ref) -> str:
        like = _like_escape(self.pattern).replace("*", "%").replace("?", "_")
        return f"({ref(self.field)} LIKE {lit_sql(like)})"


@dataclass
class Regexp(Query):
    """ES ``regexp``: anchored regular-expression match on a keyword field.
    Lucene regexps implicitly match the ENTIRE term (no ^/$ anchors), so
    the pattern compiles to ``rlike('^(?:pat)$')``. The supported surface
    is Lucene's CORE operator set — ``. ? + * | ( ) [ ] { }`` plus
    literals and escapes — which Java regex (Spark) and PCRE-ish RE2-style
    engines (DuckDB ``regexp_full_match``) interpret identically, so the
    node is fully oracle-able. Lucene's OPTIONAL operators (``~`` negation,
    ``&`` intersection, ``<>`` numeric interval, ``@`` any-string) have no
    Java-regex equivalent and are rejected loudly rather than silently
    mis-matched."""

    field: str
    pattern: str

    def _translate(self) -> str:
        """Validate against Lucene's optional operators and translate the
        core syntax to Java/RE2 regex: ``^`` and ``$`` are LITERALS in
        Lucene (its match is always whole-term), so they are escaped —
        except ``^`` directly after ``[``, which both dialects read as
        class negation."""
        out = []
        i, n = 0, len(self.pattern)
        in_class = False
        while i < n:
            c = self.pattern[i]
            if c == "\\":
                out.append(self.pattern[i:i + 2])
                i += 2
                continue
            if not in_class and c in "~&@<>":
                raise ValueError(
                    f"regexp pattern {self.pattern!r} uses Lucene optional "
                    f"operator {c!r} (negation/intersection/interval/"
                    "any-string), which has no portable regex equivalent; "
                    "rewrite with core operators"
                )
            if c == "[":
                in_class = True
                out.append(c)
            elif c == "]" and in_class:
                in_class = False
                out.append(c)
            elif c == "^" and not (
                in_class and out and out[-1] == "["
            ):
                out.append("\\^")
            elif c == "$":
                out.append("\\$")
            else:
                out.append(c)
            i += 1
        return "".join(out)

    def predicate_sql(self, spark, ref) -> str:
        return f"({ref(self.field)} RLIKE {lit_sql('^(?:' + self._translate() + ')$')})"


@dataclass
class Fuzzy(Query):
    """ES ``fuzzy``: keyword match within bounded Levenshtein edit distance.
    ``fuzziness`` is an int or ``"AUTO"`` (ES's tiering: 0 edits for terms
    of ≤2 chars, 1 for 3–5, 2 for ≥6). Compiles to the built-in
    ``levenshtein(field, lit) <= d`` — a codegen'd JVM expression DuckDB
    mirrors verbatim (``levenshtein``), so the node is fully oracle-able.
    Lucene's fuzzy machinery is a Levenshtein AUTOMATON over the term
    dictionary — an index-side optimization of the same predicate; at scale
    the materialized term dictionary (indexing.build_term_dict) bounds the
    distinct-value side exactly like Lucene's."""

    field: str
    value: str
    fuzziness: object = "AUTO"

    def max_edits(self) -> int:
        if isinstance(self.fuzziness, str):
            if self.fuzziness.upper() != "AUTO":
                raise ValueError(
                    f"fuzziness must be an int or 'AUTO', got {self.fuzziness!r}"
                )
            n = len(self.value)
            return 0 if n <= 2 else (1 if n <= 5 else 2)
        return int(self.fuzziness)

    def predicate_sql(self, spark, ref) -> str:
        d = self.max_edits()
        if d == 0:
            return f"({ref(self.field)} = {lit_sql(self.value)})"
        return f"(levenshtein({ref(self.field)}, {lit_sql(self.value)}) <= {d})"


@dataclass
class Ids(Query):
    """ES ``ids``: document-key membership. ES resolves ``_id`` metadata;
    this engine binds it to the corpus id column (``from_es_json``'s
    ``id_field``, default ``doc_id``) — an IN-list the scan pushes down."""

    values: list
    id_field: str = "doc_id"

    def predicate_sql(self, spark, ref) -> str:
        return _in_sql(ref(self.id_field), list(self.values))


@dataclass
class MatchPhrase(Query):
    """ES ``match_phrase``: the query's analyzed tokens must appear
    CONSECUTIVELY in the field's token sequence. Without positional
    postings (Lucene's phrase machinery), the exact equivalent over a token
    array is substring containment in the NUL-joined token stream:

        instr(0x00 || join(tokens, 0x00) || 0x00,
              0x00 || join(phrase, 0x00) || 0x00) > 0

    — one codegen'd string op per row, no HOF loop, and DuckDB mirrors it
    verbatim (array_to_string + position), so the node is oracle-able.
    Analyzer tokens never contain NUL (the tokenizers split on it)."""

    field: str
    text: str
    analyzer: str
    tokens_col: str | None = None
    slop: int = 0

    def predicate_sql(self, spark, ref) -> str:
        phrase = analyze_text(spark, self.text, self.analyzer)
        if not phrase:
            return "false"
        toks = _tokens_sql(self, ref)
        if self.slop:
            return self._sloppy_sql(phrase, toks)
        nul = lit_sql("\x00")
        hay = f"concat({nul}, array_join({toks}, {nul}), {nul})"
        needle = "\x00" + "\x00".join(phrase) + "\x00"
        return f"(instr({hay}, {lit_sql(needle)}) > 0)"

    def _sloppy_sql(self, phrase: list[str], toks: str) -> str:
        """Sloppy phrase (ES match_phrase slop), Lucene's semantics
        (SloppyPhraseMatcher): each phrase slot's document positions are
        ADJUSTED by its phrase offset (p - q); the phrase matches iff some
        assignment of DISTINCT document positions (Lucene's rule for
        repeated terms) - one per slot - has

            max(adjusted) - min(adjusted) <= slop

        - the "matchLength" Lucene sweeps for, equal to the number of
        position-moves to edit the document arrangement into the query's
        (a transposition of adjacent terms costs 2: gap + 1). Expressed
        scan-locally: the optimal window starts AT one of the adjusted
        positions (anchor a); slot (t, q) may then use any p in
        P(t) ∩ [a+q, a+q+slop]. Distinctness across DISTINCT tokens is
        automatic (one token per position); within a token repeated at
        offsets q_1<...<q_m, a system of distinct representatives for the
        equal-length candidate intervals exists iff Hall's condition holds
        on every CONTIGUOUS offset range (sufficient for equal-length
        sorted intervals: any overlap-connected subset of slots is bounded
        by the count over its hull range):

            |P(t) ∩ ∪_{k in [i,j]} [a+q_k, a+q_k+slop]| >= j-i+1

        - sum of m_t(m_t+1)/2 size(filter(...)) checks, all scan-local HOFs
        over position arrays, no shuffle. For all-distinct phrases (every
        m_t = 1) this reduces to one window-membership exists per term.
        The token array is bound once, and so are the per-term position
        arrays (as one struct) before the anchor sweep references them
        n + Σ m_t(m_t+1)/2 times each."""
        slop = int(self.slop)
        offsets: dict[str, list[int]] = {}
        for q, t in enumerate(phrase):
            offsets.setdefault(t, []).append(q)
        terms = list(offsets)
        pos_struct = "struct(" + ", ".join(
            _positions_sql("__ts", lambda x, t=t: f"({x} = {lit_sql(t)})") + f" AS p{i}"
            for i, t in enumerate(terms)
        ) + ")"
        pos_by_term = {t: f"__ps.p{i}" for i, t in enumerate(terms)}
        starts = "flatten(array(" + ", ".join(
            f"transform({pos_by_term[t]}, __q -> (__q - {q}))"
            for t, qs in offsets.items() for q in qs
        ) + "))"
        conds = []
        for t, qs in offsets.items():
            pt = pos_by_term[t]
            for i in range(len(qs)):
                for j in range(i, len(qs)):
                    need = j - i + 1
                    member = _fold("OR", (
                        f"((__m >= (__a + {q})) AND (__m <= (__a + {q + slop})))"
                        for q in qs[i:j + 1]
                    ))
                    conds.append(
                        f"exists({pt}, __m -> {member})" if need == 1
                        else f"(size(filter({pt}, __m -> {member})) >= {need})"
                    )
        sweep = f"exists({starts}, __a -> {_fold('AND', conds)})"
        return _bind_once(toks, "__ts", _bind_once(pos_struct, "__ps", sweep))


@dataclass
class Intervals(Query):
    """ES ``intervals`` query (the general positional front-end the
    sloppy-phrase machinery specializes): the field's analyzed token
    stream must contain an interval satisfying the rule tree.

    Supported rules (the ones ES's docs lead with; the rest raise):

    * ``match``: the rule's analyzed terms all occur within one interval.
      ``max_gaps`` (default -1 = unlimited) bounds the number of
      non-matching positions INSIDE the interval: an interval of width w
      containing the n terms has w - n gaps. ``ordered`` (default false)
      additionally requires the terms at strictly increasing positions in
      query order (Lucene's non-overlapping ordered-interval rule).
    * ``any_of``: OR over sub-rules.
    * ``all_of`` (documented subset): composition of CONTIGUOUS
      children — each child a ``match`` that is a single term or
      carries ``max_gaps: 0`` (a phrase). One occurrence per child,
      non-overlapping, with the composed interval's gaps — span width
      minus the children's combined width, Lucene's ``gaps()`` —
      bounded by ``max_gaps``. ``ordered: true`` requires each child
      strictly after the previous child's end; UNORDERED is exact for
      <= 4 children by ORing the ordered chain over every child
      permutation (ES's all_of intervals must
      not overlap, so any valid assignment sorts into some
      permutation). This is the multi-phrase proximity query ("'vector
      merge' … then 'order', near"). Gappy (variable-width) children
      still raise loudly: their minimal-interval enumeration has no
      bounded scan-local form here.

    Evaluation is scan-local HOFs over per-term position arrays — no
    shuffle, no UDF — reusing the bind-once discipline of the sloppy
    phrase (plans/search.py MatchPhrase.slop):

    * unordered: a valid assignment of distinct positions with
      max-min+1-n <= max_gaps exists iff SOME window [a, a+n+max_gaps-1]
      anchored at a term position contains every term with multiplicity
      (|P(t) ∩ W| >= m_t — Hall's condition is this simple here because
      all of a repeated term's slots share one candidate window).
    * ordered: anchor at each position of the first query term, then
      greedily take the smallest next position of each following term
      (earliest-next minimizes the interval end for a fixed start, so
      greedy is exact); check width at the end.
    """

    field: str
    rule: dict
    analyzer: str
    tokens_col: str | None = None

    _RULE_KINDS = ("match", "any_of", "all_of", "prefix", "wildcard")

    def __post_init__(self):
        self._validate(self.rule)

    @classmethod
    def _validate(cls, rule) -> None:
        if not isinstance(rule, dict) or len(rule) != 1:
            raise ValueError(
                "intervals rule must be a single-key object, got "
                f"{rule!r}"
            )
        (kind, body), = rule.items()
        if kind in ("prefix", "wildcard"):
            # unit-width rules: one token position per match. The
            # prefix/pattern is lowercased to meet the lowercase-bearing
            # analyzers' token stream (ES normalizes through the
            # analyzer chain); ``use_field`` (a DIFFERENT field's token
            # stream) is out of scope and rejected loudly.
            want = "prefix" if kind == "prefix" else "pattern"
            if not isinstance(body, dict) or want not in body:
                raise ValueError(
                    f"intervals {kind} needs {{'{want}': ...}}"
                )
            check_keys(body, {want}, f"intervals {kind}")
            if not isinstance(body[want], str) or not body[want]:
                raise ValueError(
                    f"intervals {kind}.{want} must be a non-empty string"
                )
            return
        if kind == "match":
            if not isinstance(body, dict) or "query" not in body:
                raise ValueError("intervals match needs {'query': ...}")
            check_keys(body, {"query", "max_gaps", "ordered", "analyzer"},
                       "intervals match")
            if int(body.get("max_gaps", -1)) < -1:
                raise ValueError("intervals max_gaps must be >= -1")
        elif kind == "any_of":
            if (not isinstance(body, dict) or set(body) != {"intervals"}
                    or not isinstance(body["intervals"], list)
                    or not body["intervals"]):
                raise ValueError(
                    "intervals any_of needs {'intervals': [rule, ...]}"
                )
            for sub in body["intervals"]:
                cls._validate(sub)
        elif kind == "all_of":
            check_keys(body, {"intervals", "max_gaps", "ordered"}, "intervals all_of")
            subs = body.get("intervals")
            if not isinstance(subs, list) or not subs:
                raise ValueError(
                    "intervals all_of needs {'intervals': [rule, ...]}"
                )
            if not body.get("ordered") and len(subs) > 4:
                raise ValueError(
                    "unordered all_of supports at most 4 children (the "
                    "exact evaluation ORs the ordered chain over child "
                    "permutations — 4! = 24 is the expression-size cap)"
                )
            if int(body.get("max_gaps", -1)) < -1:
                raise ValueError("intervals max_gaps must be >= -1")
            for sub in subs:
                if not (isinstance(sub, dict) and len(sub) == 1
                        and next(iter(sub)) in ("match", "prefix",
                                                "wildcard")):
                    raise ValueError(
                        "all_of children must be match/prefix/wildcard "
                        f"rules (got {sub!r})"
                    )
                cls._validate(sub)
        else:
            raise ValueError(
                f"unsupported intervals rule {kind!r} "
                f"(supported: {list(cls._RULE_KINDS)})"
            )

    def predicate_sql(self, spark, ref) -> str:
        # bind the analyzed token array ONCE (Catalyst does not CSE)
        return _bind_once(_tokens_sql(self, ref), "__ts",
                          self._compile(spark, "__ts", self.rule))

    def _compile(self, spark, ts: str, rule: dict) -> str:
        (kind, body), = rule.items()
        if kind == "any_of":
            return _fold("OR", (self._compile(spark, ts, sub)
                                for sub in body["intervals"]))
        if kind == "all_of":
            return self._compile_all_of(spark, ts, body)
        if kind in ("prefix", "wildcard"):
            return f"(size({self._unit_positions(ts, kind, body)}) > 0)"
        # match
        tokens = analyze_text(
            spark, body["query"], body.get("analyzer", self.analyzer)
        )
        if not tokens:
            return "false"
        n = len(tokens)
        max_gaps = int(body.get("max_gaps", -1))
        ordered = bool(body.get("ordered", False))
        terms = list(dict.fromkeys(tokens))
        mult = {t: tokens.count(t) for t in terms}
        pos_struct = "struct(" + ", ".join(
            _positions_sql(ts, lambda x, t=t: f"({x} = {lit_sql(t)})") + f" AS p{i}"
            for i, t in enumerate(terms)
        ) + ")"
        pos_by_term = {t: f"__ps.p{i}" for i, t in enumerate(terms)}
        if ordered:
            # anchor at each position of the first query term, then take
            # the smallest next position of each following term
            p = "__a"
            for k, t in enumerate(tokens[1:]):
                p = f"array_min(filter({pos_by_term[t]}, __y{k} -> (__y{k} > {p})))"
            ok = "(__pn IS NOT NULL)"
            if max_gaps >= 0:
                ok = f"({ok} AND ((((__pn - __a) + 1) - {n}) <= {max_gaps}))"
            # bind the chain's end once (it is referenced twice)
            chain = _bind_once(p, "__pn", ok)
            sweep = f"coalesce(exists({pos_by_term[tokens[0]]}, __a -> {chain}), false)"
        elif max_gaps < 0:
            sweep = _fold("AND", (f"(size({pos_by_term[t]}) >= {mult[t]})"
                                  for t in terms))
        else:
            width = n + max_gaps
            starts = "flatten(array(" + ", ".join(pos_by_term[t] for t in terms) + "))"
            window = _fold("AND", (
                f"(size(filter({pos_by_term[t]}, __m -> ((__m >= __a) AND "
                f"(__m <= (__a + {width - 1}))))) >= {mult[t]})"
                for t in terms
            ))
            sweep = f"coalesce(exists({starts}, __a -> {window}), false)"
        return _bind_once(pos_struct, "__ps", sweep)

    def _unit_positions(self, ts: str, kind: str, body: dict) -> str:
        """Token positions matching a unit-width (single-position) rule:
        ``prefix`` = tokens starting with the (lowercased) prefix,
        ``wildcard`` = tokens matching the (lowercased) ``*``/``?``
        pattern as an anchored regex — one scan-local HOF, no UDF."""
        if kind == "prefix":
            lit = lit_sql(body["prefix"].lower())
            return _positions_sql(ts, lambda x: f"startswith({x}, {lit})")
        rx = "".join(
            ".*" if ch == "*" else "." if ch == "?" else re.escape(ch)
            for ch in body["pattern"].lower()
        )
        return _positions_sql(ts, lambda x: f"({x} RLIKE {lit_sql('^' + rx + '$')})")

    def _compile_all_of(self, spark, ts: str, body: dict) -> str:
        """Ordered all_of over contiguous children: each child's
        occurrence-start array is one scan-local expression (positions s
        where slice(ts, s+1, n_c) equals the child's token literal;
        prefix/wildcard children are unit-width position filters); the
        anchor sweep greedily takes each following child's earliest start
        strictly after the previous child's end (earliest-next minimizes
        the composed end for a fixed anchor ⇒ exact), then bounds
        gaps = span width − Σ child widths."""
        max_gaps = int(body.get("max_gaps", -1))
        children: list[tuple[str, object]] = []
        for sub in body["intervals"]:
            (ckind, cbody), = sub.items()
            if ckind in ("prefix", "wildcard"):
                children.append((ckind, cbody))
                continue
            mbody = cbody
            toks = analyze_text(
                spark, mbody["query"], mbody.get("analyzer", self.analyzer)
            )
            if not toks:
                return "false"
            if len(toks) > 1 and int(mbody.get("max_gaps", -1)) != 0:
                raise ValueError(
                    "all_of children must be contiguous: a multi-term "
                    f"child needs max_gaps: 0 (got {mbody!r})"
                )
            if mbody.get("ordered") not in (None, True) and len(toks) > 1:
                # a contiguous (max_gaps=0) match is inherently ordered
                raise ValueError(
                    "all_of children with max_gaps: 0 are ordered by "
                    "construction; ordered: false is contradictory"
                )
            children.append(("match", toks))
        widths = [1 if k != "match" else len(p) for k, p in children]
        total_w = sum(widths)
        n_doc = f"size({ts})"

        def starts_of(ctoks: list[str]) -> str:
            nc = len(ctoks)
            hits = (f"filter(transform(sequence(0, ({n_doc} - {nc})), __s -> "
                    f"{_case(f'(slice({ts}, (__s + 1), {nc}) = {_array_sql(ctoks)})', '__s', '-1')}"
                    "), __p -> (__p >= 0))")
            return _case(f"({n_doc} >= {nc})", hits, "CAST(array() AS ARRAY<INT>)")

        starts_struct = "struct(" + ", ".join(
            (starts_of(p) if k == "match" else self._unit_positions(ts, k, p))
            + f" AS c{i}"
            for i, (k, p) in enumerate(children)
        ) + ")"

        # unordered: ES all_of intervals must not overlap, so a valid
        # any-order assignment exists iff SOME permutation chains in
        # order — OR the ordered chain over every child permutation
        # (validated <= 4 children = 24 chains, all reading the same bound
        # starts struct). Exactness: sort any valid assignment by start to
        # get its permutation; the greedy earliest-next chain anchored at
        # that assignment's first start ends no later, so its gap count
        # can only be smaller.
        perms = (
            [tuple(range(len(children)))] if body.get("ordered")
            else list(itertools.permutations(range(len(children))))
        )

        def chain_ok(perm) -> str:
            end = f"(__a + {widths[perm[0]] - 1})"
            for k, i in enumerate(perm[1:]):
                s_i = f"array_min(filter(__ss.c{i}, __y{k} -> (__y{k} > {end})))"
                end = f"({s_i} + {widths[i] - 1})"
            ok = "(__e IS NOT NULL)"
            if max_gaps >= 0:
                ok = f"({ok} AND ((((__e - __a) + 1) - {total_w}) <= {max_gaps}))"
            return _bind_once(end, "__e", ok)

        sweep = _fold("OR", (
            f"coalesce(exists(__ss.c{perm[0]}, __a -> {chain_ok(perm)}), false)"
            for perm in perms
        ))
        return _bind_once(starts_struct, "__ss", sweep)


@dataclass
class MatchPhrasePrefix(Query):
    """ES ``match_phrase_prefix`` (search-as-you-type): the analyzed terms
    must appear consecutively, with the LAST term matching as a PREFIX of
    a field token. Same NUL-joined containment as MatchPhrase, with the
    needle's trailing NUL dropped after the last term's prefix — so
    '\\0spark\\0mer' finds 'spark' followed by any token starting 'mer'.
    One codegen'd string op per row; DuckDB mirrors it (position over
    array_to_string), so the node is fully oracle-able. A single-term
    query degrades to a token-prefix exists (the startswith HOF)."""

    field: str
    text: str
    analyzer: str
    tokens_col: str | None = None

    def predicate_sql(self, spark, ref) -> str:
        phrase = analyze_text(spark, self.text, self.analyzer)
        if not phrase:
            return "false"
        toks = _tokens_sql(self, ref)
        if len(phrase) == 1:
            return f"exists({toks}, __x -> startswith(__x, {lit_sql(phrase[0])}))"
        nul = lit_sql("\x00")
        hay = f"concat({nul}, array_join({toks}, {nul}), {nul})"
        needle = "\x00" + "\x00".join(phrase)  # no trailing NUL: prefix match
        return f"(instr({hay}, {lit_sql(needle)}) > 0)"


@dataclass
class MatchBoolPrefix(Query):
    """ES ``match_bool_prefix``: every analyzed term must be present
    (operator='and' here — ES defaults to 'or'; both supported), except
    the LAST, which matches as a token prefix ANYWHERE in the field (the
    position-free sibling of match_phrase_prefix — the type-ahead query
    for bag-of-words boxes)."""

    field: str
    text: str
    analyzer: str
    tokens_col: str | None = None
    operator: str = "or"

    def predicate_sql(self, spark, ref) -> str:
        if self.operator not in ("or", "and"):
            raise ValueError(
                f"operator must be 'or'/'and', got {self.operator!r}"
            )
        phrase = analyze_text(spark, self.text, self.analyzer)
        if not phrase:
            return "false"
        toks = _tokens_sql(self, ref)
        preds = [f"array_contains({toks}, {lit_sql(t)})" for t in phrase[:-1]]
        preds.append(f"exists({toks}, __x -> startswith(__x, {lit_sql(phrase[-1])}))")
        return _fold(self.operator.upper(), preds)


def _one_token(spark, value: str, analyzer: str, kind: str) -> str:
    toks = analyze_text(spark, value, analyzer)
    if len(toks) != 1:
        raise ValueError(
            f"{kind} term {value!r} analyzes to {len(toks)} tokens; span "
            "terms are single-token"
        )
    return toks[0]


@dataclass
class SpanFirst(Query):
    """Lucene ``span_first`` over unit terms (``span_term``, or a
    ``span_or`` of them): one of the analyzed ``values`` occurs among the
    first ``end`` token positions — one slice + overlap expression,
    scan-local. Query terms are analyzed at render time, like
    ``Intervals``."""

    field: str
    analyzer: str
    tokens_col: str | None
    values: list
    end: int

    def predicate_sql(self, spark, ref) -> str:
        toks = [_one_token(spark, v, self.analyzer, "span_first")
                for v in self.values]
        return (f"arrays_overlap(slice({_tokens_sql(self, ref)}, 1, {self.end}), "
                f"{_array_sql(toks)})")


@dataclass
class SpanNot(Query):
    """Lucene ``span_not`` over unit-width spans: some ``include``
    position has no ``exclude`` position within ``pre`` before or
    ``post`` after it. ``include``/``exclude`` are (literal terms, pattern
    specs) pairs, a spec being ``("prefix", lowered)`` or
    ``("wildcard", anchored regex)`` from a ``span_multi`` wrapper —
    scan-local HOFs on the analyzed token stream."""

    field: str
    analyzer: str
    tokens_col: str | None
    include: tuple
    exclude: tuple
    pre: int
    post: int

    def predicate_sql(self, spark, ref) -> str:
        ts = _tokens_sql(self, ref)

        def pos_of(vals: list, specs: list) -> str:
            lits = [_one_token(spark, v, self.analyzer, "span_not") for v in vals]

            def hit(x: str) -> str:
                conds = ["false"]
                if lits:
                    conds.append(f"array_contains({_array_sql(lits)}, {x})")
                for kind, val in specs:
                    conds.append(f"startswith({x}, {lit_sql(val)})" if kind == "prefix"
                                 else f"({x} RLIKE {lit_sql(val)})")
                return _fold("OR", conds)

            return _positions_sql(ts, hit)

        # bind both position arrays once (Catalyst no-CSE)
        st = f"struct({pos_of(*self.include)} AS i, {pos_of(*self.exclude)} AS e)"
        near = f"((__q >= (__ip - {self.pre})) AND (__q <= (__ip + {self.post})))"
        check = f"coalesce(exists(__st.i, __ip -> (NOT exists(__st.e, __q -> {near}))), false)"
        return _bind_once(st, "__st", check)


@dataclass
class SpanContaining(Query):
    """Lucene ``span_containing``/``span_within`` as a document filter
    (the two coincide there): some BIG span — the minimal greedy chain of
    ``big_terms`` in order within ``slop`` from an anchor at the first
    term — contains a position of one of ``little_terms``."""

    field: str
    analyzer: str
    tokens_col: str | None
    big_terms: list
    little_terms: list
    slop: int
    kind: str = "span_containing"

    def predicate_sql(self, spark, ref) -> str:
        ts = _tokens_sql(self, ref)

        def pos_of(vals: list) -> str:
            arr = _array_sql([_one_token(spark, v, self.analyzer, self.kind)
                              for v in vals])
            return _positions_sql(ts, lambda x: f"array_contains({arr}, {x})")

        st = "struct(" + ", ".join(
            [f"{pos_of([t])} AS b{j}" for j, t in enumerate(self.big_terms)]
            + [f"{pos_of(self.little_terms)} AS lit"]
        ) + ")"
        n_big = len(self.big_terms)
        end = "__a"
        for j in range(1, n_big):
            end = f"array_min(filter(__s.b{j}, __y{j} -> (__y{j} > {end})))"
        fin = (f"(((__end IS NOT NULL) AND ((((__end - __a) + 1) - {n_big}) <= "
               f"{int(self.slop)})) AND coalesce(exists(__s.lit, __q -> "
               "((__q >= __a) AND (__q <= __end))), false))")
        check = f"coalesce(exists(__s.b0, __a -> {_bind_once(end, '__end', fin)}), false)"
        return _bind_once(st, "__s", check)


@dataclass
class RankFeature(Query):
    """ES ``rank_feature``: score a document by a numeric feature field
    through a saturating function — the query that folds popularity /
    pagerank / freshness features into relevance. Matches when the
    feature is present and positive (ES's contract); scores:

    * ``saturation``: boost * x / (x + pivot)      (default)
    * ``log``: boost * ln(scaling_factor + x)
    * ``sigmoid``: boost * x^exp / (x^exp + pivot^exp)

    All pure arithmetic riding the scan, oracle-able verbatim."""

    CONSTANT_SCORE = False

    field: str
    function: str = "saturation"
    pivot: float = 1.0
    scaling_factor: float = 1.0
    exponent: float = 1.0
    boost: float = 1.0

    def predicate_sql(self, spark, ref) -> str:
        c = ref(self.field)
        return f"(({c} IS NOT NULL) AND ({c} > 0))"

    def score_sql(self, spark, ref) -> str:
        x = f"CAST({ref(self.field)} AS DOUBLE)"
        if self.function == "saturation":
            s = f"({x} / ({x} + {double_sql(self.pivot)}))"
        elif self.function == "log":
            s = f"log(({double_sql(self.scaling_factor)} + {x}))"
        elif self.function == "sigmoid":
            e = double_sql(self.exponent)
            s = (f"(power({x}, {e}) / (power({x}, {e}) + "
                 f"{double_sql(float(self.pivot) ** float(self.exponent))}))")
        else:
            raise ValueError(
                f"rank_feature function must be saturation/log/sigmoid, "
                f"got {self.function!r}"
            )
        return _case(self.predicate_sql(spark, ref), f"({double_sql(self.boost)} * {s})")


@dataclass
class Pinned(Query):
    """ES ``pinned``: promote specific document ids to the top of the
    result list, organic matches ranked below by their own score. The
    promoted scores are a descending constant ladder ABOVE any organic
    score (ES pins with float-max-adjacent constants; here pin i of k
    scores ``pin_base + (k - i)`` so earlier ids in the list rank
    higher), implemented as pure CASE arithmetic on the id column."""

    CONSTANT_SCORE = False

    ids: list
    organic: Query
    id_field: str = "doc_id"
    pin_base: float = 1e9

    def predicate_sql(self, spark, ref) -> str:
        return (f"({_in_sql(ref(self.id_field), list(self.ids))} OR "
                f"{self.organic.predicate_sql(spark, ref)})")

    def score_sql(self, spark, ref) -> str:
        idc = ref(self.id_field)
        out = self.organic.score_sql(spark, ref)
        k = len(self.ids)
        for i, pid in enumerate(self.ids):
            out = _case(f"({idc} = {lit_sql(pid)})",
                        lit_sql(self.pin_base + (k - i)), out)
        return out


@dataclass
class DistanceFeature(Query):
    """ES ``distance_feature``: score by PROXIMITY to an origin — the
    recency/nearness boost (newer documents rank higher). For numeric and
    timestamp fields: ``boost * pivot / (pivot + |value - origin|)``,
    where pivot is the distance at which the score halves. Timestamp
    origins/pivots are given in seconds (callers convert ES's date-math
    strings); matches when the field is present — pure scan arithmetic,
    oracle-able verbatim."""

    CONSTANT_SCORE = False

    field: str
    origin: float
    pivot: float
    boost: float = 1.0

    def predicate_sql(self, spark, ref) -> str:
        return f"({ref(self.field)} IS NOT NULL)"

    def score_sql(self, spark, ref) -> str:
        # cast-to-double works for numerics AND timestamps (epoch seconds
        # WITH fraction — unix_timestamp would truncate and drift from
        # engines that keep sub-second precision)
        v = f"CAST({ref(self.field)} AS DOUBLE)"
        if self.pivot <= 0:
            raise ValueError(f"pivot must be > 0, got {self.pivot}")
        pivot = double_sql(self.pivot)
        dist = f"abs(({v} - {double_sql(self.origin)}))"
        s = f"(({double_sql(self.boost)} * {pivot}) / ({pivot} + {dist}))"
        return _case(self.predicate_sql(spark, ref), s)


@dataclass
class Bm25Stats:
    """Corpus statistics BM25 needs: doc count, mean doc length (in tokens),
    and document frequency per query token. Computed in ONE aggregation job
    by ``bm25_stats``; at production scale these live with the index
    (materialized at ingest alongside the token columns), exactly like
    Lucene's segment statistics."""

    n_docs: float
    avgdl: float
    df: dict[str, float]


def _weighted_sum(parts) -> str:
    """Σ weight · term over ``(SQL fragment, weight)`` pairs; a weight-1
    term is not multiplied, so one weight-1 term stays the bare term."""
    return _fold("+", (c if w == 1.0 else f"({c} * {double_sql(w)})"
                       for c, w in parts))


def _any_contains(cols: list[str], t: str) -> str:
    return _fold("OR", (f"array_contains({c}, {lit_sql(t)})" for c in cols))


def bm25_stats(df: DataFrame, columns, query_tokens: list[str]) -> Bm25Stats:
    """BM25 statistics over ``columns``, ``(tokens_col, weight)`` pairs:
    one column at weight 1 for a field's ``match``, several for the
    ``combined_fields`` pseudo-field, whose doc length is Σ weight·len and
    whose per-token df counts docs containing the token in ANY column. One
    aggregation job. The union df is EXACT — Lucene's CombinedFieldQuery
    approximates it by merging per-field term stats because the inverted
    index can't see the union; a scan-side engine can."""
    cols = [col_sql(c) for c, _ in columns]
    dl = _weighted_sum((f"size({col_sql(c)})", w) for c, w in columns)
    aggs = [
        "CAST(count(1) AS DOUBLE) AS _n", f"avg({dl}) AS _avgdl",
    ] + [
        f"CAST(sum(CAST({_any_contains(cols, t)} AS BIGINT)) AS DOUBLE) AS _df_{i}"
        for i, t in enumerate(query_tokens)
    ]
    row = df.selectExpr(*aggs).head()
    return Bm25Stats(
        n_docs=float(row["_n"]),
        avgdl=float(row["_avgdl"]),
        df={t: float(row[f"_df_{i}"]) for i, t in enumerate(query_tokens)},
    )


def corpus_bm25_provider(spark: SparkSession, docs: DataFrame):
    """A ``bm25_stats_for`` provider (see ``from_es_json``) that computes
    ``bm25_stats`` with one aggregation over ``docs`` — the inline path
    when no materialized index exists. Memoized per (columns, analyzer,
    text): a DSL tree reusing the same match in scoring and filter context
    pays for ONE stats job. At index scale prefer
    ``indexing.index_bm25_provider`` (term-dictionary lookup, no scan)."""
    cache: dict[tuple, Bm25Stats] = {}

    def provider(columns, analyzer: str, text: str) -> Bm25Stats:
        key = (tuple(columns), analyzer, text)
        if key not in cache:
            cache[key] = bm25_stats(
                docs, columns, analyze_text(spark, text, analyzer)
            )
        return cache[key]

    return provider


@dataclass
class BM25Match(Query):
    """Q5 with real relevance: Okapi BM25 over materialized token columns
    (the scoring ES applies to ``match``, which v1 scoped to constant
    weights — SURVEY §7 risk 4). ``fields`` holds ``(field, tokens_col,
    weight)`` triples: ONE at weight 1 for ``match``, each ``multi_match``
    leg and ES-SQL/ES|QL ``MATCH``; several for ``combined_fields`` /
    ``cross_fields``, ES's BM25F pseudo-field whose term frequency and
    length are the weighted sums over the columns. Per query token t:

        tf(t)    = Σ_f weight_f · tf_f(t)
        dl       = Σ_f weight_f · dl_f
        idf(t)   = ln(1 + (N - df + 0.5)/(df + 0.5))           (Lucene idf)
        tf_sat   = tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))   (saturation)
        score    = Σ idf(t) · tf_sat(t, doc)

    All per-doc math is JVM SQL expressions over the token arrays
    (``size(filter(tokens, = t))``); corpus stats arrive as literals from
    ``bm25_stats`` (for several columns: union df, weighted avgdl). Absent
    tokens contribute 0 naturally (tf = 0). ES requires the fields of a
    ``combined_fields`` to share one analyzer: one ``analyzer`` here.

    ``operator``/``minimum_should_match`` gate WHICH documents match with
    the same semantics as ``Match`` (a token is present when any column
    holds it); ``boost`` multiplies the final score (the ``field^boost``
    convention ``multi_match`` compiles to)."""

    CONSTANT_SCORE = False

    fields: list[tuple[str, str, float]]  # (field, tokens_col, weight)
    text: str
    analyzer: str
    stats: Bm25Stats
    k1: float = 1.2
    b: float = 0.75
    operator: str = "or"
    minimum_should_match: int = 0
    boost: float = 1.0

    def _query_tokens(self, spark) -> list[str]:
        return analyze_text(spark, self.text, self.analyzer)

    def predicate_sql(self, spark, ref) -> str:
        _check_operator(self.operator)
        qt = self._query_tokens(spark)
        if not qt:
            return "false"
        cols = [ref(c) for _, c, _ in self.fields]
        overlap = (f"arrays_overlap({cols[0]}, {_array_sql(qt)})"
                   if len(cols) == 1 else None)
        return _token_gate(lambda t: _any_contains(cols, t), qt, self.operator,
                           self.minimum_should_match, overlap)

    def score_sql(self, spark, ref) -> str:
        cols = [(ref(c), w) for _, c, w in self.fields]
        dl = _weighted_sum((f"CAST(size({c}) AS DOUBLE)", w) for c, w in cols)
        k1, b = lit_sql(self.k1), lit_sql(self.b)
        norm = f"({k1} * ({lit_sql(1.0 - self.b)} + (({b} * {dl}) / {lit_sql(self.stats.avgdl)})))"
        terms = ["0.0D"]
        for t in self._query_tokens(spark):
            df_t = self.stats.df.get(t, 0.0)
            idf = math.log(
                1.0 + (self.stats.n_docs - df_t + 0.5) / (df_t + 0.5)
            )
            tf = _weighted_sum(
                (f"CAST(size(filter({c}, __x -> (__x = {lit_sql(t)}))) AS DOUBLE)", w)
                for c, w in cols
            )
            sat = f"(({tf} * {lit_sql(self.k1 + 1.0)}) / ({tf} + {norm}))"
            terms.append(f"({double_sql(idf)} * {sat})")
        total = _fold("+", terms)
        if self.boost != 1.0:
            total = f"({total} * {double_sql(self.boost)})"
        return total


def bm25_bound(
    field: str,
    analyzers: dict[str, str],
    tokens_cols: dict[str, str],
    bm25_stats_for,
    *,
    fuzziness: object = None,
    nested_paths=frozenset(),
) -> bool:
    """The one choice between BM25 and token-overlap scoring for a text
    clause on ``field``: True when a stats provider is given and the field
    has BOTH an analyzer and a token-column binding — what ES does for
    text fields. Deliberate fallbacks to overlap scoring, each the
    documented v1 semantics: fuzziness (ES BM25-scores fuzzy expansions
    per expanded term — needs the term dictionary) and fields under a
    nested path (ES nested scoring modes). Asks no provider, so a
    ``multi_match`` settles every field before any statistics lookup."""
    return (bm25_stats_for is not None
            and analyzers.get(field) is not None
            and tokens_cols.get(field) is not None
            and fuzziness is None
            and not any(field.startswith(np + ".") for np in nested_paths))


def bm25_match(
    field: str,
    text: str,
    analyzers: dict[str, str],
    tokens_cols: dict[str, str],
    bm25_stats_for,
    *,
    operator: str = "or",
    minimum_should_match: int = 0,
    fuzziness: object = None,
    nested_paths=frozenset(),
    boost: float = 1.0,
) -> BM25Match | None:
    """A ``BM25Match`` for a text clause on ``field`` when ``bm25_bound``
    says so, else None and the caller builds the overlap/keyword ``Match``
    (``from_es_json``'s ``match``/``multi_match`` and the ES-SQL / ES|QL
    ``MATCH`` builder all ask it)."""
    if not bm25_bound(field, analyzers, tokens_cols, bm25_stats_for,
                      fuzziness=fuzziness, nested_paths=nested_paths):
        return None
    analyzer, tok_col = analyzers[field], tokens_cols[field]
    return BM25Match(
        [(field, tok_col, 1.0)], text, analyzer,
        stats=bm25_stats_for(((tok_col, 1.0),), analyzer, text),
        operator=operator, minimum_should_match=minimum_should_match,
        boost=boost,
    )


@dataclass
class Range(Query):
    """Q7 (elastic_queries.json:25,28): numeric/temporal comparisons."""

    field: str
    gt: object = None
    gte: object = None
    lt: object = None
    lte: object = None

    def predicate_sql(self, spark, ref) -> str:
        c = ref(self.field)
        conds = [f"({c} {op} {lit_sql(v)})" for op, v in (
            (">", self.gt), (">=", self.gte), ("<", self.lt), ("<=", self.lte)
        ) if v is not None]
        if not conds:
            raise ValueError(
                f"Range({self.field!r}) needs at least one bound (gt/gte/lt/lte)"
            )
        return _fold("AND", conds)


#: ES's mean earth radius (GeoUtils.EARTH_MEAN_RADIUS), meters.
EARTH_RADIUS_M = 6371008.7714


def haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Great-circle distance in meters between two (lat, lon) degree
    pairs of SQL fragments — the haversine formula with ES's mean earth
    radius, as pure JVM math (radians/sin/cos/asin/sqrt), so it rides
    whole-stage codegen and mirrors verbatim into a SQL oracle."""
    dlat = f"(radians(({lat2} - {lat1})) / 2.0D)"
    dlon = f"(radians(({lon2} - {lon1})) / 2.0D)"
    a = (f"((sin({dlat}) * sin({dlat})) + (((cos(radians({lat1})) * "
         f"cos(radians({lat2}))) * sin({dlon})) * sin({dlon})))")
    return f"({double_sql(2.0 * EARTH_RADIUS_M)} * asin(sqrt({a})))"


def haversine_meters(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column
) -> Column:
    """``haversine_sql`` over Columns: the four operands are bound as one
    struct whose fields the formula reads through a SQL lambda."""
    pts = F.struct(lat1.alias("lat1"), lon1.alias("lon1"),
                   lat2.alias("lat2"), lon2.alias("lon2"))
    body = haversine_sql("__g.lat1", "__g.lon1", "__g.lat2", "__g.lon2")
    return F.element_at(
        F.call_function("transform", F.array(pts), F.expr(f"__g -> {body}")), 1)


def parse_distance_meters(v) -> float:
    """ES distance strings ('200km', '500m', '3mi') or a bare number of
    meters."""
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return float(v)
    s = str(v).strip().lower()
    for suffix, mult in (("km", 1000.0), ("mi", 1609.344), ("m", 1.0)):
        if s.endswith(suffix):
            return float(s[: -len(suffix)]) * mult
    raise ValueError(
        f"bad distance {v!r} (expected meters, or '<n>m'/'<n>km'/'<n>mi')"
    )


@dataclass
class GeoDistance(Query):
    """ES ``geo_distance`` query: documents within ``distance_m`` meters
    of an origin point. This engine has no geo_point type — a location is
    a PAIR of numeric degree columns (``lat_field``, ``lon_field``),
    which is also how a columnar store holds points at scale — so the
    clause names both columns explicitly instead of one mapped field
    (documented divergence). The haversine predicate is scan-local JVM
    math; like every ES geo filter it is non-scoring (constant score)."""

    lat_field: str
    lon_field: str
    lat: float
    lon: float
    distance_m: float

    def __post_init__(self):
        if not (-90.0 <= self.lat <= 90.0) or not (-180.0 <= self.lon <= 180.0):
            raise ValueError(
                f"origin out of range: lat={self.lat}, lon={self.lon}"
            )
        if self.distance_m <= 0:
            raise ValueError(f"distance must be > 0, got {self.distance_m}")

    def predicate_sql(self, spark, ref) -> str:
        d = haversine_sql(
            f"CAST({ref(self.lat_field)} AS DOUBLE)",
            f"CAST({ref(self.lon_field)} AS DOUBLE)",
            double_sql(self.lat), double_sql(self.lon),
        )
        return f"({d} <= {double_sql(self.distance_m)})"


@dataclass
class GeoBoundingBox(Query):
    """ES ``geo_bounding_box`` query: documents whose point lies
    inside the [bottom, top] × [left, right] degree box. Same numeric
    degree-column-pair location convention as GeoDistance. A box whose
    ``left > right`` crosses the antimeridian and matches the WRAPPED
    longitude range (lon ≥ left OR lon ≤ right), ES's contract. Pure
    scan-local comparisons — pushdown-eligible, non-scoring."""

    lat_field: str
    lon_field: str
    top: float
    left: float
    bottom: float
    right: float

    def __post_init__(self):
        if not (-90.0 <= self.bottom <= self.top <= 90.0):
            raise ValueError(
                f"bad latitude bounds: top={self.top}, bottom={self.bottom}"
            )
        for name, v in (("left", self.left), ("right", self.right)):
            if not -180.0 <= v <= 180.0:
                raise ValueError(f"bad longitude bound {name}={v}")

    def predicate_sql(self, spark, ref) -> str:
        lat = f"CAST({ref(self.lat_field)} AS DOUBLE)"
        lon = f"CAST({ref(self.lon_field)} AS DOUBLE)"
        lat_ok = f"(({lat} >= {lit_sql(self.bottom)}) AND ({lat} <= {lit_sql(self.top)}))"
        # a box whose left > right crosses the antimeridian: wrapped range
        op = "AND" if self.left <= self.right else "OR"
        lon_ok = f"(({lon} >= {lit_sql(self.left)}) {op} ({lon} <= {lit_sql(self.right)}))"
        return f"({lat_ok} AND {lon_ok})"


@dataclass
class GeoPolygon(Query):
    """ES ``geo_polygon`` query: documents whose point lies
    inside the closed polygon given as a (lat, lon) vertex list. Same
    numeric degree-column-pair location convention as GeoDistance.
    Containment is the EVEN-ODD (ray casting) rule over planar degree
    coordinates — exactly how ES's legacy geo_polygon evaluates
    (LegacyGeoPointShapeQueryProcessor's planar crossing count), one
    indicator per edge summed into a parity test: a fixed-size
    codegen'd expression, no UDF, non-scoring. Points ON an edge follow
    the half-open crossing convention (deterministic, engine-portable).
    Polygons crossing the antimeridian are out of scope and cannot be
    expressed (vertex longitudes are clamped to [-180, 180]); split
    such polygons into two clauses under a bool should."""

    lat_field: str
    lon_field: str
    points: list  # [(lat, lon), ...] — >= 3 vertices, implicit closure

    def __post_init__(self):
        if not isinstance(self.points, list) or len(self.points) < 3:
            raise ValueError(
                f"geo_polygon needs >= 3 vertices, got {self.points!r}"
            )
        for p in self.points:
            lat, lon = p
            if not (-90.0 <= float(lat) <= 90.0):
                raise ValueError(f"vertex latitude out of range: {lat}")
            if not (-180.0 <= float(lon) <= 180.0):
                raise ValueError(f"vertex longitude out of range: {lon}")

    def predicate_sql(self, spark, ref) -> str:
        lat = f"CAST({ref(self.lat_field)} AS DOUBLE)"
        lon = f"CAST({ref(self.lon_field)} AS DOUBLE)"
        verts = [(float(a), float(o)) for a, o in self.points]
        # drop an explicitly repeated closing vertex; closure is implicit
        if verts[0] == verts[-1] and len(verts) > 3:
            verts = verts[:-1]
        crossings = ["0"]
        n = len(verts)
        for i in range(n):
            y1, x1 = verts[i]
            y2, x2 = verts[(i + 1) % n]
            if y1 == y2:
                continue  # horizontal edge never crosses the ray
            d = double_sql
            cond = (f"((({d(y1)} > {lat}) <> ({d(y2)} > {lat})) AND ({lon} < "
                    f"((({d(x2 - x1)} * ({lat} - {d(y1)})) / {d(y2 - y1)}) + {d(x1)})))")
            crossings.append(_case(cond, "1", "0"))
        return (f"((({lat} IS NOT NULL) AND ({lon} IS NOT NULL)) AND "
                f"(({_fold('+', crossings)} % 2) = 1))")


@dataclass
class Exists(Query):
    """Q6 (elastic_queries.json:33-36): field present and non-null."""

    field: str

    def predicate_sql(self, spark, ref) -> str:
        return f"({ref(self.field)} IS NOT NULL)"


@dataclass
class Nested(Query):
    """Q4 (elastic_queries.json:9-18): scope an inner query to single
    elements of an array-of-structs — the match must occur within ONE
    element, which is precisely the higher-order ``exists`` semantics."""

    path: str
    query: Query

    def predicate_sql(self, spark, ref) -> str:
        # a nested scope inside this one rebinds __el in its own lambda;
        # its array argument, outside that lambda, still reads this one
        inner = self.query.predicate_sql(spark, _element_ref)
        return f"exists({ref(self.path)}, __el -> {inner})"


@dataclass
class Bool(Query):
    """Q2/Q3 (elastic_queries.json:5-41). ``filter`` and ``must`` are
    mandatory; ``must_not`` mandatory-negative; ``should`` optional and
    scoring (weight added when the clause matches — the reference's
    ``weight: 5`` semantics)."""

    # a Bool's own score is the weighted sum of its should-clauses — NOT a
    # constant — so a nested Bool inside another Bool's should list must go
    # through the weight * score path, not the constant fast path
    CONSTANT_SCORE = False

    must: list[Query] = dc_field(default_factory=list)
    filter: list[Query] = dc_field(default_factory=list)
    should: list[tuple[Query, float]] = dc_field(default_factory=list)
    must_not: list[Query] = dc_field(default_factory=list)
    minimum_should_match: int = 0

    def predicate_sql(self, spark, ref) -> str:
        conds = [q.predicate_sql(spark, ref) for q in self.must + self.filter]
        conds += [f"(NOT {q.predicate_sql(spark, ref)})" for q in self.must_not]
        # ES semantics: a bool with ONLY should clauses requires at least
        # one of them to match (implicit minimum_should_match=1); with
        # must/filter present, should stays purely optional/scoring
        msm = self.minimum_should_match
        if msm == 0 and self.should and not (self.must or self.filter):
            msm = 1
        if msm > 0 and self.should:
            matched = _fold("+", ["0"] + [
                _case(q.predicate_sql(spark, ref), "1", "0") for q, _ in self.should
            ])
            conds.append(f"({matched} >= {int(msm)})")
        return _fold("AND", conds) if conds else "true"

    def should_sql(self, spark, ref) -> list[str]:
        """One score-contribution fragment per should clause — the SINGLE
        definition both Bool's score and the _explain breakdown
        (score_parts) render from, so the explanation can never drift
        from the actual scoring expression."""
        contributions = []
        for q, w in self.should:
            p = q.predicate_sql(spark, ref)
            if q.CONSTANT_SCORE:
                contributions.append(_case(p, double_sql(w)))
            else:
                contributions.append(
                    _case(p, f"({lit_sql(w)} * {q.score_sql(spark, ref)})"))
        return contributions

    def score_sql(self, spark, ref) -> str:
        contributions = self.should_sql(spark, ref)
        return _fold("+", contributions) if contributions else "0.0D"


@dataclass
class ConstantScore(Query):
    """ES ``constant_score``: wrap a filter context; every matching
    document scores exactly ``boost``. The filter's own scoring machinery
    is never evaluated — the ES idiom for 'I want this clause's matches,
    not its relevance'."""

    CONSTANT_SCORE = False  # scores `boost`, not 1.0

    filter: Query
    boost: float = 1.0

    def predicate_sql(self, spark, ref) -> str:
        return self.filter.predicate_sql(spark, ref)

    def score_sql(self, spark, ref) -> str:
        return _case(self.filter.predicate_sql(spark, ref), double_sql(self.boost))


@dataclass
class DisMax(Query):
    """ES ``dis_max``: union of clauses where the BEST-matching clause
    dominates the score instead of summing — ``max(scores) + tie_breaker ·
    (sum(scores) − max(scores))``. The standard shape for 'same text
    searched in several fields, don't double-count'. A document matches if
    ANY clause matches; non-matching clauses contribute 0."""

    CONSTANT_SCORE = False

    queries: list[Query]
    tie_breaker: float = 0.0

    def __post_init__(self):
        if not self.queries:
            raise ValueError("dis_max needs at least one query")
        if not (0.0 <= self.tie_breaker <= 1.0):
            raise ValueError(
                f"tie_breaker must be in [0, 1], got {self.tie_breaker}"
            )

    def predicate_sql(self, spark, ref) -> str:
        return _fold("OR", (q.predicate_sql(spark, ref) for q in self.queries))

    def score_sql(self, spark, ref) -> str:
        scores = [q.score_sql(spark, ref) for q in self.queries]
        if len(scores) == 1:
            return scores[0]
        best = f"greatest({', '.join(scores)})"
        if self.tie_breaker == 0.0:
            return best
        return (f"({best} + ({double_sql(self.tie_breaker)} * "
                f"({_fold('+', scores)} - {best})))")


@dataclass
class Boosting(Query):
    """ES ``boosting``: demote-without-excluding. Documents must match
    ``positive``; those ALSO matching ``negative`` keep their positive
    score multiplied by ``negative_boost`` (0 ≤ nb < 1 demotes; ES allows
    any non-negative value)."""

    CONSTANT_SCORE = False

    positive: Query
    negative: Query
    negative_boost: float = 0.5

    def __post_init__(self):
        if self.negative_boost < 0:
            raise ValueError(
                f"negative_boost must be >= 0, got {self.negative_boost}"
            )

    def predicate_sql(self, spark, ref) -> str:
        return self.positive.predicate_sql(spark, ref)

    def score_sql(self, spark, ref) -> str:
        demote = _case(self.negative.predicate_sql(spark, ref),
                       double_sql(self.negative_boost), "1.0D")
        return f"({self.positive.score_sql(spark, ref)} * {demote})"


_FVF_MODIFIERS = {
    "none": lambda c: c,
    "log1p": lambda c: f"log1p({c})",
    "sqrt": lambda c: f"sqrt({c})",
    "square": lambda c: f"({c} * {c})",
}


@dataclass
class FieldValueFactor:
    """ES ``field_value_factor`` scoring function: ``modifier(factor ·
    field)`` — rank by a document attribute (recency, popularity, length)
    without a script. ``missing`` substitutes for NULL field values (ES
    requires it to score docs lacking the field)."""

    field: str
    factor: float = 1.0
    modifier: str = "none"
    missing: float | None = None

    def value_sql(self, spark, ref) -> str:
        if self.modifier not in _FVF_MODIFIERS:
            raise ValueError(
                f"unsupported field_value_factor modifier {self.modifier!r} "
                f"(supported: {sorted(_FVF_MODIFIERS)})"
            )
        c = f"CAST({ref(self.field)} AS DOUBLE)"
        if self.missing is not None:
            c = f"coalesce({c}, {double_sql(self.missing)})"
        return _FVF_MODIFIERS[self.modifier](f"({c} * {double_sql(self.factor)})")


@dataclass
class DecayFunction:
    """ES decay scoring functions (``gauss``/``exp``/``linear``) on a
    NUMERIC field: score 1.0 at ``origin`` (within ``offset``), decaying to
    ``decay`` at distance ``scale`` — the recency/proximity ranking shape.
    Per ES's documented formulas with d = max(0, |x − origin| − offset):

        gauss:  exp(−d² / (2σ²)),  σ² = −scale² / (2·ln(decay))
        exp:    exp(λ·d),          λ  = ln(decay) / scale
        linear: max(0, (s − d)/s), s  = scale / (1 − decay)

    Date fields decay the same way once expressed as a numeric distance
    (epoch seconds / days); pass the numeric projection as ``field``.
    Documents with a NULL field score 1.0, ES's contract."""

    kind: str
    field: str
    origin: float
    scale: float
    offset: float = 0.0
    decay: float = 0.5

    def value_sql(self, spark, ref) -> str:
        if self.kind not in ("gauss", "exp", "linear"):
            raise ValueError(f"unsupported decay function: {self.kind!r}")
        if not (0.0 < self.decay < 1.0) or self.scale <= 0:
            raise ValueError(
                f"decay needs 0 < decay < 1 and scale > 0, got "
                f"decay={self.decay}, scale={self.scale}"
            )
        x = f"CAST({ref(self.field)} AS DOUBLE)"
        d = (f"greatest(0.0D, (abs(({x} - {double_sql(self.origin)})) - "
             f"{double_sql(self.offset)}))")
        if self.kind == "gauss":
            sigma2 = -self.scale * self.scale / (2.0 * math.log(self.decay))
            val = f"exp(((- ({d} * {d})) / {double_sql(2.0 * sigma2)}))"
        elif self.kind == "exp":
            lam = math.log(self.decay) / self.scale
            val = f"exp(({double_sql(lam)} * {d}))"
        else:
            s = double_sql(self.scale / (1.0 - self.decay))
            val = f"greatest(0.0D, (({s} - {d}) / {s}))"
        return _case(f"({x} IS NULL)", "1.0D", val)


@dataclass
class WeightFunction:
    """ES filtered ``weight`` function: a constant that applies only to
    documents matching its filter (1.0 — the neutral element under every
    score_mode this engine supports — otherwise)."""

    weight: float
    filter: Query | None = None

    def value_sql(self, spark, ref) -> str:
        w = double_sql(self.weight)
        if self.filter is None:
            return w
        return _case(self.filter.predicate_sql(spark, ref), w, "1.0D")


@dataclass
class FunctionScore(Query):
    """Q1 (elastic_queries.json:3): wraps a query and exposes its score.
    With ``functions``, the full ES contract: each function yields a
    per-document value, ``score_mode`` combines them (sum/multiply/max/
    min/avg), and ``boost_mode`` combines the result with the wrapped
    query's score (multiply — the default — /sum/replace). Everything
    compiles to one arithmetic expression over the scan."""

    CONSTANT_SCORE = False  # passes through the wrapped query's score

    query: Query
    functions: list = dc_field(default_factory=list)
    score_mode: str = "multiply"
    boost_mode: str = "multiply"

    def predicate_sql(self, spark, ref) -> str:
        return self.query.predicate_sql(spark, ref)

    def score_sql(self, spark, ref) -> str:
        base = self.query.score_sql(spark, ref)
        if not self.functions:
            return base
        vals = [fn.value_sql(spark, ref) for fn in self.functions]
        if self.score_mode == "sum":
            fscore = _fold("+", vals)
        elif self.score_mode == "multiply":
            fscore = _fold("*", vals)
        elif self.score_mode in ("max", "min"):
            fn = "greatest" if self.score_mode == "max" else "least"
            fscore = vals[0] if len(vals) == 1 else f"{fn}({', '.join(vals)})"
        elif self.score_mode == "avg":
            fscore = f"({_fold('+', vals)} / {double_sql(len(vals))})"
        else:
            raise ValueError(f"unsupported score_mode: {self.score_mode!r}")
        if self.boost_mode == "multiply":
            return f"({base} * {fscore})"
        if self.boost_mode == "sum":
            return f"({base} + {fscore})"
        if self.boost_mode == "replace":
            return fscore
        raise ValueError(f"unsupported boost_mode: {self.boost_mode!r}")


_PAINLESS_FUNCS = {
    "Math.log": (1, "log"),       # natural log, as in Java
    "Math.log10": (1, "log10"),
    "Math.sqrt": (1, "sqrt"),
    "Math.exp": (1, "exp"),
    "Math.abs": (1, "abs"),
    "Math.max": (2, "greatest"),
    "Math.min": (2, "least"),
    "Math.pow": (2, "pow"),
}


def _tokenize_painless(src: str) -> list[tuple[str, object]]:
    token_re = re.compile(
        r"\s*(?:(?P<num>\d+\.\d+|\d+|\.\d+)"
        r"|(?P<doc>doc\[\s*'(?P<field>[A-Za-z0-9_.]+)'\s*\]\s*\.\s*value)"
        r"|(?P<param>params\.(?P<pname>[A-Za-z_][A-Za-z0-9_]*))"
        r"|(?P<score>_score)"
        r"|(?P<func>Math\.[A-Za-z0-9]+)"
        r"|(?P<cmp>>=|<=|==|!=|>|<)"
        r"|(?P<op>[()+\-*/,]))"
    )
    out, pos = [], 0
    while pos < len(src):
        if src[pos:].isspace():
            break
        m = token_re.match(src, pos)
        if m is None or m.end() == pos:
            raise ValueError(
                f"script_score: cannot tokenize {src[pos:pos+20]!r} "
                f"(supported: numbers, _score, doc['field'].value, "
                f"params.name, {sorted(_PAINLESS_FUNCS)}, comparisons, "
                f"+ - * / parentheses)"
            )
        pos = m.end()
        if m.group("num"):
            out.append(("num", float(m.group("num"))))
        elif m.group("doc"):
            out.append(("doc", m.group("field")))
        elif m.group("param"):
            out.append(("param", m.group("pname")))
        elif m.group("score"):
            out.append(("score", None))
        elif m.group("func"):
            out.append(("func", m.group("func")))
        elif m.group("cmp"):
            out.append(("cmp", m.group("cmp")))
        else:
            out.append(("op", m.group("op")))
    return out


def compile_painless(
    source: str,
    *,
    score: str | None = None,
    resolve_doc: Resolver | None = None,
    params: dict[str, str] | None = None,
    compare: bool = False,
) -> str:
    """Compile the Painless ARITHMETIC SUBSET to one SQL expression:
    numbers, ``+ - * /`` with standard precedence, unary minus,
    parentheses, ``Math.log/log10/sqrt/exp/abs/max/min/pow``, and the
    variable forms each caller enables — ``_score`` (``score=``, a SQL
    fragment), ``doc['field'].value`` (``resolve_doc=``, field → SQL
    fragment), ``params.name`` (a SQL fragment per name, the
    ``bucket_script``/``bucket_selector`` binding). With
    ``compare=True`` one top-level comparison (``> >= < <= == !=``) is
    allowed and the result is boolean — the bucket_selector contract.
    Unknown syntax raises at compile time, never silently mis-scores."""
    toks = _tokenize_painless(source)
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else ("end", None)

    def eat(kind, val=None):
        nonlocal pos
        t = peek()
        if t[0] != kind or (val is not None and t[1] != val):
            raise ValueError(
                f"script_score: unexpected {t!r} at token {pos} "
                f"in {source!r}"
            )
        pos += 1
        return t[1]

    def primary() -> str:
        kind, val = peek()
        if kind == "num":
            eat("num")
            return double_sql(val)
        if kind == "score":
            eat("score")
            if score is None:
                raise ValueError(
                    f"_score is not available in this context: {source!r}"
                )
            return score
        if kind == "doc":
            eat("doc")
            if resolve_doc is None:
                raise ValueError(
                    f"doc[...] is not available in this context: {source!r}"
                )
            return resolve_doc(val)
        if kind == "param":
            eat("param")
            if params is None or val not in params:
                raise ValueError(
                    f"unknown params.{val} (have: "
                    f"{sorted(params) if params else []}) in {source!r}"
                )
            return params[val]
        if kind == "func":
            eat("func")
            arity, fn = _PAINLESS_FUNCS.get(val, (None, None))
            if fn is None:
                raise ValueError(
                    f"script_score: unsupported function {val!r} "
                    f"(supported: {sorted(_PAINLESS_FUNCS)})"
                )
            eat("op", "(")
            args = [expr()]
            while peek() == ("op", ","):
                eat("op", ",")
                args.append(expr())
            eat("op", ")")
            if len(args) != arity:
                raise ValueError(
                    f"script_score: {val} takes {arity} args, got {len(args)}"
                )
            return f"{fn}({', '.join(args)})"
        if kind == "op" and val == "(":
            eat("op", "(")
            e = expr()
            eat("op", ")")
            return e
        if kind == "op" and val == "-":
            eat("op", "-")
            return f"(- {primary()})"
        raise ValueError(
            f"script_score: unexpected {kind}:{val!r} in {source!r}"
        )

    def term() -> str:
        e = primary()
        while peek()[0] == "op" and peek()[1] in "*/":
            op = eat("op")
            e = f"({e} {op} {primary()})"
        return e

    def expr() -> str:
        e = term()
        while peek()[0] == "op" and peek()[1] in "+-":
            op = eat("op")
            e = f"({e} {op} {term()})"
        return e

    out = expr()
    if compare and peek()[0] == "cmp":
        op = eat("cmp")
        sql_op = {"==": "=", "!=": "<>"}.get(op, op)
        out = f"({out} {sql_op} {expr()})"
    if peek()[0] != "end":
        raise ValueError(f"script_score: trailing tokens in {source!r}")
    return out


@dataclass
class ScriptScore(Query):
    """ES ``script_score``: replace the wrapped query's score with an
    arithmetic expression over document fields and ``_score``. The script
    ``source`` is the PAINLESS ARITHMETIC SUBSET — numbers, ``_score``,
    ``doc['field'].value``, ``+ - * /`` with standard precedence, unary
    minus, parentheses, and ``Math.log/log10/sqrt/exp/abs/max/min/pow`` —
    compiled ONCE at plan time by a recursive-descent parser into a single
    SQL expression riding the scan (never a per-row UDF:
    Painless runs scripted, this engine runs codegen'd). Unknown syntax
    raises at compile time, never silently mis-scores. Like ES, a script
    returning a negative score is an error class left to the caller; NULL
    fields propagate NULL → treated as 0.0 via the final coalesce."""

    CONSTANT_SCORE = False

    query: Query
    source: str
    params: dict | None = None

    def predicate_sql(self, spark, ref) -> str:
        return self.query.predicate_sql(spark, ref)

    def score_sql(self, spark, ref) -> str:
        # ES script params (``params.name`` in the source): numeric
        # constants shipped separately so the script text is reusable —
        # bound here as double literals, still one codegen'd expression
        out = compile_painless(
            self.source,
            score=self.query.score_sql(spark, ref),
            resolve_doc=lambda f: f"CAST({ref(f)} AS DOUBLE)",
            params=_painless_params(self.params),
        )
        return f"coalesce({out}, 0.0D)"


def _painless_params(params: dict | None) -> dict[str, str] | None:
    return {k: double_sql(v) for k, v in params.items()} if params else None


@dataclass
class SparseVectorQuery(Query):
    """ES ``sparse_vector`` query (8.15+, the ELSER/learned-sparse
    retrieval shape): the document field is a token→weight MAP column,
    the query carries its own token weights, and the score is the dot
    product over the token intersection — Σ q_w(t) · doc_w(t). A doc
    matches when it contains ANY query token (ES's contract).

    The query vocabulary is small (a few dozen expanded tokens), so the
    whole score compiles to a fixed-size sum of map lookups — one
    codegen'd expression riding the scan, no UDF, no explode, no
    shuffle. At index scale the map column is stored at ingest exactly
    like the token columns (indexing.build_index's pattern), so the
    scan stays columnar. ES's ``inference_id`` variant (server-side
    text→vector expansion) requires a model runtime and is rejected
    loudly; callers pass the expanded ``query_vector`` directly."""

    CONSTANT_SCORE = False

    field: str
    query_vector: dict  # token -> weight

    def __post_init__(self):
        if not isinstance(self.query_vector, dict) or not self.query_vector:
            raise ValueError(
                "sparse_vector needs a non-empty query_vector "
                "{token: weight, ...}"
            )
        bad = {
            t: w for t, w in self.query_vector.items()
            if not isinstance(w, (int, float)) or isinstance(w, bool)
        }
        if bad:
            raise ValueError(
                f"sparse_vector weights must be numeric: {bad!r}"
            )

    def predicate_sql(self, spark, ref) -> str:
        m = ref(self.field)
        return _fold("OR", (f"({m}[{lit_sql(t)}] IS NOT NULL)"
                            for t in self.query_vector))

    def score_sql(self, spark, ref) -> str:
        m = ref(self.field)
        return _fold("+", ["0.0D"] + [
            f"(coalesce(CAST({m}[{lit_sql(t)}] AS DOUBLE), 0.0D) * {double_sql(w)})"
            for t, w in self.query_vector.items()
        ])


@dataclass
class ScriptQuery(Query):
    """ES ``script`` query: a Painless boolean predicate in filter
    context (``{"script": {"script": {"source": "doc['f'].value > 3"}}}``).
    The source is the Painless ARITHMETIC SUBSET with exactly one
    top-level comparison (the same contract as ``bucket_selector``),
    compiled once into a codegen'd boolean expression riding the scan —
    vs ES, where the script query is the per-doc interpreted slow path
    that cannot use the index at all. Numeric ``params`` bind as double
    literals. A source with no comparison raises at plan time (an
    arithmetic result is not a predicate); NULL fields make the
    comparison NULL → the doc does not match (ES: missing doc values
    throw unless guarded — our NULL-contract divergence is the safer
    one and is pinned in the tests)."""

    source: str
    params: dict | None = None

    def predicate_sql(self, spark, ref) -> str:
        if not any(k == "cmp" for k, _ in _tokenize_painless(self.source)):
            raise ValueError(
                "script query source must be a boolean comparison "
                f"(> >= < <= == !=): {self.source!r}"
            )
        out = compile_painless(
            self.source,
            resolve_doc=lambda f: f"CAST({ref(f)} AS DOUBLE)",
            params=_painless_params(self.params),
            compare=True,
        )
        return f"coalesce({out}, false)"


def score_parts(query: Query, spark, ref: Resolver) -> list[tuple[str, str]]:
    """ES ``_explain`` analogue: the labeled additive components of a
    query's score — one (label, SQL fragment) pair per scoring clause,
    guaranteed to SUM to the query's score. Walks the same tree the score
    renders from, so the explanation can never drift from the actual
    scoring expression. Non-composite queries explain as a single
    component."""
    if isinstance(query, Bool):
        contribs = query.should_sql(spark, ref)
        parts = [
            (f"should[{i}]:{type(q).__name__}", c)
            for (i, (q, _)), c in zip(enumerate(query.should), contribs)
        ]
        return parts or [("no_scoring_clauses", "0.0D")]
    if isinstance(query, FunctionScore) and query.boost_mode == "sum":
        # boost_mode=sum is the one FunctionScore combination that
        # decomposes additively: base query score + the functions term
        # (query score minus the base reproduces it exactly)
        base = score_parts(query.query, spark, ref)
        base_total = _fold("+", ["0.0D"] + [c for _, c in base])
        return base + [
            ("functions", f"({query.score_sql(spark, ref)} - {base_total})")
        ]
    return [(type(query).__name__, query.score_sql(spark, ref))]


def explain_score(
    df: DataFrame,
    query: Query,
    *,
    score_col: str = "score",
    parts_col: str = "score_parts",
) -> DataFrame:
    """Attach the score AND its labeled breakdown (map<label,double>) to
    every matching row — the relevance-debugging surface of ES's
    ``_explain``/``explain=true``. Pure expression work riding the same
    scan as search(); no extra pass."""
    spark = df.sparkSession
    df, query, helpers = bind_analyzed_tokens(df, query)
    parts = score_parts(query, spark, col_sql)
    # map keys must be unique (Spark's mapKeyDedupPolicy=EXCEPTION): a
    # tree can legitimately repeat a label (two FunctionScores in one
    # should list both contribute "functions") — suffix duplicates
    seen: dict[str, int] = {}
    labels, values = [], []
    for lbl, c in parts:
        n = seen.get(lbl, 0)
        seen[lbl] = n + 1
        labels.append(f"{lbl}#{n + 1}" if n else lbl)
        values.append(f"CAST({c} AS DOUBLE)")
    out = df.filter(query.predicate(spark)).withColumn(
        score_col, query.score(spark)
    ).withColumn(parts_col, F.expr(
        f"map_from_arrays({_array_sql(labels)}, array({', '.join(values)}))"
    ))
    return out.drop(*helpers) if helpers else out


def _rebind_analyzed(node, bind):
    """Rewrite a query tree so every inline-analyzed text node (one with
    an ``analyzer`` and no ``tokens_col``) reads a shared materialized
    token column instead (``bind(field, analyzer)`` returns the column
    name, registering it). One walk over the dataclass fields reaches
    every container; ``Nested`` subtrees are left alone (their fields
    resolve inside the array element scope, not at row scope). Pure plan
    rewrite — match/score values are identical, the analyzer chain just
    runs once per row instead of once per reference (guide §4.4)."""
    if isinstance(node, (list, tuple)):
        new = [_rebind_analyzed(child, bind) for child in node]
        if all(n is o for n, o in zip(new, node)):
            return node
        return type(node)(new)
    if not dataclasses.is_dataclass(node) or isinstance(node, (type, Nested)):
        return node
    if getattr(node, "analyzer", None) is not None and \
            getattr(node, "tokens_col", "") is None:
        return dataclasses.replace(
            node, tokens_col=bind(node.field, node.analyzer))
    changes = {}
    for f in dataclasses.fields(node):
        old = getattr(node, f.name)
        new = _rebind_analyzed(old, bind)
        if new is not old:
            changes[f.name] = new
    return dataclasses.replace(node, **changes) if changes else node


def bind_analyzed_tokens(
    df: DataFrame, query: Query
) -> tuple[DataFrame, Query, list[str]]:
    """Materialize every (field, analyzer) pair the tree analyzes INLINE
    as one pinned token column and rebind the tree to read it — SQL text
    cannot name the Arrow-UDF analyzers. Returns the extended frame, the
    rebound tree and the helper columns added (the caller drops them after
    use).

    Bound + pinned (``pin_computed``), the analyzer chain is ONE
    ArrowEvalPython node whose output both the filter and the score read
    as an attribute; unpinned, the optimizer's filter pushdown can
    duplicate it below the scan projection (guide §4.4). Queries that
    already pass ``tokens_col`` (index-backed token columns) are
    untouched."""
    bound: dict[tuple[str, str], str] = {}

    def bind(field: str, analyzer: str) -> str:
        key = (field, analyzer)
        if key not in bound:
            bound[key] = f"__toks_{field.replace('.', '_')}__{analyzer}"
        return bound[key]

    rebound = _rebind_analyzed(query, bind)
    for (field, analyzer), name in bound.items():
        df = df.withColumn(
            name, pin_computed(analyze(F.expr(col_sql(field)), analyzer)))
    return df, rebound, list(bound.values())


def search(
    df: DataFrame,
    query: Query,
    k: int | None = 10,
    tiebreak: str | None = None,
    score_col: str = "score",
) -> DataFrame:
    """Compile the query tree to filter → score → top-k (SURVEY §2.7): the
    tree's predicate and its score are each rendered as one SQL fragment
    and parsed once.

    ``tiebreak`` (an id column) makes the hit list fully deterministic —
    ES breaks score ties by internal doc id, which isn't reproducible; an
    explicit key is. ``k=None`` returns all hits scored, unsorted."""
    spark = df.sparkSession
    df, query, helpers = bind_analyzed_tokens(df, query)
    out = df.filter(query.predicate_sql(spark, col_sql))
    out = out.withColumn(score_col, query.score(spark))
    if helpers:
        out = out.drop(*helpers)
    if k is None:
        return out
    order = [F.desc(score_col)]
    if tiebreak is not None:
        order.append(F.asc(tiebreak))
    return out.orderBy(*order).limit(k)


def query_nodes(node) -> Iterator[Query]:
    """Every query node of a tree, ``node`` first, in field order: one walk
    over the dataclass fields that reaches every container — lists,
    ``Bool.should``'s (clause, weight) pairs and non-query dataclasses
    such as a ``function_score``'s filtered functions — without a list of
    container kinds to keep up to date."""
    if isinstance(node, (list, tuple)):
        for child in node:
            yield from query_nodes(child)
    elif dataclasses.is_dataclass(node):
        if isinstance(node, Query):
            yield node
        for f in dataclasses.fields(node):
            yield from query_nodes(getattr(node, f.name))


def match_terms_by_field(query: Query, spark) -> dict[str, list[str]]:
    """Collect the ANALYZED query terms per field over every node of a
    compiled query tree — what ES's highlighter extracts from the query to
    decide which words to tag. Covers every analyzed-match node (Match,
    MatchPhrase, BM25Match — each of a combined_fields' fields) under any
    container; keyword-equality legs contribute nothing (ES highlights
    analyzed text fields)."""
    out: dict[str, list[str]] = {}

    def add(field: str, tokens: list[str]) -> None:
        seen = out.setdefault(field, [])
        for t in tokens:
            if t not in seen:
                seen.append(t)

    for q in query_nodes(query):
        if isinstance(q, (Match, MatchPhrase)) and q.analyzer:
            add(q.field, analyze_text(spark, q.text, q.analyzer))
        elif isinstance(q, BM25Match):
            for field, _, _ in q.fields:
                add(field, analyze_text(spark, q.text, q.analyzer))
    return out


def nested_paths_from_mapping(mapping: dict) -> set[str]:
    """Dotted paths of every ``"type": "nested"`` field in an ES index
    mapping (the reference declares context_annotations, annotations, links
    and conversation_references nested — src/config/mapping.json). The DSL
    compiler uses these to auto-scope bare leaf queries on nested fields,
    exactly as ES resolves them against the mapping at parse time."""
    out: set[str] = set()

    def walk(props: dict, prefix: str) -> None:
        for name, spec in props.items():
            if not isinstance(spec, dict):
                continue
            path = f"{prefix}{name}"
            if spec.get("type") == "nested":
                out.add(path)
            sub = spec.get("properties")
            if isinstance(sub, dict):
                walk(sub, f"{path}.")

    walk(mapping.get("properties", mapping), "")
    return out


def _scalar_or_list(v) -> list:
    return v if isinstance(v, list) else [v]


def check_keys(body: dict, accepted, surface: str, required=()) -> None:
    """Refuse ``body`` if it carries a key outside ``accepted``, as ES
    refuses an unknown request key with a parse error: a key the reader
    does not honour would otherwise answer a different request. Refuse it
    too if it lacks a key of ``required``."""
    unknown = set(body) - set(accepted)
    if unknown:
        raise ValueError(f"unsupported {surface} keys: {sorted(unknown)}")
    missing = set(required) - set(body)
    if missing:
        raise ValueError(f"{surface} requires keys: {sorted(missing)}")


# The keys each query clause honours, by kind; ``compile_node`` refuses
# every other key and every other kind.
_QUERY_KEYS = {
    "function_score": {"query", "functions", "score_mode", "boost_mode"},
    "bool": {"must", "filter", "should", "must_not", "minimum_should_match"},
    "constant_score": {"filter", "boost"},
    "dis_max": {"queries", "tie_breaker"},
    "boosting": {"positive", "negative", "negative_boost"},
    "script_score": {"query", "script"},
    "script": {"script"},
    "sparse_vector": {"field", "query_vector"},
    "wrapper": {"query"},
    "nested": {"path", "query"},
    "multi_match": {"query", "fields", "type", "tie_breaker", "operator"},
    "combined_fields": {"query", "fields", "operator", "minimum_should_match",
                        "boost"},
    "ids": {"values"},
    "span_first": {"match", "end"},
    "span_or": {"clauses"},
    "span_near": {"clauses", "slop", "in_order"},
    "span_multi": {"match"},
    "span_not": {"include", "exclude", "pre", "post", "dist"},
    "span_containing": {"big", "little"},
    "span_within": {"big", "little"},
    "pinned": {"ids", "organic"},
    "distance_feature": {"field", "origin", "pivot", "boost"},
    "rank_feature": {"field", "boost", "saturation", "log", "sigmoid"},
    "geo_distance": {"distance", "field", "origin"},
    "geo_polygon": {"field", "points"},
    "geo_bounding_box": {"field", "top_left", "bottom_right"},
    "geo_shape": {"field", "shape", "relation"},
    "exists": {"field"},
    "match_all": set(),
    "match_none": set(),
}
# Field-keyed clauses, ``{kind: {field: spec}}``: the keys ``spec`` honours
# when it is an object.
_FIELD_QUERY_KEYS = {
    "match": {"query", "operator", "minimum_should_match", "fuzziness"},
    "match_phrase": {"query", "slop"},
    "match_phrase_prefix": {"query"},
    "match_bool_prefix": {"query", "operator"},
    "intervals": set(Intervals._RULE_KINDS),
    "term": {"value"},
    # the terms lookup; ``routing`` picks the shard holding the document,
    # and the one lookup frame holds every document
    "terms": {"index", "id", "path", "routing"},
    "terms_set": {"terms", "minimum_should_match", "minimum_should_match_field"},
    "prefix": {"value"},
    "wildcard": {"value"},
    "regexp": {"value"},
    "fuzzy": {"value", "fuzziness"},
    "range": {"gt", "gte", "lt", "lte"},
    "span_term": {"value"},
}
# The keys of those that ``spec`` must carry when it is an object.
_FIELD_QUERY_REQUIRED = {
    **dict.fromkeys(("match", "match_phrase", "match_phrase_prefix",
                     "match_bool_prefix"), {"query"}),
    **dict.fromkeys(("term", "prefix", "wildcard", "regexp", "fuzzy",
                     "span_term"), {"value"}),
    "terms": {"index", "id", "path"},
    "terms_set": {"terms"},
}


def _span_clauses(clauses: list, kinds: tuple, where: str,
                  or_kinds: tuple | None = None) -> tuple[str, list]:
    """The units of span clauses that must share one field (see
    ``_span_units``)."""
    read = [_span_units(c, kinds, where, or_kinds) for c in clauses]
    fields = {f for f, _ in read}
    if len(fields) != 1:
        raise ValueError(
            f"{where}: span clauses must share one field, got {sorted(fields)}"
        )
    return read[0][0], [u for _, units in read for u in units]


def _span_units(node: dict, kinds: tuple, where: str,
                or_kinds: tuple | None = None) -> tuple[str, list]:
    """The one reader of the unit-width spans the span queries nest ->
    (field, units): ``span_term`` gives ``("term", value)``, ``span_multi``
    gives ``("prefix" | "wildcard", value)`` and ``span_or`` the units of
    its clauses, read with ``or_kinds`` (default ``kinds``). ``kinds`` are
    the span kinds the caller accepts at this position; every body goes
    through its key table."""
    (nk, nb), = node.items()
    if nk not in kinds:
        raise ValueError(
            f"{where} must be {'/'.join(kinds)} here (got {nk!r}); "
            "richer spans via intervals"
        )
    if nk == "span_term":
        (f, v), = nb.items()
        if isinstance(v, dict):
            check_keys(v, _FIELD_QUERY_KEYS[nk], nk, _FIELD_QUERY_REQUIRED[nk])
            v = v["value"]
        return f, [("term", str(v))]
    check_keys(nb, _QUERY_KEYS[nk], nk)
    if nk == "span_or":
        return _span_clauses(nb["clauses"], or_kinds or kinds, where, or_kinds)
    if "match" not in nb:
        raise ValueError("span_multi takes {'match': <multi-term query>}")
    (mk, mb), = nb["match"].items()
    if mk not in ("prefix", "wildcard"):
        raise ValueError(
            f"span_multi supports prefix/wildcard inner queries here "
            f"(got {mk!r}); fuzzy/regexp have no interval twin — use the "
            "fuzzy/regexp document queries"
        )
    (f, v), = mb.items()
    if isinstance(v, dict):
        want = "prefix" if mk == "prefix" else "pattern"
        check_keys(v, {"value", want}, f"span_multi {mk}")
        v = v.get("value", v.get(want))
    return f, [(mk, str(v))]


def from_es_json(
    dsl: dict,
    *,
    analyzers: dict[str, str] | None = None,
    tokens_cols: dict[str, str] | None = None,
    nested_paths: set[str] | frozenset[str] = frozenset(),
    id_field: str = "doc_id",
    bm25_stats_for=None,
    lookup_indices: dict[str, tuple[DataFrame, str]] | None = None,
) -> Query:
    """Compile an Elasticsearch query-DSL JSON object into the Query tree —
    the front-end that lets the reference's own query artifact
    (src/used_queries/elastic_queries.json:1-46) run unmodified.

    Supported surface = what the reference exercises plus the tree's other
    nodes: ``function_score``, ``bool`` (must/filter/should/must_not/
    minimum_should_match, scalar-or-list clauses, the reference's
    ``{"query": ..., "weight": w}`` should shape), ``nested``, ``match``
    (with ``operator``/``minimum_should_match``), ``multi_match``
    (best_fields, ``field^boost`` syntax), ``match_phrase``,
    ``match_phrase_prefix``, ``match_bool_prefix``, ``intervals``
    (``match`` with ``max_gaps``/``ordered``, ``any_of``),
    ``rank_feature``, ``term``,
    ``terms``, ``terms_set``, ``prefix``, ``wildcard``, ``regexp`` (anchored, core
    operator set), ``fuzzy``, ``ids`` (bound to ``id_field``), ``range``,
    ``exists``, ``match_all``, ``constant_score``, ``dis_max``,
    ``boosting``, ``pinned``, ``distance_feature`` (numeric origin/pivot —
    date-math strings convert before compiling), ``geo_distance``,
    ``geo_bounding_box`` (antimeridian-aware), and ``script_score``
    (Painless arithmetic subset).
    Unknown clause types raise (never silently drop a predicate), and
    so does a key outside the clause's row of ``_QUERY_KEYS`` /
    ``_FIELD_QUERY_KEYS`` (never silently drop an option).

    Mapping-driven resolution, as in ES:

    * ``analyzers``/``tokens_cols`` map a FULL field path to its analyzer /
      materialized token column (query JSON never carries analyzers; the
      index mapping does).
    * ``nested_paths`` (see ``nested_paths_from_mapping``) auto-scopes a
      bare leaf query on ``links.url`` into ``Nested("links",
      Exists("url"))`` — the artifact's exists filter relies on this.
    * Inside an explicit ``nested`` clause, the inner query's fields carry
      the full path (ES convention); the compiler strips the scope prefix
      so the element resolver sees element-relative paths.

    A single-must-only ``bool`` unwraps to its clause (identity for
    filtering AND more faithful for scoring: ES propagates the inner score,
    while a Bool node scores only its should list).

    BM25 relevance (ES scores every ``match``/``multi_match`` on a text
    field with BM25): pass ``bm25_stats_for``, the one statistics
    provider — a callable ``(columns, analyzer, text) -> Bm25Stats``,
    ``columns`` being the clause's ``(tokens_col, weight)`` pairs: one
    column at weight 1 for ``match`` and each ``multi_match`` leg, several
    for ``combined_fields``/``cross_fields``. ``corpus_bm25_provider``
    aggregates inline corpora for any number of columns;
    ``indexing.index_bm25_provider`` looks terms up in a materialized
    index's term dictionary and serves ONE column only — the index stores
    per-column dictionaries, so the union document frequency a
    several-column ``combined_fields`` needs is not there (it raises
    ``ValueError``). ``bm25_bound`` makes the BM25-or-overlap choice per
    field: a ``match`` whose field has BOTH an analyzer and a tokens_col
    binding compiles to ``BM25Match`` instead of token-overlap scoring
    (``operator``/``minimum_should_match`` carry over; they gate the
    candidate set, BM25 scores it); a ``multi_match`` whose fields ALL
    have both bindings (settled before any statistics lookup) compiles to
    per-field BM25 legs with ``field^boost`` multiplying that field's BM25
    score, otherwise to overlap ``Match`` legs worth their boost —
    combined per its ``type`` either way: ``best_fields`` → ``DisMax``
    (over ``ConstantScore`` overlap legs), ``most_fields`` →
    score-summing ``Bool``.
    ``combined_fields`` requires the provider: no constant-score fallback
    keeps its meaning. Everything else is unchanged, so the reference
    artifact (elastic_queries.json — keyword match inside a nested scope,
    constant ``weight: 5``) compiles to the IDENTICAL tree with or without
    a provider (pinned by test). Deliberate fallbacks to overlap scoring
    are listed on ``bm25_bound``; inside an explicit ``nested`` clause
    every match scores by overlap too (ES nested scoring modes)."""
    analyzers = analyzers or {}
    tokens_cols = tokens_cols or {}
    nested_paths = set(nested_paths)

    def bm25_or_none(field: str, text: str, scope, **opts) -> Query | None:
        """BM25Match for this match clause, or None → caller falls back to
        the overlap-scoring Match path (row scope only)."""
        if scope is not None:
            return None
        return bm25_match(field, text, analyzers, tokens_cols, bm25_stats_for,
                          nested_paths=nested_paths, **opts)

    def leaf_field(field: str, scope: str | None) -> str:
        if scope is not None and field.startswith(scope + "."):
            return field[len(scope) + 1:]
        return field

    def auto_nest(field: str, make, scope: str | None) -> Query:
        """Wrap a leaf on a nested-typed path in its Nested scope (row scope
        only — inside an explicit nested clause ES forbids deeper implicit
        scoping)."""
        if scope is None:
            for np in sorted(nested_paths, key=len, reverse=True):
                if field.startswith(np + "."):
                    return Nested(np, make(field[len(np) + 1:]))
        return make(leaf_field(field, scope))

    def compile_node(node: dict, scope: str | None) -> Query:
        if not isinstance(node, dict) or len(node) != 1:
            raise ValueError(
                f"expected a single-key query object, got: {node!r}"
            )
        (kind, body), = node.items()
        if kind in _FIELD_QUERY_KEYS:
            if not isinstance(body, dict) or len(body) != 1:
                raise ValueError(f"{kind} expects {{field: ...}}, got {body!r}")
            (field, spec), = body.items()
            if isinstance(spec, dict):
                check_keys(spec, _FIELD_QUERY_KEYS[kind], kind,
                           _FIELD_QUERY_REQUIRED.get(kind, ()))
        elif kind in _QUERY_KEYS:
            check_keys(body, _QUERY_KEYS[kind], kind)
        else:
            raise ValueError(f"unsupported query clause: {kind!r}")
        if kind == "function_score":
            functions = []
            for fspec in body.get("functions", []):
                fkinds = sorted(k for k in fspec if k != "filter")
                if fkinds == ["field_value_factor"]:
                    fvf = fspec["field_value_factor"]
                    check_keys(fvf, {"field", "factor", "modifier", "missing"},
                               "field_value_factor")
                    if "filter" in fspec:
                        raise ValueError(
                            "field_value_factor with a filter is unsupported"
                        )
                    functions.append(FieldValueFactor(
                        fvf["field"],
                        factor=float(fvf.get("factor", 1.0)),
                        modifier=fvf.get("modifier", "none"),
                        missing=fvf.get("missing"),
                    ))
                elif fkinds == ["weight"]:
                    flt = fspec.get("filter")
                    functions.append(WeightFunction(
                        float(fspec["weight"]),
                        filter=None if flt is None else compile_node(flt, scope),
                    ))
                elif fkinds in (["gauss"], ["exp"], ["linear"]):
                    (dkind,) = fkinds
                    if "filter" in fspec:
                        raise ValueError(
                            f"{dkind} decay with a filter is unsupported"
                        )
                    (dfield, dbody), = fspec[dkind].items()
                    check_keys(dbody, {"origin", "scale", "offset", "decay"}, "decay")
                    functions.append(DecayFunction(
                        dkind, dfield,
                        origin=float(dbody["origin"]),
                        scale=float(dbody["scale"]),
                        offset=float(dbody.get("offset", 0.0)),
                        decay=float(dbody.get("decay", 0.5)),
                    ))
                else:
                    raise ValueError(
                        f"unsupported scoring function: {fkinds}"
                    )
            return FunctionScore(
                compile_node(body["query"], scope),
                functions=functions,
                score_mode=body.get("score_mode", "multiply"),
                boost_mode=body.get("boost_mode", "multiply"),
            )
        if kind == "bool":
            must = [compile_node(c, scope) for c in _scalar_or_list(body.get("must", []))]
            filt = [compile_node(c, scope) for c in _scalar_or_list(body.get("filter", []))]
            must_not = [
                compile_node(c, scope) for c in _scalar_or_list(body.get("must_not", []))
            ]
            should = []
            for c in _scalar_or_list(body.get("should", [])):
                if isinstance(c, dict) and "weight" in c:
                    check_keys(c, {"query", "weight"}, "weighted should clause")
                    should.append((compile_node(c.get("query"), scope), float(c["weight"])))
                else:
                    should.append((compile_node(c, scope), 1.0))
            msm = int(body.get("minimum_should_match", 0))
            if len(must) == 1 and not (filt or should or must_not or msm):
                return must[0]
            return Bool(
                must=must, filter=filt, should=should, must_not=must_not,
                minimum_should_match=msm,
            )
        if kind == "constant_score":
            return ConstantScore(
                compile_node(body["filter"], scope),
                boost=float(body.get("boost", 1.0)),
            )
        if kind == "dis_max":
            return DisMax(
                [compile_node(c, scope) for c in body["queries"]],
                tie_breaker=float(body.get("tie_breaker", 0.0)),
            )
        if kind == "boosting":
            return Boosting(
                compile_node(body["positive"], scope),
                compile_node(body["negative"], scope),
                negative_boost=float(body.get("negative_boost", 0.5)),
            )
        if kind == "script_score":
            script = body["script"]
            src = script["source"] if isinstance(script, dict) else script
            params = None
            if isinstance(script, dict):
                check_keys(script, {"source", "params"}, "script")
                params = script.get("params")
                if params is not None and not all(
                    isinstance(v, (int, float)) and not isinstance(v, bool)
                    for v in params.values()
                ):
                    raise ValueError(
                        "script params must be NUMERIC (they bind as "
                        "double literals in the compiled expression)"
                    )
            return ScriptScore(
                compile_node(body["query"], scope), src, params=params
            )
        if kind == "script":
            # filter-context Painless predicate: {"script": {"script":
            # {"source": ..., "params": ...}}}
            script = body["script"]
            src = script["source"] if isinstance(script, dict) else script
            params = None
            if isinstance(script, dict):
                check_keys(script, {"source", "params", "lang"}, "script")
                if script.get("lang", "painless") != "painless":
                    raise ValueError(
                        f"unsupported script lang: {script['lang']!r}"
                    )
                params = script.get("params")
                if params is not None and not all(
                    isinstance(v, (int, float)) and not isinstance(v, bool)
                    for v in params.values()
                ):
                    raise ValueError(
                        "script params must be NUMERIC (they bind as "
                        "double literals in the compiled expression)"
                    )
            return ScriptQuery(src, params=params)
        if kind == "sparse_vector":
            return SparseVectorQuery(body["field"], body["query_vector"])
        if kind == "wrapper":
            # {"wrapper": {"query": "<base64 of a JSON query>"}} — ES's
            # escape hatch for embedding a query through systems that
            # mangle JSON; decodes and compiles like any inline clause
            try:
                inner = json.loads(base64.b64decode(body["query"]))
            except Exception as e:
                raise ValueError(f"wrapper query is not base64 JSON: {e}")
            return compile_node(inner, scope)
        if kind == "regexp":
            pattern = spec["value"] if isinstance(spec, dict) else spec
            return auto_nest(field, lambda f: Regexp(f, pattern), scope)
        if kind == "nested":
            path = leaf_field(body["path"], scope)
            return Nested(path, compile_node(body["query"], body["path"]))
        if kind == "match":
            if isinstance(spec, dict):
                text = spec["query"]
                operator = spec.get("operator", "or")
                msm = int(spec.get("minimum_should_match", 0))
                fuzziness = spec.get("fuzziness")
            else:
                text, operator, msm, fuzziness = spec, "or", 0, None
            bm = bm25_or_none(field, text, scope, operator=operator,
                              minimum_should_match=msm, fuzziness=fuzziness)
            if bm is not None:
                return bm
            return auto_nest(
                field,
                lambda f: Match(
                    f, text,
                    analyzer=analyzers.get(field),
                    tokens_col=tokens_cols.get(field),
                    operator=operator,
                    minimum_should_match=msm,
                    fuzziness=fuzziness,
                ),
                scope,
            )
        if kind == "multi_match":
            if body.get("type") == "cross_fields":
                # ES cross_fields blends per-field term statistics into a
                # term-centric score; combined_fields is ES's own
                # documented successor with principled BM25F semantics —
                # cross_fields routes there (documented mapping; needs
                # the bm25_stats_for provider like combined_fields).
                if body.get("tie_breaker"):
                    raise ValueError(
                        "tie_breaker does not apply to cross_fields "
                        "(term-centric scoring has no per-field legs)"
                    )
                return compile_node({"combined_fields": {
                    "query": body["query"],
                    "fields": body["fields"],
                    "operator": body.get("operator", "or"),
                }}, scope)
            if "operator" in body:
                raise ValueError(
                    "multi_match operator is supported for type "
                    "cross_fields only in this engine"
                )
            fields = []
            for spec in body["fields"]:
                field, _, boost = spec.partition("^")
                fields.append((field, float(boost) if boost else 1.0))
            if not fields:
                raise ValueError("multi_match needs at least one field")
            mm_type = body.get("type", "best_fields")
            if mm_type not in ("best_fields", "most_fields"):
                raise ValueError(
                    f"unsupported multi_match type: {mm_type!r} "
                    "(best_fields/most_fields)"
                )
            tb = float(body.get("tie_breaker", 0.0))
            if tb and mm_type != "best_fields":
                raise ValueError(
                    "tie_breaker applies to best_fields (most_fields "
                    "already sums every matching leg)"
                )
            if scope is None and all(
                bm25_bound(f, analyzers, tokens_cols, bm25_stats_for,
                           nested_paths=nested_paths)
                for f, _ in fields
            ):
                # all fields BM25-scorable → per-field legs, boost inside
                legs = [bm25_or_none(f, body["query"], scope, boost=b)
                        for f, b in fields]
                should = [(leg, 1.0) for leg in legs]
            else:
                # token overlap: each matching field is worth its boost
                should = [
                    (Match(f, body["query"], analyzer=analyzers.get(f),
                           tokens_col=tokens_cols.get(f)), b)
                    for f, b in fields
                ]
                legs = [ConstantScore(m, b) for m, b in should]
            # combined per ES's type semantics
            if mm_type == "most_fields":
                return Bool(should=should)
            return DisMax(legs, tie_breaker=tb)
        if kind == "combined_fields":
            # BM25F: fields fused into one pseudo-field before scoring.
            # Needs stats over the COMBINED field (union df, weighted
            # length), so a provider is required — there is no
            # constant-score fallback that would preserve the query's
            # meaning, refuse instead.
            if bm25_stats_for is None:
                raise ValueError(
                    "combined_fields needs a bm25_stats_for provider "
                    "(corpus_bm25_provider) — its BM25F scoring has no "
                    "constant-score fallback"
                )
            cf_fields = []
            for spec in body["fields"]:
                field, _, w = spec.partition("^")
                cf_fields.append((field, float(w) if w else 1.0))
            if not cf_fields:
                raise ValueError("combined_fields needs at least one field")
            cf_analyzers = {analyzers.get(f) for f, _ in cf_fields}
            if len(cf_analyzers) != 1 or None in cf_analyzers:
                raise ValueError(
                    "combined_fields requires every field to share one "
                    f"analyzer binding (ES's contract); got "
                    f"{ {f: analyzers.get(f) for f, _ in cf_fields} }"
                )
            (cf_analyzer,) = cf_analyzers
            bm_fields = []
            for f, w in cf_fields:
                tc = tokens_cols.get(f)
                if tc is None:
                    raise ValueError(
                        f"combined_fields field {f!r} has no token-column "
                        "binding"
                    )
                bm_fields.append((f, tc, w))
            return BM25Match(
                bm_fields, body["query"], cf_analyzer,
                stats=bm25_stats_for(
                    tuple((tc, w) for _, tc, w in bm_fields), cf_analyzer,
                    body["query"],
                ),
                operator=body.get("operator", "or"),
                minimum_should_match=int(body.get("minimum_should_match", 0)),
                boost=float(body.get("boost", 1.0)),
            )
        if kind == "fuzzy":
            if isinstance(spec, dict):
                value, fuzziness = spec["value"], spec.get("fuzziness", "AUTO")
            else:
                value, fuzziness = spec, "AUTO"
            return auto_nest(
                field, lambda f: Fuzzy(f, value, fuzziness=fuzziness), scope
            )
        if kind == "ids":
            values = body.get("values")
            if not isinstance(values, list):
                raise ValueError(f"ids expects {{'values': [...]}}, got {body!r}")
            return Ids(values, id_field=id_field)
        if kind == "term":
            value = spec["value"] if isinstance(spec, dict) else spec
            if value is None:
                # ES rejects a null term value; compiled, `field = NULL`
                # would silently match nothing
                raise ValueError(f"term query on {field!r} has a null value")
            return auto_nest(field, lambda f: Term(f, value), scope)
        if kind == "terms":
            values = spec
            if isinstance(values, dict):
                # ES terms LOOKUP: {"index", "id", "path"} — ES's
                # coordinator GETs that one document and expands its
                # array into a regular terms query (capped by
                # index.max_terms_count = 65536); the compile-time fetch
                # here is the same bounded 1-document read, through the
                # lookup_indices binding.
                if lookup_indices is None or values["index"] not in lookup_indices:
                    raise ValueError(
                        f"terms lookup needs lookup_indices[{values['index']!r}] "
                        "bound to a DataFrame"
                    )
                lk_df, lk_id = lookup_indices[values["index"]]
                rows = (
                    lk_df.filter(F.col(lk_id) == F.lit(values["id"]))
                    .select(F.col(values["path"]).alias("__terms"))
                    .limit(2)
                    .collect()
                )
                if len(rows) != 1:
                    raise ValueError(
                        f"terms lookup expects exactly one document with "
                        f"{lk_id} == {values['id']!r} in "
                        f"{values['index']!r}, found {len(rows)}"
                    )
                terms = list(rows[0]["__terms"] or [])
                if len(terms) > 65536:
                    raise ValueError(
                        "terms lookup document expands to more than "
                        "65536 terms (ES's index.max_terms_count)"
                    )
                return auto_nest(field, lambda f: Terms(f, terms), scope)
            if not isinstance(values, list):
                raise ValueError(f"terms expects a list, got: {values!r}")
            return auto_nest(field, lambda f: Terms(f, values), scope)
        if kind == "terms_set":
            return auto_nest(field, lambda f: TermsSet(
                f, spec["terms"],
                minimum_should_match=spec.get("minimum_should_match"),
                minimum_should_match_field=spec.get(
                    "minimum_should_match_field"),
            ), scope)
        if kind == "prefix":
            value = spec["value"] if isinstance(spec, dict) else spec
            return auto_nest(field, lambda f: Prefix(f, value), scope)
        if kind == "wildcard":
            pattern = spec["value"] if isinstance(spec, dict) else spec
            return auto_nest(field, lambda f: Wildcard(f, pattern), scope)
        if kind == "match_phrase":
            if isinstance(spec, dict):
                text = spec["query"]
                slop = int(spec.get("slop", 0))
            else:
                text, slop = spec, 0
            analyzer = analyzers.get(field)
            if analyzer is None:
                raise ValueError(
                    f"match_phrase on {field!r} needs an analyzer binding "
                    "(pass analyzers={...}: phrase semantics are defined "
                    "over analyzed token sequences)"
                )
            return auto_nest(
                field,
                lambda f: MatchPhrase(
                    f, text, analyzer=analyzer,
                    tokens_col=tokens_cols.get(field), slop=slop,
                ),
                scope,
            )
        if kind == "span_first":
            # Lucene span_first: the inner span must end within the
            # first `end` token positions. For span_term (and span_or of
            # span_terms — the expressible inner shapes here, as with
            # span_near) that is simply "the analyzed value occurs among
            # the first `end` tokens": one slice + overlap expression,
            # scan-local. Richer inner spans route to intervals.
            end_pos = int(body.get("end", 0))
            if end_pos <= 0:
                raise ValueError("span_first needs end > 0")
            inner = body.get("match")
            if not isinstance(inner, dict):
                raise ValueError("span_first needs a 'match' span")
            field, units = _span_units(inner, ("span_term", "span_or"),
                                       "span_first match", ("span_term",))
            analyzer = analyzers.get(field)
            tok_col = tokens_cols.get(field)
            if analyzer is None or tok_col is None:
                raise ValueError(
                    f"span_first on {field!r} needs analyzer + token-"
                    "column bindings (positional semantics are over "
                    "analyzed token sequences)"
                )
            return SpanFirst(field, analyzer, tok_col,
                             [v for _, v in units], end_pos)
        if kind in ("span_term", "span_or", "span_near", "span_multi"):
            # Lucene span queries, translated onto the intervals
            # machinery (ES itself recommends intervals over spans —
            # intervals are the modern positional surface and strictly
            # generalize these):
            #   span_term {f: v}            -> intervals f: match v
            #   span_multi {match: {prefix|wildcard: {f: v}}}
            #       -> intervals f:
            #       prefix/wildcard — Lucene's multi-term-as-unit-span
            #       wrapper; both engines place one span per MATCHING
            #       TOKEN position, so the translation is exact.
            #       fuzzy/regexp/range inner queries refuse loudly
            #       (no interval twin here).
            #   span_or   {clauses: [...]}  -> intervals any_of
            #   span_near {clauses, slop, in_order}
            #     in_order=true  -> all_of(ordered, max_gaps=slop)
            #     in_order=false, all-term clauses
            #                    -> match(joined terms, max_gaps=slop)
            #     in_order=false with a span_multi clause
            #                    -> all_of(unordered) — the <=4-children
            #                       expression cap applies and refuses
            #                       loudly past it.
            # span_not takes span_multi include/exclude via its own
            # predicate-position machinery below; span_containing stays
            # term-only; field_masking_span remains the one span refusal
            # (cross-field position alignment needs multi-field
            # mappings this engine does not model — intervals is the
            # supported surface).
            def rule_of(unit: tuple[str, str]) -> dict:
                mk, v = unit
                if mk == "term":
                    return {"match": {"query": v}}
                return {mk: {"prefix" if mk == "prefix" else "pattern": v}}

            leaf_kinds = ("span_term", "span_multi")
            if kind in leaf_kinds:
                field, (unit,) = _span_units({kind: body}, (kind,), kind)
                rule = rule_of(unit)
            elif kind == "span_or":
                field, units = _span_clauses(body["clauses"], leaf_kinds,
                                             "span_or clause")
                rule = {"any_of": {"intervals": [rule_of(u) for u in units]}}
            else:
                if not body["clauses"]:
                    raise ValueError("span_near needs clauses")
                field, units = _span_clauses(body["clauses"], leaf_kinds,
                                             "span_near clause")
                slop = int(body.get("slop", 0))
                if body.get("in_order", False):
                    rule = {"all_of": {
                        "ordered": True, "max_gaps": slop,
                        "intervals": [rule_of(u) for u in units],
                    }}
                elif all(mk == "term" for mk, _ in units):
                    rule = {"match": {
                        "query": " ".join(v for _, v in units),
                        "max_gaps": slop, "ordered": False,
                    }}
                else:
                    rule = {"all_of": {
                        "ordered": False, "max_gaps": slop,
                        "intervals": [rule_of(u) for u in units],
                    }}
            return compile_node({"intervals": {field: rule}}, scope)
        if kind == "span_not":
            # Lucene span_not: include spans that do not overlap any
            # exclude span expanded by `pre`
            # positions before and `dist`/`post` after. Unit-width
            # include/exclude (span_term, or span_or of span_terms)
            # reduce overlap to one window test per include position —
            # scan-local HOFs on the analyzed token stream. Wider
            # spans route to intervals, same policy as span_first.
            if "dist" in body and ("pre" in body or "post" in body):
                raise ValueError(
                    "span_not takes dist OR pre/post, not both (ES)"
                )
            pre = int(body.get("pre", body.get("dist", 0)))
            post = int(body.get("post", body.get("dist", 0)))
            if pre < 0 or post < 0:
                raise ValueError("span_not pre/post/dist must be >= 0")

            def unit_terms(role: str) -> tuple[str, list, list]:
                """-> (field, literal terms, pattern specs) where specs
                are ("prefix", lowered) / ("wildcard", anchored regex) —
                span_multi wrappers contribute unit-width PATTERN
                positions next to the literal term positions."""
                f, units = _span_units(
                    body[role], ("span_term", "span_or", "span_multi"),
                    f"span_not {role}")
                specs = []
                for mk, v in units:
                    v = v.lower()
                    if mk == "prefix":
                        specs.append(("prefix", v))
                    elif mk == "wildcard":
                        rx = "".join(
                            ".*" if ch == "*" else "." if ch == "?"
                            else re.escape(ch) for ch in v
                        )
                        specs.append(("wildcard", "^" + rx + "$"))
                return f, [v for mk, v in units if mk == "term"], specs

            inc_field, inc_vals, inc_specs = unit_terms("include")
            exc_field, exc_vals, exc_specs = unit_terms("exclude")
            if inc_field != exc_field:
                raise ValueError(
                    "span_not include/exclude must share one field "
                    f"(got {inc_field!r} vs {exc_field!r})"
                )
            sn_analyzer = analyzers.get(inc_field)
            sn_tok = tokens_cols.get(inc_field)  # optional, like Intervals
            if sn_analyzer is None:
                raise ValueError(
                    f"span_not on {inc_field!r} needs an analyzer "
                    "binding (positional semantics are over analyzed "
                    "token sequences)"
                )
            return SpanNot(
                inc_field, sn_analyzer, sn_tok, (inc_vals, inc_specs),
                (exc_vals, exc_specs), pre, post,
            )
        if kind in ("span_containing", "span_within"):
            # Lucene span_containing / span_within: containment between a
            # BIG span (span_near of unit terms with slop/in_order — the
            # engine's minimal greedy-chain span per anchor, the documented
            # all_of semantics — or a single span_term) and a LITTLE unit span
            # (span_term / span_or). As document-level FILTER predicates
            # the two kinds coincide — "some big span contains some
            # little span" — they differ only in WHICH span is returned
            # for scoring/highlighting, out of scope for every
            # positional node here (documented).
            def unit_list(node: dict, role: str) -> tuple[str, list]:
                f, units = _span_units(node, ("span_term", "span_or"),
                                       f"{kind} {role}")
                return f, [v for _, v in units]

            (bk, bb), = body["big"].items()
            if bk == "span_near":
                big_field_terms = [unit_list(c, "big clause")
                                   for c in bb["clauses"]]
                if not big_field_terms:
                    raise ValueError(f"{kind} big span_near needs clauses")
                if any(len(ts) != 1 for _, ts in big_field_terms):
                    raise ValueError(
                        f"{kind} big span_near clauses must be span_term"
                    )
                if not bb.get("in_order", False):
                    raise ValueError(
                        f"{kind} big span_near must be in_order: true "
                        "(the minimal greedy-chain span is defined for "
                        "ordered composition; unordered big spans via "
                        "intervals)"
                    )
                slop = int(bb.get("slop", 0))
                big_terms = [ts[0] for _, ts in big_field_terms]
                big_fields = {f for f, _ in big_field_terms}
            else:
                f, ts = unit_list(body["big"], "big")
                big_terms, big_fields, slop = ts[:1], {f}, 0
                if len(ts) != 1:
                    raise ValueError(
                        f"{kind} big must be one span_term or span_near"
                    )
            lit_field, lit_terms = unit_list(body["little"], "little")
            fields_ = big_fields | {lit_field}
            if len(fields_) != 1:
                raise ValueError(
                    f"{kind} big/little must share one field, got "
                    f"{sorted(fields_)}"
                )
            (sc_field,) = fields_
            sc_analyzer = analyzers.get(sc_field)
            sc_tok = tokens_cols.get(sc_field)
            if sc_analyzer is None:
                raise ValueError(
                    f"{kind} on {sc_field!r} needs an analyzer binding"
                )
            return SpanContaining(
                sc_field, sc_analyzer, sc_tok, big_terms, lit_terms,
                slop, kind,
            )
        if kind == "intervals":
            analyzer = analyzers.get(field)
            if analyzer is None:
                raise ValueError(
                    f"intervals on {field!r} needs an analyzer binding "
                    "(pass analyzers={...}: interval semantics are defined "
                    "over analyzed token sequences)"
                )
            return auto_nest(
                field,
                lambda f: Intervals(
                    f, spec, analyzer=analyzer,
                    tokens_col=tokens_cols.get(field),
                ),
                scope,
            )
        if kind in ("match_phrase_prefix", "match_bool_prefix"):
            if isinstance(spec, dict):
                text = spec["query"]
                operator = spec.get("operator", "or")
            else:
                text, operator = spec, "or"
            analyzer = analyzers.get(field)
            if analyzer is None:
                raise ValueError(
                    f"{kind} on {field!r} needs an analyzer binding "
                    "(prefix semantics are defined over analyzed tokens)"
                )
            if kind == "match_phrase_prefix":
                return auto_nest(field, lambda f: MatchPhrasePrefix(
                    f, text, analyzer=analyzer,
                    tokens_col=tokens_cols.get(field),
                ), scope)
            return auto_nest(field, lambda f: MatchBoolPrefix(
                f, text, analyzer=analyzer,
                tokens_col=tokens_cols.get(field), operator=operator,
            ), scope)
        if kind == "pinned":
            if "ids" not in body or "organic" not in body:
                raise ValueError(
                    "pinned expects {'ids': [...], 'organic': {...}}"
                )
            return Pinned(
                ids=list(body["ids"]),
                organic=compile_node(body["organic"], scope),
                id_field=id_field,
            )
        if kind == "distance_feature":
            origin, pivot = body["origin"], body["pivot"]
            if not isinstance(origin, (int, float)) or \
                    not isinstance(pivot, (int, float)):
                raise ValueError(
                    "distance_feature origin/pivot must be NUMERIC here "
                    "(epoch seconds for timestamp fields); ES date-math "
                    "strings ('now-1d', '7d') are not parsed — convert "
                    "before compiling"
                )
            return DistanceFeature(
                body["field"], origin=float(origin), pivot=float(pivot),
                boost=float(body.get("boost", 1.0)),
            )
        if kind == "rank_feature":
            spec = dict(body)
            if "field" not in spec:
                raise ValueError(
                    f"rank_feature expects {{'field': ...}}, got {body!r}"
                )
            field = spec.pop("field")
            boost = float(spec.pop("boost", 1.0))
            if len(spec) > 1:
                raise ValueError(
                    f"rank_feature takes at most one function, got "
                    f"{sorted(spec)}"
                )
            if not spec:
                return RankFeature(field, boost=boost)
            (fn, fb), = spec.items()
            fb = fb or {}
            return RankFeature(
                field, function=fn, boost=boost,
                pivot=float(fb.get("pivot", 1.0)),
                scaling_factor=float(fb.get("scaling_factor", 1.0)),
                exponent=float(fb.get("exponent", 1.0)),
            )
        if kind == "geo_distance":
            fld, origin = body.get("field"), body.get("origin")
            if not (isinstance(fld, dict) and {"lat", "lon"} <= set(fld)):
                raise ValueError(
                    "geo_distance needs 'field': {'lat': col, 'lon': col} "
                    "(no geo_point type here — a location is a numeric "
                    "degree column pair)"
                )
            if not (isinstance(origin, dict) and {"lat", "lon"} <= set(origin)):
                raise ValueError(
                    "geo_distance needs 'origin': {'lat': deg, 'lon': deg}"
                )
            return GeoDistance(
                fld["lat"], fld["lon"],
                lat=float(origin["lat"]), lon=float(origin["lon"]),
                distance_m=parse_distance_meters(body["distance"]),
            )
        if kind == "geo_polygon":
            fld = body.get("field")
            if not (isinstance(fld, dict) and {"lat", "lon"} <= set(fld)):
                raise ValueError(
                    "geo_polygon needs 'field': {'lat': col, 'lon': col} "
                    "(no geo_point type here — a location is a numeric "
                    "degree column pair)"
                )
            pts = [
                (float(p["lat"]), float(p["lon"]))
                if isinstance(p, dict) else (float(p[0]), float(p[1]))
                for p in body.get("points", [])
            ]
            return GeoPolygon(fld["lat"], fld["lon"], pts)
        if kind == "geo_bounding_box":
            fld = body.get("field")
            if not (isinstance(fld, dict) and {"lat", "lon"} <= set(fld)):
                raise ValueError(
                    "geo_bounding_box needs 'field': {'lat': col, "
                    "'lon': col} (a location is a numeric degree column "
                    "pair)"
                )
            tl, br = body.get("top_left"), body.get("bottom_right")
            for name, corner in (("top_left", tl), ("bottom_right", br)):
                if not (isinstance(corner, dict)
                        and {"lat", "lon"} <= set(corner)):
                    raise ValueError(
                        f"geo_bounding_box needs '{name}': "
                        "{'lat': deg, 'lon': deg}"
                    )
            return GeoBoundingBox(
                fld["lat"], fld["lon"],
                top=float(tl["lat"]), left=float(tl["lon"]),
                bottom=float(br["lat"]), right=float(br["lon"]),
            )
        if kind == "geo_shape":
            # ES geo_shape against POINT documents (the degree-column-pair
            # convention): inline envelope / polygon shapes, GeoJSON
            # [lon, lat] coordinate order. For point docs `intersects`
            # and `within` coincide (point-in-shape) and `disjoint` is
            # the negation; `contains` (a point containing a shape) is
            # degenerate and refuses. Envelope boxes delegate to the
            # bounding-box node (antimeridian wrap included), polygons to
            # the even-odd ray-casting node; indexed-shape references and
            # multi-ring polygons refuse loudly.
            fld = body.get("field")
            if not (isinstance(fld, dict) and {"lat", "lon"} <= set(fld)):
                raise ValueError(
                    "geo_shape needs 'field': {'lat': col, 'lon': col} "
                    "(a location is a numeric degree column pair)"
                )
            shape = body.get("shape")
            if not (isinstance(shape, dict) and "type" in shape):
                raise ValueError(
                    "geo_shape needs an inline 'shape' object "
                    "(indexed_shape references are unsupported)"
                )
            relation = body.get("relation", "intersects")
            if relation not in ("intersects", "within", "disjoint"):
                raise ValueError(
                    f"unsupported geo_shape relation {relation!r} for "
                    "point documents (intersects/within/disjoint)"
                )
            stype = str(shape["type"]).lower()
            if stype == "envelope":
                (l_lon, t_lat), (r_lon, b_lat) = shape["coordinates"]
                inner: Query = GeoBoundingBox(
                    fld["lat"], fld["lon"],
                    top=float(t_lat), left=float(l_lon),
                    bottom=float(b_lat), right=float(r_lon),
                )
            elif stype == "polygon":
                rings = shape["coordinates"]
                if len(rings) != 1:
                    raise ValueError(
                        "geo_shape polygon holes (multiple rings) are "
                        "unsupported"
                    )
                pts = [(float(lat), float(lon)) for lon, lat in rings[0]]
                inner = GeoPolygon(fld["lat"], fld["lon"], pts)
            else:
                raise ValueError(
                    f"unsupported geo_shape type {stype!r} "
                    "(envelope/polygon)"
                )
            if relation == "disjoint":
                return Bool(must_not=[inner])
            return inner
        if kind == "range":
            return auto_nest(field, lambda f: Range(f, **spec), scope)
        if kind == "exists":
            return auto_nest(body["field"], Exists, scope)
        if kind == "match_all":
            return MatchAll()
        return MatchNone()

    while isinstance(dsl, dict) and list(dsl) == ["query"]:  # the artifact's wrapper
        dsl = dsl["query"]
    return compile_node(dsl, None)


def reference_query() -> Query:
    """The reference's showcase query, verbatim
    (src/used_queries/elastic_queries.json:1-46): function_score(bool(
    should=[nested match on context_annotations.domain.name="Person",
    weight 5], filter=[author.following_count>100,
    author.followers_count>100, nested exists links.url]))."""
    return FunctionScore(
        Bool(
            should=[
                (
                    Nested(
                        "context_annotations",
                        Match("domain.name", "Person", analyzer=None),
                    ),
                    5.0,
                )
            ],
            filter=[
                Range("author.following_count", gt=100),
                Range("author.followers_count", gt=100),
                Nested("links", Exists("url")),
            ],
        )
    )


def more_like_this(
    docs: DataFrame,
    seed_id,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    analyzer: str = "standard",
    max_query_terms: int = 12,
    min_term_freq: int = 1,
    min_doc_freq: int = 2,
    max_doc_freq_frac: float = 0.25,
    minimum_should_match: float = 0.3,
    k: int = 10,
) -> DataFrame:
    """ES ``more_like_this``: find documents similar to a seed document.
    ES's algorithm, declaratively: analyze the seed, keep its terms with
    tf ≥ ``min_term_freq`` and corpus df in [``min_doc_freq``,
    ``max_doc_freq_frac``·N] (the stopword guard), select the top
    ``max_query_terms`` by tf·idf (idf = ln(N/df), ties by term), then
    score every OTHER document by the sum of selected-term idfs it
    matches, requiring ≥ ceil(``minimum_should_match`` · |terms|) matches
    (ES's percent form).

    Everything stays in-plan — no driver-side term collection: the
    selected-terms relation is ≤ max_query_terms rows and BROADCASTS to
    the candidate join; the per-doc distinct-token explode feeds one
    aggregation keyed by the id the explode preserves. Cost: two token
    aggregations + a broadcast join + TakeOrderedAndProject, each linear
    in posting count — at index scale the df lookup is the stored term
    dictionary instead of the first aggregation.

    Returns (id, n_matched, score) for the top-k, score = Σ idf rounded
    to 6 dp (summation-order portability)."""
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array_distinct(analyze(F.col(text_col), analyzer))
        ).alias("_t"),
    )
    # term frequency WITHIN the seed needs multiplicity — separate explode
    seed_tf = (
        docs.filter(F.col(id_col) == F.lit(seed_id))
        .select(F.explode(analyze(F.col(text_col), analyzer)).alias("_t"))
        .groupBy("_t")
        .agg(F.count(F.lit(1)).alias("_tf"))
        .filter(F.col("_tf") >= int(min_term_freq))
    )
    n_total = docs.select(F.count(F.lit(1)).alias("_n"))
    dfs = (
        toks.join(F.broadcast(seed_tf.select("_t")), "_t", "leftsemi")
        .groupBy("_t")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    sel = (
        seed_tf.join(dfs, "_t")
        .crossJoin(F.broadcast(n_total))
        .filter(
            (F.col("_df") >= int(min_doc_freq))
            & (F.col("_df") <= F.col("_n") * F.lit(float(max_doc_freq_frac)))
        )
        .withColumn("_idf", F.log(F.col("_n") / F.col("_df")))
        .orderBy((F.col("_tf") * F.col("_idf")).desc(), F.col("_t").asc())
        .limit(int(max_query_terms))
        .select("_t", "_idf")
    )
    n_sel = sel.agg(F.count(F.lit(1)).alias("_k"))
    matched = (
        toks.filter(F.col("_id") != F.lit(seed_id))
        .join(F.broadcast(sel), "_t")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.round(F.sum("_idf"), 6).alias("score"),
        )
        .crossJoin(F.broadcast(n_sel))
        .filter(
            # ES rounds a positive minimum_should_match percentage DOWN
            F.col("n_matched")
            >= F.floor(F.col("_k") * F.lit(float(minimum_should_match)))
        )
    )
    return (
        matched.select(F.col("_id").alias(id_col), "n_matched", "score")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(int(k))
    )


def rrf_fuse(
    legs: list[DataFrame],
    *,
    id_col: str = "doc_id",
    k: int = 10,
    rank_constant: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (ES 8's ``rank: {rrf: ...}`` — the hybrid
    lexical+vector retrieval combiner): each leg is an ALREADY-TRUNCATED
    ranked result (id, score); a document's fused score is
    Σ_legs 1/(rank_constant + rank_in_leg), documents absent from a leg
    contribute nothing — ES's contract, scoreless by design so wildly
    different score scales (BM25 vs cosine) fuse without calibration.

    Scale shape: each leg arrives as a top-N (TakeOrderedAndProject —
    never pass an untruncated corpus-sized relation here); the rank
    window then runs over leg-sized rows (the coordinator-side shape, as
    with pipeline aggs), and the fusion is a union + one tiny groupBy.

    Returns (id, score, n_legs) — fused score rounded at 6 dp, top-k by
    (score desc, id asc)."""
    if not legs:
        raise ValueError("rrf_fuse needs at least one leg")
    fused = None
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    for leg in legs:
        r = leg.select(
            F.col(id_col),
            (
                F.lit(1.0)
                / (F.lit(float(rank_constant)) + F.row_number().over(w))
            ).alias("_rrf"),
        )
        fused = r if fused is None else fused.unionByName(r)
    return (
        fused.groupBy(id_col)
        .agg(
            F.round(F.sum("_rrf"), 6).alias("score"),
            F.count(F.lit(1)).cast("int").alias("n_legs"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(int(k))
    )


# The keys each retriever kind honours. ``knn``'s ``num_candidates`` sizes
# an approximate search, and the exact scan here considers every document.
_RETRIEVER_KEYS = {
    "standard": {"query", "filter"},
    "knn": {"field", "query_vector", "k", "num_candidates", "filter"},
    "text_similarity_reranker": {"retriever", "field", "inference_text",
                                 "rank_window_size"},
    "rrf": {"retrievers", "rank_window_size", "rank_constant", "filter"},
    "linear": {"retrievers", "rank_window_size", "filter"},
}


def es_retriever(
    df: DataFrame,
    retriever: dict,
    *,
    id_col: str = "doc_id",
    size: int = 10,
    **bindings,
) -> DataFrame:
    """ES 8.14+ ``retriever`` tree: the request-level composition surface
    that replaced the top-level query/knn/rank split. Leaves produce a
    ranked (id, score) relation; compound nodes fuse their children:

    * ``standard`` — {"query": ...}: from_es_json-compiled scoring, the
      classic search leg (optional ``filter`` pre-applies).
    * ``knn`` — {"field", "query_vector", "k"}: exact cosine top-k over
      the (optionally ``filter``ed) scan — the documented strictly-more-
      accurate divergence from HNSW shared with the knn request clause;
      ``num_candidates`` is accepted and trivially satisfied.
    * ``rrf`` — {"retrievers": [...], "rank_window_size",
      "rank_constant", "filter"}: children evaluate recursively,
      truncate to rank_window_size each, and fuse via rrf_fuse (adds
      ``n_legs``).
    * ``linear`` — {"retrievers": [{"retriever": ..., "weight",
      "normalizer"}], "rank_window_size", "filter"}: weighted sum of
      per-leg normalized scores; ``minmax`` rescales each leg to [0, 1]
      (single-score legs normalize to 1.0 — the max IS the score),
      ``none`` uses raw scores. Docs absent from a leg contribute 0.

    Compound-level ``filter`` (ES 8.16) on rrf/linear pre-applies to
    the scan every child leg reads — ES's attach-to-each-child
    semantics, expressed once so Catalyst pushes it into the shared
    scan. A key outside the kind's row of ``_RETRIEVER_KEYS`` raises
    instead of silently changing the result.

    Every leg truncates BEFORE fusion (TakeOrderedAndProject), so the
    rank windows and fusion groupBys run on leg-sized relations — the
    coordinator-side shape rrf_fuse documents. Ties everywhere break by
    ``id_col`` ascending (ES's internal-doc-id tiebreak is not
    reproducible; the explicit key is the same determinism trade as
    search()'s tiebreak).

    ``bindings`` are ``from_es_json``'s keywords (``analyzers``,
    ``tokens_cols``, ``bm25_stats_for``, ...), passed to every query the
    tree compiles, so a ``standard`` leg scores exactly like
    ``from_es_json`` + ``search``."""
    if not (isinstance(retriever, dict) and len(retriever) == 1):
        raise ValueError(
            f"a retriever is one {{kind: body}} object, got {retriever!r}"
        )
    (kind, body), = retriever.items()
    if kind not in _RETRIEVER_KEYS:
        raise ValueError(f"unsupported retriever kind {kind!r}")
    check_keys(body, _RETRIEVER_KEYS[kind], f"{kind} retriever")

    def filtered(scan: DataFrame) -> DataFrame:
        """``scan`` under the node's optional ``filter``."""
        if body.get("filter") is None:
            return scan
        pre = from_es_json({"query": body["filter"]}, **bindings)
        return scan.filter(pre.predicate(scan.sparkSession))

    def ranked(out: DataFrame, window: int) -> DataFrame:
        # leg scores round to 6 dp BEFORE ranking (the registry-wide
        # cross-engine determinism convention: raw float ties near the
        # truncation boundary would otherwise rank engine-dependently)
        return (
            out.select(
                F.col(id_col),
                F.round(F.col("score").cast("double"), 6).alias("score"),
            )
            .orderBy(F.col("score").desc(), F.col(id_col).asc())
            .limit(int(window))
        )

    if kind == "standard":
        scan = filtered(df)
        tree = from_es_json({"query": body["query"]}, **bindings)
        return ranked(search(scan, tree, k=None), size)
    if kind == "knn":
        scan = filtered(df)
        k = int(body.get("k", size))
        out = scan.select(
            F.col(id_col),
            cosine(col_sql(body["field"]), vec_sql(body["query_vector"]))
            .alias("score"),
        )
        return ranked(out, min(k, size))
    if kind == "text_similarity_reranker":
        # ES 8.15 semantic reranker: re-score the child retriever's
        # rank window by a text-similarity model between
        # ``inference_text`` and ``field``. ES calls an inference
        # endpoint (a cross-encoder / ELSER deployment); this engine
        # has no model server, so the similarity model is the
        # DETERMINISTIC lexical one the dedup family already ships:
        # token-set Jaccard between the analyzed query and the analyzed
        # field (standard analyzer) — the documented model-free
        # divergence, same class as sampler's sort_field. Plan: the
        # child's window (<= rank_window_size rows of ids) broadcasts
        # back onto the doc scan, the similarity is one scan-local HOF
        # expression, and the re-rank is a TakeOrdered over window-sized
        # rows — no new shuffle.
        child, field = body.get("retriever"), body.get("field")
        qtext = body.get("inference_text")
        if child is None or field is None or qtext is None:
            raise ValueError(
                "text_similarity_reranker needs 'retriever', 'field' "
                "and 'inference_text'"
            )

        window = int(body.get("rank_window_size", size))
        leg = es_retriever(df, child, id_col=id_col, size=window,
                           **bindings).select(id_col)
        qtok = sorted(set(analyze_text(df.sparkSession, qtext, "standard")))
        doctoks = F.array_distinct(analyze(F.col(field), "standard"))
        qarr = F.array(*[F.lit(t) for t in qtok])
        inter = F.size(F.array_intersect(doctoks, qarr))
        union = F.size(doctoks) + F.lit(len(qtok)) - inter
        sim = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
        rescored = df.join(F.broadcast(leg), id_col).select(
            F.col(id_col), sim.alias("score")
        )
        return ranked(rescored, size)
    if kind == "rrf":
        # ES 8.16's compound-level `filter` pre-applies to the scan every
        # child leg reads — equivalent to ES attaching it as a pre-filter
        # to each child.
        children = body.get("retrievers")
        if not (isinstance(children, list) and len(children) >= 2):
            raise ValueError("rrf retriever needs >= 2 child retrievers")
        scan = filtered(df)
        window = int(body.get("rank_window_size", size))
        legs = [
            es_retriever(scan, c, id_col=id_col, size=window, **bindings)
            .select(id_col, "score")
            for c in children
        ]
        return rrf_fuse(legs, id_col=id_col, k=size,
                        rank_constant=int(body.get("rank_constant", 60)))
    # linear
    children = body.get("retrievers")
    if not (isinstance(children, list) and children):
        raise ValueError("linear retriever needs child retrievers")
    scan = filtered(df)
    window = int(body.get("rank_window_size", size))
    fused = None
    for c in children:
        if not isinstance(c, dict):
            raise ValueError(
                "each linear child is {'retriever': ..., 'weight', "
                "'normalizer'}"
            )
        check_keys(c, {"retriever", "weight", "normalizer"}, "linear child")
        spec = c.get("retriever")
        if spec is None:
            raise ValueError(
                "each linear child is {'retriever': ..., 'weight', "
                "'normalizer'}"
            )
        weight = float(c.get("weight", 1.0))
        norm = c.get("normalizer", "none")
        if norm not in ("none", "minmax"):
            raise ValueError(
                f"unsupported linear normalizer {norm!r} "
                "(none/minmax)"
            )
        leg = es_retriever(scan, spec, id_col=id_col, size=window,
                           **bindings).select(id_col, "score")
        if norm == "minmax":
            # leg-sized relation: the min/max aggregate is a 1-row
            # broadcast over at most rank_window_size rows
            mm = leg.agg(F.min("score").alias("_lo"),
                         F.max("score").alias("_hi"))
            leg = leg.crossJoin(F.broadcast(mm)).select(
                id_col,
                F.when(F.col("_hi") == F.col("_lo"), F.lit(1.0))
                .otherwise((F.col("score") - F.col("_lo"))
                           / (F.col("_hi") - F.col("_lo")))
                .alias("score"),
            )
        leg = leg.select(id_col,
                         (F.col("score") * F.lit(weight)).alias("_c"))
        fused = leg if fused is None else fused.unionByName(leg)
    return (
        fused.groupBy(id_col)
        .agg(F.round(F.sum("_c"), 6).alias("score"),
             F.count(F.lit(1)).cast("int").alias("n_legs"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(int(size))
    )
