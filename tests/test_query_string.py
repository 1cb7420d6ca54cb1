"""Lucene query_string / simple_query_string parser tests: tree shapes,
precedence, occur handling, leaf typing, never-throws degradation, and
execution equivalence against the hand-built tree."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tweets_elastic_spark.plans.query_string import (
    QueryStringSyntaxError,
    parse_query_string,
    parse_simple_query_string,
)
from tweets_elastic_spark.plans.search import (
    Bool,
    Exists,
    Fuzzy,
    Match,
    MatchAll,
    MatchPhrase,
    MatchPhrasePrefix,
    Prefix,
    Range,
    Term,
    Wildcard,
    search,
)

AN = {"text": "custom_shingles"}


def P(q, **kw):
    kw.setdefault("default_field", "text")
    kw.setdefault("analyzers", AN)
    return parse_query_string(q, **kw)


def SP(q, **kw):
    kw.setdefault("default_field", "text")
    kw.setdefault("analyzers", AN)
    return parse_simple_query_string(q, **kw)


# ---------------------------------------------------------------- leaves


def test_bare_term_uses_default_field_and_analyzer():
    q = P("spark")
    assert q == Match("text", "spark", analyzer="custom_shingles")


def test_keyword_field_term():
    assert P("lang:en") == Term("lang", "en")


def test_phrase_on_analyzed_field():
    q = P('"spark merge"')
    assert isinstance(q, MatchPhrase)
    assert (q.field, q.text, q.analyzer) == (
        "text", "spark merge", "custom_shingles")


def test_phrase_on_keyword_field_is_equality():
    assert P('source:"src1"') == Term("source", "src1")


def test_trailing_star_is_sargable_prefix():
    assert P("lang:sp*") == Prefix("lang", "sp")


def test_general_wildcard():
    assert P("lang:s?a*k") == Wildcard("lang", "s?a*k")


def test_fuzzy_keyword_and_analyzed():
    assert P("lang:spark~1") == Fuzzy("lang", "spark", fuzziness=1)
    assert P("lang:spark~") == Fuzzy("lang", "spark", fuzziness="AUTO")
    m = P("spark~1")
    assert isinstance(m, Match) and m.fuzziness == 1


def test_exists_meta_field():
    assert P("_exists_:source") == Exists("source")


def test_bracket_ranges():
    assert P("n_chars:[300 TO 500]") == Range("n_chars", gte=300, lte=500)
    assert P("n_chars:{300 TO 500}") == Range("n_chars", gt=300, lt=500)
    assert P("n_chars:[300 TO *]") == Range("n_chars", gte=300)
    assert P("day:[2026-01-01 TO 2026-02-01}") == Range(
        "day", gte="2026-01-01", lt="2026-02-01")


def test_comparison_sugar():
    assert P("n_chars:>300") == Range("n_chars", gt=300)
    assert P("n_chars:>=300") == Range("n_chars", gte=300)
    assert P("n_chars:<=0.5") == Range("n_chars", lte=0.5)


def test_escaped_specials_stay_literal():
    assert P(r"lang:a\:b") == Term("lang", "a:b")
    assert P(r"lang:a\*b") == Term("lang", "a*b")


def test_empty_query_is_match_all():
    assert P("") == MatchAll()
    assert P("   ") == MatchAll()


# ------------------------------------------------------- boolean structure


def test_not_gt_and_gt_or_precedence():
    # a OR b AND c  ==  a OR (b AND c)
    q = P("lang:a OR lang:b AND lang:c")
    assert isinstance(q, Bool)
    (c1, _), (c2, _) = q.should
    assert c1 == Term("lang", "a")
    assert isinstance(c2, Bool)
    assert c2.must == [Term("lang", "b"), Term("lang", "c")]


def test_must_not_via_minus_and_not():
    for syntax in ("lang:a -lang:b", "lang:a NOT lang:b",
                   "lang:a !lang:b"):
        q = P(syntax)
        assert q.must_not == [Term("lang", "b")], syntax
        assert [c for c, _ in q.should] == [Term("lang", "a")]


def test_plus_promotes_to_must():
    q = P("+lang:a lang:b")
    assert q.must == [Term("lang", "a")]
    # both clauses score (must also contributes its weight, as in Lucene)
    assert [c for c, _ in q.should] == [Term("lang", "a"), Term("lang", "b")]


def test_field_scoped_group():
    q = P("lang:(en OR de)")
    assert [c for c, _ in q.should] == [Term("lang", "en"), Term("lang", "de")]


def test_boost_becomes_should_weight():
    q = P("lang:a^3 OR lang:b")
    assert q.should == [(Term("lang", "a"), 3.0), (Term("lang", "b"), 1.0)]


def test_default_operator_and():
    q = P("lang:a lang:b", default_operator="and")
    assert q.must == [Term("lang", "a"), Term("lang", "b")]


def test_double_negation():
    q = P("NOT -lang:a")
    assert q.must == [Term("lang", "a")] or q == Term("lang", "a")


def test_syntax_errors_raise():
    for bad in ('lang:"unclosed', "(a OR b", "a AND", "lang:", "a ^"):
        with pytest.raises((QueryStringSyntaxError, ValueError)):
            P(bad)


# --------------------------------------------------- simple_query_string


def test_simple_operators():
    q = SP("lang:x")  # ':' is not syntax in simple mode -> literal term
    assert q == Match("text", "lang:x", analyzer="custom_shingles")
    q = SP("en + de", analyzers={}, default_field="lang")
    assert q.must == [Term("lang", "en"), Term("lang", "de")]
    q = SP("en | de", analyzers={}, default_field="lang")
    assert [c for c, _ in q.should] == [Term("lang", "en"), Term("lang", "de")]


def test_simple_single_pipe_is_or():
    q = SP("en|de", analyzers={}, default_field="lang")
    assert [c for c, _ in q.should] == [Term("lang", "en"), Term("lang", "de")]


def test_simple_negation_and_phrase():
    q = SP('-en "a b"', analyzers={"text": "standard"})
    # left-assoc: (-en) OR "a b" -> Bool(should=[Bool(must_not=en), phrase])
    kinds = {type(c).__name__ for c, _ in q.should}
    assert kinds == {"Bool", "MatchPhrase"}


@settings(max_examples=200, deadline=None)
@given(st.text(min_size=0, max_size=40))
def test_simple_never_raises(s):
    parse_simple_query_string(s, default_field="text", analyzers=AN)


def test_simple_degrades_on_unbalanced_quote():
    q = SP('broken "unclosed', analyzers={}, default_field="lang")
    assert [c for c, _ in q.should] == [
        Term("lang", "broken"), Term("lang", "unclosed")]


# -------------------------------------------------------- execution parity


def test_query_string_equals_hand_built_tree(spark, sf_dir):
    """The parsed tree must return byte-identical hits to the builder
    form of the same query."""
    from tweets_elastic_spark.plans.search import FunctionScore
    from tweets_elastic_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    parsed = P("text:(spark AND merge) OR source:src1 -lang:de")
    built = Bool(
        should=[
            (Bool(
                must=[Match("text", "spark", analyzer="custom_shingles"),
                      Match("text", "merge", analyzer="custom_shingles")],
                should=[
                    (Match("text", "spark", analyzer="custom_shingles"), 1.0),
                    (Match("text", "merge", analyzer="custom_shingles"), 1.0),
                ],
            ), 1.0),
            (Term("source", "src1"), 1.0),
        ],
        must_not=[Term("lang", "de")],
    )
    a = search(docs, parsed, k=50, tiebreak="doc_id") \
        .select("doc_id", "score").collect()
    b = search(docs, built, k=50, tiebreak="doc_id") \
        .select("doc_id", "score").collect()
    assert a == b and len(a) > 0


# -------------------------------------------- review-pass regressions (r6)


def test_group_boost_and_range_boost():
    q = P("(lang:a OR lang:b)^4 lang:c")
    assert (Term("lang", "c"), 1.0) in q.should
    grp = [w for c, w in q.should if isinstance(c, Bool)]
    assert grp == [4.0]
    q = P("n_chars:>5^2")
    assert q == Range("n_chars", gt=5) or q.should == [
        (Range("n_chars", gt=5), 2.0)]


def test_group_fuzziness_rejected():
    with pytest.raises(QueryStringSyntaxError, match="groups"):
        P("(lang:a OR lang:b)~2")


def test_simple_pipe_inside_quotes_is_literal():
    q = SP('"foo|bar"', analyzers={})
    assert q == Term("text", "foo|bar")


def test_simple_escaped_pipe_is_literal():
    q = SP(r"a\|b", analyzers={})
    assert q == Term("text", "a|b")


def _flat_terms(q):
    """Flatten psq's left-assoc OR nest into the ordered Term list."""
    if isinstance(q, Term):
        return [q]
    out = []
    for c, _ in q.should:
        out += _flat_terms(c)
    return out


def test_simple_boolean_words_are_plain_terms():
    q = SP("Fish AND Chips", analyzers={}, default_field="t")
    assert _flat_terms(q) == [
        Term("t", "Fish"), Term("t", "AND"), Term("t", "Chips")]
    q = SP("Wham!", analyzers={}, default_field="t")
    assert q == Term("t", "Wham!")
    q = SP("a && b ! c", analyzers={}, default_field="t")
    assert _flat_terms(q) == [
        Term("t", "a"), Term("t", "&&"), Term("t", "b"),
        Term("t", "!"), Term("t", "c")]


def test_simple_inner_wildcards_are_literal():
    q = SP("a*b", analyzers={}, default_field="t")
    assert q == Term("t", "a*b")
    q = SP("te?t", analyzers={}, default_field="t")
    assert q == Term("t", "te?t")


def test_simple_trailing_star_on_analyzed_field_is_token_prefix(spark, sf_dir):
    from tweets_elastic_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    q = SP("spar*", analyzers={"text": "standard"})
    assert isinstance(q, MatchPhrasePrefix)
    hits = docs.filter(
        q.predicate(spark)
    ).count()
    assert hits > 0


def test_query_string_analyzed_inner_wildcard_raises():
    with pytest.raises(QueryStringSyntaxError, match="term dictionary"):
        P("sp?rk")
    # trailing star on the analyzed default field = token prefix
    q = P("spar*")
    assert isinstance(q, MatchPhrasePrefix)


def test_simple_phrase_slop_parses():
    q = SP('"a b"~1', analyzers={"text": "standard"})
    assert isinstance(q, MatchPhrase) and q.slop == 1


# ------------------------------------------------ round-trip property


def _render(q, top=False) -> str:
    """Render a Term/Bool tree back to query_string syntax (the test-only
    inverse of the parser, for the round-trip property)."""
    if isinstance(q, Term):
        return f"{q.field}:{q.value}"
    parts = []

    def wrap(c):
        r = _render(c)
        return f"({r})" if isinstance(c, Bool) else r

    for c in q.must:
        parts.append("+" + wrap(c))
    for sub, w in q.should:
        if (sub, w) in [(m, 1.0) for m in q.must]:
            continue  # must clauses re-listed in should by _group
        r = wrap(sub)
        parts.append(r if w == 1.0 else f"{r}^{w:g}")
    for c in q.must_not:
        parts.append("-" + wrap(c))
    return " ".join(parts)


@st.composite
def term_trees(draw, depth=0):
    if depth >= 2 or draw(st.booleans()):
        field = draw(st.sampled_from(["lang", "source"]))
        # unique leaf values: duplicate clauses make the rendered form
        # ambiguous (the must re-listing in should can't be told apart)
        value = "v" + str(draw(st.uuids(version=4)))[:13]
        return Term(field, value)
    n = draw(st.integers(min_value=2, max_value=3))
    clauses = [draw(term_trees(depth=depth + 1)) for _ in range(n)]
    occs = draw(st.lists(st.sampled_from(["should", "must", "must_not"]),
                         min_size=n, max_size=n))
    if all(o == "must_not" for o in occs):
        occs[0] = "should"  # pure negation renders ambiguously; skip
    must = [c for c, o in zip(clauses, occs) if o == "must"]
    must_not = [c for c, o in zip(clauses, occs) if o == "must_not"]
    should = [(c, float(draw(st.sampled_from([1, 2, 3]))))
              for c, o in zip(clauses, occs) if o == "should"]
    return Bool(must=must, must_not=must_not,
                should=[(m, 1.0) for m in must] + should)


@settings(max_examples=150, deadline=None)
@given(term_trees())
def test_query_string_round_trips_term_trees(tree):
    """render(tree) parsed back yields a tree with IDENTICAL match
    semantics: same must/must_not sets and same should weights (modulo
    the single-clause unwrap)."""
    rendered = _render(tree, top=True)
    parsed = parse_query_string(rendered, default_field="lang")

    def canon(q):
        if isinstance(q, Term):
            return ("t", q.field, q.value)
        return (
            "b",
            frozenset(canon(c) for c in q.must),
            frozenset(canon(c) for c in q.must_not),
            frozenset((canon(c), w) for c, w in q.should),
        )

    if isinstance(tree, Bool) and not tree.must and not tree.must_not \
            and len(tree.should) == 1 and tree.should[0][1] == 1.0:
        tree = tree.should[0][0]  # parser unwraps the trivial group
    assert canon(parsed) == canon(tree), rendered
