"""Search-query tests (SURVEY §5.2 item 4): the reference query against the
fixture documents with an independently computed expected hit set, plus
operator-level checks for the DSL nodes."""

from __future__ import annotations

import gc

import pytest
from pyspark.sql import functions as F

from tweets_elastic_spark.operators.denormalize import build_tweet_documents
from tweets_elastic_spark.plans.search import (
    Bool, Exists, FunctionScore, Match, MatchAll, Nested, Range, Term,
    reference_query, search,
)
from tweets_elastic_spark.sources.fixtures import make_tweets_tables


@pytest.fixture(scope="module")
def docs_df(spark):
    return build_tweet_documents(make_tweets_tables(spark, n_conversations=100))


@pytest.fixture(scope="module")
def docs_py(docs_df):
    return [r.asDict(recursive=True) for r in docs_df.collect()]


def expected_reference_hits(docs_py):
    """Independent Python reimplementation of elastic_queries.json:1-46."""
    hits = {}
    for d in docs_py:
        a = d["author"]
        if not (a["following_count"] > 100 and a["followers_count"] > 100):
            continue
        if not any(link["url"] is not None for link in d["links"]):
            continue
        score = 5.0 if any(
            ca["domain"]["name"] == "Person" for ca in d["context_annotations"]
        ) else 0.0
        hits[d["id"]] = score
    return hits


def test_reference_query_hit_set_and_scores(spark, docs_df, docs_py):
    expected = expected_reference_hits(docs_py)
    got = {
        r["id"]: r["score"]
        for r in search(docs_df, reference_query(), k=None).collect()
    }
    assert got == expected
    assert any(s == 5.0 for s in expected.values()), "fixture should produce scored hits"
    assert any(s == 0.0 for s in expected.values()), "fixture should produce zero-score hits"


def test_reference_query_topk_deterministic(spark, docs_df, docs_py):
    expected = expected_reference_hits(docs_py)
    top = sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [
        (r["id"], r["score"])
        for r in search(docs_df, reference_query(), k=10, tiebreak="id").collect()
    ]
    assert got == top


def test_request_compile_py4j_budget(spark, docs_df, py4j_commands):
    """Compiling the search benchmark's reference request, its BM25
    ``multi_match`` and its sorted ``search_after`` page stays within a
    Py4J command budget. Each query tree renders one SQL fragment for its
    predicate and one for its score, parsed once each: 115 and 284
    commands while the nodes built Columns call by call, 32 and 32 now;
    the page 57 while its ``search_after`` cursor was built from Columns,
    34 since the cursor is one SQL fragment (its sort order is still
    Columns)."""
    from tweets_elastic_spark.functions.analyzers import materialize_tokens
    from tweets_elastic_spark.plans.aggs import es_request
    from tweets_elastic_spark.plans.search import corpus_bm25_provider, from_es_json

    nested = frozenset({"context_annotations", "conversation_hashtags",
                        "annotations", "links", "conversation_references"})
    reference = {"query": {"function_score": {"query": {"bool": {
        "should": [{"query": {"nested": {
            "path": "context_annotations",
            "query": {"match": {"context_annotations.domain.name": "Person"}}}},
            "weight": 5}],
        "filter": [
            {"range": {"author.following_count": {"gt": 1}}},
            {"range": {"author.followers_count": {"gt": 1}}},
            {"nested": {"path": "links", "query": {"exists": {"field": "url"}}}},
        ]}}}}}
    page = {"query": {"term": {"language": "en"}},
            "sort": [{"like_count": "desc"}], "search_after": [2, 500],
            "size": 10, "_source": ["id", "like_count"]}

    def commands(compile_request):
        # the fewest of three compiles: a garbage collection inside the
        # block would add one release command per freed JVM reference
        counts = []
        for _ in range(3):
            gc.collect()
            with py4j_commands() as n:
                compile_request()
            counts.append(n[0])
        return min(counts)

    assert commands(lambda: search(
        docs_df, from_es_json(reference, nested_paths=nested, id_field="id"),
        k=10, tiebreak="id").select("id", "score")) < 40
    assert commands(lambda: es_request(
        docs_df, page, nested_paths=nested, tiebreak="id")) < 37

    toked = materialize_tokens(docs_df, {"content": ["custom_shingles"]})
    provider = corpus_bm25_provider(spark, toked)
    text = "spark merge conflict"
    provider((("content__custom_shingles", 1.0),), "custom_shingles", text)
    multi_match = {"query": {"multi_match": {
        "query": text, "fields": ["content^2"], "type": "most_fields"}}}
    assert commands(lambda: search(
        toked, from_es_json(multi_match, analyzers={"content": "custom_shingles"},
                            tokens_cols={"content": "content__custom_shingles"},
                            nested_paths=nested, id_field="id",
                            bm25_stats_for=provider),
        k=10, tiebreak="id").select("id", "score")) < 60


def test_tweet_documents_construction_py4j_budget(spark, py4j_commands):
    """The tweet document is one SQL statement: building it sends a few
    Py4J commands per table it reads, not a command per Column call (710
    while it was assembled from Columns)."""
    tables = make_tweets_tables(spark, n_conversations=100)
    counts = []
    for _ in range(3):
        gc.collect()
        with py4j_commands() as n:
            build_tweet_documents(tables)
        counts.append(n[0])
    assert min(counts) <= 40


def test_missing_field_error_names_field(spark, docs_df):
    """Sessions from ``get_spark`` turn PySpark's call-site capture off.
    An error still carries Spark's error class and names the field."""
    from pyspark.errors import AnalysisException

    from tweets_elastic_spark.plans.search import from_es_json

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    q = from_es_json({"range": {"no_such_field": {"gt": 1}}})
    with pytest.raises(AnalysisException, match="no_such_field") as err:
        search(docs_df, q, k=10, tiebreak="id").collect()
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN")


def test_match_all_count(spark, docs_df):
    # docs/protokol.md:542-558: import N docs, match_all returns N
    assert search(docs_df, MatchAll(), k=None).count() == 100


def test_analyzed_match_on_content(spark, docs_df, docs_py):
    # englando analyzes both sides: "Troubling" stems to "troubl"
    q = Bool(filter=[Match("content", "Troubling", analyzer="englando")])
    got = {r["id"] for r in search(docs_df, q, k=None).collect()}
    # independent check: stemmed token present in analyzed content
    from tweets_elastic_spark.functions.analyzers import analyze
    tok_rows = docs_df.select(
        "id", analyze(F.col("content"), "englando").alias("t")
    ).collect()
    expected = {r["id"] for r in tok_rows if "troubl" in list(r["t"])}
    assert got == expected


def test_term_and_must_not(spark, docs_df, docs_py):
    q = Bool(must=[Term("language", "en")], must_not=[Range("like_count", gte=100)])
    got = {r["id"] for r in search(docs_df, q, k=None).collect()}
    expected = {
        d["id"] for d in docs_py if d["language"] == "en" and not d["like_count"] >= 100
    }
    assert got == expected


def test_minimum_should_match(spark, docs_df, docs_py):
    q = Bool(
        should=[(Term("language", "en"), 1.0), (Term("source", "Twitter Web App"), 1.0)],
        minimum_should_match=2,
    )
    got = {r["id"] for r in search(docs_df, q, k=None).collect()}
    expected = {
        d["id"] for d in docs_py
        if d["language"] == "en" and d["source"] == "Twitter Web App"
    }
    assert got == expected


def test_nested_scopes_per_element(spark):
    """The nested query must match within ONE element (SURVEY §2.7 Q4):
    a doc whose array has {type:A} and {value:B} in *different* elements
    must NOT match nested(type=A AND value=B)."""
    df = spark.createDataFrame(
        [
            (1, [{"type": "A", "value": "B"}]),
            (2, [{"type": "A", "value": "X"}, {"type": "Y", "value": "B"}]),
        ],
        "id long, items array<struct<type:string,value:string>>",
    )
    q = Bool(filter=[
        Nested("items", Bool(must=[Term("type", "A"), Term("value", "B")]))
    ])
    got = {r["id"] for r in search(df, q, k=None).collect()}
    assert got == {1}


def test_range_bounds(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "x int")
    q = Bool(filter=[Range("x", gte=3, lt=7)])
    got = sorted(r["x"] for r in search(df, q, k=None).collect())
    assert got == [3, 4, 5, 6]


# -- BM25 ----------------------------------------------------------------------

def test_bm25_ranking_properties(spark):
    """Rare terms outweigh common ones (idf) and repetition saturates (tf)."""
    from pyspark.sql import functions as F
    from tweets_elastic_spark.functions.analyzers import materialize_tokens
    from tweets_elastic_spark.plans.search import BM25Match, bm25_stats, search, Bool, FunctionScore

    df = spark.createDataFrame(
        [
            (1, "rare common common filler one"),
            (2, "common filler two padding words"),
            (3, "rare rare rare rare rare rare"),
            (4, "totally unrelated text here now"),
            (5, "common common common common common"),
        ],
        "doc_id long, text string",
    )
    df = materialize_tokens(df, {"text": ["keyword_lowercase"]})
    # tokenize per word instead of keyword for this test
    df = df.withColumn("toks", F.split(F.lower(F.col("text")), " "))
    qt = ["rare", "common"]
    stats = bm25_stats(df, [("toks", 1.0)], qt)
    assert stats.n_docs == 5.0
    assert stats.df["rare"] == 2.0 and stats.df["common"] == 3.0

    match = BM25Match([("text", "toks", 1.0)], "rare common",
                      analyzer="keyword_lowercase", stats=stats)
    # analyzer only feeds query-side tokens; patch them via monkey tokens
    match._query_tokens = lambda spark: qt
    out = search(df, FunctionScore(Bool(should=[(match, 1.0)])), k=None)
    scores = {r["doc_id"]: r["score"] for r in out.collect()}
    # coverage beats repetition: doc 1 (both terms) > doc 3 (6x rare only),
    # and the rarer term outweighs the commoner (doc 3 > doc 2, idf)
    assert scores[1] > scores[3] > scores[2]
    # should-only bool: non-matching doc 4 is NOT a hit (ES implicit
    # minimum_should_match=1); 5x the common term still loses to 1x rare
    assert 4 not in scores
    assert scores[5] < scores[3]
    # tf saturation: 6 repetitions score far below 6x one occurrence
    import math
    idf_rare = math.log(1 + (5 - 2 + 0.5) / 2.5)
    one_rare_at_dl6 = idf_rare * (1 * 2.2) / (1 + 1.2 * (0.25 + 0.75 * 6 / stats.avgdl))
    assert scores[3] < 2 * one_rare_at_dl6


def test_nested_bool_should_multiplies_inner_score(spark):
    """A compound (Bool/FunctionScore) inside a should list is NOT
    constant-score: the outer weight multiplies the inner weighted sum."""
    from pyspark.sql import functions as F
    from tweets_elastic_spark.plans.search import Bool, Term, FunctionScore, search

    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "y"), (3, "b", "x")],
        "id long, f1 string, f2 string",
    )
    inner = Bool(should=[(Term("f1", "a"), 5.0), (Term("f2", "x"), 2.0)])
    outer = FunctionScore(Bool(should=[(inner, 3.0)]))
    scores = {r["id"]: r["score"] for r in search(df, outer, k=None).collect()}
    # 3 * (5 if f1=a else 0 + 2 if f2=x else 0)
    assert scores == {1: 21.0, 2: 15.0, 3: 6.0}


# -- from_es_json: the JSON-DSL front-end -------------------------------------

def test_from_es_json_parses_reference_artifact_verbatim(reference_json):
    """The compiler run on the reference's OWN query file
    (src/used_queries/elastic_queries.json:1-46) with nested paths taken
    from its OWN mapping (src/config/mapping.json) yields a tree EQUAL to
    the hand-built reference_query() — the DSL front-end and the Python
    builder are the same query."""
    from tweets_elastic_spark.plans.search import (
        from_es_json, nested_paths_from_mapping,
    )

    mapping = reference_json("src/config/mapping.json")
    dsl = reference_json("src/used_queries/elastic_queries.json")
    parsed = from_es_json(dsl, nested_paths=nested_paths_from_mapping(mapping))
    assert parsed == reference_query()


def test_from_es_json_artifact_executes_like_reference_query(spark, docs_df, reference_json):
    """Executing the parsed artifact returns exactly the hand-built query's
    rows (id + score), on the tweet-documents corpus it targets."""
    from tweets_elastic_spark.plans.search import (
        from_es_json, nested_paths_from_mapping,
    )

    mapping = reference_json("src/config/mapping.json")
    dsl = reference_json("src/used_queries/elastic_queries.json")
    parsed = from_es_json(dsl, nested_paths=nested_paths_from_mapping(mapping))
    got = [
        (r["id"], r["score"])
        for r in search(docs_df, parsed, k=10, tiebreak="id").collect()
    ]
    want = [
        (r["id"], r["score"])
        for r in search(docs_df, reference_query(), k=10, tiebreak="id").collect()
    ]
    assert got == want and len(got) == 10


def test_from_es_json_registry_twin_matches_builder(spark):
    """search_from_json_dsl (compiled artifact) and search_function_score
    (Python builder) must agree byte-for-byte at sf0.001."""
    from tweets_elastic_spark import registry

    sf = "/root/testdata/sf0.001"
    a = registry.get("search_from_json_dsl").fn(spark, sf).collect()
    b = registry.get("search_function_score").fn(spark, sf).collect()
    assert a == b and len(a) > 0


# -- from_es_json: BM25 wiring (VERDICT r6 item 1) ----------------------------

def _fixed_stats(n=10.0, avgdl=4.0, df=None):
    from tweets_elastic_spark.plans.search import Bm25Stats

    return Bm25Stats(n_docs=n, avgdl=avgdl, df=df or {})


def _raising_provider(columns, analyzer, text):
    raise AssertionError(
        "bm25_stats_for must not be consulted for this query shape"
    )


def test_from_es_json_reference_artifact_identical_with_bm25_provider(reference_json):
    """The reference's own query (keyword match inside a nested scope,
    constant weight 5) must compile to the BYTE-IDENTICAL tree whether or
    not a BM25 provider is supplied — the provider may not even be
    consulted (its match has no analyzer/tokens binding)."""
    from tweets_elastic_spark.plans.search import (
        from_es_json, nested_paths_from_mapping,
    )

    mapping = reference_json("src/config/mapping.json")
    dsl = reference_json("src/used_queries/elastic_queries.json")
    nested = nested_paths_from_mapping(mapping)
    assert from_es_json(
        dsl, nested_paths=nested, bm25_stats_for=_raising_provider
    ) == from_es_json(dsl, nested_paths=nested) == reference_query()


def test_from_es_json_match_compiles_to_bm25_with_provider():
    from tweets_elastic_spark.plans.search import BM25Match, from_es_json

    stats = _fixed_stats(df={"spark": 3.0})
    seen = []

    def provider(columns, analyzer, text):
        seen.append((columns, analyzer, text))
        return stats

    q = from_es_json(
        {"match": {"text": {"query": "spark", "operator": "and",
                            "minimum_should_match": 1}}},
        analyzers={"text": "standard"},
        tokens_cols={"text": "text__standard"},
        bm25_stats_for=provider,
    )
    assert q == BM25Match(
        [("text", "text__standard", 1.0)], "spark", analyzer="standard",
        stats=stats, operator="and", minimum_should_match=1,
    )
    assert seen == [((("text__standard", 1.0),), "standard", "spark")]


def test_from_es_json_bm25_fallbacks_keep_overlap_match():
    """Documented fallbacks: fuzziness, missing tokens_col binding, and
    nested-path fields stay on the overlap-scoring Match path."""
    from tweets_elastic_spark.plans.search import (
        BM25Match, Match, Nested, from_es_json,
    )

    kw = dict(analyzers={"text": "standard", "links.title": "standard"},
              tokens_cols={"text": "text__standard",
                           "links.title": "links.title__standard"},
              bm25_stats_for=lambda *a: _fixed_stats())
    fz = from_es_json({"match": {"text": {"query": "spark",
                                          "fuzziness": 1}}}, **kw)
    assert isinstance(fz, Match) and fz.fuzziness == 1
    no_tok = from_es_json(
        {"match": {"other": "spark"}},
        analyzers={"other": "standard"},
        bm25_stats_for=lambda *a: _fixed_stats(),
    )
    assert isinstance(no_tok, Match)
    nested = from_es_json({"match": {"links.title": "spark"}},
                          nested_paths={"links"}, **kw)
    assert isinstance(nested, Nested) and isinstance(nested.query, Match)
    assert not isinstance(nested.query, BM25Match)


def test_from_es_json_multi_match_bm25_tree_shapes():
    """All-fields-bound multi_match compiles to per-field BM25 legs:
    best_fields → DisMax, most_fields → score-summing Bool; field^boost
    lands on the leg."""
    from tweets_elastic_spark.plans.search import (
        BM25Match, Bool, ConstantScore, DisMax, Match, from_es_json,
    )

    stats = _fixed_stats(df={"spark": 2.0})
    kw = dict(
        analyzers={"a": "standard", "b": "standard"},
        tokens_cols={"a": "a__t", "b": "b__t"},
        bm25_stats_for=lambda cols, an, tx: stats,
    )
    legs = [
        BM25Match([("a", "a__t", 1.0)], "spark", analyzer="standard",
                  stats=stats, boost=2.0),
        BM25Match([("b", "b__t", 1.0)], "spark", analyzer="standard",
                  stats=stats),
    ]
    best = from_es_json(
        {"multi_match": {"query": "spark", "fields": ["a^2", "b"]}}, **kw)
    assert best == DisMax(legs)
    most = from_es_json(
        {"multi_match": {"query": "spark", "fields": ["a^2", "b"],
                         "type": "most_fields"}}, **kw)
    assert most == Bool(should=[(legs[0], 1.0), (legs[1], 1.0)])
    # one field unbound → the whole clause falls back to overlap legs
    partial = from_es_json(
        {"multi_match": {"query": "spark", "fields": ["a", "c"]}}, **kw)
    assert partial == DisMax([
        ConstantScore(Match("a", "spark", analyzer="standard",
                            tokens_col="a__t"), 1.0),
        ConstantScore(Match("c", "spark"), 1.0),
    ])


def test_half_bound_multi_match_asks_no_provider():
    """Whether every multi_match field is BM25-bound is settled before any
    statistics lookup: with only ``a`` bound, the provider is never called
    and the clause compiles to the same overlap legs."""
    from tweets_elastic_spark.plans.search import (
        Bool, ConstantScore, DisMax, Match, from_es_json,
    )

    calls = []

    def provider(cols, analyzer, text):
        calls.append(cols)
        return _fixed_stats(df={"spark": 2.0})

    kw = dict(analyzers={"a": "standard"}, tokens_cols={"a": "a__t"},
              bm25_stats_for=provider)
    legs = [ConstantScore(Match("a", "spark", analyzer="standard",
                                tokens_col="a__t"), 1.0),
            ConstantScore(Match("c", "spark"), 1.0)]
    best = from_es_json(
        {"multi_match": {"query": "spark", "fields": ["a", "c"]}}, **kw)
    most = from_es_json(
        {"multi_match": {"query": "spark", "fields": ["a", "c"],
                         "type": "most_fields"}}, **kw)
    assert calls == []
    assert best == DisMax(legs)
    assert most == Bool(should=[(leg.filter, leg.boost) for leg in legs])


def test_bm25_match_operator_msm_boost_execution(spark):
    """BM25Match candidate gating (operator='and', msm) and boost
    multiplication, executed on an inline corpus against hand-computed
    Okapi values."""
    import math

    from pyspark.sql import functions as F

    from tweets_elastic_spark.plans.search import BM25Match, search

    rows = [
        ("d1", ["spark", "merge", "spark"]),
        ("d2", ["spark", "other"]),
        ("d3", ["merge"]),
        ("d4", ["nothing"]),
    ]
    df = spark.createDataFrame(rows, "id string, toks array<string>")
    stats = _fixed_stats(n=4.0, avgdl=2.0,
                         df={"spark": 2.0, "merge": 2.0})

    def okapi(tf, dl, dfreq, boost=1.0):
        idf = math.log(1.0 + (4.0 - dfreq + 0.5) / (dfreq + 0.5))
        return boost * idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / 2.0))

    base = dict(analyzer="standard", stats=stats)
    toks = [("toks", "toks", 1.0)]
    m_and = BM25Match(toks, "spark merge", **base, operator="and")
    got = {r["id"]: r["score"]
           for r in search(df, m_and, k=None).collect()}
    assert set(got) == {"d1"}
    want = okapi(2, 3, 2.0) + okapi(1, 3, 2.0)
    assert abs(got["d1"] - want) < 1e-9
    m_msm = BM25Match(toks, "spark merge", **base, minimum_should_match=2)
    assert {r["id"] for r in search(df, m_msm, k=None).collect()} == {"d1"}
    m_boost = BM25Match(toks, "spark merge", **base, boost=3.0)
    got_b = {r["id"]: r["score"]
             for r in search(df, m_boost, k=None).collect()}
    assert set(got_b) == {"d1", "d2", "d3"}
    assert abs(got_b["d2"] - okapi(1, 2, 2.0, boost=3.0)) < 1e-9


def test_search_dsl_bm25_registry_twin_matches_builder(spark):
    """search_dsl_bm25 (JSON front-end + provider) and search_bm25 (builder
    + explicit stats) must agree byte-for-byte at sf0.001."""
    from tweets_elastic_spark import registry

    sf = "/root/testdata/sf0.001"
    key = lambda r: r["doc_id"]  # noqa: E731
    a = sorted(registry.get("search_dsl_bm25").fn(spark, sf).collect(), key=key)
    b = sorted(registry.get("search_bm25").fn(spark, sf).collect(), key=key)
    assert a == b and len(a) > 0


def test_from_es_json_unknown_clause_raises():
    from tweets_elastic_spark.plans.search import from_es_json

    with pytest.raises(ValueError, match="unsupported query clause"):
        from_es_json({"query": {"fuzzy_like_this": {"text": "x"}}})
    with pytest.raises(ValueError, match="unsupported bool keys"):
        from_es_json({"bool": {"boost_mode": "sum"}})
    # ES rejects a null term value; compiled it would match nothing
    for dsl in ({"term": {"language": None}},
                {"term": {"language": {"value": None}}}):
        with pytest.raises(ValueError, match="'language' has a null value"):
            from_es_json(dsl)


def test_from_es_json_unhonoured_keys_raise():
    """A key the clause does not read raises. Each of these used to
    compile to a query that ignored it: ``prefix`` on "E" matched no
    ``en`` row, ``term`` dropped its boost."""
    from tweets_elastic_spark.plans.search import from_es_json

    for kind, body, key in (
        ("prefix", {"lang": {"value": "E", "case_insensitive": True}},
         "case_insensitive"),
        ("wildcard", {"lang": {"value": "E*", "case_insensitive": True}},
         "case_insensitive"),
        ("term", {"lang": {"value": "en", "boost": 2.0}}, "boost"),
        ("exists", {"field": "lang", "bogus": 1}, "bogus"),
        ("ids", {"values": [1], "bogus": 1}, "bogus"),
        ("match_all", {"boost": 2.0}, "boost"),
    ):
        with pytest.raises(ValueError, match=rf"unsupported {kind} keys: \['{key}'\]"):
            from_es_json({"query": {kind: body}})


def test_nested_span_term_keys_raise():
    """A span_term nested in another span query goes through the span_term
    key table: each of these used to compile with the boost dropped."""
    from tweets_elastic_spark.plans.search import from_es_json

    boosted = {"span_term": {"t": {"value": "a", "boost": 2.0}}}
    plain = {"span_term": {"t": "b"}}
    for dsl in (
        {"span_near": {"clauses": [boosted, plain], "slop": 0, "in_order": True}},
        {"span_first": {"match": boosted, "end": 2}},
        {"span_not": {"include": boosted, "exclude": plain}},
        {"span_containing": {"big": plain, "little": boosted}},
    ):
        with pytest.raises(ValueError, match=r"unsupported span_term keys: \['boost'\]"):
            from_es_json({"query": dsl}, analyzers={"t": "standard"},
                         tokens_cols={"t": "t__standard"})


def test_from_es_json_scalar_and_list_clauses_and_msm():
    from tweets_elastic_spark.plans.search import from_es_json

    q = from_es_json({
        "bool": {
            "must": {"term": {"lang": "en"}},      # scalar form
            "must_not": [{"exists": {"field": "x"}}],
            "should": [{"match_all": {}}],          # unweighted -> weight 1.0
            "minimum_should_match": 1,
        }
    })
    assert q == Bool(
        must=[Term("lang", "en")],
        must_not=[Exists("x")],
        should=[(MatchAll(), 1.0)],
        minimum_should_match=1,
    )
    # single-must-only bool unwraps to its clause
    assert from_es_json({"bool": {"must": {"term": {"lang": "en"}}}}) == Term("lang", "en")


# -- extended DSL nodes: terms / prefix / wildcard / match_phrase -------------

def test_match_phrase_requires_adjacency(spark):
    """Phrase matches need CONSECUTIVE tokens in order — token presence or
    reversed order must not match."""
    from tweets_elastic_spark.plans.search import MatchPhrase

    df = spark.createDataFrame(
        [
            (1, "big data processing wins"),       # phrase present
            (2, "data is key to processing"),      # both tokens, not adjacent
            (3, "processing data backwards"),      # adjacent, wrong order
            (4, "Data Processing"),                # case-folds to a match
            (5, "nothing here"),
        ],
        "id long, text string",
    )
    q = MatchPhrase("text", "data processing", analyzer="standard")
    got = {r["id"] for r in search(df, q, k=None).collect()}
    assert got == {1, 4}


def test_wildcard_and_prefix_translation(spark):
    from tweets_elastic_spark.plans.search import Prefix, Wildcard

    df = spark.createDataFrame(
        [(1, "src1"), (2, "src12"), (3, "source"), (4, "s%c1"), (5, "xsrc1")],
        "id long, source string",
    )
    assert {r["id"] for r in search(df, Wildcard("source", "src?"), k=None).collect()} == {1}
    assert {r["id"] for r in search(df, Wildcard("source", "s*1"), k=None).collect()} == {1, 4}
    assert {r["id"] for r in search(df, Wildcard("source", "s%c1"), k=None).collect()} == {4}
    assert {r["id"] for r in search(df, Prefix("source", "src"), k=None).collect()} == {1, 2}
    assert {r["id"] for r in search(df, Prefix("source", "s%"), k=None).collect()} == {4}


def test_terms_membership(spark):
    from tweets_elastic_spark.plans.search import Terms

    df = spark.createDataFrame(
        [(1, "en"), (2, "de"), (3, "fr")], "id long, lang string"
    )
    got = {r["id"] for r in search(df, Terms("lang", ["en", "de"]), k=None).collect()}
    assert got == {1, 2}


def test_from_es_json_extended_clauses():
    from tweets_elastic_spark.plans.search import (
        MatchPhrase, Prefix, Terms, Wildcard, from_es_json,
    )

    assert from_es_json({"terms": {"lang": ["en", "de"]}}) == Terms("lang", ["en", "de"])
    assert from_es_json({"prefix": {"source": "src"}}) == Prefix("source", "src")
    assert from_es_json({"prefix": {"source": {"value": "src"}}}) == Prefix("source", "src")
    assert from_es_json({"wildcard": {"source": "src?"}}) == Wildcard("source", "src?")
    assert from_es_json(
        {"match_phrase": {"text": {"query": "a b"}}}, analyzers={"text": "standard"}
    ) == MatchPhrase("text", "a b", analyzer="standard")
    with pytest.raises(ValueError, match="analyzer binding"):
        from_es_json({"match_phrase": {"text": "a b"}})
    with pytest.raises(ValueError, match="terms expects a list"):
        from_es_json({"terms": {"lang": "en"}})


def test_match_phrase_differential_vs_python_reference(spark):
    """Randomized differential: 200 docs over a 5-token alphabet (adjacency
    collisions everywhere) vs an independent Python implementation of
    'phrase tokens appear consecutively'. One Spark job for all docs."""
    import random

    from tweets_elastic_spark.plans.search import MatchPhrase

    rng = random.Random(17)
    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12))))
        for i in range(200)
    ]
    df = spark.createDataFrame(docs, "id long, text string")

    def py_phrase_match(text: str, phrase: list[str]) -> bool:
        toks = [t.lower() for t in text.split() if t]
        n = len(phrase)
        return any(toks[i:i + n] == phrase for i in range(len(toks) - n + 1))

    for phrase in (["alpha", "beta"], ["beta", "beta", "gamma"], ["eps"]):
        q = MatchPhrase("text", " ".join(phrase), analyzer="standard")
        got = {r["id"] for r in search(df, q, k=None).collect()}
        want = {i for i, t in docs if py_phrase_match(t, phrase)}
        assert got == want, f"phrase {phrase}: spark^py diff {got ^ want}"
        assert want, f"degenerate fixture: phrase {phrase} matched nothing"


# ------------------------------------------------- round-6 DSL nodes


def test_fuzzy_auto_tiers_and_edit_bound(spark):
    from tweets_elastic_spark.plans.search import Fuzzy

    assert Fuzzy("f", "ab").max_edits() == 0
    assert Fuzzy("f", "abc").max_edits() == 1
    assert Fuzzy("f", "abcde").max_edits() == 1
    assert Fuzzy("f", "abcdef").max_edits() == 2
    assert Fuzzy("f", "abc", fuzziness=2).max_edits() == 2
    with pytest.raises(ValueError, match="AUTO"):
        Fuzzy("f", "abc", fuzziness="ONE").max_edits()

    df = spark.createDataFrame(
        [("click",), ("clack",), ("cluck",), ("flock",), ("quack",)],
        "w string",
    )
    got = {r["w"] for r in search(df, Fuzzy("w", "click", fuzziness=1), k=None).collect()}
    assert got == {"click", "clack", "cluck"}  # flock/quack are 2 edits away
    got0 = {r["w"] for r in search(df, Fuzzy("w", "cl", fuzziness="AUTO"), k=None).collect()}
    assert got0 == set()  # AUTO on a 2-char term = exact match only


def test_ids_query_binds_to_id_field(spark):
    from tweets_elastic_spark.plans.search import from_es_json

    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "pk long, v string")
    q = from_es_json({"query": {"ids": {"values": [1, 3]}}}, id_field="pk")
    assert {r["pk"] for r in search(df, q, k=None).collect()} == {1, 3}
    with pytest.raises(ValueError, match=r"unsupported ids keys: \['value'\]"):
        from_es_json({"query": {"ids": {"value": [1]}}})


def test_match_operator_and_requires_all_tokens(spark):
    from tweets_elastic_spark.plans.search import Match

    df = spark.createDataFrame(
        [(1, "spark merge fast"), (2, "spark only here"), (3, "merge alone"),
         (4, "nothing relevant")],
        "id long, text string",
    )
    q_or = Match("text", "spark merge", analyzer="standard")
    q_and = Match("text", "spark merge", analyzer="standard", operator="and")
    assert {r["id"] for r in search(df, q_or, k=None).collect()} == {1, 2, 3}
    assert {r["id"] for r in search(df, q_and, k=None).collect()} == {1}
    with pytest.raises(ValueError, match="operator"):
        search(df, Match("text", "x", analyzer="standard", operator="xor"), k=None)


def test_match_minimum_should_match_tokens(spark):
    from tweets_elastic_spark.plans.search import from_es_json

    df = spark.createDataFrame(
        [(1, "spark merge join"), (2, "spark merge"), (3, "spark alone"),
         (4, "other words")],
        "id long, text string",
    )
    q = from_es_json(
        {"query": {"match": {"text": {
            "query": "spark merge join", "minimum_should_match": 2}}}},
        analyzers={"text": "standard"},
    )
    assert {r["id"] for r in search(df, q, k=None).collect()} == {1, 2}
    with pytest.raises(ValueError, match="unsupported match keys"):
        from_es_json({"query": {"match": {"text": {
            "query": "x", "zero_terms_query": "all"}}}})


def test_multi_match_best_fields_takes_max_boosted_leg(spark):
    from tweets_elastic_spark.plans.search import from_es_json

    df = spark.createDataFrame(
        [(1, "merge is here", "other"), (2, "plain words", "src1"),
         (3, "merge too", "src1"), (4, "nothing", "none")],
        "id long, text string, source string",
    )
    q = from_es_json(
        {"query": {"multi_match": {"query": "src1 merge",
                                   "fields": ["text^2", "source"]}}},
        analyzers={"text": "standard", "source": "standard"},
    )
    got = {r["id"]: r["score"] for r in search(df, q, k=None).collect()}
    # text leg fires → 2.0; source-only → 1.0; both → max = 2.0
    assert got == {1: 2.0, 2: 1.0, 3: 2.0}
    with pytest.raises(ValueError, match="best_fields"):
        from_es_json({"query": {"multi_match": {
            "query": "x", "fields": ["a"], "type": "phrase"}}})
    with pytest.raises(ValueError, match="at least one field"):
        from_es_json({"query": {"multi_match": {"query": "x", "fields": []}}})


def test_multi_match_tie_breaker(spark):
    """ES best_fields tie_breaker: best + tb·(sum − best), on both the
    overlap path and the BM25 path (where it lands on DisMax)."""
    from tweets_elastic_spark.plans.search import (
        BM25Match, DisMax, from_es_json,
    )

    df = spark.createDataFrame(
        [(1, "merge is here", "src1 stuff"), (2, "plain words", "src1"),
         (3, "merge too", "nothing")],
        "id long, text string, source string",
    )
    q = from_es_json(
        {"query": {"multi_match": {"query": "src1 merge",
                                   "fields": ["text^2", "source"],
                                   "tie_breaker": 0.3}}},
        analyzers={"text": "standard", "source": "standard"},
    )
    got = {r["id"]: r["score"] for r in search(df, q, k=None).collect()}
    # doc 1 fires both legs: 2.0 + 0.3·(3.0 − 2.0) = 2.3; single-leg docs
    # keep their best
    assert got == {1: 2.3, 2: 1.0, 3: 2.0}
    with pytest.raises(ValueError, match="best_fields"):
        from_es_json({"query": {"multi_match": {
            "query": "x", "fields": ["a"], "type": "most_fields",
            "tie_breaker": 0.5}}})
    with pytest.raises(ValueError, match=r"tie_breaker must be in \[0, 1\]"):
        from_es_json({"multi_match": {"query": "x", "fields": ["a"],
                                      "tie_breaker": 1.5}})
    # BM25 path: tie_breaker lands on the DisMax combiner
    stats = _fixed_stats(df={"spark": 2.0})
    parsed = from_es_json(
        {"multi_match": {"query": "spark", "fields": ["a", "b"],
                         "tie_breaker": 0.4}},
        analyzers={"a": "standard", "b": "standard"},
        tokens_cols={"a": "a__t", "b": "b__t"},
        bm25_stats_for=lambda cols, an, tx: stats,
    )
    legs = [BM25Match([("a", "a__t", 1.0)], "spark", analyzer="standard",
                      stats=stats),
            BM25Match([("b", "b__t", 1.0)], "spark", analyzer="standard",
                      stats=stats)]
    assert parsed == DisMax(legs, tie_breaker=0.4)


def test_multi_match_keyword_leg_without_analyzer_is_equality(spark):
    from tweets_elastic_spark.plans.search import from_es_json

    df = spark.createDataFrame(
        [(1, "merge word soup", "en"), (2, "no match", "en"), (3, "merge", "de")],
        "id long, text string, lang string",
    )
    # lang has no analyzer binding → keyword equality against the WHOLE
    # query string (which never equals 'merge text'), so only text fires
    q = from_es_json(
        {"query": {"multi_match": {"query": "merge", "fields": ["text", "lang"]}}},
        analyzers={"text": "standard"},
    )
    got = {r["id"] for r in search(df, q, k=None).collect()}
    assert got == {1, 3}


def test_match_fuzziness_per_token(spark):
    from tweets_elastic_spark.plans.search import Match

    df = spark.createDataFrame(
        [(1, "spark merge fast"), (2, "spork table"), (3, "nothing here")],
        "id long, text string",
    )
    # 'sparc' is 1 edit from 'spark' (doc 1); 'spork' is 2 edits away
    q = Match("text", "sparc", analyzer="standard", fuzziness=1)
    assert {r["id"] for r in search(df, q, k=None).collect()} == {1}
    q2 = Match("text", "sparc", analyzer="standard", fuzziness=2)
    assert {r["id"] for r in search(df, q2, k=None).collect()} == {1, 2}
    # fuzziness composes with operator=and: every term needs a fuzzy hit
    q_and = Match("text", "sparc merg", analyzer="standard",
                  fuzziness=1, operator="and")
    assert {r["id"] for r in search(df, q_and, k=None).collect()} == {1}
    # fuzziness=0 degrades to exact token match
    q0 = Match("text", "sparc", analyzer="standard", fuzziness=0)
    assert search(df, q0, k=None).count() == 0


def test_fuzzy_expand_walks_term_dictionary(spark, tmp_path):
    from tweets_elastic_spark.indexing import fuzzy_expand

    idx = str(tmp_path / "idx")
    spark.createDataFrame(
        [("spark", 10), ("spork", 2), ("sparkle", 1), ("merge", 5),
         ("table", 7)],
        "token string, df long",
    ).write.parquet(f"{idx}/token_stats__text__std")
    got = fuzzy_expand(spark, idx, "text__std", "sparc", fuzziness=1)
    assert got == ["spark"]  # spork is 2 edits; sparkle is length-pruned
    got2 = fuzzy_expand(spark, idx, "text__std", "sparc", fuzziness=2)
    assert got2 == ["spark", "spork"]  # sparkle is 3 edits (k->c, -l, -e)
    # AUTO tiers: a 2-char term expands to itself only (0 edits)
    assert fuzzy_expand(spark, idx, "text__std", "sp") == ["sp"]


def test_function_score_functions_modes(spark):
    from tweets_elastic_spark.plans.search import (
        FieldValueFactor, FunctionScore, MatchAll, Term, WeightFunction,
    )

    df = spark.createDataFrame(
        [(1, "a", 100.0), (2, "b", 0.0), (3, "a", None)],
        "id long, tag string, pop double",
    )
    # replace mode: score IS the function value; missing substitutes NULL
    q = FunctionScore(
        MatchAll(),
        functions=[FieldValueFactor("pop", factor=0.01, modifier="sqrt",
                                    missing=25.0)],
        boost_mode="replace",
    )
    got = {r["id"]: r["score"] for r in search(df, q, k=None).collect()}
    assert got == {1: 1.0, 2: 0.0, 3: 0.5}
    # score_mode=sum over fvf + filtered weight; boost_mode=sum with base 0
    q2 = FunctionScore(
        MatchAll(),
        functions=[
            FieldValueFactor("pop", factor=1.0, missing=0.0),
            WeightFunction(7.0, filter=Term("tag", "a")),
        ],
        score_mode="sum",
        boost_mode="sum",
    )
    got2 = {r["id"]: r["score"] for r in search(df, q2, k=None).collect()}
    # match_all base = 1.0 (ES), + (fvf + filtered weight; neutral = 1.0)
    assert got2 == {1: 108.0, 2: 2.0, 3: 8.0}
    with pytest.raises(ValueError, match="unsupported score_mode"):
        search(df, FunctionScore(MatchAll(), functions=[WeightFunction(1.0)],
                                 score_mode="median"), k=None)
    with pytest.raises(ValueError, match="unsupported.*modifier"):
        search(df, FunctionScore(
            MatchAll(),
            functions=[FieldValueFactor("pop", modifier="cbrt")],
            boost_mode="replace"), k=None)


def test_from_es_json_function_score_functions(spark):
    from tweets_elastic_spark.plans.search import (
        FieldValueFactor, FunctionScore, from_es_json,
    )

    q = from_es_json({"query": {"function_score": {
        "query": {"match_all": {}},
        "functions": [
            {"field_value_factor": {"field": "pop", "modifier": "log1p"}},
            {"filter": {"term": {"tag": "a"}}, "weight": 2},
        ],
        "score_mode": "max",
        "boost_mode": "replace",
    }}})
    assert isinstance(q, FunctionScore)
    assert isinstance(q.functions[0], FieldValueFactor)
    assert (q.score_mode, q.boost_mode) == ("max", "replace")
    with pytest.raises(ValueError, match="unsupported scoring function"):
        from_es_json({"query": {"function_score": {
            "query": {"match_all": {}},
            "functions": [{"script_score": {"script": "x"}}],
        }}})
    with pytest.raises(ValueError, match="field_value_factor with a filter"):
        from_es_json({"query": {"function_score": {
            "query": {"match_all": {}},
            "functions": [{"filter": {"term": {"t": 1}},
                           "field_value_factor": {"field": "pop"}}],
        }}})


def test_decay_kernels(spark):
    import math

    from tweets_elastic_spark.plans.search import (
        DecayFunction, FunctionScore, MatchAll,
    )

    df = spark.createDataFrame(
        [(1, 100.0), (2, 150.0), (3, 210.0), (4, None), (5, 90.0)],
        "id long, x double",
    )

    def score_with(fn):
        q = FunctionScore(MatchAll(), functions=[fn], boost_mode="replace")
        return {r["id"]: r["score"] for r in search(df, q, k=None).collect()}

    # gauss: 1.0 inside the offset plateau; exactly `decay` at distance scale
    g = score_with(DecayFunction("gauss", "x", origin=100, scale=50, offset=10))
    assert g[1] == 1.0 and g[5] == 1.0  # |90-100| = 10 <= offset
    # |210-100|-10 = 100 = 2*scale -> gauss(2s) = decay^4 = 0.0625
    assert abs(g[3] - 0.5 ** 4) < 1e-12
    assert abs(g[2] - 0.5 ** ((40 / 50) ** 2)) < 1e-12
    assert g[4] == 1.0  # NULL field scores 1.0 (ES contract)
    e = score_with(DecayFunction("exp", "x", origin=100, scale=50, offset=0))
    assert abs(e[2] - 0.5) < 1e-12      # d = 50 = scale -> decay
    assert abs(e[3] - 0.5 ** (110 / 50)) < 1e-12
    lin = score_with(DecayFunction("linear", "x", origin=100, scale=50,
                                   offset=0, decay=0.5))
    assert abs(lin[2] - 0.5) < 1e-12    # d = scale -> decay
    assert lin[3] == 0.0                # d = 110 > s = 100 -> floor at 0
    with pytest.raises(ValueError, match="decay needs"):
        score_with(DecayFunction("gauss", "x", origin=0, scale=-1))
    with pytest.raises(ValueError, match="unsupported decay function"):
        score_with(DecayFunction("triangular", "x", origin=0, scale=1))


def test_from_es_json_decay_clause(spark):
    from tweets_elastic_spark.plans.search import DecayFunction, from_es_json

    q = from_es_json({"query": {"function_score": {
        "query": {"match_all": {}},
        "functions": [{"exp": {"ts": {"origin": 0, "scale": 10,
                                      "decay": 0.3}}}],
        "boost_mode": "replace",
    }}})
    fn = q.functions[0]
    assert isinstance(fn, DecayFunction)
    assert (fn.kind, fn.origin, fn.scale, fn.decay) == ("exp", 0.0, 10.0, 0.3)
    with pytest.raises(ValueError, match="unsupported decay keys"):
        from_es_json({"query": {"function_score": {
            "query": {"match_all": {}},
            "functions": [{"gauss": {"ts": {"origin": 0, "scale": 1,
                                            "shape": "x"}}}],
        }}})


def test_regexp_anchored_and_rejects_optional_operators(spark):
    from tweets_elastic_spark.plans.search import Regexp

    df = spark.createDataFrame(
        [(1, "src1"), (2, "src12"), (3, "xsrc1"), (4, "src9")],
        "id long, source string",
    )
    # anchored: matches the ENTIRE term, no substring hits (3 would match
    # an unanchored engine)
    got = {r["id"] for r in search(df, Regexp("source", "src1[0-9]"), k=None).collect()}
    assert got == {2}
    got = {r["id"] for r in search(df, Regexp("source", "src(1|9)"), k=None).collect()}
    assert got == {1, 4}
    for bad in ("a~b", "a&b", "<1-9>", "a@"):
        with pytest.raises(ValueError, match="optional operator"):
            Regexp("source", bad).predicate(spark)
    # escaped specials pass validation
    Regexp("source", r"a\~b").predicate(spark)


def test_constant_score_scores_boost(spark):
    from tweets_elastic_spark.plans.search import ConstantScore, Term

    df = spark.createDataFrame(
        [(1, "en"), (2, "de")], "id long, lang string"
    )
    hits = search(df, ConstantScore(Term("lang", "en"), boost=2.5), k=None).collect()
    by_id = {r["id"]: r["score"] for r in hits}
    assert by_id == {1: 2.5}


def test_dis_max_best_clause_wins_with_tie_breaker(spark):
    from tweets_elastic_spark.plans.search import ConstantScore, DisMax, Term

    df = spark.createDataFrame(
        [(1, "en", "src1"), (2, "de", "src1"), (3, "fr", "src2")],
        "id long, lang string, source string",
    )
    q = DisMax(
        [ConstantScore(Term("lang", "en"), boost=3.0),
         ConstantScore(Term("source", "src1"), boost=2.0)],
        tie_breaker=0.5,
    )
    by_id = {r["id"]: r["score"] for r in search(df, q, k=None).collect()}
    # doc1 matches both: max(3,2) + 0.5*2 = 4.0; doc2 only the second leg
    assert by_id == {1: 4.0, 2: 2.0}
    with pytest.raises(ValueError, match="tie_breaker"):
        DisMax([Term("lang", "en")], tie_breaker=1.5)
    with pytest.raises(ValueError, match="at least one"):
        DisMax([])


def test_boosting_demotes_without_excluding(spark):
    from tweets_elastic_spark.plans.search import Boosting, ConstantScore, Term

    df = spark.createDataFrame(
        [(1, "en", "src1"), (2, "en", "src2"), (3, "de", "src1")],
        "id long, lang string, source string",
    )
    q = Boosting(
        positive=ConstantScore(Term("lang", "en"), boost=4.0),
        negative=Term("source", "src2"),
        negative_boost=0.25,
    )
    by_id = {r["id"]: r["score"] for r in search(df, q, k=None).collect()}
    # doc2 matches negative -> demoted, NOT excluded; doc3 fails positive
    assert by_id == {1: 4.0, 2: 1.0}
    with pytest.raises(ValueError, match="negative_boost"):
        Boosting(Term("lang", "en"), Term("lang", "de"), negative_boost=-1)


def test_script_score_arithmetic_and_score_binding(spark):
    from tweets_elastic_spark.plans.search import (
        Bool, ScriptScore, Term,
    )

    df = spark.createDataFrame(
        [(1, "en", 100), (2, "en", 10), (3, "de", 1000)],
        "id long, lang string, rank long",
    )
    # _score binds to the wrapped query's score (weighted should)
    inner = Bool(filter=[Term("lang", "en")],
                 should=[(Term("rank", 100), 3.0)])
    q = ScriptScore(inner, "Math.sqrt(doc['rank'].value) + _score * 2")
    by_id = {r["id"]: r["score"] for r in search(df, q, k=None).collect()}
    assert by_id == {1: 16.0, 2: pytest.approx(10 ** 0.5)}
    # precedence, parens, unary minus, two-arg functions
    q2 = ScriptScore(inner, "-(1 + 2) * 2 + Math.max(10, doc['rank'].value) / 2")
    by_id2 = {r["id"]: r["score"] for r in search(df, q2, k=None).collect()}
    assert by_id2 == {1: -6 + 50.0, 2: -6 + 5.0}


def test_script_score_rejects_unknown_syntax(spark):
    from tweets_elastic_spark.plans.search import MatchAll, ScriptScore

    for bad, msg in [
        ("params.x + 1", "unknown params.x"),
        ("doc @ 1", "cannot tokenize"),
        ("Math.tan(1)", "unsupported function"),
        ("Math.max(1)", "takes 2 args"),
        ("1 + ", "unexpected"),
        ("1 2", "trailing tokens"),
    ]:
        with pytest.raises(ValueError, match=msg):
            ScriptScore(MatchAll(), bad).score(spark)


def test_from_es_json_compound_scoring_clauses():
    from tweets_elastic_spark.plans.search import (
        Boosting, ConstantScore, DisMax, Regexp, ScriptScore, Term,
        from_es_json,
    )

    assert from_es_json(
        {"constant_score": {"filter": {"term": {"lang": "en"}}, "boost": 2}}
    ) == ConstantScore(Term("lang", "en"), boost=2.0)
    assert from_es_json(
        {"dis_max": {"queries": [{"term": {"lang": "en"}}],
                     "tie_breaker": 0.3}}
    ) == DisMax([Term("lang", "en")], tie_breaker=0.3)
    assert from_es_json(
        {"boosting": {"positive": {"term": {"lang": "en"}},
                      "negative": {"term": {"lang": "de"}},
                      "negative_boost": 0.2}}
    ) == Boosting(Term("lang", "en"), Term("lang", "de"), negative_boost=0.2)
    assert from_es_json(
        {"regexp": {"source": {"value": "src[0-9]+"}}}
    ) == Regexp("source", "src[0-9]+")
    assert from_es_json(
        {"script_score": {"query": {"term": {"lang": "en"}},
                          "script": {"source": "_score * 2"}}}
    ) == ScriptScore(Term("lang", "en"), "_score * 2")
    # numeric params bind as literals (r7); unknown script keys still raise
    assert from_es_json(
        {"script_score": {"query": {"term": {"lang": "en"}},
                          "script": {"source": "_score * params.x",
                                     "params": {"x": 1}}}}
    ) == ScriptScore(Term("lang", "en"), "_score * params.x",
                     params={"x": 1})
    with pytest.raises(ValueError, match="unsupported script keys"):
        from_es_json(
            {"script_score": {"query": {"term": {"lang": "en"}},
                              "script": {"source": "_score", "lang":
                                         "painless"}}}
        )


def test_multi_match_most_fields_sums_legs(spark):
    from tweets_elastic_spark.plans.search import Bool, Match, from_es_json

    df = spark.createDataFrame(
        [(1, "alpha beta", "alpha"), (2, "alpha x", "zzz"), (3, "q", "alpha")],
        "id long, text string, title string",
    )
    an = {"text": "standard", "title": "standard"}
    q = from_es_json(
        {"multi_match": {"query": "alpha", "type": "most_fields",
                         "fields": ["text^2", "title"]}},
        analyzers=an,
    )
    by_id = {r["id"]: r["score"] for r in search(df, q, k=None).collect()}
    # doc1 matches both legs: 2 + 1 = 3 (best_fields would give 2)
    assert by_id == {1: 3.0, 2: 2.0, 3: 1.0}
    assert q == Bool(should=[
        (Match("text", "alpha", analyzer="standard"), 2.0),
        (Match("title", "alpha", analyzer="standard"), 1.0),
    ])
    with pytest.raises(ValueError, match="unsupported multi_match type"):
        from_es_json({"multi_match": {"query": "x", "fields": ["text"],
                                      "type": "phrase"}}, analyzers=an)


def test_more_like_this_selects_similar_docs(spark):
    from tweets_elastic_spark.plans.search import more_like_this

    common = "the and of to a"  # high-df chatter (stopword guard fodder)
    rows = [
        (1, f"quantum physics experiment lab {common}"),        # seed
        (2, f"quantum experiment measurement {common}"),        # similar
        (3, f"physics lab quantum notes {common}"),             # similar
        (4, f"football season league match {common}"),          # unrelated
        (5, f"cooking pasta recipe dinner {common}"),           # unrelated
    ] + [(10 + i, f"filler words here now {common}") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = more_like_this(
        docs, 1, analyzer="standard", max_query_terms=8,
        min_doc_freq=2, max_doc_freq_frac=0.5,
        minimum_should_match=0.3, k=5,
    ).collect()
    got = [r["doc_id"] for r in out]
    # the two quantum/physics docs rank, the seed itself never appears,
    # unrelated and filler docs don't pass minimum_should_match
    assert set(got) == {2, 3}
    assert 1 not in got
    # seed terms with df=1 (unique to the seed) can never be selected:
    # doc 4/5 share zero selected terms
    scores = {r["doc_id"]: r["score"] for r in out}
    assert all(s > 0 for s in scores.values())


def test_more_like_this_stopword_guard(spark):
    from tweets_elastic_spark.plans.search import more_like_this

    # 'shared' appears in EVERY doc -> df too high -> excluded, so no doc
    # can match on it and nothing passes the msm gate
    docs = spark.createDataFrame(
        [(i, "shared unique%d" % i) for i in range(10)],
        "doc_id long, text string",
    )
    out = more_like_this(
        docs, 0, analyzer="standard", max_doc_freq_frac=0.25,
        minimum_should_match=0.3, k=5,
    ).collect()
    assert out == []


def test_match_phrase_slop_two_terms(spark):
    from tweets_elastic_spark.plans.search import MatchPhrase, from_es_json

    df = spark.createDataFrame(
        [(1, "alpha beta"),              # adjacent
         (2, "alpha gap beta"),          # 1 apart
         (3, "alpha x y beta"),          # 2 apart
         (4, "beta then alpha"),         # transposed with a gap (cost 3)
         (5, "alpha alone"),
         (6, "beta alpha")],             # adjacent transposition (cost 2)
        "id long, text string",
    )

    def hits(slop):
        q = MatchPhrase("text", "alpha beta", analyzer="standard", slop=slop)
        return {r["id"] for r in search(df, q, k=None).collect()}

    assert hits(0) == {1}          # slop=0 keeps exact-adjacency semantics
    assert hits(1) == {1, 2}
    # slop=2 admits one more gap AND the adjacent transposition (Lucene:
    # moving a term past its neighbour costs 2 position edits); the
    # gapped transposition costs 3
    assert hits(2) == {1, 2, 3, 6}
    assert hits(3) == {1, 2, 3, 4, 6}
    assert 6 not in hits(1)        # transposition needs slop >= 2
    # repeated occurrences: any pair within range matches
    df2 = spark.createDataFrame(
        [(1, "beta filler alpha filler beta")], "id long, text string"
    )
    q = MatchPhrase("text", "alpha beta", analyzer="standard", slop=1)
    assert search(df2, q, k=None).count() == 1
    parsed = from_es_json(
        {"match_phrase": {"text": {"query": "alpha beta", "slop": 2}}},
        analyzers={"text": "standard"},
    )
    assert parsed == MatchPhrase("text", "alpha beta", analyzer="standard",
                                 slop=2)


def test_intervals_match_hand_computed(spark):
    """ES intervals.match (r8): hand-computed gap/order ladder. gaps =
    interval width − term count; ordered requires strictly increasing
    positions in query order."""
    from tweets_elastic_spark.plans.search import Intervals, from_es_json

    df = spark.createDataFrame(
        [(1, "the quick brown fox"),   # quick..fox, 1 gap
         (2, "fox quick"),             # adjacent, reversed
         (3, "quick fox"),             # adjacent, in order
         (4, "quick x y z fox"),       # 3 gaps, in order
         (5, "quick brown")],          # fox missing
        "id long, text string",
    )

    def hits(rule):
        q = Intervals("text", rule, analyzer="standard")
        return {r["id"] for r in search(df, q, k=None).collect()}

    m = lambda **kw: {"match": {"query": "quick fox", **kw}}
    assert hits(m()) == {1, 2, 3, 4}                      # unlimited gaps
    assert hits(m(max_gaps=0)) == {2, 3}
    assert hits(m(max_gaps=1)) == {1, 2, 3}
    assert hits(m(max_gaps=0, ordered=True)) == {3}
    assert hits(m(max_gaps=3, ordered=True)) == {1, 3, 4}
    assert hits(m(ordered=True)) == {1, 3, 4}             # order, any width
    # any_of = OR over sub-rules
    assert hits({"any_of": {"intervals": [
        m(max_gaps=0, ordered=True), {"match": {"query": "brown"}},
    ]}}) == {1, 3, 5}
    # repeated query terms need DISTINCT positions
    df2 = spark.createDataFrame([(1, "fox a fox"), (2, "fox alone")],
                                "id long, text string")

    def hits2(rule):
        q = Intervals("text", rule, analyzer="standard")
        return {r["id"] for r in search(df2, q, k=None).collect()}

    ff = lambda **kw: {"match": {"query": "fox fox", **kw}}
    assert hits2(ff()) == {1}            # two distinct positions required
    assert hits2(ff(max_gaps=0)) == set()  # width-2 window holds only one
    assert hits2(ff(max_gaps=1)) == {1}
    assert hits2(ff(max_gaps=1, ordered=True)) == {1}
    # from_es_json wiring + analyzer-binding contract
    parsed = from_es_json(
        {"intervals": {"text": {"match": {"query": "quick fox",
                                          "max_gaps": 1}}}},
        analyzers={"text": "standard"},
    )
    assert parsed == Intervals(
        "text", {"match": {"query": "quick fox", "max_gaps": 1}},
        analyzer="standard",
    )
    with pytest.raises(ValueError, match="analyzer binding"):
        from_es_json({"intervals": {"text": {"match": {"query": "x"}}}})
    # malformed rule shapes raise at compile time
    for bad in [
        {"all_of": {"ordered": True}},                # intervals missing
        {"match": {"query": "x", "filter": {}}},      # unknown option
        {"match": {"max_gaps": 1}},                   # query missing
        {"match": {"query": "x", "max_gaps": -2}},    # bad gap bound
        {"any_of": {"intervals": []}},                # empty any_of
    ]:
        with pytest.raises(ValueError):
            Intervals("text", bad, analyzer="standard")


def test_intervals_all_of_ordered_phrases(spark):
    """all_of (r8 documented subset): ordered contiguous children — one
    occurrence per child, strictly after the previous child's end, gaps
    (span width − Σ child widths) bounded by max_gaps."""
    from tweets_elastic_spark.plans.search import Intervals, from_es_json

    df = spark.createDataFrame(
        [(1, "vector merge x y order end"),   # gaps 2
         (2, "vector merge order"),           # gaps 0
         (3, "order vector merge"),           # wrong order
         (4, "vector x merge order"),         # phrase broken
         (5, "vector merge a b c d order")],  # gaps 4
        "id long, text string",
    )

    def rule(**kw):
        return {"all_of": {
            "ordered": True,
            "intervals": [
                {"match": {"query": "vector merge", "max_gaps": 0}},
                {"match": {"query": "order"}},
            ], **kw,
        }}

    def hits(r):
        q = Intervals("text", r, analyzer="standard")
        return {x["id"] for x in search(df, q, k=None).collect()}

    assert hits(rule()) == {1, 2, 5}             # unlimited gaps
    assert hits(rule(max_gaps=2)) == {1, 2}
    assert hits(rule(max_gaps=0)) == {2}
    # from_es_json wiring
    q = from_es_json({"intervals": {"text": rule(max_gaps=2)}},
                     analyzers={"text": "standard"})
    assert {x["id"] for x in search(df, q, k=None).collect()} == {1, 2}
    # refusals: gappy multi-term child, non-match children
    with pytest.raises(ValueError, match="contiguous"):
        hits({"all_of": {"ordered": True, "intervals": [
            {"match": {"query": "vector merge"}},   # multi-term, gappy
            {"match": {"query": "order"}}]}})
    with pytest.raises(ValueError, match="must be match.prefix.wildcard rules"):
        Intervals("text", {"all_of": {"ordered": True, "intervals": [
            {"any_of": {"intervals": [{"match": {"query": "a"}}]}}]}},
            analyzer="standard")


def test_intervals_all_of_unordered(spark):
    """Unordered all_of (r12, formerly a loud refusal): one
    non-overlapping occurrence per child in ANY order — exact via the
    ordered chain ORed over child permutations."""
    from tweets_elastic_spark.plans.search import Intervals

    df = spark.createDataFrame(
        [(1, "vector merge x order"),      # forward, gaps 1
         (2, "order x vector merge"),      # reversed, gaps 1
         (3, "order vector merge"),        # reversed, gaps 0
         (4, "vector order merge"),        # phrase broken by 'order'
         (5, "vector merge"),              # 'order' absent
         (6, "order a b c vector merge")], # reversed, gaps 3
        "id long, text string",
    )

    def rule(**kw):
        return {"all_of": {"intervals": [
            {"match": {"query": "vector merge", "max_gaps": 0}},
            {"match": {"query": "order"}},
        ], **kw}}

    def hits(r):
        q = Intervals("text", r, analyzer="standard")
        return {x["id"] for x in search(df, q, k=None).collect()}

    assert hits(rule()) == {1, 2, 3, 6}
    assert hits(rule(max_gaps=1)) == {1, 2, 3}
    assert hits(rule(max_gaps=0)) == {3}
    assert hits(rule(ordered=True, max_gaps=1)) == {1}  # order still binds
    # three single-term children, all 6 permutations reachable
    r3 = {"all_of": {"intervals": [
        {"match": {"query": "a"}}, {"match": {"query": "b"}},
        {"match": {"query": "c"}},
    ], "max_gaps": 0}}
    df3 = spark.createDataFrame(
        [(1, "a b c"), (2, "c a b"), (3, "b c a"), (4, "a c x b"),
         (5, "a b b")],
        "id long, text string",
    )
    q3 = Intervals("text", r3, analyzer="standard")
    assert {x["id"] for x in search(df3, q3, k=None).collect()} == \
        {1, 2, 3}
    # the permutation cap stays loud
    with pytest.raises(ValueError, match="at most 4 children"):
        Intervals("text", {"all_of": {"intervals": [
            {"match": {"query": t}} for t in "abcde"]}},
            analyzer="standard")


def test_match_phrase_slop_n_terms(spark):
    """Lucene sloppy-phrase semantics for 3-term phrases: matchLength =
    max − min over offset-adjusted positions, hand-computed ladder."""
    from tweets_elastic_spark.plans.search import MatchPhrase

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"),             # exact → 0
         (2, "alpha x beta gamma"),           # one gap → 1
         (3, "alpha beta x gamma"),           # one gap → 1
         (4, "alpha x beta y gamma"),         # two gaps → 2
         (5, "alpha gamma beta"),             # adjacent transposition → 2
         (6, "beta alpha gamma"),             # adjacent transposition → 2
         (7, "gamma beta alpha"),             # full reversal → 4
         (8, "alpha beta something beta gamma"),  # best beta wins → 2
         (9, "alpha beta"),                   # gamma absent → never
         (10, "gamma x x x alpha beta")],     # a@4,b@5,g@0: adj 4,4,-2 → 6
        "id long, text string",
    )

    def hits(slop):
        q = MatchPhrase("text", "alpha beta gamma", analyzer="standard",
                        slop=slop)
        return {r["id"] for r in search(df, q, k=None).collect()}

    assert hits(0) == {1}
    assert hits(1) == {1, 2, 3}
    assert hits(2) == {1, 2, 3, 4, 5, 6, 8}
    assert hits(3) == {1, 2, 3, 4, 5, 6, 8}
    assert hits(4) == {1, 2, 3, 4, 5, 6, 7, 8}
    assert hits(6) == {1, 2, 3, 4, 5, 6, 7, 8, 10}
    # the n-term window path agrees with the pairwise 2-term path
    two_pair = MatchPhrase("text", "alpha beta", analyzer="standard", slop=2)
    got = {r["id"] for r in search(df, two_pair, k=None).collect()}
    assert {1, 2, 3, 4, 5, 8, 9} <= got  # in-order/gapped/transposed pairs


def test_match_phrase_slop_repeated_terms(spark):
    """Sloppy phrases with REPEATED terms: Lucene demands distinct
    document positions per slot (a single occurrence can't satisfy two
    slots); costs follow the same max−min window over offset-adjusted
    positions, with the assignment's existence decided by Hall's
    condition over the per-token candidate intervals."""
    from tweets_elastic_spark.plans.search import MatchPhrase

    df = spark.createDataFrame(
        [(1, "buy buy"),                 # exact repeat → 0
         (2, "buy now buy"),             # one gap → 1
         (3, "buy"),                     # ONE occurrence: never matches
         (4, "now buy buy then"),        # exact inside → 0
         (5, "buy x y buy")],            # two gaps → 2
        "id long, text string",
    )

    def hits(slop, phrase="buy buy"):
        q = MatchPhrase("text", phrase, analyzer="standard", slop=slop)
        return {r["id"] for r in search(df, q, k=None).collect()}

    assert hits(1) == {1, 2, 4}
    assert hits(2) == {1, 2, 4, 5}
    assert 3 not in hits(9)              # distinct-occurrence rule
    # 3-term phrase with a repeat: "a b a"
    df2 = spark.createDataFrame(
        [(1, "a b a"),                   # exact → 0
         (2, "a b x a"),                 # last slot one move → 1
         (3, "b a a"),                   # swap first two → 2
         (4, "a b"),                     # only one 'a' → never
         (5, "a a b")],                  # 'b' and 2nd 'a' swap → 2
        "id long, text string",
    )

    def hits3(slop):
        q = MatchPhrase("text", "a b a", analyzer="standard", slop=slop)
        return {r["id"] for r in search(df2, q, k=None).collect()}

    assert hits3(0) == {1}
    assert hits3(1) == {1, 2}
    assert hits3(2) == {1, 2, 3, 5}
    assert 4 not in hits3(9)


def test_match_phrase_slop_differential_brute_force(spark):
    """The Hall-condition window construction vs an exhaustive oracle:
    over ~200 random small docs and phrases WITH repeats, the Spark
    predicate must equal the brute-force minimum over all injective
    position assignments of max−min offset-adjusted positions ≤ slop."""
    import itertools
    import random

    from tweets_elastic_spark.plans.search import MatchPhrase

    rng = random.Random(42)
    alphabet = ["a", "b", "c"]
    docs = [
        (i, " ".join(rng.choice(alphabet)
                     for _ in range(rng.randint(1, 9))))
        for i in range(200)
    ]
    df = spark.createDataFrame(docs, "id long, text string")

    def brute(doc_tokens, phrase, slop):
        cands = []
        for q, t in enumerate(phrase):
            cands.append([p for p, x in enumerate(doc_tokens) if x == t])
        if any(not c for c in cands):
            return False
        for combo in itertools.product(*cands):
            if len(set(combo)) != len(combo):
                continue  # Lucene: distinct doc positions per slot
            adj = [p - q for q, p in enumerate(combo)]
            if max(adj) - min(adj) <= slop:
                return True
        return False

    cases = [("a b a", 0), ("a b a", 1), ("a b a", 2), ("a b a", 3),
             ("a a", 1), ("a a b", 2), ("a b a b", 2), ("a a a", 2),
             ("b a c a", 3)]
    for phrase, slop in cases:
        q = MatchPhrase("text", phrase, analyzer="standard", slop=slop)
        got = {r["id"] for r in search(df, q, k=None).collect()}
        want = {i for i, text in docs
                if brute(text.split(), phrase.split(), slop)}
        assert got == want, (phrase, slop, got ^ want)


def test_search_phrase_slop_registry_matches_oracle(spark):
    """The registered 3-term sloppy-phrase query hash-matches its DuckDB
    positional-window oracle at sf0.001 (full parity also re-checked by
    test_oracle_parity at sf0.01)."""
    import sys

    sys.path.insert(0, "/root/repo/tests")
    from oracle_harness import compare

    from tweets_elastic_spark import registry

    q = registry.get("search_phrase_slop")
    ok, msg = compare(q.fn(spark, "/root/testdata/sf0.001"), q.oracle,
                      "/root/testdata/sf0.001")
    assert ok, msg


def test_rrf_fuse_combines_ranks_without_scores(spark):
    from tweets_elastic_spark.plans.search import rrf_fuse

    # wildly different score scales: fusion must depend on RANKS only
    lex = spark.createDataFrame(
        [(1, 95.2), (2, 40.1), (3, 12.0)], "doc_id long, score double"
    )
    vec = spark.createDataFrame(
        [(2, 0.99), (4, 0.98), (1, 0.20)], "doc_id long, score double"
    )
    out = rrf_fuse([lex, vec], k=10, rank_constant=60).collect()
    got = {r["doc_id"]: (r["score"], r["n_legs"]) for r in out}
    def rrf(*ranks): return round(sum(1.0 / (60 + r) for r in ranks), 6)
    # doc1: rank1 lex + rank3 vec; doc2: rank2 lex + rank1 vec
    assert got[1] == (rrf(1, 3), 2)
    assert got[2] == (rrf(2, 1), 2)
    assert got[3] == (rrf(3), 1)
    assert got[4] == (rrf(2), 1)
    # doc2 wins: two strong ranks beat one top rank
    assert max(got, key=lambda d: got[d][0]) == 2
    with pytest.raises(ValueError, match="at least one leg"):
        rrf_fuse([])


def test_regexp_lucene_literal_anchors(spark):
    from tweets_elastic_spark.plans.search import Regexp

    df = spark.createDataFrame(
        [(1, "a^b"), (2, "ab"), (3, "c$"), (4, "c"), (5, "xy")],
        "id long, source string",
    )
    # Lucene regexps have no anchors: ^ and $ are literal characters
    assert {r["id"] for r in
            search(df, Regexp("source", "a^b"), k=None).collect()} == {1}
    assert {r["id"] for r in
            search(df, Regexp("source", "c$"), k=None).collect()} == {3}
    # ...but ^ right after [ is still class negation in both dialects
    got = {r["id"] for r in
           search(df, Regexp("source", "[^a]y"), k=None).collect()}
    assert got == {5}


# ------------------------------------------------------------- terms_set


def test_terms_set_per_document_bound(spark):
    from tweets_elastic_spark.plans.search import TermsSet
    from pyspark.sql import functions as F

    rows = [
        (1, ["a", "b", "c"], 2),  # 3 matched >= 2 -> hit
        (2, ["a", "x", "y"], 2),  # 1 matched < 2  -> miss
        (3, ["a", "x", "y"], 1),  # 1 matched >= 1 -> hit
        (4, None, 1),             # null array     -> miss (null contract)
    ]
    df = spark.createDataFrame(
        rows, "id long, tags array<string>, required int")
    q = TermsSet("tags", ["a", "b", "c"],
                 minimum_should_match_field="required")
    got = sorted(r["id"] for r in df.filter(q.predicate(spark)).collect())
    assert got == [1, 3]


def test_terms_set_validation(spark):
    import pytest
    from pyspark.sql import functions as F
    from tweets_elastic_spark.plans.search import TermsSet

    with pytest.raises(ValueError, match="exactly one"):
        TermsSet("tags", ["a"]).predicate(spark)
    with pytest.raises(ValueError, match="exactly one"):
        TermsSet("tags", ["a"], minimum_should_match=1,
                 minimum_should_match_field="r").predicate(spark)
    with pytest.raises(ValueError, match="non-empty"):
        TermsSet("tags", [], minimum_should_match=1).predicate(spark)


def test_terms_set_from_es_json(spark):
    from pyspark.sql import functions as F
    from tweets_elastic_spark.plans.search import TermsSet, from_es_json

    q = from_es_json({"query": {"terms_set": {"tags": {
        "terms": ["a", "b"], "minimum_should_match_field": "required"}}}})
    assert q == TermsSet("tags", ["a", "b"],
                         minimum_should_match_field="required")


# -------------------------------------------- type-ahead + rank_feature


@pytest.fixture(scope="module")
def typeahead_docs(spark):
    rows = [
        (1, "spark merge conflict", 100),
        (2, "spark mergers acquired", 200),
        (3, "merge spark later", 300),       # wrong order for the phrase
        (4, "spark alone", 400),
        (5, "sparkling merchandise", 0),     # 'spark' only as a prefix
    ]
    return spark.createDataFrame(rows, "id long, text string, feat long")


def test_match_phrase_prefix_semantics(spark, typeahead_docs):
    from tweets_elastic_spark.plans.search import MatchPhrasePrefix

    q = MatchPhrasePrefix("text", "spark mer", analyzer="standard")
    got = sorted(r["id"] for r in
                 typeahead_docs.filter(q.predicate(spark)).collect())
    # 1: spark+merge consecutive; 2: spark+mergers; 3 is out of order;
    # 5's 'sparkling' is not the token 'spark'
    assert got == [1, 2]
    # single term -> bare token prefix
    q1 = MatchPhrasePrefix("text", "sparkl", analyzer="standard")
    got1 = sorted(r["id"] for r in
                  typeahead_docs.filter(q1.predicate(spark)).collect())
    assert got1 == [5]
    # full last token also matches (prefix includes equality)
    q2 = MatchPhrasePrefix("text", "spark merge", analyzer="standard")
    got2 = sorted(r["id"] for r in
                  typeahead_docs.filter(q2.predicate(spark)).collect())
    assert got2 == [1, 2]  # 'merge' prefixes 'mergers' too


def test_match_bool_prefix_or_vs_and(spark, typeahead_docs):
    from tweets_elastic_spark.plans.search import MatchBoolPrefix

    q_and = MatchBoolPrefix("text", "spark mer", analyzer="standard",
                            operator="and")
    got = sorted(r["id"] for r in
                 typeahead_docs.filter(q_and.predicate(spark)).collect())
    assert got == [1, 2, 3]  # order-free, but needs BOTH
    q_or = MatchBoolPrefix("text", "spark mer", analyzer="standard")
    got = sorted(r["id"] for r in
                 typeahead_docs.filter(q_or.predicate(spark)).collect())
    assert got == [1, 2, 3, 4, 5]  # 5: 'merchandise' matches 'mer' prefix


def test_rank_feature_functions(spark, typeahead_docs):
    from pyspark.sql import functions as F
    from tweets_elastic_spark.plans.search import RankFeature, search

    sat = search(typeahead_docs, RankFeature("feat", pivot=100.0), k=None)
    got = {r["id"]: r["score"] for r in sat.collect()}
    # feat=0 is excluded (non-positive feature never matches)
    assert 5 not in got
    assert got[1] == pytest.approx(100 / 200)
    assert got[4] == pytest.approx(400 / 500)
    import math
    log = search(
        typeahead_docs,
        RankFeature("feat", function="log", scaling_factor=1.0, boost=2.0),
        k=None,
    )
    got = {r["id"]: r["score"] for r in log.collect()}
    assert got[1] == pytest.approx(2.0 * math.log(101))
    sig = search(
        typeahead_docs,
        RankFeature("feat", function="sigmoid", pivot=200.0, exponent=2.0),
        k=None,
    )
    got = {r["id"]: r["score"] for r in sig.collect()}
    assert got[2] == pytest.approx(0.5)
    with pytest.raises(ValueError, match="saturation/log/sigmoid"):
        search(typeahead_docs, RankFeature("feat", function="tanh"), k=None)


def test_rank_feature_and_prefix_from_json(spark):
    from tweets_elastic_spark.plans.search import (
        MatchBoolPrefix,
        MatchPhrasePrefix,
        RankFeature,
        from_es_json,
    )

    q = from_es_json(
        {"query": {"match_phrase_prefix": {"text": {"query": "a b"}}}},
        analyzers={"text": "standard"},
    )
    assert q == MatchPhrasePrefix("text", "a b", analyzer="standard")
    q = from_es_json(
        {"query": {"match_bool_prefix": {"text": {
            "query": "a b", "operator": "and"}}}},
        analyzers={"text": "standard"},
    )
    assert q == MatchBoolPrefix("text", "a b", analyzer="standard",
                                operator="and")
    q = from_es_json({"query": {"rank_feature": {
        "field": "pagerank", "sigmoid": {"pivot": 8, "exponent": 0.6},
        "boost": 3,
    }}})
    assert q == RankFeature("pagerank", function="sigmoid", pivot=8.0,
                            exponent=0.6, boost=3.0)
    with pytest.raises(ValueError, match="at most one function"):
        from_es_json({"query": {"rank_feature": {
            "field": "f", "log": {}, "sigmoid": {}}}})
    with pytest.raises(ValueError, match="needs an analyzer"):
        from_es_json({"query": {"match_phrase_prefix": {"text": "x"}}})


# ----------------------------------------------------- explain + api trio


def test_explain_parts_sum_to_score(spark, sf_dir):
    from pyspark.sql import functions as F
    from tweets_elastic_spark.plans.search import (
        Bool, Match, Term, explain_score,
    )
    from tweets_elastic_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    q = Bool(
        should=[
            (Match("text", "spark", analyzer="custom_shingles"), 5.0),
            (Term("source", "src1"), 2.0),
        ],
        filter=[Term("lang", "en")],
    )
    out = explain_score(docs, q).limit(200).collect()
    assert out
    for r in out:
        assert abs(sum(r["score_parts"].values()) - r["score"]) < 1e-9
        assert set(r["score_parts"]) == {"should[0]:Match", "should[1]:Term"}


def test_explain_function_score_sum_mode(spark, sf_dir):
    from tweets_elastic_spark.plans.search import (
        Bool, FunctionScore, FieldValueFactor, Term, explain_score,
    )
    from tweets_elastic_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    q = FunctionScore(
        Bool(should=[(Term("lang", "en"), 3.0)]),
        functions=[FieldValueFactor("n_chars", factor=0.01)],
        boost_mode="sum",
    )
    out = explain_score(docs, q).limit(50).collect()
    assert out
    for r in out:
        assert abs(sum(r["score_parts"].values()) - r["score"]) < 1e-6
        assert "functions" in r["score_parts"]


def test_es_count_and_field_caps_and_msearch(spark, sf_dir):
    from tweets_elastic_spark.plans.api import (
        es_count, es_field_caps, es_msearch,
    )
    from tweets_elastic_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    total = docs.count()
    assert es_count(docs).collect()[0]["count"] == total
    en = es_count(docs, {"query": {"term": {"lang": "en"}}}) \
        .collect()[0]["count"]
    assert 0 < en < total
    caps = {r["field"]: r["type"] for r in es_field_caps(docs).collect()}
    assert caps["doc_id"] == "bigint" and caps["text"] == "string"
    a, b = es_msearch(docs, [
        {"query": {"term": {"lang": "en"}}, "_source": ["doc_id"],
         "sort": [{"doc_id": "asc"}], "size": 3},
        {"query": {"term": {"lang": "de"}}, "_source": ["doc_id"],
         "sort": [{"doc_id": "asc"}], "size": 3},
    ])
    ra, rb = a.collect(), b.collect()
    assert len(ra) == 3 and len(rb) == 3 and ra != rb
    import pytest
    with pytest.raises(ValueError, match="non-empty"):
        es_msearch(docs, [])


def test_geo_distance_query_known_distances(spark):
    """Haversine sanity: 1° of latitude ≈ 111.195 km with ES's mean earth
    radius; the filter keeps exactly the points inside the radius."""
    import math

    from tweets_elastic_spark.plans.search import (
        EARTH_RADIUS_M, GeoDistance, from_es_json, parse_distance_meters,
        search,
    )

    one_deg = math.pi / 180.0 * EARTH_RADIUS_M  # ≈ 111194.93 m
    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 1.0, 0.0), (3, 0.0, 2.0), (4, 45.0, 45.0)],
        "id long, lat double, lon double",
    )

    def hits(dist_m):
        q = GeoDistance("lat", "lon", lat=0.0, lon=0.0, distance_m=dist_m)
        return {r["id"] for r in search(df, q, k=None).collect()}

    assert hits(1.0) == {1}
    assert hits(one_deg * 1.001) == {1, 2}
    assert hits(one_deg * 2.001) == {1, 2, 3}
    # DSL wiring + ES distance strings
    q = from_es_json({"geo_distance": {
        "distance": "112km", "field": {"lat": "lat", "lon": "lon"},
        "origin": {"lat": 0, "lon": 0}}})
    assert {r["id"] for r in search(df, q, k=None).collect()} == {1, 2}
    assert parse_distance_meters("2km") == 2000.0
    assert parse_distance_meters("1mi") == 1609.344
    assert parse_distance_meters(500) == 500.0
    with pytest.raises(ValueError, match="bad distance"):
        parse_distance_meters("2parsecs")
    with pytest.raises(ValueError, match="origin out of range"):
        GeoDistance("lat", "lon", lat=95.0, lon=0.0, distance_m=1.0)
    with pytest.raises(ValueError, match="lat.*lon|numeric degree"):
        from_es_json({"geo_distance": {"distance": "1km",
                                       "field": "location",
                                       "origin": {"lat": 0, "lon": 0}}})


def test_geo_distance_agg_rings(spark):
    from tweets_elastic_spark.plans.aggs import es_aggregate

    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 1.0, 0.0), (3, 0.0, 3.0), (4, 40.0, 40.0)],
        "id long, lat double, lon double",
    )
    got = {
        r["ring"]: r["doc_count"]
        for r in es_aggregate(df, {"ring": {"geo_distance": {
            "field": {"lat": "lat", "lon": "lon"},
            "origin": {"lat": 0, "lon": 0},
            "ranges": [{"to": "200km"},
                       {"from": "200km", "to": "1000km", "key": "mid"},
                       {"from": "1000km"}],
        }}}).collect()
    }
    # 0 and ~111 km in ring 1; ~334 km in 'mid'; the far point beyond
    assert got == {"*-200000.0": 2, "mid": 1, "1000000.0-*": 1}
    with pytest.raises(ValueError, match="sorted and non-overlapping"):
        es_aggregate(df, {"r": {"geo_distance": {
            "field": {"lat": "lat", "lon": "lon"},
            "origin": {"lat": 0, "lon": 0},
            "ranges": [{"to": "500km"}, {"from": "100km"}],
        }}})


def test_geo_bounding_box_and_geotile_grid(spark):
    """r8 geo surface: bounding box (incl. antimeridian wrap) and
    Web-Mercator geotile buckets with hand-computed tiles."""
    from tweets_elastic_spark.plans.aggs import es_aggregate
    from tweets_elastic_spark.plans.search import from_es_json

    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 50.0, -100.0), (3, -20.0, 170.0),
         (4, 10.0, -175.0), (5, 88.0, 10.0)],
        "id long, lat double, lon double",
    )
    geo = {"field": {"lat": "lat", "lon": "lon"}}
    q = from_es_json({"geo_bounding_box": {
        **geo, "top_left": {"lat": 60, "lon": -120},
        "bottom_right": {"lat": -10, "lon": 20}}})
    assert {r["id"] for r in search(df, q, k=None).collect()} == {1, 2}
    # left > right crosses the antimeridian: wrapped longitude range
    q2 = from_es_json({"geo_bounding_box": {
        **geo, "top_left": {"lat": 60, "lon": 160},
        "bottom_right": {"lat": -60, "lon": -170}}})
    assert {r["id"] for r in search(df, q2, k=None).collect()} == {3, 4}
    with pytest.raises(ValueError, match="latitude bounds"):
        from_es_json({"geo_bounding_box": {
            **geo, "top_left": {"lat": -10, "lon": 0},
            "bottom_right": {"lat": 10, "lon": 20}}})
    # geotile z=2 (n=4): (0,0)->2/2/2; lat 88 clamps to the Mercator
    # limit -> y=0; lon -100 -> x=0
    tiles = {r["tile"]: r["doc_count"] for r in es_aggregate(df, {
        "tile": {"geotile_grid": {**geo, "precision": 2}}}).collect()}
    assert tiles == {"2/0/1": 2, "2/2/0": 1, "2/2/2": 1, "2/3/2": 1}
    with pytest.raises(ValueError, match="precision"):
        es_aggregate(df, {"t": {"geotile_grid": {**geo, "precision": 30}}})


def test_geo_centroid_metric(spark):
    """geo_centroid (r8): per-bucket coordinate means + point count;
    docs missing either coordinate drop out of the centroid."""
    from tweets_elastic_spark.plans.aggs import es_aggregate

    df = spark.createDataFrame(
        [("a", 10.0, 20.0), ("a", 30.0, -40.0), ("a", None, 7.0),
         ("b", -5.0, 5.0)],
        "k string, lat double, lon double",
    )
    rows = {r["k"]: r for r in es_aggregate(df, {"k": {
        "terms": {"field": "k"},
        "aggs": {"c": {"geo_centroid": {
            "field": {"lat": "lat", "lon": "lon"}}}},
    }}).collect()}
    assert (rows["a"]["c_lat"], rows["a"]["c_lon"], rows["a"]["c_count"]) \
        == (20.0, -10.0, 2)     # the null-lat point is excluded
    assert rows["a"]["doc_count"] == 3
    assert (rows["b"]["c_lat"], rows["b"]["c_lon"]) == (-5.0, 5.0)
    with pytest.raises(ValueError, match="geo_centroid needs"):
        es_aggregate(df, {"k": {"terms": {"field": "k"},
                                "aggs": {"c": {"geo_centroid": {
                                    "field": "lat"}}}}})


def test_geohash_grid_classic_vectors(spark):
    """geohash_grid (r8) against the canonical test vectors: Jutland
    (57.64911, 10.40744) → u4pruyd…, León (42.605, −5.603) → ezs42…"""
    from tweets_elastic_spark.plans.aggs import es_aggregate

    df = spark.createDataFrame(
        [(1, 57.64911, 10.40744), (2, 42.605, -5.603)],
        "id long, lat double, lon double",
    )
    geo = {"field": {"lat": "lat", "lon": "lon"}}

    def cells(p):
        return {r["g"] for r in es_aggregate(df, {
            "g": {"geohash_grid": {**geo, "precision": p}}}).collect()}

    assert cells(1) == {"u", "e"}
    assert cells(5) == {"u4pru", "ezs42"}
    assert cells(7) == {"u4pruyd", "ezs42s0"}
    with pytest.raises(ValueError, match="precision must be 1..12"):
        es_aggregate(df, {"g": {"geohash_grid": {**geo, "precision": 13}}})


def test_geo_distance_agg_ring_validation_parses_distances(spark):
    """Ring validation compares PARSED meters, not raw strings (r8 fix):
    '900km' < '1000km' numerically but sorts after it lexicographically,
    so string comparison both rejected valid gapped rings and accepted
    genuine overlaps. Mixed numeric/string bounds must also validate."""
    from tweets_elastic_spark.plans.aggs import es_aggregate

    df = spark.createDataFrame(
        # ~0 km, ~956 km (inside the gap), ~1112 km
        [(1, 0.0, 0.0), (2, 0.0, 8.6), (3, 0.0, 10.0)],
        "id long, lat double, lon double",
    )
    geo = {"field": {"lat": "lat", "lon": "lon"},
           "origin": {"lat": 0, "lon": 0}}
    # valid gapped rings whose raw strings compare 'backwards'
    got = {
        r["ring"]: r["doc_count"]
        for r in es_aggregate(df, {"ring": {"geo_distance": {
            **geo, "ranges": [{"to": "900km", "key": "near"},
                              {"from": "1000km", "key": "far"}],
        }}}).collect()
    }
    # the ~956 km point sits in the gap -> counted by neither ring
    assert got == {"near": 1, "far": 1}
    # genuine overlap that string comparison let through
    with pytest.raises(ValueError, match="sorted and non-overlapping"):
        es_aggregate(df, {"r": {"geo_distance": {
            **geo, "ranges": [{"to": "1000km"}, {"from": "900km"}],
        }}})
    # mixed numeric/string bounds: ValueError (not TypeError) on overlap,
    # clean pass when actually sorted
    with pytest.raises(ValueError, match="sorted and non-overlapping"):
        es_aggregate(df, {"r": {"geo_distance": {
            **geo, "ranges": [{"to": 1_000_000}, {"from": "900km"}],
        }}})
    ok = es_aggregate(df, {"r": {"geo_distance": {
        **geo, "ranges": [{"to": 900_000, "key": "a"},
                          {"from": "1000km", "key": "b"}],
    }}})
    assert {r["r"] for r in ok.collect()} == {"a", "b"}


def test_script_score_params_bind_as_literals(spark):
    """ES script params (r7): numeric params bind as literal Columns in
    the one compiled expression — the reusable-script convention."""
    from tweets_elastic_spark.plans.search import from_es_json

    df = spark.createDataFrame([(1, 5.0), (2, 10.0)], "id long, x double")
    q = from_es_json({"script_score": {
        "query": {"match_all": {}},
        "script": {"source": "params.w * doc['x'].value + params.b",
                   "params": {"w": 2, "b": 1}},
    }})
    got = sorted((r["id"], r["score"])
                 for r in search(df, q, k=None).collect())
    assert got == [(1, 11.0), (2, 21.0)]
    with pytest.raises(ValueError, match="NUMERIC"):
        from_es_json({"script_score": {
            "query": {"match_all": {}},
            "script": {"source": "params.w", "params": {"w": "high"}},
        }})


def test_rank_eval_metrics_hand_computed(spark):
    """ES _rank_eval on a 5-doc corpus: precision/recall/MRR/NDCG against
    hand-computed values (constant-score matches rank by the doc-id
    tiebreak, so every rank is known)."""
    from tweets_elastic_spark.plans.api import es_rank_eval

    docs = spark.createDataFrame(
        [(1, "spark merge fast"), (2, "spark slow"), (3, "merge only"),
         (4, "nothing here"), (5, "spark merge spark")],
        "doc_id long, text string",
    )
    body = {
        "requests": [
            {"id": "q1", "request": {"query": {"match": {"text": "spark"}}},
             "ratings": [{"_id": 1, "rating": 2}, {"_id": 5, "rating": 1},
                         {"_id": 2, "rating": 0}]},
            {"id": "q2", "request": {"query": {"match": {"text": "merge"}}},
             "ratings": [{"_id": 3, "rating": 1}]},
        ],
        "metric": {"precision": {"k": 10, "relevant_rating_threshold": 1}},
    }
    an = {"analyzers": {"text": "standard"}}

    def scores(metric):
        body["metric"] = metric
        return {r["request_id"]: r["metric_score"]
                for r in es_rank_eval(docs, body, **an).collect()}

    # q1 retrieves 1,2,5 (ranks 1,2,3); q2 retrieves 1,3,5
    assert scores({"precision": {"k": 10}}) == {
        "q1": 0.666667, "q2": 0.333333}
    assert scores({"mean_reciprocal_rank": {}}) == {"q1": 1.0, "q2": 0.5}
    # q1 dcg = 3/1 + 0 + 1/2 = 3.5; ideal = 3 + 1/log2(3) = 3.63093
    assert scores({"dcg": {"normalize": True}}) == {
        "q1": 0.96394, "q2": 0.63093}
    assert scores({"recall": {"k": 1}}) == {"q1": 0.5, "q2": 0.0}
    # un-normalized dcg + unjudged request scores 0
    body["requests"].append(
        {"id": "q3", "request": {"query": {"match": {"text": "nothing"}}},
         "ratings": []})
    got = scores({"dcg": {}})
    assert got["q1"] == 3.5 and got["q3"] == 0.0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported rank_eval metric"):
        es_rank_eval(docs, {"requests": [body["requests"][0]],
                            "metric": {"err": {}}}, **an)
    with _pytest.raises(ValueError, match="unsupported precision keys"):
        es_rank_eval(docs, {"requests": [body["requests"][0]],
                            "metric": {"precision": {"ignore_unlabeled":
                                                     True}}}, **an)
    # expected_reciprocal_rank (r8), hand-computed with max_relevance=2:
    # q1 hits (1,2,5) at ranks (1,2,3), R = (2^g-1)/4 -> (3/4, 0, 1/4):
    #   ERR = 3/4 + 0 + (1/3)(1/4)(1/4) = 0.770833
    # q2 hits (1,3,5), only doc 3 rated (rank 2, R=1/4): ERR = 1/8
    # q3 has no rated hits -> 0.0
    got = scores({"expected_reciprocal_rank": {"maximum_relevance": 2,
                                               "k": 10}})
    assert got == {"q1": 0.770833, "q2": 0.125, "q3": 0.0}
    with _pytest.raises(ValueError, match="maximum_relevance"):
        es_rank_eval(docs, {"requests": [body["requests"][0]],
                            "metric": {"expected_reciprocal_rank": {}}},
                     **an)
    # duplicate (request, _id) ratings would fan out the hit join and
    # double-count every metric — rejected loudly (r8 fix)
    with _pytest.raises(ValueError, match="duplicate rating"):
        es_rank_eval(docs, {"requests": [
            {"id": "qd", "request": {"query": {"match": {"text": "spark"}}},
             "ratings": [{"_id": 1, "rating": 2}, {"_id": 1, "rating": 1}]},
        ], "metric": {"precision": {}}}, **an)


def test_field_caps_nested_paths(spark):
    from tweets_elastic_spark.plans.api import es_field_caps

    df = spark.createDataFrame(
        [(1, ("u", 3), [("t", 2)])],
        "id long, author struct<name string, followers int>, "
        "tags array<struct<tag string, n int>>",
    )
    caps = {r["field"]: r["type"] for r in es_field_caps(df).collect()}
    assert caps == {
        "id": "bigint", "author.name": "string",
        "author.followers": "int", "tags.tag": "string", "tags.n": "int",
    }


def test_explain_duplicate_labels_deduped(spark, sf_dir):
    """Two FunctionScore clauses in one should list both want the label
    'FunctionScore' — assembly must suffix duplicates, not crash on
    Spark's DUPLICATED_MAP_KEY policy."""
    from tweets_elastic_spark.plans.search import (
        Bool, FieldValueFactor, FunctionScore, Term, explain_score,
    )
    from tweets_elastic_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    fs1 = FunctionScore(Bool(should=[(Term("lang", "en"), 1.0)]),
                        functions=[FieldValueFactor("n_chars", factor=0.001)])
    fs2 = FunctionScore(Bool(should=[(Term("source", "src1"), 1.0)]),
                        functions=[FieldValueFactor("n_chars", factor=0.002)])
    q = Bool(should=[(fs1, 1.0), (fs2, 1.0)])
    out = explain_score(docs, q).limit(20).collect()
    assert out
    for r in out:
        assert set(r["score_parts"]) == {
            "should[0]:FunctionScore", "should[1]:FunctionScore"}
        assert abs(sum(r["score_parts"].values()) - r["score"]) < 1e-9


def test_pinned_order_and_distance_feature(spark):
    from tweets_elastic_spark.plans.search import (
        DistanceFeature, Pinned, Term, search,
    )

    df = spark.createDataFrame(
        [(1, "x", 10.0), (2, "y", 50.0), (3, "x", 90.0), (4, "x", 55.0)],
        "id long, k string, v double")
    # organic: proximity to v=50 over k='x' docs... pinned id 3 first,
    # then 2 (pin order), then organic x-matches by closeness to 50
    q = Pinned(ids=[3, 2], organic=DistanceFeature("v", origin=50.0,
                                                   pivot=10.0),
               id_field="id")
    got = [r["id"] for r in search(df, q, k=10, tiebreak="id").collect()]
    assert got[:2] == [3, 2]
    assert got[2:] == [4, 1]  # 55 closer to 50 than 10
    # distance_feature halves at pivot distance
    out = {r["id"]: r["score"]
           for r in search(df, DistanceFeature("v", origin=50.0, pivot=5.0),
                           k=None).collect()}
    assert out[4] == pytest.approx(5.0 / 10.0)
    with pytest.raises(ValueError, match="pivot"):
        search(df, DistanceFeature("v", origin=0.0, pivot=0.0), k=None) \
            .collect()


def test_pinned_and_distance_feature_from_json(spark):
    from tweets_elastic_spark.plans.search import (
        DistanceFeature, Pinned, Term, from_es_json,
    )

    q = from_es_json({"query": {"pinned": {
        "ids": [7, 3], "organic": {"term": {"lang": "en"}}}}})
    assert q == Pinned(ids=[7, 3], organic=Term("lang", "en"),
                       id_field="doc_id")
    q = from_es_json({"query": {"distance_feature": {
        "field": "ts", "origin": 1700000000, "pivot": 86400,
        "boost": 2}}})
    assert q == DistanceFeature("ts", origin=1700000000.0, pivot=86400.0,
                                boost=2.0)
    with pytest.raises(ValueError, match="date-math"):
        from_es_json({"query": {"distance_feature": {
            "field": "ts", "origin": "now-1d", "pivot": "7d"}}})
    with pytest.raises(ValueError, match="pinned expects"):
        from_es_json({"query": {"pinned": {"ids": [1]}}})


def test_script_query_filter_and_null_contract(spark):
    """The script query compiles the Painless comparison to a codegen'd
    boolean predicate; a NULL doc value makes the comparison NULL → no
    match (safer than ES's missing-doc-value exception, documented)."""
    from tweets_elastic_spark.plans.search import ScriptQuery, from_es_json, search

    df = spark.createDataFrame(
        [(1, 10.0), (2, 50.0), (3, None), (4, 30.0)], "id long, v double"
    )
    q = from_es_json({"query": {"script": {"script": {
        "source": "doc['v'].value * params.m >= params.t",
        "params": {"m": 2, "t": 60},
    }}}})
    assert q == ScriptQuery("doc['v'].value * params.m >= params.t",
                            params={"m": 2, "t": 60})
    got = sorted(r["id"] for r in search(df, q, k=None).collect())
    assert got == [2, 4]  # 50*2>=60, 30*2>=60; NULL row 3 excluded


def test_wrapper_query_decodes_and_compiles(spark):
    import base64
    import json

    from tweets_elastic_spark.plans.search import Range, from_es_json

    inner = {"range": {"v": {"gte": 20}}}
    b64 = base64.b64encode(json.dumps(inner).encode()).decode()
    q = from_es_json({"query": {"wrapper": {"query": b64}}})
    assert q == from_es_json({"query": inner}) == Range("v", gte=20)
    with pytest.raises(ValueError, match="not base64 JSON"):
        from_es_json({"query": {"wrapper": {"query": "@@@@"}}})
    with pytest.raises(ValueError, match="unsupported wrapper keys"):
        from_es_json({"query": {"wrapper": {"query": b64, "x": 1}}})


def test_intervals_prefix_wildcard_rules(spark):
    """Unit-width intervals rules, hand-computed: standalone prefix /
    wildcard, any_of composition, ordered all_of chaining a wildcard
    child to a prefix child, and the guard surface (use_field, empty
    prefix, unknown rule)."""
    from tweets_elastic_spark.plans.search import from_es_json, search

    df = spark.createDataFrame(
        [
            (1, "data quality program"),       # d?ta* then pro* at gap 1
            (2, "database systems prosper"),   # data* prefix; gap 1
            (3, "delta lake is a product"),    # product: pro*; delta no d?ta*
            (4, "program data"),               # pro before data: unordered only
            (5, "no match here"),
        ],
        "doc_id long, text string",
    )

    def ids(dsl):
        q = from_es_json({"query": {"intervals": {"text": dsl}}},
                         analyzers={"text": "standard"})
        return sorted(r["doc_id"] for r in search(df, q, k=None).collect())

    assert ids({"prefix": {"prefix": "PRO"}}) == [1, 2, 3, 4]
    assert ids({"wildcard": {"pattern": "d?ta*"}}) == [1, 2, 4]
    assert ids({"wildcard": {"pattern": "d?ta"}}) == [1, 4]  # no suffix
    assert ids({"any_of": {"intervals": [
        {"prefix": {"prefix": "delta"}}, {"prefix": {"prefix": "quality"}},
    ]}}) == [1, 3]
    # ordered all_of: wildcard then prefix, within 1 gap
    assert ids({"all_of": {"ordered": True, "max_gaps": 1, "intervals": [
        {"wildcard": {"pattern": "d?ta*"}}, {"prefix": {"prefix": "pro"}},
    ]}}) == [1, 2]
    # doc 4 has pro BEFORE data — ordered rejects it
    assert ids({"all_of": {"ordered": True, "max_gaps": 0, "intervals": [
        {"prefix": {"prefix": "pro"}}, {"wildcard": {"pattern": "d?ta"}},
    ]}}) == [4]

    with pytest.raises(ValueError, match=r"unsupported intervals prefix keys: \['use_field'\]"):
        ids({"prefix": {"prefix": "x", "use_field": "other"}})
    with pytest.raises(ValueError, match="non-empty string"):
        ids({"prefix": {"prefix": ""}})
    with pytest.raises(ValueError, match="unsupported intervals keys"):
        ids({"fuzzy": {"term": "x"}})


def test_es_mget_contract_and_broadcast_plan(spark):
    """_mget: request order, duplicates, found=false with NULL source,
    _source filtering, guards — and the hot path is a BROADCAST join
    (the id batch never shuffles the corpus)."""
    from tweets_elastic_spark.plans.api import es_mget

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "doc_id long, lang string, n bigint",
    )
    out = es_mget(df, [2, 99, 2], source=["lang"])
    rows = out.collect()
    assert [(r["ord"], r["_id"], r["found"], r["lang"]) for r in rows] == [
        (0, 2, True, "b"), (1, 99, False, None), (2, 2, True, "b"),
    ]
    assert "n" not in out.columns  # _source filtering
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

    with pytest.raises(ValueError, match="non-empty ids"):
        es_mget(df, [])
    with pytest.raises(ValueError, match="not in index"):
        es_mget(df, [1], source=["nope"])


def test_es_request_min_score_floor(spark):
    """min_score drops hits below the floor BEFORE the page is taken;
    it composes with `from`, and explicit-sort / rescore mixing raises."""
    from tweets_elastic_spark.plans.aggs import es_request

    df = spark.createDataFrame(
        [(i, "spark " * i + "data") for i in range(1, 6)],
        "doc_id long, text string",
    )
    req = {"query": {"bool": {"should": [
        {"query": {"match": {"text": "spark"}}, "weight": 2},
        {"query": {"match": {"text": "data"}}, "weight": 1},
    ]}}}
    out = es_request(df, dict(req, min_score=3.0, size=10),
                     analyzers={"text": "standard"}, tiebreak="doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2, 3, 4, 5]
    out = es_request(df, dict(req, min_score=3.5, size=10),
                     analyzers={"text": "standard"}, tiebreak="doc_id")
    assert out.count() == 0  # every doc scores exactly 3.0
    with pytest.raises(ValueError, match="min_score applies to relevance"):
        es_request(df, dict(req, min_score=1.0, sort=[{"doc_id": "asc"}]),
                   analyzers={"text": "standard"})


def test_es_analyze_endpoint(spark):
    from tweets_elastic_spark.plans.api import es_analyze

    rows = es_analyze(spark, "The Quick <b>Brown</b>", analyzer="standard"
                      ).collect()
    assert [(r["token"], r["position"]) for r in rows] == [
        ("the", 0), ("quick", 1), ("b", 2), ("brown", 3), ("b", 4),
    ]
    rows = es_analyze(spark, "Running runs", analyzer="englando").collect()
    assert [r["token"] for r in rows] == ["run", "run"]


def test_sparse_vector_query_dot_product_and_guards(spark):
    """sparse_vector: dot product over the token intersection, any-token
    match contract, numeric-weight and inference_id guards."""
    from tweets_elastic_spark.plans.search import (
        SparseVectorQuery, from_es_json, search,
    )

    df = spark.createDataFrame(
        [(1, {"ml": 2.0, "data": 1.0}), (2, {"data": 3.0}),
         (3, {"other": 5.0}), (4, None)],
        "doc_id long, w map<string,double>",
    )
    q = from_es_json({"query": {"sparse_vector": {
        "field": "w", "query_vector": {"ml": 1.5, "data": 0.5}}}})
    assert isinstance(q, SparseVectorQuery)
    got = {r["doc_id"]: r["score"]
           for r in search(df, q, k=None).collect()}
    assert got == {1: 2.0 * 1.5 + 1.0 * 0.5, 2: 3.0 * 0.5}  # 3, 4 no match

    with pytest.raises(ValueError, match="non-empty query_vector"):
        from_es_json({"query": {"sparse_vector": {
            "field": "w", "query_vector": {}}}})
    with pytest.raises(ValueError, match="weights must be numeric"):
        from_es_json({"query": {"sparse_vector": {
            "field": "w", "query_vector": {"a": "hi"}}}})
    with pytest.raises(ValueError, match=r"unsupported sparse_vector keys: \['inference_id'\]"):
        from_es_json({"query": {"sparse_vector": {
            "field": "w", "query_vector": {"a": 1},
            "inference_id": "elser"}}})


def test_geo_polygon_ray_casting_hand_computed(spark):
    """Even-odd containment against a non-convex polygon (a downward
    notch): points inside the wings match, the notch interior does not;
    NULL coordinates never match; guards (too few vertices, range)."""
    from tweets_elastic_spark.plans.search import GeoPolygon, from_es_json, search

    # square with a notch cut into the top: (lat, lon)
    poly = [(0.0, 0.0), (10.0, 0.0), (10.0, 4.0), (2.0, 5.0),
            (10.0, 6.0), (10.0, 10.0), (0.0, 10.0)]
    df = spark.createDataFrame(
        [(1, 5.0, 2.0),    # left wing: inside
         (2, 5.0, 8.0),    # right wing: inside
         (3, 8.0, 5.0),    # inside the notch: outside the polygon
         (4, 1.0, 5.0),    # below the notch tip: inside
         (5, -1.0, 5.0),   # below the square: outside
         (6, None, 5.0)],  # NULL lat: no match
        "id long, lat double, lon double",
    )
    q = from_es_json({"query": {"geo_polygon": {
        "field": {"lat": "lat", "lon": "lon"},
        "points": [{"lat": a, "lon": o} for a, o in poly],
    }}})
    assert isinstance(q, GeoPolygon)
    got = sorted(r["id"] for r in search(df, q, k=None).collect())
    assert got == [1, 2, 4]

    # explicit closing vertex is accepted (implicit closure)
    q2 = from_es_json({"query": {"geo_polygon": {
        "field": {"lat": "lat", "lon": "lon"},
        "points": [{"lat": a, "lon": o} for a, o in poly + [poly[0]]],
    }}})
    assert sorted(r["id"] for r in search(df, q2, k=None).collect()) == [1, 2, 4]

    with pytest.raises(ValueError, match=">= 3 vertices"):
        from_es_json({"query": {"geo_polygon": {
            "field": {"lat": "lat", "lon": "lon"},
            "points": [{"lat": 0, "lon": 0}, {"lat": 1, "lon": 1}]}}})
    with pytest.raises(ValueError, match="longitude out of range"):
        from_es_json({"query": {"geo_polygon": {
            "field": {"lat": "lat", "lon": "lon"},
            "points": [{"lat": 0, "lon": 0}, {"lat": 1, "lon": 200},
                       {"lat": 1, "lon": 0}]}}})
    with pytest.raises(ValueError, match="needs 'field'"):
        from_es_json({"query": {"geo_polygon": {
            "field": "location",
            "points": [{"lat": 0, "lon": 0}] * 3}}})


def test_span_queries_translate_to_intervals(spark):
    """Lucene span compat: span_term/span_or/span_near compile onto the
    intervals machinery with equivalent trees; unsupported span kinds
    point at intervals."""
    from tweets_elastic_spark.plans.search import from_es_json, search

    an = {"text": "standard"}
    df = spark.createDataFrame(
        [(1, "quick brown fox"), (2, "fox quick"), (3, "quick slow fox"),
         (4, "nothing here")],
        "id long, text string",
    )

    def ids(q):
        return sorted(r["id"] for r in
                      search(df, from_es_json({"query": q}, analyzers=an),
                             k=None).collect())

    assert from_es_json(
        {"query": {"span_term": {"text": "fox"}}}, analyzers=an
    ) == from_es_json(
        {"query": {"intervals": {"text": {"match": {"query": "fox"}}}}},
        analyzers=an,
    )
    assert ids({"span_term": {"text": {"value": "fox"}}}) == [1, 2, 3]
    assert ids({"span_or": {"clauses": [
        {"span_term": {"text": "brown"}}, {"span_term": {"text": "slow"}},
    ]}}) == [1, 3]
    # in_order: quick then fox with slop 0 -> adjacent only... slop 1
    # admits one gap ("quick slow fox"); doc 2 has them reversed
    assert ids({"span_near": {"clauses": [
        {"span_term": {"text": "quick"}}, {"span_term": {"text": "fox"}},
    ], "slop": 0, "in_order": True}}) == []
    assert ids({"span_near": {"clauses": [
        {"span_term": {"text": "brown"}}, {"span_term": {"text": "fox"}},
    ], "slop": 0, "in_order": True}}) == [1]
    assert ids({"span_near": {"clauses": [
        {"span_term": {"text": "quick"}}, {"span_term": {"text": "fox"}},
    ], "slop": 1, "in_order": True}}) == [1, 3]
    # unordered: doc 2's reversed pair matches too
    assert ids({"span_near": {"clauses": [
        {"span_term": {"text": "quick"}}, {"span_term": {"text": "fox"}},
    ], "slop": 1, "in_order": False}}) == [1, 2, 3]

    with pytest.raises(ValueError, match="must be span_term"):
        from_es_json({"query": {"span_near": {"clauses": [
            {"span_or": {"clauses": []}}], "slop": 1}}}, analyzers=an)
    with pytest.raises(ValueError, match="share one field"):
        from_es_json({"query": {"span_near": {"clauses": [
            {"span_term": {"text": "a"}}, {"span_term": {"lang": "b"}},
        ], "slop": 1}}}, analyzers=an)
    # span_first is supported since r8 s4 but still requires the
    # positional bindings (analyzer + token column)
    with pytest.raises(ValueError, match="token-column bindings"):
        from_es_json({"query": {"span_first": {
            "match": {"span_term": {"text": "a"}}, "end": 3}}},
            analyzers=an)


def test_span_not_semantics(spark):
    """Lucene span_not (r12): include positions that do not overlap any
    exclude position expanded by pre before / post after. Hand vectors
    for every window edge + dist shorthand + refusals."""
    from tweets_elastic_spark.plans.search import from_es_json, search

    an = {"text": "standard"}
    df = spark.createDataFrame(
        [(1, "quick fox"),            # no exclude at all → match
         (2, "slow quick fox"),       # 'quick' 1 after 'slow' (pre=1) → cut
         (3, "quick slow"),           # 'quick' 1 before 'slow' (post=1) → cut
         (4, "quick x slow"),         # 2 before: outside post=1 → match
         (5, "slow x quick"),         # 2 after: outside pre=1 → match
         (6, "slow quick x x quick"), # second 'quick' survives → match
         (7, "slow")],                # no include → no match
        "id long, text string",
    )

    def ids(body):
        q = from_es_json({"query": {"span_not": body}}, analyzers=an)
        return sorted(r["id"] for r in search(df, q, k=None).collect())

    base = {
        "include": {"span_term": {"text": "quick"}},
        "exclude": {"span_term": {"text": "slow"}},
    }
    assert ids({**base, "pre": 1, "post": 1}) == [1, 4, 5, 6]
    # pre=post=0 = exact overlap only; distinct unit spans never overlap
    assert ids({**base}) == [1, 2, 3, 4, 5, 6]
    assert ids({**base, "dist": 2}) == [1, 6]   # dist = both directions
    assert ids({**base, "post": 2}) == [1, 2, 5, 6]
    # span_or include
    assert ids({
        "include": {"span_or": {"clauses": [
            {"span_term": {"text": "quick"}},
            {"span_term": {"text": "fox"}},
        ]}},
        "exclude": {"span_term": {"text": "slow"}},
        "pre": 1, "post": 1,
    }) == [1, 2, 4, 5, 6]  # doc 2's 'fox' is 2 past 'slow'
    with pytest.raises(ValueError, match="dist OR pre/post"):
        ids({**base, "dist": 1, "pre": 1})
    with pytest.raises(ValueError, match=">= 0"):
        ids({**base, "pre": -1})
    with pytest.raises(ValueError, match="share one field"):
        ids({"include": {"span_term": {"text": "a"}},
             "exclude": {"span_term": {"lang": "b"}}})
    with pytest.raises(ValueError, match="span_term/span_or"):
        ids({"include": {"span_near": {"clauses": [
            {"span_term": {"text": "a"}}], "slop": 0}},
            "exclude": {"span_term": {"text": "b"}}})


def test_span_containing_and_within(spark):
    """r12: big ordered near-span containing a little unit span; the
    two kinds share one document predicate (returned-span choice is a
    scoring concern, out of scope)."""
    from tweets_elastic_spark.plans.search import from_es_json, search

    an = {"text": "standard"}
    df = spark.createDataFrame(
        [(1, "a mid b"),          # window a..b (width 3 <= 2+slop) has mid
         (2, "a b mid"),          # mid outside the window
         (3, "a x y z w b mid"),  # window too wide (slop 2)
         (4, "a x mid y b"),      # width 5 = 2+3 > slop 2? gaps 3 > 2 -> no
         (5, "a mid x b"),        # gaps 2 <= 2, contains mid
         (6, "b mid a"),          # wrong order
         (7, "a b")],             # no little
        "id long, text string",
    )

    def ids(k):
        q = from_es_json({"query": {k: {
            "big": {"span_near": {"clauses": [
                {"span_term": {"text": "a"}},
                {"span_term": {"text": "b"}},
            ], "slop": 2, "in_order": True}},
            "little": {"span_term": {"text": "mid"}},
        }}}, analyzers=an)
        return sorted(r["id"] for r in search(df, q, k=None).collect())

    assert ids("span_containing") == [1, 5]
    assert ids("span_within") == ids("span_containing")
    # big = single span_term: containment degenerates to co-position
    q2 = from_es_json({"query": {"span_containing": {
        "big": {"span_term": {"text": "a"}},
        "little": {"span_term": {"text": "a"}},
    }}}, analyzers=an)
    assert sorted(r["id"] for r in search(df, q2, k=None).collect()) == \
        [1, 2, 3, 4, 5, 6, 7]
    with pytest.raises(ValueError, match="in_order"):
        from_es_json({"query": {"span_containing": {
            "big": {"span_near": {"clauses": [
                {"span_term": {"text": "a"}}], "slop": 1}},
            "little": {"span_term": {"text": "b"}},
        }}}, analyzers=an)
    with pytest.raises(ValueError, match="share one field"):
        from_es_json({"query": {"span_within": {
            "big": {"span_term": {"text": "a"}},
            "little": {"span_term": {"lang": "b"}},
        }}}, analyzers=an)


def test_combined_fields_bm25f(spark):
    from tweets_elastic_spark.functions.analyzers import materialize_tokens
    from tweets_elastic_spark.plans.search import (
        BM25Match,
        bm25_stats,
        corpus_bm25_provider,
        from_es_json,
        search,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta", "alpha gamma delta"),
         (2, "beta", "beta beta epsilon"),
         (3, "zeta", "eta theta")],
        "doc_id long, head string, body string",
    )
    docs = materialize_tokens(docs, {"head": ["standard"],
                                     "body": ["standard"]})
    fields = [("head", "head__standard", 2.0), ("body", "body__standard", 1.0)]
    stats = bm25_stats(docs, [(c, w) for _, c, w in fields], ["alpha", "beta"])
    # union df: alpha in doc1 (both fields -> counted once) = 1;
    # beta in doc1(head) + doc2(both) = 2
    assert stats.df == {"alpha": 1.0, "beta": 2.0}
    # avgdl: weighted lengths 2*2+3=7, 2*1+3=5, 2*1+2=4 -> 16/3
    assert abs(stats.avgdl - 16.0 / 3.0) < 1e-12

    q = BM25Match(fields, "alpha beta", analyzer="standard", stats=stats)
    out = {r["doc_id"]: r["score"]
           for r in search(docs, q, k=None).collect()}
    assert set(out) == {1, 2}
    # doc1: tf_alpha = 2*1 + 1 = 3 (head hit weighted), doc2 has no alpha
    import math
    idf_a = math.log(1 + (3 - 1 + 0.5) / 1.5)
    idf_b = math.log(1 + (3 - 2 + 0.5) / 2.5)
    dl1 = 7.0
    sat = lambda tf, dl: tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / stats.avgdl))
    want1 = idf_a * sat(3.0, dl1) + idf_b * sat(2.0, dl1)
    assert abs(out[1] - want1) < 1e-9

    # operator=and requires every term in SOME field
    q_and = BM25Match(fields, "alpha beta", analyzer="standard",
                      stats=stats, operator="and")
    assert [r["doc_id"] for r in search(docs, q_and, k=None).collect()] == [1]

    # DSL wiring: provider required, analyzers must agree
    dsl = {"combined_fields": {"query": "alpha beta",
                               "fields": ["head^2", "body"]}}
    bindings = dict(
        analyzers={"head": "standard", "body": "standard"},
        tokens_cols={"head": "head__standard", "body": "body__standard"},
    )
    with pytest.raises(ValueError, match="bm25_stats_for"):
        from_es_json(dsl, **bindings)
    provider = corpus_bm25_provider(spark, docs)
    qj = from_es_json(dsl, **bindings, bm25_stats_for=provider)
    outj = {r["doc_id"]: r["score"]
            for r in search(docs, qj, k=None).collect()}
    assert outj == out
    with pytest.raises(ValueError, match="share one"):
        from_es_json(dsl, analyzers={"head": "standard",
                                     "body": "englando"},
                     tokens_cols=bindings["tokens_cols"],
                     bm25_stats_for=provider)


def test_render_search_template():
    from tweets_elastic_spark.plans.templates import (
        render_search_template,
        render_template,
    )

    # scalar + toJson + truthy/inverted sections (the default-size idiom)
    src = ('{"query": {"match": {"t": "{{q}}"}}, '
           '"size": {{size}}{{^size}}10{{/size}}, '
           '"ids": {{#toJson}}ids{{/toJson}}}')
    got = render_search_template(src, {"q": 'he said "hi"', "ids": [1, 2]})
    assert got == {"query": {"match": {"t": 'he said "hi"'}},
                   "size": 10, "ids": [1, 2]}
    got = render_search_template(src, {"q": "x", "ids": [], "size": 3})
    assert got["size"] == 3 and got["ids"] == []

    # sections splice optional clauses; nested sections resolve
    src2 = '[1{{#a}}, 2{{#b}}, 3{{/b}}{{/a}}]'
    assert render_search_template(src2, {"a": True, "b": True}) == [1, 2, 3]
    assert render_search_template(src2, {"a": True}) == [1, 2]
    assert render_search_template(src2, {}) == [1]

    # list iteration: body repeats per element, {{.}} is the element
    assert render_template("{{#xs}}<{{.}}>{{/xs}}", {"xs": [1, 2, 3]}) \
        == "<1><2><3>"
    # dict elements push a context frame; outer names still resolve
    got = render_template(
        '{{#clauses}}{"match": {"{{f}}": "{{q}}"}},{{/clauses}}',
        {"clauses": [{"f": "title", "q": "a"}, {"f": "body"}], "q": "z"},
    )
    assert got == '{"match": {"title": "a"}},{"match": {"body": "z"}},'
    # the ES list-param idiom end-to-end: build a should array (trailing
    # element carries no comma via an inverted-last marker-free shape —
    # here the template wraps with match_all so commas stay simple)
    src3 = ('{"query": {"bool": {"should": ['
            '{{#langs}}{"term": {"lang": "{{.}}"}},{{/langs}}'
            '{"match_all": {}}]}}}')
    got = render_search_template(src3, {"langs": ["en", "de"]})
    assert got["query"]["bool"]["should"] == [
        {"term": {"lang": "en"}}, {"term": {"lang": "de"}},
        {"match_all": {}},
    ]
    # empty list: iteration renders nothing, inverted section fires
    assert render_template(
        "[{{#xs}}{{.}}{{/xs}}{{^xs}}0{{/xs}}]", {"xs": []}) == "[0]"
    # dict section scopes its fields
    assert render_template(
        "{{#u}}{{name}}{{/u}}", {"u": {"name": "kay"}}) == "kay"

    # guards: missing toJson param, non-JSON result, scalar-slot list,
    # same-name nesting, leftover syntax
    with pytest.raises(ValueError, match="missing"):
        render_search_template("{{#toJson}}nope{{/toJson}}", {})
    with pytest.raises(ValueError, match="not valid JSON"):
        render_search_template('{"a": {{v}}}', {})
    with pytest.raises(ValueError, match="needs"):
        render_template("{{v}}", {"v": [1, 2]})
    with pytest.raises(ValueError, match="same-name"):
        render_template("{{#a}}{{#a}}x{{/a}}{{/a}}", {"a": [1]})
    with pytest.raises(ValueError, match="unrendered"):
        render_template("{{#a}}{{#b}}x{{/a}}{{/b}}", {"a": 1, "b": 1})


def test_terms_lookup_and_cross_fields_routing(spark):
    from tweets_elastic_spark.plans.search import from_es_json, search

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "a")], "doc_id long, g string"
    )
    lookup = spark.createDataFrame(
        [(10, ["a", "c"]), (11, ["b"])], "lid long, allowed array<string>"
    )
    q = from_es_json(
        {"terms": {"g": {"index": "lk", "id": 10, "path": "allowed"}}},
        lookup_indices={"lk": (lookup, "lid")},
    )
    assert sorted(r["doc_id"] for r in search(df, q, k=None).collect()) \
        == [1, 3, 4]
    # guards: unbound index, missing doc, dup doc
    with pytest.raises(ValueError, match="lookup_indices"):
        from_es_json({"terms": {"g": {"index": "nope", "id": 1,
                                      "path": "allowed"}}})
    with pytest.raises(ValueError, match="exactly one"):
        from_es_json({"terms": {"g": {"index": "lk", "id": 99,
                                      "path": "allowed"}}},
                     lookup_indices={"lk": (lookup, "lid")})
    # cross_fields without a provider refuses via the combined_fields path
    with pytest.raises(ValueError, match="bm25_stats_for"):
        from_es_json({"multi_match": {"query": "x", "fields": ["g"],
                                      "type": "cross_fields"}},
                     analyzers={"g": "standard"},
                     tokens_cols={"g": "g__standard"})
    # operator stays cross_fields-only
    with pytest.raises(ValueError, match="cross_fields only"):
        from_es_json({"multi_match": {"query": "x", "fields": ["g"],
                                      "operator": "and"}})


def test_geo_shape_relations_and_guards(spark):
    from tweets_elastic_spark.plans.search import from_es_json, search

    df = spark.createDataFrame(
        [(1, 10.0, 20.0), (2, 50.0, 170.0), (3, -5.0, -175.0),
         (4, 20.0, 100.0)],
        "doc_id long, lat double, lon double",
    )
    fld = {"lat": "lat", "lon": "lon"}
    env_wrap = {"type": "envelope",
                "coordinates": [[160.0, 60.0], [-170.0, -10.0]]}

    def run(shape, relation):
        q = from_es_json({"geo_shape": {
            "field": fld, "shape": shape, "relation": relation}})
        return sorted(r["doc_id"] for r in search(df, q, k=None).collect())

    assert run(env_wrap, "intersects") == [2, 3]
    assert run(env_wrap, "within") == [2, 3]  # point docs: same set
    assert run(env_wrap, "disjoint") == [1, 4]
    poly = {"type": "polygon", "coordinates":
            [[[0.0, 0.0], [30.0, 0.0], [30.0, 30.0], [0.0, 30.0],
              [0.0, 0.0]]]}
    assert run(poly, "intersects") == [1]
    for bad, msg in [
        (({"geo_shape": {"field": fld, "shape": env_wrap,
                         "relation": "contains"}}), "relation"),
        (({"geo_shape": {"field": fld,
                         "shape": {"type": "multipolygon",
                                   "coordinates": []}}}), "unsupported geo_shape type"),
        (({"geo_shape": {"field": fld, "indexed_shape": {}}}),
         "unsupported geo_shape keys"),
    ]:
        with pytest.raises(ValueError, match=msg):
            from_es_json(bad)
    with pytest.raises(ValueError, match="holes"):
        from_es_json({"geo_shape": {"field": fld, "shape": {
            "type": "polygon", "coordinates": [[[0, 0]], [[1, 1]]]}}})


def test_span_first(spark):
    from tweets_elastic_spark.functions.analyzers import materialize_tokens
    from tweets_elastic_spark.plans.search import from_es_json, search

    docs = materialize_tokens(
        spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "beta alpha gamma"),
             (3, "gamma delta alpha")],
            "doc_id long, text string",
        ),
        {"text": ["standard"]},
    )
    bind = dict(analyzers={"text": "standard"},
                tokens_cols={"text": "text__standard"})

    def run(dsl):
        return sorted(r["doc_id"]
                      for r in search(docs, from_es_json(dsl, **bind),
                                      k=None).collect())

    # alpha within the first 2 positions: docs 1 and 2, not 3
    assert run({"span_first": {
        "match": {"span_term": {"text": "alpha"}}, "end": 2}}) == [1, 2]
    # span_or inner: alpha OR delta in the first 2
    assert run({"span_first": {
        "match": {"span_or": {"clauses": [
            {"span_term": {"text": "alpha"}},
            {"span_term": {"text": "delta"}}]}}, "end": 2}}) == [1, 2, 3]
    with pytest.raises(ValueError, match="end > 0"):
        from_es_json({"span_first": {
            "match": {"span_term": {"text": "a"}}, "end": 0}}, **bind)
    with pytest.raises(ValueError, match="span_term/span_or"):
        from_es_json({"span_first": {
            "match": {"span_near": {"clauses": []}}, "end": 2}}, **bind)


def test_msearch_template(spark, sf_dir):
    from tweets_elastic_spark.plans.api import es_msearch, es_msearch_template
    from tweets_elastic_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    src = ('{"query": {"term": {"lang": "{{lang}}"}}, '
           '"_source": ["doc_id"], "sort": [{"doc_id": "asc"}], '
           '"size": {{size}}{{^size}}3{{/size}}}')
    a, b = es_msearch_template(docs, [(src, {"lang": "en"}),
                                      (src, {"lang": "de", "size": 2})])
    ra, rb = a.collect(), b.collect()
    assert len(ra) == 3 and len(rb) == 2
    # rendered entries agree with hand-written msearch bodies
    a2, = es_msearch(docs, [{"query": {"term": {"lang": "en"}},
                             "_source": ["doc_id"],
                             "sort": [{"doc_id": "asc"}], "size": 3}])
    assert [r["doc_id"] for r in ra] == [r["doc_id"] for r in a2.collect()]
    with pytest.raises(ValueError, match="non-empty"):
        es_msearch_template(docs, [])


def test_validate_query():
    from tweets_elastic_spark.plans.api import es_validate_query

    ok, expl = es_validate_query({"term": {"lang": "en"}})
    assert ok and "Term" in expl
    ok, expl = es_validate_query({"no_such_query": {}})
    assert not ok and "no_such_query" in expl
    ok, expl = es_validate_query(
        {"combined_fields": {"query": "x", "fields": ["a"]}})
    assert not ok and "bm25_stats_for" in expl


def test_terms_enum_pagination_and_case(spark):
    from tweets_elastic_spark.plans.api import es_terms_enum

    df = spark.createDataFrame(
        [("Apple",), ("apricot",), ("Avocado",), ("banana",), ("APPLE",),
         (None,), ("apple",)],
        "w string",
    )
    terms = lambda **kw: [r["term"] for r in
                          es_terms_enum(df, "w", **kw).collect()]
    # case-sensitive prefix, stored terms, ascending, distinct
    assert terms(string="ap", size=10) == ["apple", "apricot"]
    # case-insensitive matches both cases but returns STORED terms
    assert terms(string="ap", size=10, case_insensitive=True) == \
        ["APPLE", "Apple", "apple", "apricot"]
    # keyset pagination resumes after the last term of the prior page
    page1 = terms(string="", size=3)
    page2 = terms(string="", size=3, search_after=page1[-1])
    assert page1 + page2 == \
        ["APPLE", "Apple", "Avocado", "apple", "apricot", "banana"]
    import pytest as pt
    with pt.raises(ValueError, match="size"):
        es_terms_enum(df, "w", size=0)


def test_match_none(spark):
    from tweets_elastic_spark.plans.search import from_es_json, search

    df = spark.createDataFrame([(1, "x")], "doc_id long, s string")
    assert search(df, from_es_json({"match_none": {}}), k=None).count() == 0
    # composes: bool.should with match_none contributes nothing
    q = from_es_json({"bool": {"should": [{"match_none": {}}],
                               "filter": [{"term": {"s": "x"}}]}})
    rows = search(df, q, k=None).collect()
    assert len(rows) == 1 and rows[0]["score"] == 0.0


def test_es_retriever_tree(spark):
    from tweets_elastic_spark.plans.search import es_retriever

    rows = [
        (1, 10.0, [1.0, 0.0]), (2, 20.0, [0.0, 1.0]),
        (3, 30.0, [0.6, 0.8]), (4, 40.0, [1.0, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, pop double, emb array<float>")

    # standard leaf: function_score ranks by the field, ties by id
    std = {"standard": {"query": {"function_score": {
        "query": {"range": {"pop": {"gte": 20}}},
        "functions": [{"field_value_factor": {"field": "pop"}}],
    }}}}
    got = [(r["doc_id"], r["score"])
           for r in es_retriever(df, std, size=2).collect()]
    assert got == [(4, 40.0), (3, 30.0)]

    # knn leaf: exact cosine to [1, 0]; k caps the leg
    knn = {"knn": {"field": "emb", "query_vector": [1.0, 0.0], "k": 3}}
    got = [r["doc_id"] for r in es_retriever(df, knn, size=10).collect()]
    assert got == [1, 4, 3]  # cos 1.0, 1.0 (tie -> id), 0.6

    # rrf fusion: doc 4 leads both legs' overlap
    rrf = {"rrf": {"retrievers": [std, knn], "rank_window_size": 3}}
    fused = es_retriever(df, rrf, size=4).collect()
    assert fused[0]["doc_id"] == 4 and fused[0]["n_legs"] == 2

    # linear fusion with minmax: leg tops get 1.0, weights apply
    lin = {"linear": {"retrievers": [
        {"retriever": std, "weight": 0.5, "normalizer": "minmax"},
        {"retriever": knn, "weight": 0.5, "normalizer": "minmax"},
    ], "rank_window_size": 3}}
    top = es_retriever(df, lin, size=4).collect()[0]
    assert top["doc_id"] == 4 and abs(top["score"] - 1.0) < 1e-9

    # guards
    with pytest.raises(ValueError, match="retriever kind"):
        es_retriever(df, {"nope": {}})
    with pytest.raises(ValueError, match=">= 2 child"):
        es_retriever(df, {"rrf": {"retrievers": [std]}})
    with pytest.raises(ValueError, match="normalizer"):
        es_retriever(df, {"linear": {"retrievers": [
            {"retriever": std, "normalizer": "zscore"}]}})
    with pytest.raises(ValueError, match="unsupported standard"):
        es_retriever(df, {"standard": {"query": {"match_all": {}},
                                       "collapse": "pop"}})


def test_es_retriever_text_similarity_reranker(spark):
    from tweets_elastic_spark.plans.search import es_retriever

    rows = [
        (1, 5.0, "alpha beta gamma"),     # no query tokens -> 0
        (2, 9.0, "spark streaming"),      # 2/3
        (3, 7.0, "spark data lake ops"),  # 2/5
        (4, 1.0, "data"),                 # excluded by child filter
    ]
    df = spark.createDataFrame(rows, "doc_id long, pop double, text string")
    body = {"text_similarity_reranker": {
        "retriever": {"standard": {"query": {"function_score": {
            "query": {"range": {"pop": {"gte": 2}}},
            "functions": [{"field_value_factor": {"field": "pop"}}],
        }}}},
        "field": "text",
        "inference_text": "Spark streaming data",
        "rank_window_size": 3,
    }}
    got = [(r["doc_id"], r["score"])
           for r in es_retriever(df, body, size=3).collect()]
    # doc 2: |{spark,streaming}|/|{spark,streaming} u {data}| = 2/3;
    # doc 3: 2/5; doc 1: 0; doc 4 never enters the window
    assert got == [(2, 0.666667), (3, 0.4), (1, 0.0)]
    with pytest.raises(ValueError, match="needs 'retriever'"):
        es_retriever(df, {"text_similarity_reranker": {"field": "text"}})
    with pytest.raises(ValueError, match="unsupported text_similarity"):
        es_retriever(df, {"text_similarity_reranker": {
            "retriever": {"standard": {"query": {"match_all": {}}}},
            "field": "text", "inference_text": "x", "min_score": 0.5}})


def test_es_request_retriever_envelope(spark):
    from tweets_elastic_spark.plans.aggs import es_request

    df = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 7.0)], "doc_id long, pop double")
    body = {"retriever": {"standard": {"query": {"function_score": {
        "query": {"match_all": {}},
        "functions": [{"field_value_factor": {"field": "pop"}}],
    }}}}, "size": 2}
    got = [(r["doc_id"], r["score"])
           for r in es_request(df, body, tiebreak="doc_id").collect()]
    assert got == [(2, 9.0), (3, 7.0)]
    with pytest.raises(ValueError, match="replaces"):
        es_request(df, {**body, "sort": ["pop"]}, tiebreak="doc_id")
    with pytest.raises(ValueError, match="tiebreak"):
        es_request(df, body)

def test_es_retriever_compound_filter_and_key_guards(spark):
    # ES 8.16 compound-level `filter` on rrf/linear pre-applies to the
    # scan every child leg reads; unknown body/child keys raise rather
    # than silently changing the result (the advisor-flagged gap: a
    # filtered rrf request must never return unfiltered results).
    from tweets_elastic_spark.plans.search import es_retriever

    rows = [
        (1, 10.0, [1.0, 0.0]), (2, 20.0, [0.0, 1.0]),
        (3, 30.0, [0.6, 0.8]), (4, 40.0, [1.0, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, pop double, emb array<float>")
    std = {"standard": {"query": {"function_score": {
        "query": {"match_all": {}},
        "functions": [{"field_value_factor": {"field": "pop"}}],
    }}}}
    knn = {"knn": {"field": "emb", "query_vector": [1.0, 0.0], "k": 4}}

    # unfiltered rrf sees doc 4; the compound filter pop < 35 removes
    # it from BOTH legs (4 tops the std leg AND ties the knn leg)
    rrf = {"rrf": {"retrievers": [std, knn], "rank_window_size": 4}}
    assert {r["doc_id"] for r in es_retriever(df, rrf, size=4).collect()
            } == {1, 2, 3, 4}
    filtered = {"rrf": {"retrievers": [std, knn], "rank_window_size": 4,
                        "filter": {"range": {"pop": {"lt": 35}}}}}
    assert {r["doc_id"]
            for r in es_retriever(df, filtered, size=4).collect()
            } == {1, 2, 3}

    # linear compound filter: same contract
    lin = {"linear": {"retrievers": [
        {"retriever": std, "weight": 1.0, "normalizer": "minmax"},
    ], "filter": {"range": {"pop": {"lt": 35}}}}}
    got = es_retriever(df, lin, size=4).collect()
    assert [r["doc_id"] for r in got][0] == 3  # 4 filtered out, 3 tops

    # guards: unknown compound keys and unknown linear child keys
    with pytest.raises(ValueError, match="unsupported rrf"):
        es_retriever(df, {"rrf": {"retrievers": [std, knn],
                                  "rank_window": 3}})
    with pytest.raises(ValueError, match="unsupported linear retriever"):
        es_retriever(df, {"linear": {"retrievers": [
            {"retriever": std}], "rank_constant": 60}})
    with pytest.raises(ValueError, match="unsupported linear child"):
        es_retriever(df, {"linear": {"retrievers": [
            {"retriever": std, "filter": {"match_all": {}}}]}})


def test_es_request_retriever_envelope_whitelist(spark):
    # Envelope keys the non-retriever path honors (_source, post_filter,
    # min_score, fields, explain) raise alongside `retriever` instead of
    # being silently dropped (advisor-flagged: whitelist, not blacklist).
    from tweets_elastic_spark.plans.aggs import es_request

    df = spark.createDataFrame(
        [(1, 5.0), (2, 9.0)], "doc_id long, pop double")
    body = {"retriever": {"standard": {"query": {"function_score": {
        "query": {"match_all": {}},
        "functions": [{"field_value_factor": {"field": "pop"}}],
    }}}}, "size": 2}
    assert es_request(df, body, tiebreak="doc_id").count() == 2
    for bad in ("_source", "post_filter", "min_score", "fields",
                "explain"):
        with pytest.raises(ValueError, match="unsupported envelope"):
            es_request(df, {**body, bad: {}}, tiebreak="doc_id")

def test_span_multi_semantics(spark):
    """Lucene span_multi (r13, formerly a refusal): a prefix/wildcard
    multi-term query wrapped as unit-width spans — standalone, inside
    span_or/span_near (both orders), and as span_not include/exclude.
    Both engines place one span per matching TOKEN position, so the
    intervals translation is exact."""
    from tweets_elastic_spark.plans.search import from_es_json, search

    an = {"text": "standard"}
    df = spark.createDataFrame(
        [(1, "quick brown fox"),
         (2, "quill pen"),
         (3, "fox quicker than most"),
         (4, "nothing here"),
         (5, "slow quickstep fox")],
        "id long, text string",
    )

    def ids(q):
        return sorted(r["id"] for r in
                      search(df, from_es_json({"query": q}, analyzers=an),
                             k=None).collect())

    pre_qui = {"span_multi": {"match": {"prefix": {"text": "qui"}}}}
    # standalone: any token starting 'qui'
    assert ids(pre_qui) == [1, 2, 3, 5]
    # wildcard inner query, {'value': ...} form
    assert ids({"span_multi": {"match": {"wildcard": {
        "text": {"value": "qu*er"}}}}}) == [3]
    # span_or mixing a term and a multi leaf
    assert ids({"span_or": {"clauses": [
        {"span_term": {"text": "pen"}},
        {"span_multi": {"match": {"prefix": {"text": "noth"}}}},
    ]}}) == [2, 4]
    # span_near ordered: qui* then fox, adjacent -> docs 1 (brown
    # intervenes? no: quick(0) brown(1) fox(2) -> gap 1 needs slop 1)
    near = lambda slop, order: {"span_near": {"clauses": [
        pre_qui, {"span_term": {"text": "fox"}},
    ], "slop": slop, "in_order": order}}
    assert ids(near(0, True)) == [5]        # quickstep fox adjacent
    assert ids(near(1, True)) == [1, 5]     # one gap admits brown
    # unordered: doc 3's fox..quicker (reversed, gap 0) joins at slop 0
    assert ids(near(0, False)) == [3, 5]
    # span_not: qui* tokens not within 1 of 'slow'/'than'
    assert ids({"span_not": {
        "include": pre_qui,
        "exclude": {"span_or": {"clauses": [
            {"span_term": {"text": "slow"}},
            {"span_term": {"text": "than"}},
        ]}},
        "pre": 1, "post": 1,
    }}) == [1, 2]  # doc 3 quicker~than cut, doc 5 quickstep~slow cut
    # span_multi as the EXCLUDE side: doc 3/5's fox sits adjacent to a
    # qui* token and is cut; doc 1's fox is 2 past 'quick' — outside
    # the pre/post=1 window — and survives
    assert ids({"span_not": {
        "include": {"span_term": {"text": "fox"}},
        "exclude": {"span_multi": {"match": {"prefix": {"text": "qui"}}}},
        "pre": 1, "post": 1,
    }}) == [1]
    # refusals: fuzzy inner query, field_masking_span message
    with pytest.raises(ValueError, match="prefix/wildcard"):
        ids({"span_multi": {"match": {"fuzzy": {"text": "quick"}}}})
    with pytest.raises(ValueError, match="field_masking_span"):
        ids({"field_masking_span": {
            "query": {"span_term": {"text": "fox"}}, "field": "lang"}})


_HOSTILE = ["it's", "back\\slash", "a -- b", "/* c */", "x' OR true OR 'x",
            "nôn nočbás"]


@pytest.fixture(scope="module")
def hostile_df(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    values = _HOSTILE + ["it", "x", "plain", "back", "a -", "100%_", "nôn"]
    schema = StructType([StructField("id", LongType()),
                         StructField("we`ird", StringType())])
    return spark.createDataFrame(list(enumerate(values)), schema)


@pytest.mark.parametrize("kind", ["term", "match", "prefix", "wildcard"])
@pytest.mark.parametrize("value", _HOSTILE + ["100%_", "*'*", "x?"])
def test_request_text_cannot_escape_the_sql(spark, hostile_df, kind, value):
    """Request values and a field name holding a backquote reach the
    rendered SQL as literals and a quoted name: each clause selects exactly
    the rows the same test in Python selects."""
    import re

    from tweets_elastic_spark.plans.search import from_es_json

    field = "we`ird"
    body = {"query": value} if kind == "match" else {"value": value}
    q = from_es_json({kind: {field: body}})
    if kind == "prefix":
        keep = lambda v: v.startswith(value)  # noqa: E731
    elif kind == "wildcard":
        rx = "".join(".*" if c == "*" else "." if c == "?" else re.escape(c)
                     for c in value)
        keep = lambda v: re.fullmatch(rx, v, re.S) is not None  # noqa: E731
    else:
        keep = lambda v: v == value  # noqa: E731
    got = sorted(r["id"] for r in search(hostile_df, q, k=None).collect())
    want = sorted(r["id"] for r in hostile_df.collect() if keep(r[field]))
    assert got == want


def test_bm25_scores_equal_python_recomputation(spark):
    """BM25 scores rendered with ``double_sql`` literals (statistics that
    no short decimal writes exactly) are bit-equal to the same formula
    evaluated in Python in the same operation order."""
    import math

    from tweets_elastic_spark.functions.analyzers import materialize_tokens
    from tweets_elastic_spark.plans.search import BM25Match, Bm25Stats

    texts = ["spark merge spark", "merge conflict in spark plans",
             "unrelated words", "spark", "merge merge merge conflict"]
    docs = materialize_tokens(
        spark.createDataFrame(list(enumerate(texts)), "id long, text string"),
        {"text": ["standard"]})
    stats = Bm25Stats(n_docs=7.0, avgdl=10.0 / 3.0,
                      df={"spark": 3.0, "merge": 1.0 / 3.0, "conflict": 2.0})
    k1, b, boost = 1.2, 0.75, 0.1
    q = BM25Match([("text", "text__standard", 1.0)], "spark merge conflict",
                  "standard", stats, k1=k1, b=b, boost=boost)
    got = {r["id"]: r["score"] for r in search(docs, q, k=None).collect()}
    want = {}
    for i, toks in docs.select("id", "text__standard").collect():
        toks = list(toks)
        if not {"spark", "merge", "conflict"} & set(toks):
            continue
        dl, total = float(len(toks)), 0.0
        for t in ("spark", "merge", "conflict"):
            df_t = stats.df[t]
            idf = math.log(1.0 + (stats.n_docs - df_t + 0.5) / (df_t + 0.5))
            tf = float(toks.count(t))
            sat = (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + (b * dl) / stats.avgdl))
            total = total + idf * sat
        want[i] = total * boost
    assert got == want and len(want) == 4


def test_nested_inside_nested_reads_each_scope(spark):
    """A nested scope inside another reads its array from the outer
    element and its fields from its own element."""
    df = spark.createDataFrame(
        [(1, [{"a": [{"b": 1}, {"b": 2}], "c": 5}]),
         (2, [{"a": [{"b": 3}], "c": 6}, {"a": [{"b": 2}], "c": 1}])],
        "id long, xs array<struct<a: array<struct<b: int>>, c: int>>")

    def ids(q):
        return sorted(r["id"] for r in search(df, q, k=None).collect())

    assert ids(Nested("xs", Nested("a", Term("b", 2)))) == [1, 2]
    assert ids(Nested("xs", Bool(filter=[
        Range("c", gt=5), Nested("a", Term("b", 2))]))) == []
    assert ids(Nested("xs", Bool(filter=[
        Range("c", gt=5), Nested("a", Term("b", 3))]))) == [2]
