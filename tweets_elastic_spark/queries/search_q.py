"""Search-layer showcase over the documents corpus: the reference query's
shape (function_score(bool(should-with-weights, filter))) compiled to a
filter → score → top-k plan, with a full SQL oracle."""

from __future__ import annotations

import base64
import datetime
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tweets_elastic_spark.functions.analyzers import (
    analyze,
    analyze_text,
    materialize_tokens,
    pin_computed,
)
from tweets_elastic_spark.operators.percolate import percolate_from_json
from tweets_elastic_spark.operators.similarity import cosine_topk
from tweets_elastic_spark.plans.aggs import es_aggregate, es_request
from tweets_elastic_spark.plans.api import (
    es_mget,
    es_msearch_template,
    es_rank_eval,
    es_terms_enum,
    es_termvectors,
)
from tweets_elastic_spark.plans.essql import es_sql
from tweets_elastic_spark.plans.ingest import apply_ingest_pipeline
from tweets_elastic_spark.plans.joinfield import (
    children_agg,
    has_child,
    has_parent,
    parent_agg,
)
from tweets_elastic_spark.plans.query_string import (
    parse_query_string,
    parse_simple_query_string,
)
from tweets_elastic_spark.plans.search import (
    BM25Match,
    Bool,
    DistanceFeature,
    Exists,
    FunctionScore,
    Match,
    MatchBoolPrefix,
    Pinned,
    Range,
    Term,
    TermsSet,
    bm25_stats,
    corpus_bm25_provider,
    es_retriever,
    explain_score,
    from_es_json,
    more_like_this,
    rrf_fuse,
    search,
)
from tweets_elastic_spark.plans.templates import render_search_template
from tweets_elastic_spark.registry import register
from tweets_elastic_spark.sinks import delete_by_query, update_by_query
from tweets_elastic_spark.sources.catalog import fan_out, load_table

# DuckDB mirror of the custom_shingles analysis (words + glued bigrams; the
# corpus is ASCII so asciifolding is the identity).
_TOKENS_CTE = """
    WITH toks AS (
        SELECT doc_id, lang, n_chars, source,
               list_concat(
                 t,
                 CASE WHEN len(t) >= 2
                      THEN list_transform(range(1, len(t)), i -> t[i] || t[i+1])
                      ELSE [] END
               ) AS tokens
        FROM (
            SELECT doc_id, lang, n_chars, source,
                   list_transform(
                     list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'), x -> x <> ''),
                     x -> lower(x)) AS t
            FROM documents
        )
    )
"""


# Shared by the three forms of one function_score query (query nodes,
# JSON artifact, materialized tokens): they must agree row-for-row.
_FUNCTION_SCORE_ORACLE = _TOKENS_CTE + """
    SELECT doc_id, lang, n_chars,
           CAST(
             CASE WHEN list_has_any(tokens, ['spark', 'merge', 'sparkmerge'])
                  THEN 5.0 ELSE 0.0 END
           + CASE WHEN source = 'src1' THEN 2.0 ELSE 0.0 END
           AS DOUBLE) AS score
    FROM toks
    WHERE n_chars > 300 AND lang = 'en'
    ORDER BY score DESC, doc_id ASC
    LIMIT 25
    """


@register(
    "search_function_score",
    oracle=_FUNCTION_SCORE_ORACLE,
    doc="Reference-query shape (Q1-Q7, elastic_queries.json): weighted "
        "should (analyzed match + term) over a non-scoring filter, top-k.",
)
def q_search_function_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    query = FunctionScore(
        Bool(
            should=[
                (Match("text", "spark merge", analyzer="custom_shingles"), 5.0),
                (Term("source", "src1"), 2.0),
            ],
            filter=[Range("n_chars", gt=300), Term("lang", "en")],
        )
    )
    return search(docs, query, k=25, tiebreak="doc_id").select(
        "doc_id", "lang", "n_chars", "score"
    )


# The search_function_score query AS A JSON ARTIFACT — the wire format the
# reference ships its query in (src/used_queries/elastic_queries.json uses
# the same function_score/bool/weighted-should/filter shape). Executed
# through the from_es_json compiler instead of the Python builder; the
# analyzer binding comes from the (mapping-style) analyzers dict, never
# from the query JSON — exactly ES's split.
_DSL_ARTIFACT = {
    "query": {
        "function_score": {
            "query": {
                "bool": {
                    "should": [
                        {
                            "query": {"match": {"text": {"query": "spark merge"}}},
                            "weight": 5,
                        },
                        {"query": {"term": {"source": "src1"}}, "weight": 2},
                    ],
                    "filter": [
                        {"range": {"n_chars": {"gt": 300}}},
                        {"term": {"lang": "en"}},
                    ],
                }
            }
        }
    }
}


@register(
    "search_from_json_dsl",
    oracle=_FUNCTION_SCORE_ORACLE,
    doc="The ES-DSL JSON front-end: the search_function_score query parsed "
        "from its JSON artifact by from_es_json (the compiler that runs "
        "the reference's own elastic_queries.json verbatim — tree equality "
        "with the hand-built reference_query() is pytest-pinned) and "
        "executed through the same filter → score → top-k plan. Same "
        "oracle as the builder form: the two entries must agree row-for-"
        "row or the compiler drifted.",
)
def q_search_from_json_dsl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    query = from_es_json(_DSL_ARTIFACT, analyzers={"text": "custom_shingles"})
    return search(docs, query, k=25, tiebreak="doc_id").select(
        "doc_id", "lang", "n_chars", "score"
    )


@register(
    "search_materialized_tokens",
    oracle=_FUNCTION_SCORE_ORACLE,
    doc="Same query as search_function_score but over an index-time "
        "materialized token column (materialize_tokens, the multi-field "
        "analogue of mapping.json:23-54) — the 100 TB plan: the match is "
        "arrays_overlap(tokens_col, lit(query_tokens)), a codegen'd "
        "expression; analysis runs once per doc at ingest, not per query.",
)
def q_search_materialized_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # Index-time analysis: in production this column is written alongside
    # the corpus; here it materializes in the same job, one analysis pass.
    docs = materialize_tokens(docs, {"text": ["custom_shingles"]})
    query = FunctionScore(
        Bool(
            should=[
                (
                    Match(
                        "text",
                        "spark merge",
                        analyzer="custom_shingles",
                        tokens_col="text__custom_shingles",
                    ),
                    5.0,
                ),
                (Term("source", "src1"), 2.0),
            ],
            filter=[Range("n_chars", gt=300), Term("lang", "en")],
        )
    )
    return search(docs, query, k=25, tiebreak="doc_id").select(
        "doc_id", "lang", "n_chars", "score"
    )


# BM25 oracle: same Lucene-style formula, computed entirely in SQL from the
# same shingle tokens (k1=1.2, b=0.75; idf = ln(1+(N-df+0.5)/(df+0.5))).
_BM25_TOKENS = ["spark", "merge", "sparkmerge"]
_BM25_SCORE_SQL = " + ".join(
    f"""ln(1.0 + (s.n - d.df_{t} + 0.5)/(d.df_{t} + 0.5))
        * (CAST(len(list_filter(tokens, x -> x = '{t}')) AS DOUBLE) * 2.2)
        / (CAST(len(list_filter(tokens, x -> x = '{t}')) AS DOUBLE)
           + 1.2 * (0.25 + 0.75 * CAST(len(tokens) AS DOUBLE) / s.avgdl))"""
    for t in _BM25_TOKENS
)
_BM25_DF_SQL = ", ".join(
    f"CAST(sum(CASE WHEN list_contains(tokens, '{t}') THEN 1 ELSE 0 END) AS DOUBLE) AS df_{t}"
    for t in _BM25_TOKENS
)


# Shared by search_bm25 (query nodes), search_dsl_bm25 (JSON front-end)
# and search_bm25_indexed (stored tokens): the entries must agree
# row-for-row or the DSL's BM25 wiring or the stored columns drifted.
_BM25_ORACLE = _TOKENS_CTE + f""",
    stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               avg(CAST(len(tokens) AS DOUBLE)) AS avgdl
        FROM toks
    ),
    dfs AS (SELECT {_BM25_DF_SQL} FROM toks)
    SELECT doc_id, lang,
           round({_BM25_SCORE_SQL}, 6) AS score
    FROM toks, stats s, dfs d
    WHERE lang = 'en'
      AND list_has_any(tokens, ['spark', 'merge', 'sparkmerge'])
    """


@register(
    "search_bm25",
    oracle=_BM25_ORACLE,
    doc="Okapi BM25 relevance over the custom_shingles token column "
        "(ES match scoring, SURVEY §7 risk 4 — the v2 item): corpus stats "
        "from one aggregation job, per-doc tf/dl math as JVM expressions; "
        "the oracle recomputes the identical formula in SQL.",
)
def q_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # the stats job and the scoring query each analyze once; no persist —
    # a cached DF leaked from a registered query can never be unpersisted
    # (at ingest scale the token column is stored, not cached)
    docs = materialize_tokens(docs, {"text": ["custom_shingles"]})
    qtokens = analyze_text(spark, "spark merge", "custom_shingles")
    stats = bm25_stats(docs, [("text__custom_shingles", 1.0)], qtokens)
    match = BM25Match(
        [("text", "text__custom_shingles", 1.0)], "spark merge",
        analyzer="custom_shingles", stats=stats,
    )
    query = FunctionScore(
        Bool(should=[(match, 1.0)], filter=[Term("lang", "en"), match])
    )
    return search(docs, query, k=None).select(
        "doc_id", "lang", F.round("score", 6).alias("score")
    )


# The BM25 query AS A JSON ARTIFACT: what a generic ES
# user sends — a bare `match` they expect relevance-ranked. The analyzer +
# token-column bindings come from the mapping side as always; the stats
# provider is the only new input.
_BM25_DSL = {
    "query": {
        "function_score": {
            "query": {
                "bool": {
                    "should": [{"match": {"text": {"query": "spark merge"}}}],
                    "filter": [
                        {"term": {"lang": "en"}},
                        {"match": {"text": "spark merge"}},
                    ],
                }
            }
        }
    }
}


@register(
    "search_dsl_bm25",
    oracle=_BM25_ORACLE,
    doc="BM25 through the JSON-DSL front-end: from_es_json compiles the "
        "match clauses to BM25Match when the field has analyzer + token-"
        "column bindings and a bm25_stats_for provider is supplied "
        "(corpus_bm25_provider here; index_bm25_provider against a "
        "materialized index). Shares search_bm25's oracle verbatim — the "
        "DSL and builder forms must agree row-for-row. The reference "
        "artifact's own tree stays byte-identical with a provider present "
        "(keyword match, constant weight — pytest-pinned).",
)
def q_search_dsl_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    docs = materialize_tokens(docs, {"text": ["custom_shingles"]})
    query = from_es_json(
        _BM25_DSL,
        analyzers={"text": "custom_shingles"},
        tokens_cols={"text": "text__custom_shingles"},
        bm25_stats_for=corpus_bm25_provider(spark, docs),
    )
    return search(docs, query, k=None).select(
        "doc_id", "lang", F.round("score", 6).alias("score")
    )


# ES SQL's signature full-text feature (the `_sql` endpoint's
# MATCH()/SCORE() extensions) driven end-to-end: the SQL string compiles
# MATCH through the SAME BM25Match node the DSL uses, SCORE() surfaces its
# relevance. Shares the BM25 oracle verbatim with search_bm25 /
# search_dsl_bm25 — three front-ends (builder, JSON DSL, SQL), one scoring
# truth.
_ESSQL_MATCH = """SELECT doc_id, lang, ROUND(SCORE(), 6) AS score
FROM documents
WHERE MATCH(text, 'spark merge') AND lang = 'en'
ORDER BY SCORE() DESC, doc_id ASC"""


@register(
    "essql_match_query",
    oracle=_BM25_ORACLE,
    doc="ES-SQL MATCH()/SCORE() (plans/essql.py): the full-text extension "
        "compiled onto the query-DSL nodes — MATCH(text, 'spark merge') "
        "becomes BM25Match over the materialized shingle tokens (stats "
        "from corpus_bm25_provider), SCORE() its Okapi BM25 relevance, "
        "ORDER BY SCORE() a sort on the hidden pre-projection score "
        "column. Oracle = the same DuckDB BM25 recompute search_bm25 "
        "uses; the SQL, DSL, and builder front-ends must agree "
        "row-for-row.",
)
def q_essql_match_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    docs = materialize_tokens(docs, {"text": ["custom_shingles"]})
    return es_sql(
        _ESSQL_MATCH,
        {"documents": docs},
        analyzers={"text": "custom_shingles"},
        tokens_cols={"text": "text__custom_shingles"},
        bm25_stats_for=corpus_bm25_provider(spark, docs),
    )


@register(
    "search_exists_filter",
    oracle="""
    SELECT doc_id, source
    FROM documents
    WHERE text IS NOT NULL AND n_chars >= 100 AND n_chars <= 400
    """,
    doc="exists + double-bounded range filters (Q6/Q7 composition).",
)
def q_search_exists_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    query = Bool(filter=[Exists("text"), Range("n_chars", gte=100, lte=400)])
    return search(docs, query, k=None).select("doc_id", "source")


@register(
    "search_dsl_extended",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, source,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    )
    SELECT doc_id, lang, source,
           CAST(
             CASE WHEN position(
                    chr(1) || 'spark' || chr(1) || 'merge' || chr(1)
                    IN chr(1) || array_to_string(t, chr(1)) || chr(1)) > 0
                  THEN 3.0 ELSE 0.0 END
           + CASE WHEN source LIKE 'src_' THEN 1.0 ELSE 0.0 END
           AS DOUBLE) AS score
    FROM toks
    WHERE source LIKE 'src%' AND lang IN ('en', 'de')
    ORDER BY score DESC, doc_id ASC
    LIMIT 30
    """,
    doc="The DSL surface beyond the reference artifact, in one compiled "
        "JSON query: match_phrase (consecutive-token containment via the "
        "sentinel-joined token stream — one codegen'd string op, no "
        "positional postings needed), wildcard (?/* → LIKE), prefix, and "
        "terms (IN-list), over the standard analyzer. ~32/500 fixture docs "
        "contain the phrase vs 313 containing both tokens somewhere — the "
        "oracle verifies real phrase semantics, not token overlap.",
)
def q_search_dsl_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    dsl = {
        "query": {
            "function_score": {
                "query": {
                    "bool": {
                        "should": [
                            {
                                "query": {
                                    "match_phrase": {
                                        "text": {"query": "spark merge"}
                                    }
                                },
                                "weight": 3,
                            },
                            {"query": {"wildcard": {"source": "src?"}}, "weight": 1},
                        ],
                        "filter": [
                            {"prefix": {"source": "src"}},
                            {"terms": {"lang": ["en", "de"]}},
                        ],
                    }
                }
            }
        }
    }
    query = from_es_json(dsl, analyzers={"text": "standard"})
    return search(docs, query, k=30, tiebreak="doc_id").select(
        "doc_id", "lang", "source", "score"
    )


@register(
    "search_phrase_slop",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    ),
    pos AS (
        SELECT doc_id, lang,
          list_filter(list_transform(t, (x,i) -> CASE WHEN x = 'vector'
                      THEN i-1 ELSE -1 END), p -> p >= 0) AS a0,
          list_transform(list_filter(list_transform(t, (x,i) ->
                      CASE WHEN x = 'merge' THEN i-1 ELSE -1 END),
                      p -> p >= 0), p -> p - 1) AS a1,
          list_transform(list_filter(list_transform(t, (x,i) ->
                      CASE WHEN x = 'order' THEN i-1 ELSE -1 END),
                      p -> p >= 0), p -> p - 2) AS a2
        FROM toks
    )
    SELECT doc_id, lang
    FROM pos
    WHERE len(list_filter(list_concat(a0, list_concat(a1, a2)), a ->
            len(list_filter(a0, p -> p >= a AND p <= a + 3)) > 0
        AND len(list_filter(a1, p -> p >= a AND p <= a + 3)) > 0
        AND len(list_filter(a2, p -> p >= a AND p <= a + 3)) > 0)) > 0
    """,
    doc="N-term sloppy phrase (Lucene match_phrase slop semantics, "
        "generalized past the former 2-term guard): "
        "'vector merge order' with slop=3 matches when some assignment of "
        "one document position per term has max-min of offset-adjusted "
        "positions <= slop (Lucene's matchLength). Compiled through "
        "from_es_json; scan-local HOFs over position arrays, no shuffle. "
        "The oracle recomputes the identical window check in SQL with "
        "DuckDB's indexed list_transform as the positional unnest.",
)
def q_search_phrase_slop(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    query = from_es_json(
        {"query": {"match_phrase": {
            "text": {"query": "vector merge order", "slop": 3}}}},
        analyzers={"text": "standard"},
    )
    return search(docs, query, k=None).select("doc_id", "lang")


@register(
    "search_intervals",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    ),
    pos AS (
        SELECT doc_id, lang,
          list_filter(list_transform(t, (x,i) -> CASE WHEN x = 'vector'
                      THEN i-1 ELSE -1 END), p -> p >= 0) AS p0,
          list_filter(list_transform(t, (x,i) -> CASE WHEN x = 'merge'
                      THEN i-1 ELSE -1 END), p -> p >= 0) AS p1,
          list_filter(list_transform(t, (x,i) -> CASE WHEN x = 'order'
                      THEN i-1 ELSE -1 END), p -> p >= 0) AS p2
        FROM toks
    )
    SELECT doc_id, lang FROM pos
    WHERE len(list_filter(p0, a ->
        list_min(list_filter(p2, y ->
            y > list_min(list_filter(p1, x -> x > a)))) IS NOT NULL
        AND list_min(list_filter(p2, y ->
            y > list_min(list_filter(p1, x -> x > a)))) - a - 2 <= 4
    )) > 0
    """,
    doc="ES intervals query (the general positional front-end): "
        "'vector merge order' with ordered=true, max_gaps=4 matches when "
        "the three terms occur at strictly increasing positions spanning "
        "at most 3+4 positions. Compiled through from_es_json; the "
        "ordered rule anchors at each first-term position and greedily "
        "takes the earliest next position per following term (exact for "
        "fixed start) — scan-local HOFs, no shuffle. The oracle replays "
        "the identical greedy chain with DuckDB's nested list lambdas.",
)
def q_search_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    query = from_es_json(
        {"query": {"intervals": {"text": {"match": {
            "query": "vector merge order", "ordered": True,
            "max_gaps": 4}}}}},
        analyzers={"text": "standard"},
    )
    return search(docs, query, k=None).select("doc_id", "lang")


@register(
    "search_intervals_prefix",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    ),
    pos AS (
        SELECT doc_id, lang,
          list_filter(list_transform(t, (x,i) -> CASE WHEN
                      regexp_matches(x, '^d.ta.*$')
                      THEN i-1 ELSE -1 END), p -> p >= 0) AS p0,
          list_filter(list_transform(t, (x,i) -> CASE WHEN
                      starts_with(x, 'quer')
                      THEN i-1 ELSE -1 END), p -> p >= 0) AS p1
        FROM toks
    )
    SELECT doc_id, lang FROM pos
    WHERE len(list_filter(p0, a ->
        list_min(list_filter(p1, x -> x > a)) IS NOT NULL
        AND list_min(list_filter(p1, x -> x > a)) - a - 1 <= 4
    )) > 0
    """,
    doc="ES intervals prefix/wildcard rules: unit-width "
        "position filters — wildcard 'd?ta*' (anchored regex over the "
        "token stream) followed within 4 gaps by a token with prefix "
        "'quer', composed through ordered all_of. The oracle replays the "
        "same position filters (regexp_matches / starts_with) and the "
        "greedy earliest-next chain with DuckDB list lambdas.",
)
def q_search_intervals_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    query = from_es_json(
        {"query": {"intervals": {"text": {"all_of": {
            "ordered": True, "max_gaps": 4,
            "intervals": [
                {"wildcard": {"pattern": "d?ta*"}},
                {"prefix": {"prefix": "QUER"}},
            ],
        }}}}},
        analyzers={"text": "standard"},
    )
    return search(docs, query, k=None).select("doc_id", "lang")


@register(
    "search_intervals_all_of",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    ),
    pos AS (
        SELECT doc_id, lang,
          list_filter(list_transform(range(0, greatest(len(t)-1, 0)),
              s -> CASE WHEN t[s+1] = 'vector' AND t[s+2] = 'merge'
                   THEN s ELSE -1 END), p -> p >= 0) AS s1,
          list_filter(list_transform(t, (x,i) -> CASE WHEN x = 'order'
                      THEN i-1 ELSE -1 END), p -> p >= 0) AS s2
        FROM toks
    )
    SELECT doc_id, lang FROM pos
    WHERE len(list_filter(s1, a ->
        list_min(list_filter(s2, x -> x > a + 1)) IS NOT NULL
        AND list_min(list_filter(s2, x -> x > a + 1)) - a + 1 - 3 <= 5
    )) > 0
    """,
    doc="ES intervals all_of (the ordered contiguous-children "
        "subset): the phrase 'vector merge' followed — strictly after, "
        "in order — by 'order', with at most 5 uncovered positions "
        "inside the composed span (Lucene's gaps() = span width minus "
        "the children's combined width). The multi-phrase proximity "
        "query. Child occurrence-start arrays are scan-local slice "
        "comparisons; the anchor sweep greedily takes each next child's "
        "earliest start after the previous end (exact for a fixed "
        "anchor). The oracle replays the same greedy chain on the same "
        "start arrays.",
)
def q_search_intervals_all_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    query = from_es_json(
        {"query": {"intervals": {"text": {"all_of": {
            "ordered": True,
            "max_gaps": 5,
            "intervals": [
                {"match": {"query": "vector merge", "max_gaps": 0}},
                {"match": {"query": "order"}},
            ],
        }}}}},
        analyzers={"text": "standard"},
    )
    return search(docs, query, k=None).select("doc_id", "lang")


@register(
    "search_intervals_all_of_unordered",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    ),
    pos AS (
        SELECT doc_id, lang,
          list_filter(list_transform(range(0, greatest(len(t)-1, 0)),
              s -> CASE WHEN t[s+1] = 'vector' AND t[s+2] = 'merge'
                   THEN s ELSE -1 END), p -> p >= 0) AS s1,
          list_filter(list_transform(t, (x,i) -> CASE WHEN x = 'order'
                      THEN i-1 ELSE -1 END), p -> p >= 0) AS s2
        FROM toks
    )
    SELECT doc_id, lang FROM pos
    WHERE len(list_filter(s1, a ->
        list_min(list_filter(s2, x -> x > a + 1)) IS NOT NULL
        AND list_min(list_filter(s2, x -> x > a + 1)) - a + 1 - 3 <= 5
    )) > 0
    OR len(list_filter(s2, b ->
        list_min(list_filter(s1, x -> x > b)) IS NOT NULL
        AND list_min(list_filter(s1, x -> x > b)) + 1 - b + 1 - 3 <= 5
    )) > 0
    """,
    doc="ES intervals all_of UNORDERED: "
        "the phrase 'vector merge' and the term 'order' in EITHER "
        "order, non-overlapping, with at most 5 uncovered positions in "
        "the composed span. Exact evaluation ORs the ordered greedy "
        "chain over both child permutations (ES all_of intervals must "
        "not overlap, so any valid assignment sorts into some "
        "permutation); the oracle replays both chains on the same "
        "start arrays. Superset of the ordered row by construction.",
)
def q_search_intervals_all_of_unordered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    query = from_es_json(
        {"query": {"intervals": {"text": {"all_of": {
            "max_gaps": 5,
            "intervals": [
                {"match": {"query": "vector merge", "max_gaps": 0}},
                {"match": {"query": "order"}},
            ],
        }}}}},
        analyzers={"text": "standard"},
    )
    return search(docs, query, k=None).select("doc_id", "lang")


@register(
    "search_span_not",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    ),
    pos AS (
        SELECT doc_id, lang,
          list_filter(list_transform(t, (x,i) -> CASE
              WHEN x IN ('spark', 'vector') THEN i-1 ELSE -1 END),
              p -> p >= 0) AS ip,
          list_filter(list_transform(t, (x,i) -> CASE
              WHEN x = 'merge' THEN i-1 ELSE -1 END),
              p -> p >= 0) AS ep
        FROM toks
    )
    SELECT doc_id, lang FROM pos
    WHERE len(list_filter(ip, p ->
        len(list_filter(ep, q -> q >= p - 1 AND q <= p + 2)) = 0
    )) > 0
    """,
    doc="Lucene span_not: an occurrence of "
        "'spark' or 'vector' (span_or include) that does NOT overlap "
        "any 'merge' occurrence expanded by pre=1 position before and "
        "post=2 after — Lucene's negative-proximity primitive ('X, but "
        "not near Y'). Unit-width spans reduce overlap to one window "
        "test per include position: two scan-local position arrays "
        "bound once, one EXISTS/NOT-EXISTS HOF, no UDF. The oracle "
        "replays the same window test with DuckDB nested lambdas.",
)
def q_search_span_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    query = from_es_json(
        {"query": {"span_not": {
            "include": {"span_or": {"clauses": [
                {"span_term": {"text": "spark"}},
                {"span_term": {"text": "vector"}},
            ]}},
            "exclude": {"span_term": {"text": "merge"}},
            "pre": 1, "post": 2,
        }}},
        analyzers={"text": "standard"},
    )
    return search(docs, query, k=None).select("doc_id", "lang")


@register(
    "search_span_containing",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    ),
    pos AS (
        SELECT doc_id, lang,
          list_filter(list_transform(t, (x,i) -> CASE WHEN x = 'vector'
                      THEN i-1 ELSE -1 END), p -> p >= 0) AS s1,
          list_filter(list_transform(t, (x,i) -> CASE WHEN x = 'order'
                      THEN i-1 ELSE -1 END), p -> p >= 0) AS s2,
          list_filter(list_transform(t, (x,i) -> CASE WHEN x = 'merge'
                      THEN i-1 ELSE -1 END), p -> p >= 0) AS lit
        FROM toks
    )
    SELECT doc_id, lang FROM pos
    WHERE len(list_filter(s1, a ->
        list_min(list_filter(s2, x -> x > a)) IS NOT NULL
        AND list_min(list_filter(s2, x -> x > a)) - a + 1 - 2 <= 4
        AND len(list_filter(lit, q -> q >= a
                AND q <= list_min(list_filter(s2, x -> x > a)))) > 0
    )) > 0
    """,
    doc="Lucene span_containing: a BIG "
        "ordered span_near('vector' ... 'order', slop 4) span that "
        "CONTAINS a little 'merge' span — 'X near Y, with Z inside the "
        "window', the positional-scope primitive. The big span is the "
        "minimal greedy-chain span per anchor (the engine's documented "
        "all_of semantics); containment is one more EXISTS over the "
        "little positions inside the same bound struct — all scan-"
        "local, no UDF. span_within compiles to the SAME document "
        "predicate (the kinds differ only in which span is returned "
        "for scoring, out of scope). The oracle replays anchor chain + "
        "width bound + containment with DuckDB nested lambdas.",
)
def q_search_span_containing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    query = from_es_json(
        {"query": {"span_containing": {
            "big": {"span_near": {"clauses": [
                {"span_term": {"text": "vector"}},
                {"span_term": {"text": "order"}},
            ], "slop": 4, "in_order": True}},
            "little": {"span_term": {"text": "merge"}},
        }}},
        analyzers={"text": "standard"},
    )
    return search(docs, query, k=None).select("doc_id", "lang")


@register(
    "search_span_multi",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    ),
    pos AS (
        SELECT doc_id, lang,
          list_filter(list_transform(t, (x,i) -> CASE
              WHEN x LIKE '%ow' THEN i-1 ELSE -1 END),
              p -> p >= 0) AS wc,
          list_filter(list_transform(t, (x,i) -> CASE
              WHEN x = 'merge' THEN i-1 ELSE -1 END),
              p -> p >= 0) AS tm
        FROM toks
    )
    SELECT doc_id, lang FROM pos
    WHERE len(list_filter(wc, a ->
        list_min(list_filter(tm, x -> x > a)) IS NOT NULL
        AND list_min(list_filter(tm, x -> x > a)) - a + 1 - 2 <= 3
    )) > 0
    """,
    doc="Lucene span_multi: a wildcard "
        "multi-term query ('*ow' — row/slow/window...) wrapped as "
        "unit-width spans and composed under an ordered span_near with "
        "a 'merge' span_term, slop 3 — 'any -ow word shortly before "
        "merge'. Both engines place one span per matching TOKEN "
        "position, so the intervals translation (prefix/wildcard unit "
        "rules inside all_of) is exact; the pattern filter rides the "
        "same scan-local position HOFs as span_term, no UDF. The "
        "oracle replays the greedy anchor chain (earliest next "
        "occurrence minimizes width => exact) with the pattern as a "
        "LIKE predicate.",
)
def q_search_span_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    query = from_es_json(
        {"query": {"span_near": {"clauses": [
            {"span_multi": {"match": {"wildcard": {"text": "*ow"}}}},
            {"span_term": {"text": "merge"}},
        ], "slop": 3, "in_order": True}}},
        analyzers={"text": "standard"},
    )
    return search(docs, query, k=None).select("doc_id", "lang")


@register(
    "es_aggs_date_histogram",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS by_day,
           event_type AS by_type,
           CAST(count(*) AS BIGINT) AS doc_count,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           min(value) AS v_min,
           max(value) AS v_max
    FROM events
    WHERE value > 1 AND ts IS NOT NULL AND event_type IS NOT NULL
    GROUP BY 1, 2
    """,
    doc="The ES aggregations DSL (the analytics half of a search request): "
        "a full request envelope — range query filter + "
        "date_histogram(day) with a nested terms(event_type) bucket "
        "carrying cardinality/min/max metrics — compiled by "
        "plans/aggs.es_request to ONE groupBy plan (partial+final hash "
        "aggregation over the filtered scan; the nested-bucket JSON tree "
        "is returned as its flattened leaf relation). cardinality is "
        "evaluated exactly (countDistinct), a documented strictly-more-"
        "accurate divergence from ES's HLL.",
)
def q_es_aggs_date_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    request = {
        "query": {"range": {"value": {"gt": 1}}},
        "aggs": {
            "by_day": {
                "date_histogram": {"field": "ts", "calendar_interval": "day"},
                "aggs": {
                    "by_type": {
                        "terms": {"field": "event_type"},
                        "aggs": {
                            "n_users": {"cardinality": {"field": "user_id"}},
                            "v_min": {"min": {"field": "value"}},
                            "v_max": {"max": {"field": "value"}},
                        },
                    }
                },
            }
        },
    }
    return es_request(events, request)


@register(
    "es_aggs_terms_top",
    oracle="""
    SELECT lang AS by_lang,
           CAST(count(*) AS BIGINT) AS doc_count,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           max(n_chars) AS max_chars
    FROM documents
    WHERE n_chars > 200 AND lang IS NOT NULL
    GROUP BY 1
    ORDER BY doc_count DESC, by_lang ASC
    LIMIT 3
    """,
    doc="ES terms aggregation with size truncation: top-3 language buckets "
        "by doc_count (key-asc tiebreak, ES's bucket order) over a "
        "query-filtered scan, with exact-cardinality and max metrics — "
        "TakeOrderedAndProject over the bucket counts, the same top-k "
        "plan shape every relevance query uses.",
)
def q_es_aggs_terms_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    request = {
        "query": {"range": {"n_chars": {"gt": 200}}},
        "aggs": {
            "by_lang": {
                "terms": {"field": "lang", "size": 3},
                "aggs": {
                    "n_sources": {"cardinality": {"field": "source"}},
                    "max_chars": {"max": {"field": "n_chars"}},
                },
            }
        },
    }
    return es_request(docs, request)


@register(
    "es_request_sorted_hits",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE lang = 'en' AND n_chars > 200
    ORDER BY n_chars DESC, doc_id ASC
    LIMIT 15
    """,
    doc="The hits path of a full ES request envelope: query filter + "
        "explicit field sort + size + _source projection, compiled to the "
        "TakeOrderedAndProject plan (per-partition top-k, driver merge — "
        "the scatter-gather-merge every ES sorted search executes).",
)
def q_es_request_sorted_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    request = {
        "query": {
            "bool": {
                "filter": [
                    {"term": {"lang": "en"}},
                    {"range": {"n_chars": {"gt": 200}}},
                ]
            }
        },
        "sort": [{"n_chars": "desc"}],
        "size": 15,
        "_source": ["doc_id", "lang", "n_chars"],
    }
    return es_request(docs, request, tiebreak="doc_id")


@register(
    "es_request_search_after",
    oracle="""
    SELECT doc_id, n_chars
    FROM documents
    WHERE lang = 'en'
      AND (n_chars < 350 OR (n_chars = 350 AND doc_id > 120))
    ORDER BY n_chars DESC, doc_id ASC
    LIMIT 10
    """,
    doc="ES deep pagination (search_after): the page cursor compiles to a "
        "direction-aware lexicographic keyset predicate over the sort keys "
        "— rows strictly after (n_chars=350, doc_id=120) in (n_chars desc, "
        "doc_id asc) order — which pushes down to the scan instead of "
        "skipping `from` rows, then the same TakeOrderedAndProject top-k. "
        "The DSL twin of the relational keyset_page operator (S3/F1).",
)
def q_es_request_search_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    request = {
        "query": {"term": {"lang": "en"}},
        "sort": [{"n_chars": "desc"}],
        "search_after": [350, 120],
        "size": 10,
        "_source": ["doc_id", "n_chars"],
    }
    return es_request(docs, request, tiebreak="doc_id")


@register(
    "es_aggs_top_hits",
    oracle="""
    SELECT lang AS by_lang, doc_id, n_chars
    FROM (
        SELECT lang, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC
               ) AS rk
        FROM documents WHERE lang IS NOT NULL
    ) WHERE rk <= 2
    """,
    doc="ES top_hits aggregation: the 2 longest documents per language — "
        "per-bucket top-k as a window rank over the bucket key (one "
        "exchange, no self-join), returning (bucket, hit) rows with the "
        "_source projection. The group-wise analogue of the relevance "
        "top-k every search runs globally.",
)
def q_es_aggs_top_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    request = {
        "aggs": {
            "by_lang": {
                "terms": {"field": "lang"},
                "aggs": {
                    "longest": {
                        "top_hits": {
                            "size": 2,
                            "sort": [{"n_chars": "desc"}, "doc_id"],
                            "_source": ["doc_id", "n_chars"],
                        }
                    }
                },
            }
        }
    }
    return es_request(docs, request)


@register(
    "es_aggs_filters",
    oracle="""
    WITH wide AS (
        SELECT
            CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
            CAST(sum(CASE WHEN value > 5 THEN 1 ELSE 0 END) AS BIGINT) AS high_value,
            CAST(sum(CASE WHEN event_type = 'error' AND value > 5 THEN 1 ELSE 0 END) AS BIGINT) AS high_errors
        FROM events
    )
    SELECT which, doc_count FROM wide
    UNPIVOT (doc_count FOR which IN (errors, high_value, high_errors))
    """,
    doc="ES filters aggregation: named predicate buckets (overlapping is "
        "legal — a doc may land in several), each predicate compiled by "
        "from_es_json, all counted in ONE conditional-aggregation scan "
        "(sum-of-CASE per bucket) and stacked to rows with the native "
        "unpivot — no per-bucket pass, no join.",
)
def q_es_aggs_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    request = {
        "aggs": {
            "which": {"filters": {"filters": {
                "errors": {"term": {"event_type": "error"}},
                "high_value": {"range": {"value": {"gt": 5}}},
                "high_errors": {"bool": {"filter": [
                    {"term": {"event_type": "error"}},
                    {"range": {"value": {"gt": 5}}},
                ]}},
            }}}
        }
    }
    return es_request(events, request)


@register(
    "search_dsl_fuzzy_ids",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, source,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    )
    SELECT doc_id, lang, source FROM toks
    WHERE list_contains(t, 'spark') AND list_contains(t, 'merge')
      AND levenshtein(source, 'sr1') <= 1
      AND doc_id NOT IN (7, 8, 9)
    """,
    doc="Three DSL nodes beyond the reference artifact in one compiled "
        "query: match with operator=and (EVERY query token present — a "
        "conjunction of array_contains, not overlap; ~313 docs contain "
        "either token at sf0.01, far fewer contain both), fuzzy with "
        "fuzziness=AUTO ('sr1' → 1 edit → only source 'src1' is within "
        "distance; the built-in levenshtein both engines share), and ids "
        "must_not (keyed exclusion, an anti-IN the scan prunes on).",
)
def q_search_dsl_fuzzy_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    dsl = {
        "query": {
            "bool": {
                "must": [
                    {"match": {"text": {"query": "spark merge",
                                        "operator": "and"}}}
                ],
                "filter": [
                    {"fuzzy": {"source": {"value": "sr1",
                                          "fuzziness": "AUTO"}}}
                ],
                "must_not": [{"ids": {"values": [7, 8, 9]}}],
            }
        }
    }
    query = from_es_json(dsl, analyzers={"text": "standard"})
    return search(docs, query, k=None).select("doc_id", "lang", "source")


@register(
    "search_multi_match",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t,
               list_transform(
                 list_filter(regexp_split_to_array(source, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS st
        FROM documents
    )
    SELECT doc_id, source,
           CAST(greatest(
             CASE WHEN list_has_any(t, ['src1', 'merge']) THEN 2.0 ELSE 0.0 END,
             CASE WHEN list_has_any(st, ['src1', 'merge']) THEN 1.0 ELSE 0.0 END
           ) AS DOUBLE) AS score
    FROM toks
    WHERE list_has_any(t, ['src1', 'merge']) OR list_has_any(st, ['src1', 'merge'])
    ORDER BY score DESC, doc_id ASC
    LIMIT 25
    """,
    doc="ES multi_match (best_fields): one query string against several "
        "fields, each analyzed by its own mapping analyzer, scored as the "
        "best single field (field^boost syntax: text^2 vs source). Both "
        "legs genuinely fire on the fixture — 'merge' hits text, 'src1' "
        "hits source — and the score is greatest(2·text_hit, 1·source_hit),"
        " one codegen'd expression, no per-field subquery or union.",
)
def q_search_multi_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    dsl = {
        "query": {
            "multi_match": {
                "query": "src1 merge",
                "fields": ["text^2", "source"],
            }
        }
    }
    query = from_es_json(
        dsl, analyzers={"text": "standard", "source": "standard"}
    )
    return search(docs, query, k=25, tiebreak="doc_id").select(
        "doc_id", "source", "score"
    )


@register(
    "es_aggs_composite",
    oracle="""
    SELECT lang AS by_lang, source AS by_src,
           CAST(count(*) AS BIGINT) AS doc_count,
           max(n_chars) AS max_chars
    FROM documents
    WHERE lang IS NOT NULL AND source IS NOT NULL
      AND (lang > 'en' OR (lang = 'en' AND source > 'src12'))
    GROUP BY 1, 2
    ORDER BY by_lang ASC, by_src ASC
    LIMIT 20
    """,
    doc="ES composite aggregation — the SCALE path for bucket enumeration: "
        "buckets in total (by_lang, by_src) key order, one page of 20, "
        "resumed from the after cursor (en, src12). The cursor compiles to "
        "a strictly-after keyset predicate on the source key expressions "
        "applied BELOW the aggregation (bucket key = row-level expression), "
        "so each page scans only rows past the cursor — the same doc-values "
        "walk ES's own composite agg does, and the groupBy shuffles only "
        "the surviving rows. Metric sub-aggs ride the single groupBy.",
)
def q_es_aggs_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    request = {
        "aggs": {
            "page": {
                "composite": {
                    "size": 20,
                    "sources": [
                        {"by_lang": {"terms": {"field": "lang"}}},
                        {"by_src": {"terms": {"field": "source"}}},
                    ],
                    "after": {"by_lang": "en", "by_src": "src12"},
                },
                "aggs": {"max_chars": {"max": {"field": "n_chars"}}},
            }
        }
    }
    return es_request(docs, request)


@register(
    "es_aggs_composite_missing",
    oracle="""
    WITH src AS (
        SELECT nullif(event_type, 'view') AS etype,
               strftime(date_trunc('day', ts), '%Y-%m-%d') AS d,
               value
        FROM events
    )
    SELECT etype AS by_type, d AS by_day,
           CAST(count(*) AS BIGINT) AS doc_count,
           round(avg(value), 6) AS mean_value
    FROM src
    WHERE (etype IS NULL AND d > '2024-01-10') OR etype IS NOT NULL
    GROUP BY 1, 2
    ORDER BY by_type ASC NULLS FIRST, by_day ASC
    LIMIT 25
    """,
    doc="Composite missing_bucket: docs lacking the "
        "source value form a null-keyed bucket positioned per ES's "
        "missing_order default (first when asc), and the after cursor "
        "accepts a null key — the keyset predicate's comparators are "
        "null-aware (strictly-after-null = everything non-null when null "
        "leads; a null key on a trailing-null source compares as "
        "greatest, never NULL-propagates). The page here resumes INSIDE "
        "the null bucket (after={null, 2024-01-10}) and crosses into the "
        "first non-null term within one 25-bucket page. The fixture has "
        "no genuinely-absent values, so the query derives one "
        "(nullif(event_type,'view')) — same shape as an unmapped field.",
)
def q_es_aggs_composite_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").withColumn(
        "etype", F.nullif(F.col("event_type"), F.lit("view"))
    )
    request = {
        "aggs": {
            "page": {
                "composite": {
                    "size": 25,
                    "sources": [
                        {"by_type": {"terms": {"field": "etype",
                                               "missing_bucket": True}}},
                        {"by_day": {"date_histogram": {
                            "field": "ts", "calendar_interval": "day"}}},
                    ],
                    "after": {"by_type": None, "by_day": "2024-01-10"},
                },
                "aggs": {"mean_value": {"avg": {"field": "value"}}},
            }
        }
    }
    out = es_request(events, request)
    return out.withColumn("mean_value", F.round("mean_value", 6))


@register(
    "es_aggs_percentiles",
    oracle="""
    SELECT lang AS by_lang,
           CAST(count(*) AS BIGINT) AS doc_count,
           round(quantile_cont(n_chars, 0.25), 6) AS len_p25,
           round(quantile_cont(n_chars, 0.50), 6) AS len_p50,
           round(quantile_cont(n_chars, 0.75), 6) AS len_p75,
           round(quantile_cont(n_chars, 0.95), 6) AS len_p95,
           round(avg(n_chars), 6) AS len_avg
    FROM documents
    WHERE n_chars > 100 AND lang IS NOT NULL
    GROUP BY 1
    """,
    doc="ES percentiles metric agg per terms bucket: document-length "
        "quartiles + p95 by language over a query-filtered scan. ES "
        "estimates percentiles with t-digest; this engine evaluates them "
        "EXACTLY (built-in percentile, linear interpolation — the "
        "quantile_cont definition, so DuckDB mirrors it bit-for-bit at 6 "
        "dp) — a documented strictly-more-accurate divergence, same "
        "contract as exact cardinality. One groupBy: percentile is a "
        "built-in JVM aggregate riding the same partial/final plan.",
)
def q_es_aggs_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    request = {
        "query": {"range": {"n_chars": {"gt": 100}}},
        "aggs": {
            "by_lang": {
                "terms": {"field": "lang"},
                "aggs": {
                    "len": {
                        "percentiles": {
                            "field": "n_chars",
                            "percents": [25, 50, 75, 95],
                        }
                    },
                    "len_avg": {"avg": {"field": "n_chars"}},
                },
            }
        },
    }
    out = es_request(docs, request)
    return out.select(
        "by_lang", "doc_count", "len_p25", "len_p50", "len_p75", "len_p95",
        F.round("len_avg", 6).alias("len_avg"),
    )


@register(
    "es_aggs_significant_terms",
    oracle="""
    WITH g AS (
        SELECT source AS sig_src,
               CAST(sum(CASE WHEN n_chars > 400 THEN 1 ELSE 0 END) AS BIGINT)
                   AS doc_count,
               CAST(count(*) AS BIGINT) AS bg_count
        FROM documents
        WHERE source IS NOT NULL
        GROUP BY 1
    ),
    t AS (
        SELECT CAST(sum(doc_count) AS DOUBLE) AS fg_total,
               CAST(sum(bg_count) AS DOUBLE) AS bg_total
        FROM g
    )
    SELECT sig_src, doc_count, bg_count,
           round(((doc_count / fg_total) - (bg_count / bg_total))
                 * ((doc_count / fg_total) / (bg_count / bg_total)), 6)
               AS score
    FROM g, t
    WHERE doc_count > 0
    ORDER BY score DESC, sig_src ASC
    LIMIT 5
    """,
    doc="ES significant_terms: sources over-represented among long "
        "documents (the request query marks the foreground n_chars > 400) "
        "relative to the whole corpus, scored with ES's default JLH "
        "heuristic (fg% − bg%)·(fg%/bg%). ONE conditional-aggregation scan "
        "builds fg and bg frequencies per term together (sum-of-CASE + "
        "count in the same groupBy — no second corpus pass); the two "
        "totals re-aggregate the tiny bucket relation and broadcast back. "
        "ES's shard_size/shard_min_doc_count knobs are sharding artifacts "
        "this engine doesn't need: the groupBy sees global counts.",
)
def q_es_aggs_significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    request = {
        "query": {"range": {"n_chars": {"gt": 400}}},
        "aggs": {
            "sig_src": {"significant_terms": {"field": "source", "size": 5}}
        },
    }
    return es_request(docs, request)


@register(
    "es_aggs_moving_percentiles",
    oracle="""
    WITH b AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS per_day,
               CAST(count(*) AS BIGINT) AS doc_count,
               quantile_cont(value, 0.5) AS p50_raw,
               quantile_cont(value, 0.9) AS p90_raw,
               list_sort(list(value)) AS vals
        FROM events WHERE ts IS NOT NULL
        GROUP BY 1
    ), wnd AS (
        SELECT per_day, doc_count, p50_raw, p90_raw,
               list_sort(flatten(list(vals) OVER (
                   ORDER BY per_day
                   ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING))) AS wv
        FROM b
    )
    SELECT per_day, doc_count,
           round(p50_raw, 6) AS p_p50,
           round(p90_raw, 6) AS p_p90,
           CASE WHEN len(wv) > 0 THEN round(
             wv[CAST(floor((len(wv) - 1) * 0.5) AS INT) + 1]
             + (wv[least(CAST(floor((len(wv) - 1) * 0.5) AS INT) + 2, len(wv))]
                - wv[CAST(floor((len(wv) - 1) * 0.5) AS INT) + 1])
               * ((len(wv) - 1) * 0.5 - floor((len(wv) - 1) * 0.5)), 6)
           END AS mp_p50,
           CASE WHEN len(wv) > 0 THEN round(
             wv[CAST(floor((len(wv) - 1) * 0.9) AS INT) + 1]
             + (wv[least(CAST(floor((len(wv) - 1) * 0.9) AS INT) + 2, len(wv))]
                - wv[CAST(floor((len(wv) - 1) * 0.9) AS INT) + 1])
               * ((len(wv) - 1) * 0.9 - floor((len(wv) - 1) * 0.9)), 6)
           END AS mp_p90
    FROM wnd
    """,
    doc="ES moving_percentiles pipeline agg: the sibling percentiles "
        "agg's percents recomputed over the sliding window of buckets. "
        "ES merges per-bucket t-digests; this engine is EXACT — hidden "
        "per-bucket sorted value arrays flatten across the window frame "
        "and interpolate (the strictly-more-accurate divergence "
        "percentiles documents). Window 3, shift 0 (exclusive current, "
        "moving_fn's frame contract); NULL for the empty first window. "
        "The oracle replays flatten + the interpolation formula with "
        "DuckDB list lambdas.",
)
def q_es_aggs_moving_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    out = es_request(events, {"aggs": {"per_day": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {
            "p": {"percentiles": {"field": "value", "percents": [50, 90]}},
            "mp": {"moving_percentiles": {"buckets_path": "p",
                                          "window": 3}},
        },
    }}})
    return out.select(
        "per_day", "doc_count",
        F.round("p_p50", 6).alias("p_p50"),
        F.round("p_p90", 6).alias("p_p90"),
        "mp_p50", "mp_p90",
    )


@register(
    "es_aggs_scripted_metric",
    oracle="""
    SELECT l_returnflag AS flag,
           CAST(count(*) AS BIGINT) AS doc_count,
           round(sum(l_quantity * (1 - l_discount) * 2.0), 3)
               AS effective_qty
    FROM lineitem
    GROUP BY 1
    """,
    doc="ES scripted_metric agg, the custom-sum shape (init 'state.x=0', "
        "map 'state.x += <arith>', combine 'return state.x', the "
        "canonical sum-over-states reduce): compiles exactly to "
        "sum(<arith>) through the shared Painless-arithmetic compiler — "
        "one codegen'd aggregate with numeric params as literals, vs "
        "ES's per-doc interpreted scripts. Any other scripted state "
        "shape raises loudly; nonzero init rejected (ES runs init per "
        "shard — shard-count-dependent). 3 dp both engines (summation "
        "order).",
)
def q_es_aggs_scripted_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return es_aggregate(li, {"flag": {
        "terms": {"field": "l_returnflag", "size": 10},
        "aggs": {"effective_qty": {"scripted_metric": {
            "init_script": "state.v = 0",
            "map_script":
                "state.v += doc['l_quantity'].value * "
                "(1 - doc['l_discount'].value) * params.f",
            "combine_script": "return state.v",
            "reduce_script":
                "double t = 0; for (s in states) { t += s } return t",
            "params": {"f": 2},
        }}},
    }})


@register(
    "es_aggs_random_sampler",
    oracle=f"""
    SELECT event_type AS by_type,
           CAST(count(*) AS BIGINT) AS doc_count,
           round(avg(value), 6) AS mean_v,
           CAST(0.25 AS DOUBLE) AS sampling_probability
    FROM events
    WHERE ('0x' || substr(md5(event_id::VARCHAR || ':7'), 1, 15))::BIGINT
          < {int(0.25 * (1 << 60))}
      AND event_type IS NOT NULL
    GROUP BY 1
    """,
    doc="ES random_sampler agg (8.2+): sub-aggs over a probability "
        "fraction of the docs. ES's geometric skipping over internal "
        "doc ids is not reproducible across engines, so the sample is "
        "DETERMINISTIC by portable hash — doc in iff "
        "hash60(id:seed) < p*2^60, a pure scan predicate (documented "
        "determinism divergence). doc_count/metrics are sample "
        "statistics; sampling_probability carries p for the 1/p "
        "rescale. The oracle replays the identical hash threshold.",
)
def q_es_aggs_random_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return es_aggregate(events, {"s": {
        "random_sampler": {"probability": 0.25, "seed": 7,
                           "id_field": "event_id"},
        "aggs": {"by_type": {
            "terms": {"field": "event_type"},
            "aggs": {"mean_v": {"avg": {"field": "value"}}},
        }},
    }}).select(
        "by_type", "doc_count",
        F.round("mean_v", 6).alias("mean_v"), "sampling_probability",
    )


@register(
    "es_aggs_variable_width_histogram",
    oracle="""
    WITH b AS (
        SELECT quantile_cont(value, 0.2) AS b1,
               quantile_cont(value, 0.4) AS b2,
               quantile_cont(value, 0.6) AS b3,
               quantile_cont(value, 0.8) AS b4
        FROM events
    )
    SELECT (CASE WHEN value > b1 THEN 1 ELSE 0 END
          + CASE WHEN value > b2 THEN 1 ELSE 0 END
          + CASE WHEN value > b3 THEN 1 ELSE 0 END
          + CASE WHEN value > b4 THEN 1 ELSE 0 END) AS vw,
           CAST(count(*) AS BIGINT) AS doc_count,
           round(avg(value), 6) AS key,
           round(min(value), 6) AS min,
           round(max(value), 6) AS max,
           CAST(count(DISTINCT event_type) AS BIGINT) AS kinds
    FROM events, b
    WHERE value IS NOT NULL
    GROUP BY 1
    """,
    doc="ES variable_width_histogram: data-adaptive buckets with "
        "key (centroid) / min / max / doc_count. ES places buckets by "
        "ONLINE clustering (approximate, shard-order-dependent); this "
        "engine substitutes a DETERMINISTIC equal-height rule — "
        "boundaries at the exact interpolated j/k quantiles (bounded "
        "1-row probe), membership by value comparison so ties never "
        "split. Same response shape, reproducible placement (documented "
        "divergence). A cardinality sub-metric rides the same groupBy.",
)
def q_es_aggs_variable_width_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return es_aggregate(events, {"vw": {
        "variable_width_histogram": {"field": "value", "buckets": 5},
        "aggs": {"kinds": {"cardinality": {"field": "event_type"}}},
    }})


@register(
    "es_aggs_normalize",
    oracle="""
    WITH b AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS per_day,
               CAST(count(*) AS BIGINT) AS doc_count,
               avg(value) AS m_raw
        FROM events
        WHERE ts IS NOT NULL
        GROUP BY 1
    )
    SELECT per_day, doc_count,
           round(m_raw, 6) AS m,
           round(m_raw / sum(m_raw) OVER (), 6) AS pct,
           round((m_raw - min(m_raw) OVER ())
                 / (max(m_raw) OVER () - min(m_raw) OVER ()), 6) AS r01,
           round((m_raw - avg(m_raw) OVER ()) / stddev_pop(m_raw) OVER (), 6)
               + 0.0 AS z,
           round(exp(m_raw) / sum(exp(m_raw)) OVER (), 6) AS soft
    FROM b
    """,
    doc="ES normalize pipeline agg: rescale a sibling metric across the "
        "whole bucket list — percent_of_sum, rescale_0_1, z-score and "
        "softmax in one request, each an unbounded window over the "
        "REDUCED bucket relation (bucket-cardinality work, ES's own "
        "coordinator-side shape). The oracle replays each method's "
        "formula as SQL window functions.",
)
def q_es_aggs_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    request = {
        "aggs": {
            "per_day": {
                "date_histogram": {"field": "ts", "calendar_interval": "day"},
                "aggs": {
                    "m": {"avg": {"field": "value"}},
                    "pct": {"normalize": {"buckets_path": "m",
                                          "method": "percent_of_sum"}},
                    "r01": {"normalize": {"buckets_path": "m",
                                          "method": "rescale_0_1"}},
                    "z": {"normalize": {"buckets_path": "m",
                                        "method": "z-score"}},
                    "soft": {"normalize": {"buckets_path": "m",
                                           "method": "softmax"}},
                },
            }
        }
    }
    out = es_request(events, request)
    return out.select(
        "per_day", "doc_count",
        F.round("m", 6).alias("m"),
        F.round("pct", 6).alias("pct"),
        F.round("r01", 6).alias("r01"),
        (F.round("z", 6) + 0.0).alias("z"),
        F.round("soft", 6).alias("soft"),
    )


@register(
    "es_aggs_pipeline",
    oracle="""
    WITH b AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS per_day,
               CAST(count(*) AS BIGINT) AS doc_count,
               sum(value) AS total_raw
        FROM events
        WHERE ts IS NOT NULL
        GROUP BY 1
    )
    SELECT per_day, doc_count,
           round(total_raw, 4) AS total,
           round(sum(total_raw) OVER (
               ORDER BY per_day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
               AS cum_total,
           doc_count - lag(doc_count) OVER (ORDER BY per_day) AS delta
    FROM b
    """,
    doc="ES pipeline aggregations over a date_histogram parent: "
        "cumulative_sum of a sum metric and derivative of doc_count "
        "(NULL first bucket, ES's contract), as window functions ordered "
        "by the bucket key. ES evaluates pipeline aggs coordinator-side "
        "over the REDUCED bucket list; the single-partition window here "
        "runs on the same post-aggregation bucket relation (histogram "
        "cardinality, not corpus cardinality) — the semantics, not a "
        "scale bug. Sums rounded at 4 dp on both engines (double "
        "accumulation order differs across partials).",
)
def q_es_aggs_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    request = {
        "aggs": {
            "per_day": {
                "date_histogram": {"field": "ts", "calendar_interval": "day"},
                "aggs": {
                    "total": {"sum": {"field": "value"}},
                    "cum_total": {"cumulative_sum": {"buckets_path": "total"}},
                    "delta": {"derivative": {"buckets_path": "doc_count"}},
                },
            }
        }
    }
    out = es_request(events, request)
    return out.select(
        "per_day", "doc_count",
        F.round("total", 4).alias("total"),
        F.round("cum_total", 4).alias("cum_total"),
        "delta",
    )


@register(
    "es_request_collapse",
    oracle="""
    SELECT doc_id, lang, n_chars FROM (
        SELECT doc_id, lang, n_chars,
               row_number() OVER (
                   PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC
               ) AS rk
        FROM documents WHERE n_chars > 100
    ) WHERE rk = 1
    ORDER BY n_chars DESC, doc_id ASC
    LIMIT 5
    """,
    doc="ES field collapsing on the hits path: the single longest document "
        "per language (collapse field = lang) under the request sort, then "
        "ranked globally — a window rank over the collapse key (one "
        "exchange, the per-group-top-1 plan top_hits uses) feeding the "
        "usual TakeOrderedAndProject. The search-results analogue of "
        "SELECT DISTINCT ON.",
)
def q_es_request_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    request = {
        "query": {"range": {"n_chars": {"gt": 100}}},
        "collapse": {"field": "lang"},
        "sort": [{"n_chars": "desc"}],
        "size": 5,
        "_source": ["doc_id", "lang", "n_chars"],
    }
    return es_request(docs, request, tiebreak="doc_id")


@register(
    "es_aggs_terms_order_metric",
    oracle="""
    SELECT source AS by_src,
           CAST(count(*) AS BIGINT) AS doc_count,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE source IS NOT NULL
    GROUP BY 1
    ORDER BY total_chars DESC, by_src ASC
    LIMIT 5
    """,
    doc="ES terms aggregation ordered by a SUB-METRIC instead of doc_count "
        "(the 'order': {metric: desc} bucket-order contract, with _key/"
        "_count as the other targets): top-5 sources by total characters. "
        "Still one groupBy + TakeOrderedAndProject — the order column is "
        "already in the aggregated relation, so no extra pass. The metric "
        "is an exact integer sum, so the truncation boundary is "
        "deterministic across engines (ordering by a float metric would "
        "make the top-N cut depend on accumulation order).",
)
def q_es_aggs_terms_order_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    request = {
        "aggs": {
            "by_src": {
                "terms": {"field": "source", "size": 5,
                          "order": {"total_chars": "desc"}},
                "aggs": {"total_chars": {"sum": {"field": "n_chars"}}},
            }
        }
    }
    return es_request(docs, request)


_FUZZY_WHERE = """
          len(list_filter(t, x -> levenshtein(x, 'sparc') <= 1)) > 0
       OR len(list_filter(t, x -> levenshtein(x, 'merg') <= 1)) > 0"""


@register(
    "search_match_fuzzy",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    )
    SELECT doc_id, lang FROM toks
    WHERE""" + _FUZZY_WHERE,
    doc="ES match with fuzziness: the typo'd query 'sparc merg' (1 edit "
        "from spark/merge, AUTO tier for 5- and 4-char terms) matches via "
        "a per-query-term exists(tokens, levenshtein <= d) HOF — "
        "scan-local, no shuffle, O(tokens x terms) per row. The INLINE "
        "form; the term-dictionary expansion twin "
        "(search_match_fuzzy_indexed) is the index-scale plan.",
)
def q_search_match_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    dsl = {
        "query": {"match": {"text": {"query": "sparc merg", "fuzziness": "AUTO"}}}
    }
    query = from_es_json(dsl, analyzers={"text": "standard"})
    return search(docs, query, k=None).select("doc_id", "lang")


@register(
    "es_request_highlight",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, lang, n_chars, text,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    )
    SELECT doc_id,
           regexp_replace(text, '(?i)\b(spark|merge)\b',
                          '<em>\1</em>', 'g') AS text_highlight
    FROM toks
    WHERE lang = 'en' AND list_has_any(t, ['spark', 'merge'])
    ORDER BY n_chars DESC, doc_id ASC
    LIMIT 10
    """,
    doc="ES highlighting (full-field mode, number_of_fragments: 0): the "
        "analyzed query terms are extracted from the compiled query tree "
        "(what ES's highlighter does) and tagged with <em> via ONE "
        "codegen'd word-boundary case-insensitive regexp_replace riding "
        "the already-top-k-truncated hit set — highlighting cost scales "
        "with the page size, never the corpus. Both engines share the "
        "regex dialect for this pattern, so the tagged text is "
        "byte-compared by the oracle.",
)
def q_es_request_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    request = {
        "query": {
            "bool": {
                "must": [{"match": {"text": {"query": "spark merge"}}}],
                "filter": [{"term": {"lang": "en"}}],
            }
        },
        "sort": [{"n_chars": "desc"}],
        "size": 10,
        "highlight": {"fields": {"text": {"number_of_fragments": 0}}},
        "_source": ["doc_id", "text_highlight"],
    }
    return es_request(
        docs, request, analyzers={"text": "standard"}, tiebreak="doc_id"
    )


@register(
    "es_request_highlight_fragments",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, lang, n_chars, text,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    ),
    hits AS (
        SELECT doc_id, text
        FROM toks
        WHERE lang = 'en' AND list_has_any(t, ['spark', 'merge'])
        ORDER BY n_chars DESC, doc_id ASC
        LIMIT 25
    ),
    parts AS (
        SELECT doc_id,
               string_split(
                 regexp_replace(text, '(?i)\b(spark|merge)\b',
                                '<em>\1</em>', 'g'),
                 '<em>') AS p
        FROM hits
    ),
    win AS (
        SELECT doc_id, p, least(len(p) - 1, 3) AS n FROM parts
    )
    SELECT doc_id,
           array_to_string(
             list_transform(
               list_zip(p[1:n], p[2:n+1]),
               x -> right(x[1], 20) || '<em>' || left(x[2], 40)),
             ' ... ') AS snips
    FROM win
    """,
    doc="ES highlighting, FRAGMENT mode (number_of_fragments: 3, "
        "fragment_size: 60): fixed-char windows around the first N "
        "matches in document order — the tagged text splits on the "
        "pre-tag and each fragment is right(prefix, 20) + '<em>' + "
        "left(rest, 40) (fsize//3 context, documented divergence from "
        "ES's scored sentence-snapped snippets, chosen because the SAME "
        "arithmetic runs in SQL: string_split + list_zip + right/left). "
        "The driver row joins the snippet array with ' ... ' (primitive "
        "schema). Fragmenting rides the already-top-k-truncated hit set "
        "— cost scales with the page, never the corpus.",
)
def q_es_request_highlight_fragments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    request = {
        "query": {
            "bool": {
                "must": [{"match": {"text": {"query": "spark merge"}}}],
                "filter": [{"term": {"lang": "en"}}],
            }
        },
        "sort": [{"n_chars": "desc"}],
        "size": 25,
        "highlight": {"fields": {"text": {
            "number_of_fragments": 3, "fragment_size": 60,
        }}},
    }
    out = es_request(
        docs, request, analyzers={"text": "standard"}, tiebreak="doc_id"
    )
    return out.select(
        "doc_id",
        F.array_join("text_fragments", " ... ").alias("snips"),
    )


@register(
    "search_function_score_fvf",
    oracle=_TOKENS_CTE + """
    SELECT doc_id,
           round(
             (CASE WHEN list_has_any(tokens, ['spark', 'merge', 'sparkmerge'])
                   THEN 5.0 ELSE 0.0 END
              + CASE WHEN source = 'src2' THEN 2.0 ELSE 0.0 END)
             * (ln(1 + 0.01 * n_chars)
                * CASE WHEN source = 'src1' THEN 1.5 ELSE 1.0 END),
           6) AS score
    FROM toks
    WHERE lang = 'en' AND n_chars > 300
    """,
    doc="function_score with the FULL ES function surface the reference's "
        "flagship node only hints at: a field_value_factor "
        "(log1p(0.01 x n_chars) — rank by a document attribute without a "
        "script) and a filtered weight function (1.5x for src1 docs, "
        "neutral 1.0 otherwise), combined by score_mode=multiply and "
        "applied to the weighted-should bool score by boost_mode=multiply. "
        "Everything compiles to one arithmetic Column expression riding "
        "the scan; the oracle recomputes the identical formula at 6 dp "
        "(log1p vs ln(1+x) agree far above ULP at these magnitudes).",
)
def q_search_function_score_fvf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    dsl = {
        "query": {
            "function_score": {
                "query": {
                    "bool": {
                        "should": [
                            {"query": {"match": {"text": {"query": "spark merge"}}},
                             "weight": 5},
                            {"query": {"term": {"source": "src2"}}, "weight": 2},
                        ],
                        "filter": [
                            {"term": {"lang": "en"}},
                            {"range": {"n_chars": {"gt": 300}}},
                        ],
                    }
                },
                "functions": [
                    {"field_value_factor": {
                        "field": "n_chars", "factor": 0.01,
                        "modifier": "log1p"}},
                    {"filter": {"term": {"source": "src1"}}, "weight": 1.5},
                ],
                "score_mode": "multiply",
                "boost_mode": "multiply",
            }
        }
    }
    query = from_es_json(dsl, analyzers={"text": "custom_shingles"})
    return search(docs, query, k=None).select(
        "doc_id", F.round("score", 6).alias("score")
    )


@register(
    "search_decay_recency",
    oracle="""
    SELECT doc_id,
           round(
             exp(-(greatest(0.0, abs(n_chars - 300.0) - 10.0)
                   * greatest(0.0, abs(n_chars - 300.0) - 10.0))
                 / (2.0 * (-(100.0 * 100.0) / (2.0 * ln(0.5))))),
           6) AS score
    FROM documents
    WHERE lang = 'en'
    """,
    doc="ES decay scoring (gauss): documents ranked by proximity to a "
        "target attribute value (origin 300 chars, plateau offset 10, "
        "half-score at scale 100) — the recency/proximity ranking shape, "
        "per ES's documented formula sigma^2 = -scale^2/(2 ln decay). One "
        "arithmetic expression riding the scan, boost_mode=replace so the "
        "decay IS the score; exp/linear kernels are pinned by unit tests. "
        "The oracle recomputes the identical kernel at 6 dp.",
)
def q_search_decay_recency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    dsl = {
        "query": {
            "function_score": {
                "query": {"bool": {"filter": [{"term": {"lang": "en"}}]}},
                "functions": [
                    {"gauss": {"n_chars": {
                        "origin": 300, "scale": 100,
                        "offset": 10, "decay": 0.5}}}
                ],
                "boost_mode": "replace",
            }
        }
    }
    query = from_es_json(dsl)
    return search(docs, query, k=None).select(
        "doc_id", F.round("score", 6).alias("score")
    )


@register(
    "search_dis_max_boosting",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, source,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    ), legs AS (
        SELECT doc_id, lang, source,
               CASE WHEN list_contains(t, 'spark') THEN 1.0 ELSE 0.0 END AS s1,
               CASE WHEN list_contains(t, 'merge') THEN 1.0 ELSE 0.0 END AS s2,
               CASE WHEN regexp_full_match(source, 'src1[0-9]')
                    THEN 0.5 ELSE 0.0 END AS s3
        FROM toks
    )
    SELECT doc_id, lang, source,
           CAST(round(
             (greatest(s1, s2, s3)
              + 0.3 * (s1 + s2 + s3 - greatest(s1, s2, s3)))
             * CASE WHEN lang = 'zh' THEN 0.2 ELSE 1.0 END, 6)
           AS DOUBLE) AS score
    FROM legs
    WHERE s1 > 0 OR s2 > 0 OR s3 > 0
    ORDER BY (greatest(s1, s2, s3)
              + 0.3 * (s1 + s2 + s3 - greatest(s1, s2, s3)))
             * CASE WHEN lang = 'zh' THEN 0.2 ELSE 1.0 END DESC,
             doc_id ASC
    LIMIT 40
    """,
    doc="Three compound-scoring DSL nodes in one compiled JSON query: "
        "dis_max (best-clause-wins + tie_breaker, the don't-double-count "
        "union) over two analyzed matches and a constant_score-wrapped "
        "regexp (anchored Lucene-core pattern src1[0-9], boost 0.5), all "
        "wrapped in boosting (lang=zh demoted to 0.2 of its score without "
        "being excluded). The whole score is ONE arithmetic expression "
        "riding the scan; the oracle replicates the exact double "
        "arithmetic (greatest + tie_breaker * remainder, then the demote "
        "multiplier).",
)
def q_search_dis_max_boosting(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    dsl = {
        "query": {
            "boosting": {
                "positive": {
                    "dis_max": {
                        "queries": [
                            {"match": {"text": "spark"}},
                            {"match": {"text": "merge"}},
                            {"constant_score": {
                                "filter": {"regexp": {"source": "src1[0-9]"}},
                                "boost": 0.5,
                            }},
                        ],
                        "tie_breaker": 0.3,
                    }
                },
                "negative": {"term": {"lang": "zh"}},
                "negative_boost": 0.2,
            }
        }
    }
    query = from_es_json(dsl, analyzers={"text": "standard"})
    return search(docs, query, k=40, tiebreak="doc_id").select(
        "doc_id", "lang", "source", F.round("score", 6).alias("score")
    )


@register(
    "search_script_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id, n_chars,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    )
    SELECT doc_id, n_chars,
           CAST(round(
             ln(1 + n_chars)
             * (1 + CASE WHEN list_contains(t, 'spark')
                         THEN 2.0 ELSE 0.0 END) / 2, 6)
           AS DOUBLE) AS score
    FROM toks
    WHERE n_chars >= 100
    ORDER BY ln(1 + n_chars)
             * (1 + CASE WHEN list_contains(t, 'spark')
                         THEN 2.0 ELSE 0.0 END) / 2 DESC,
             doc_id ASC
    LIMIT 25
    """,
    doc="ES script_score: the Painless arithmetic subset compiled by a "
        "recursive-descent parser into ONE Catalyst expression (Math.log, "
        "doc['n_chars'].value, _score, precedence, parentheses) — never a "
        "per-row UDF, unlike ES where scripts are the slow path. _score "
        "binds to the wrapped bool's weighted-should score (match 'spark' "
        "-> 2.0); the oracle replicates ln(1+n)·(1+s)/2 exactly.",
)
def q_search_script_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    dsl = {
        "query": {
            "script_score": {
                "query": {
                    "bool": {
                        "filter": [{"range": {"n_chars": {"gte": 100}}}],
                        "should": [
                            {"query": {"match": {"text": "spark"}},
                             "weight": 2},
                        ],
                    }
                },
                "script": {
                    "source":
                        "Math.log(1 + doc['n_chars'].value)"
                        " * (1 + _score) / 2"
                },
            }
        }
    }
    query = from_es_json(dsl, analyzers={"text": "standard"})
    return search(docs, query, k=25, tiebreak="doc_id").select(
        "doc_id", "n_chars", F.round("score", 6).alias("score")
    )


@register(
    "search_sparse_vector",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    ), scored AS (
        SELECT doc_id,
               0.0 + len(list_filter(t, x -> x = 'spark')) * 2.0
                   + len(list_filter(t, x -> x = 'data')) * 1.0
                   + len(list_filter(t, x -> x = 'vector')) * 1.5 AS s
        FROM toks
        WHERE len(list_filter(t, x -> x = 'spark')) > 0
           OR len(list_filter(t, x -> x = 'data')) > 0
           OR len(list_filter(t, x -> x = 'vector')) > 0
    )
    SELECT doc_id, round(CAST(s AS DOUBLE), 6) AS score
    FROM scored ORDER BY s DESC, doc_id ASC LIMIT 25
    """,
    doc="ES sparse_vector query (8.15+, the ELSER/learned-sparse "
        "retrieval shape): doc field = token->weight map (term "
        "frequencies built scan-local with the token stream bound "
        "once), query carries its own weights, score = the dot product "
        "over the token intersection — one fixed-size codegen'd sum of "
        "map lookups, no UDF/explode/shuffle. The oracle replays the "
        "per-token counts and the weighted sum.",
)
def q_search_sparse_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = analyze(F.col("text"), "standard")

    def tf_map_of(ts):
        return F.map_from_entries(F.transform(
            F.array_distinct(ts),
            lambda t: F.struct(
                t, F.size(F.filter(ts, lambda x: x == t)).cast("double")
            ),
        ))

    # bind the analyzed token array ONCE (Catalyst does not CSE)
    docs = docs.withColumn(
        "tf_map", F.element_at(F.transform(F.array(toks), tf_map_of), 1)
    )
    query = from_es_json({"query": {"sparse_vector": {
        "field": "tf_map",
        "query_vector": {"spark": 2.0, "data": 1.0, "vector": 1.5},
    }}})
    return search(docs, query, k=25, tiebreak="doc_id").select(
        "doc_id", F.round("score", 6).alias("score")
    )


@register(
    "search_wrapper_script",
    oracle="""
    WITH toks AS (
        SELECT doc_id, n_chars,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    )
    SELECT doc_id, n_chars
    FROM toks
    WHERE list_contains(t, 'data') AND n_chars * 2.0 > 399.0
    ORDER BY doc_id
    LIMIT 50
    """,
    doc="ES wrapper query (base64-embedded JSON, the escape hatch for "
        "JSON-mangling transports) decoded into a bool whose filter leg "
        "is a `script` query — the Painless predicate compiled ONCE to a "
        "codegen'd boolean riding the scan with numeric params bound as "
        "literals, vs ES's per-doc interpreted script filter. The oracle "
        "replays the analyzer match and the n_chars*f > t arithmetic.",
)
def q_search_wrapper_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    inner = {
        "bool": {
            "filter": [
                {"match": {"text": "data"}},
                {"script": {"script": {
                    "source": "doc['n_chars'].value * params.f > params.t",
                    "params": {"f": 2, "t": 399},
                }}},
            ]
        }
    }
    dsl = {"query": {"wrapper": {
        "query": base64.b64encode(json.dumps(inner).encode()).decode()
    }}}
    query = from_es_json(dsl, analyzers={"text": "standard"})
    matched = search(docs, query, k=None, tiebreak="doc_id")
    return (
        matched.select("doc_id", "n_chars").orderBy("doc_id").limit(50)
    )


def _matrix_stats_oracle() -> str:
    """Mirror of the matrix_stats power-sum arithmetic, operator for
    operator (plans/aggs.py matrix_stats branch), over lineitem grouped
    by l_returnflag with fields [l_quantity, l_discount, l_tax]."""
    fields = ["l_quantity", "l_discount", "l_tax"]
    valid = " AND ".join(f"{f} IS NOT NULL" for f in fields)
    x = {f: f"(CASE WHEN {valid} THEN {f}::DOUBLE END)" for f in fields}
    n = "sum(CASE WHEN " + valid + " THEN 1.0 END)"
    nm1 = f"(CASE WHEN {n} > 1 THEN {n} - 1 END)"
    mean = {f: f"(sum({x[f]}) / {n})" for f in fields}
    m2 = {f: f"(sum({x[f]} * {x[f]}) - {n} * {mean[f]} * {mean[f]})"
          for f in fields}
    pm2 = {f: f"(CASE WHEN {m2[f]} > 0 THEN {m2[f]} END)" for f in fields}
    cols = [f"CAST({n} AS BIGINT) AS ms_count"]
    for f in fields:
        m3 = (f"(sum({x[f]} * {x[f]} * {x[f]}) - 3.0 * {mean[f]} * "
              f"sum({x[f]} * {x[f]}) + 2.0 * {n} * {mean[f]} * {mean[f]} * "
              f"{mean[f]})")
        m4 = (f"(sum({x[f]} * {x[f]} * {x[f]} * {x[f]}) - 4.0 * {mean[f]} * "
              f"sum({x[f]} * {x[f]} * {x[f]}) + 6.0 * {mean[f]} * {mean[f]} * "
              f"sum({x[f]} * {x[f]}) - 3.0 * {n} * {mean[f]} * {mean[f]} * "
              f"{mean[f]} * {mean[f]})")
        cols += [
            f"round({mean[f]}, 6) AS ms_{f}_mean",
            f"round({m2[f]} / {nm1}, 6) AS ms_{f}_variance",
            f"round(sqrt({n}) * {m3} / pow({pm2[f]}, 1.5), 6) + 0.0"
            f" AS ms_{f}_skewness",
            f"round({n} * {m4} / ({pm2[f]} * {pm2[f]}), 6)"
            f" AS ms_{f}_kurtosis",
        ]
    for i, fi in enumerate(fields):
        for fj in fields[i + 1:]:
            cov = (f"((sum({x[fi]} * {x[fj]}) - {n} * {mean[fi]} * "
                   f"{mean[fj]}) / {nm1})")
            corr = (f"({cov} / sqrt(({pm2[fi]} / {nm1}) * "
                    f"({pm2[fj]} / {nm1})))")
            cols += [
                f"round({cov}, 6) + 0.0 AS ms_{fi}_{fj}_covariance",
                f"round({corr}, 6) + 0.0 AS ms_{fi}_{fj}_correlation",
            ]
    return (
        "SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS doc_count, "
        + ", ".join(cols)
        + " FROM lineitem GROUP BY l_returnflag"
    )


@register(
    "es_aggs_matrix_stats",
    oracle=_matrix_stats_oracle(),
    doc="ES matrix_stats metric agg: multivariate moments over a field "
        "set — per-field mean/variance/skewness/kurtosis plus the "
        "pairwise covariance/correlation matrix, all from power sums in "
        "ONE conditional-aggregation pass (the same moment merge ES "
        "streams shard-side; sample n-1 denominators, sqrt(n)*M3/M2^1.5 "
        "skewness, n*M4/M2^2 kurtosis). Docs missing any field drop "
        "entirely, ES's contract. The oracle replays every power-sum "
        "formula operator for operator.",
)
def q_es_aggs_matrix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deliberately NOT fanned out: measured at sf0.1, the extra
    # round-robin exchange of 600k rows costs more than the parallel
    # partial agg saves (the moment sums are light codegen'd work).
    li = load_table(spark, sf_dir, "lineitem")
    out = es_aggregate(li, {"flag": {
        "terms": {"field": "l_returnflag", "size": 10},
        "aggs": {"ms": {"matrix_stats": {
            "fields": ["l_quantity", "l_discount", "l_tax"]}}},
    }})
    return out.withColumnRenamed("flag", "flag")


@register(
    "es_aggs_t_test",
    oracle="""
    WITH legs AS (
        SELECT user_id % 3 AS ug,
               CASE WHEN event_type = 'click' THEN value END AS a,
               CASE WHEN event_type = 'view' THEN value END AS b
        FROM events
    )
    SELECT ug,
           CAST(count(*) AS BIGINT) AS doc_count,
           round(
             (sum(a) / sum(CASE WHEN a IS NOT NULL THEN 1.0 END)
              - sum(b) / sum(CASE WHEN b IS NOT NULL THEN 1.0 END))
             / sqrt(
                 ((sum(a * a) - sum(CASE WHEN a IS NOT NULL THEN 1.0 END)
                     * (sum(a) / sum(CASE WHEN a IS NOT NULL THEN 1.0 END))
                     * (sum(a) / sum(CASE WHEN a IS NOT NULL THEN 1.0 END)))
                  / (CASE WHEN sum(CASE WHEN a IS NOT NULL THEN 1.0 END) > 1
                          THEN sum(CASE WHEN a IS NOT NULL THEN 1.0 END) - 1 END))
                 / sum(CASE WHEN a IS NOT NULL THEN 1.0 END)
                 +
                 ((sum(b * b) - sum(CASE WHEN b IS NOT NULL THEN 1.0 END)
                     * (sum(b) / sum(CASE WHEN b IS NOT NULL THEN 1.0 END))
                     * (sum(b) / sum(CASE WHEN b IS NOT NULL THEN 1.0 END)))
                  / (CASE WHEN sum(CASE WHEN b IS NOT NULL THEN 1.0 END) > 1
                          THEN sum(CASE WHEN b IS NOT NULL THEN 1.0 END) - 1 END))
                 / sum(CASE WHEN b IS NOT NULL THEN 1.0 END)
               ), 6) + 0.0 AS tt_t
    FROM legs
    GROUP BY ug
    """,
    doc="ES t_test metric agg (Welch/heteroscedastic): per-leg field + "
        "filter, counts/means/sample-variances/t computed in ONE "
        "conditional-aggregation pass. The response p value rides the "
        "reduced bucket relation through an Arrow UDF (Student CDF via "
        "the regularized incomplete beta, functions/studentt) — pinned "
        "by pytest anchors; this driver row oracles the distributed "
        "part (the t statistic) exactly.",
)
def q_es_aggs_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ug", F.col("user_id") % 3
    )
    out = es_aggregate(ev, {"ug": {
        "terms": {"field": "ug", "size": 10},
        "aggs": {"tt": {"t_test": {
            "a": {"field": "value",
                  "filter": {"term": {"event_type": "click"}}},
            "b": {"field": "value",
                  "filter": {"term": {"event_type": "view"}}},
            "type": "heteroscedastic",
        }}},
    }})
    return out.select("ug", "doc_count", "tt_t")


@register(
    "es_aggs_extended_stats",
    oracle="""
    SELECT event_type AS by_type,
           CAST(count(*) AS BIGINT) AS doc_count,
           CAST(count(value) AS BIGINT) AS v_count,
           CAST(min(value) AS DOUBLE) AS v_min,
           CAST(max(value) AS DOUBLE) AS v_max,
           round(avg(value), 6) AS v_avg,
           round(sum(value), 2) AS v_sum,
           round(sum(value * value), 2) AS v_sum_of_squares,
           round(var_pop(value), 6) AS v_variance,
           round(stddev_pop(value), 6) AS v_std_deviation,
           round(100.0 * avg(CASE WHEN value <= 2.5 THEN 1.0 ELSE 0.0 END), 6)
               AS vr_rank_2_5,
           round(100.0 * avg(CASE WHEN value <= 7.5 THEN 1.0 ELSE 0.0 END), 6)
               AS vr_rank_7_5
    FROM events
    WHERE event_type IS NOT NULL
    GROUP BY 1
    """,
    doc="ES extended_stats (population variance / std-dev / sum-of-squares"
        " on top of the five stats keys) and percentile_ranks (exact "
        "percentage of values <= each threshold; ES estimates via t-digest"
        " — the same documented strictly-more-accurate divergence as "
        "percentiles) under one terms bucket: a single conditional-"
        "aggregate groupBy scan, moments rounded at 6 dp (double "
        "accumulation order differs across partials).",
)
def q_es_aggs_extended_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    request = {
        "aggs": {
            "by_type": {
                "terms": {"field": "event_type"},
                "aggs": {
                    "v": {"extended_stats": {"field": "value"}},
                    "vr": {"percentile_ranks": {"field": "value",
                                                "values": [2.5, 7.5]}},
                },
            }
        }
    }
    out = es_request(events, request)
    # v_sum / v_sum_of_squares re-round at 2 dp on both engines: at
    # ~1e7 magnitude a 6-dp grid sits within ~10 ULP of the double
    # summation-order noise, so the hash compare straddles a rounding
    # boundary a few % of the time (the es_aggs_parent lesson); the
    # summands carry 2/4 decimal digits, so 2 dp loses nothing.
    return out.select(
        "by_type", "doc_count", "v_count",
        F.col("v_min").cast("double").alias("v_min"),
        F.col("v_max").cast("double").alias("v_max"),
        "v_avg",
        F.round("v_sum", 2).alias("v_sum"),
        F.round("v_sum_of_squares", 2).alias("v_sum_of_squares"),
        "v_variance",
        "v_std_deviation", "vr_rank_2_5", "vr_rank_7_5",
    )


@register(
    "es_aggs_moving_pipeline",
    oracle="""
    WITH b AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS per_day,
               CAST(count(*) AS BIGINT) AS doc_count
        FROM events
        WHERE ts IS NOT NULL
        GROUP BY 1
    ), m AS (
        SELECT per_day, doc_count,
               avg(doc_count) OVER (
                   ORDER BY per_day
                   ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS mv3_raw
        FROM b
    ), s AS (
        SELECT per_day, doc_count, mv3_raw,
               doc_count / mv3_raw AS ratio_raw
        FROM m
        WHERE doc_count > 5
        ORDER BY doc_count DESC, per_day ASC
        LIMIT 10
    )
    SELECT per_day, doc_count,
           round(mv3_raw, 6) AS mv3,
           round(ratio_raw, 6) AS ratio,
           round((SELECT avg(doc_count) FROM s), 6) AS day_avg
    FROM s
    """,
    doc="Four pipeline aggregations + a sibling pipeline in one request: "
        "moving_fn (unweightedAvg over the 3 buckets before each, shift=0 "
        "-> NULL first bucket), bucket_script (params.d / params.m over "
        "sibling metrics, Painless subset compiled to one expression), "
        "bucket_selector (drop buckets with doc_count <= 5), bucket_sort "
        "(top-10 by doc_count), and avg_bucket (a sibling scalar over the "
        "surviving bucket list, annotated onto every row via a 1-row "
        "broadcast cross join — the coordinator-side reduction's "
        "distributed twin). All windows run over the REDUCED bucket "
        "relation, ES's own coordinator-side shape.",
)
def q_es_aggs_moving_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    request = {
        "aggs": {
            "per_day": {
                "date_histogram": {"field": "ts", "calendar_interval": "day"},
                "aggs": {
                    "mv3": {"moving_fn": {
                        "buckets_path": "_count", "window": 3,
                        "script": "MovingFunctions.unweightedAvg(values)",
                    }},
                    "ratio": {"bucket_script": {
                        "buckets_path": {"d": "_count", "m": "mv3"},
                        "script": "params.d / params.m",
                    }},
                    "keep": {"bucket_selector": {
                        "buckets_path": {"d": "_count"},
                        "script": "params.d > 5",
                    }},
                    "top": {"bucket_sort": {
                        "sort": [{"_count": "desc"}], "size": 10,
                    }},
                },
            },
            "day_avg": {"avg_bucket": {"buckets_path": "per_day>_count"}},
        }
    }
    out = es_request(events, request)
    return out.select(
        "per_day", "doc_count",
        F.round("mv3", 6).alias("mv3"),
        F.round("ratio", 6).alias("ratio"),
        F.col("day_avg"),
    )


@register(
    "es_request_rescore",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, n_chars,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    ), scored AS (
        SELECT doc_id, lang, n_chars,
               CASE WHEN list_contains(t, 'spark') THEN 2.0 ELSE 0.0 END
             + CASE WHEN list_contains(t, 'merge') THEN 1.0 ELSE 0.0 END AS s
        FROM toks
        WHERE lang IN ('en', 'de')
          AND (list_contains(t, 'spark') OR list_contains(t, 'merge'))
    ), win AS (
        SELECT * FROM scored ORDER BY s DESC, doc_id ASC LIMIT 50
    ), rescored AS (
        SELECT doc_id, lang, n_chars,
               s + CASE WHEN n_chars >= 300 THEN 0.5 ELSE 0.0 END AS s2
        FROM win
    )
    SELECT doc_id, lang, CAST(s2 AS DOUBLE) AS score
    FROM rescored
    ORDER BY s2 DESC, doc_id ASC
    OFFSET 5 LIMIT 20
    """,
    doc="ES two-phase ranking (rescore) + offset pagination in the "
        "request envelope: first pass ranks by the weighted-should bool, "
        "the top window_size=50 hits are re-scored with a secondary query "
        "(n_chars range, rescore_query_weight 0.5, score_mode total — "
        "docs the rescore query misses keep query_weight * original, "
        "ES's contract), re-ranked, then paged with from=5/size=20. The "
        "second pass touches ONLY the window relation, never the corpus — "
        "ES's shard-top-window shape.",
)
def q_es_request_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    request = {
        "query": {
            "bool": {
                "should": [
                    {"query": {"match": {"text": "spark"}}, "weight": 2},
                    {"query": {"match": {"text": "merge"}}, "weight": 1},
                ],
                "filter": [{"terms": {"lang": ["en", "de"]}}],
            }
        },
        "rescore": {
            "window_size": 50,
            "query": {
                "rescore_query": {"range": {"n_chars": {"gte": 300}}},
                "rescore_query_weight": 0.5,
                "score_mode": "total",
            },
        },
        "from": 5,
        "size": 20,
    }
    out = es_request(
        docs, request, analyzers={"text": "standard"}, tiebreak="doc_id",
    )
    return out.select(
        "doc_id", "lang", F.col("score").cast("double").alias("score")
    )


@register(
    "es_aggs_significant_text",
    oracle="""
    WITH toks AS (
        SELECT lang,
               list_distinct(list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x))) AS t
        FROM documents WHERE text IS NOT NULL
    ), ex AS (
        SELECT lang, unnest(t) AS tok FROM toks
    ), g AS (
        SELECT tok,
               CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT)
                   AS doc_count,
               CAST(count(*) AS BIGINT) AS bg_count
        FROM ex GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(doc_count) AS DOUBLE) AS fg,
               CAST(sum(bg_count) AS DOUBLE) AS bg
        FROM g
    )
    SELECT tok AS sig, doc_count, bg_count,
           round((doc_count / tot.fg - bg_count / tot.bg)
                 * ((doc_count / tot.fg) / (bg_count / tot.bg)), 6) AS score
    FROM g, tot
    WHERE doc_count > 0
    ORDER BY round((doc_count / tot.fg - bg_count / tot.bg)
                   * ((doc_count / tot.fg) / (bg_count / tot.bg)), 6) DESC,
             sig ASC
    LIMIT 15
    """,
    doc="ES significant_text: 'what words characterize the matching docs' "
        "— significant_terms over the ANALYZED token stream (each doc "
        "contributes a distinct token once, so counts are document "
        "frequencies), JLH-scored against the whole index as background. "
        "One scan: analyze -> array_distinct -> explode -> token groupBy "
        "(the only shuffle); the totals are a global window over the "
        "token-cardinality relation, ES's own coordinator shape.",
)
def q_es_aggs_significant_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    request = {
        "query": {"term": {"lang": "zh"}},
        "aggs": {"sig": {"significant_text": {"field": "text", "size": 15}}},
    }
    return es_request(docs, request, analyzers={"text": "standard"})


@register(
    "es_aggs_date_range_weighted",
    oracle="""
    SELECT CASE WHEN ts < TIMESTAMP '2024-01-10 00:00:00' THEN 'early'
                WHEN ts < TIMESTAMP '2024-01-20 00:00:00' THEN 'mid'
                ELSE 'late' END AS period,
           CAST(count(*) AS BIGINT) AS doc_count,
           round(sum(CASE WHEN value IS NOT NULL AND user_id IS NOT NULL
                          THEN value * user_id END)
                 / sum(CASE WHEN value IS NOT NULL AND user_id IS NOT NULL
                            THEN user_id END), 6) AS w_value
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1
    """,
    doc="ES date_range buckets (ISO bounds compiled to timestamp "
        "literals, [from, to) with ES key labels) + the weighted_avg "
        "metric (sum(v*w)/sum(w), rows missing either side dropped — "
        "ES's contract): one conditional-aggregate scan, bounds pushed "
        "as codegen'd predicates.",
)
def q_es_aggs_date_range_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    request = {
        "aggs": {
            "period": {
                "date_range": {
                    "field": "ts",
                    "ranges": [
                        {"key": "early", "to": "2024-01-10 00:00:00"},
                        {"key": "mid", "from": "2024-01-10 00:00:00",
                         "to": "2024-01-20 00:00:00"},
                        {"key": "late", "from": "2024-01-20 00:00:00"},
                    ],
                },
                "aggs": {
                    "w_value": {"weighted_avg": {
                        "value": {"field": "value"},
                        "weight": {"field": "user_id"},
                    }},
                },
            }
        }
    }
    return es_request(events, request)


@register(
    "search_more_like_this",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    ), dt AS (
        SELECT doc_id, unnest(list_distinct(t)) AS tok FROM toks
    ), seedtf AS (
        SELECT tok AS term, count(*) AS tf
        FROM (SELECT unnest(t) AS tok FROM toks WHERE doc_id = 42)
        GROUP BY 1 HAVING count(*) >= 1
    ), n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    dfs AS (
        SELECT tok AS term, count(*) AS df FROM dt
        WHERE tok IN (SELECT term FROM seedtf) GROUP BY 1
    ), sel AS (
        SELECT s.term, ln(n.n / d.df) AS idf
        FROM seedtf s JOIN dfs d USING (term), n
        WHERE d.df >= 2 AND d.df <= n.n * 0.78
        ORDER BY s.tf * ln(n.n / d.df) DESC, s.term ASC
        LIMIT 12
    ), kk AS (SELECT count(*) AS k FROM sel),
    m AS (
        SELECT dt.doc_id, CAST(count(*) AS BIGINT) AS n_matched,
               round(sum(sel.idf), 6) AS score
        FROM dt JOIN sel ON dt.tok = sel.term
        WHERE dt.doc_id <> 42
        GROUP BY 1
    )
    SELECT doc_id, n_matched, score
    FROM m, kk
    WHERE n_matched >= floor(kk.k * 0.3)
    ORDER BY score DESC, doc_id ASC
    LIMIT 120
    """,
    doc="ES more_like_this: documents similar to seed doc 42 — the seed's "
        "terms filtered by tf/df bounds (df >= 2, df <= 78% of the corpus "
        "— the stopword guard; the synthetic corpus's 31-term vocabulary "
        "sits almost entirely at df 75-80%, so ES's default 25% cap "
        "selects nothing and the oracle check passed 0-vs-0 — this "
        "seed puts the cut MID-distribution so selection, idf arithmetic "
        "and the msm gate all do real work: 12 of 13 candidate terms "
        "selected, k=120 crosses the 12-matched/11-matched score "
        "boundary, 10+ distinct scores at sf0.01), top-12 by tf*idf, "
        "every other doc scored by the sum of selected-term idfs it "
        "matches with a 30% minimum_should_match. Fully in-plan: the "
        "selected-terms relation (<= 12 rows) broadcasts, no driver-side "
        "term collection; two token aggregations + "
        "TakeOrderedAndProject, linear in posting count.",
)
def q_search_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return more_like_this(
        docs, 42, analyzer="standard", max_query_terms=12,
        min_doc_freq=2, max_doc_freq_frac=0.78,
        minimum_should_match=0.3, k=120,
    )


@register(
    "search_hybrid_rrf",
    oracle=_TOKENS_CTE + f""",
    stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               avg(CAST(len(tokens) AS DOUBLE)) AS avgdl
        FROM toks
    ),
    dfs AS (SELECT {_BM25_DF_SQL} FROM toks),
    bm AS (
        SELECT doc_id, round({_BM25_SCORE_SQL}, 6) AS s
        FROM toks, stats s, dfs d
        WHERE lang = 'en'
          AND list_has_any(tokens, ['spark', 'merge', 'sparkmerge'])
    ),
    bleg AS (
        SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r
        FROM bm ORDER BY s DESC, doc_id ASC LIMIT 30
    ),
    vec AS (
        SELECT vec_id AS doc_id,
               round(list_cosine_similarity(
                   embedding::DOUBLE[],
                   (SELECT embedding FROM embeddings
                    WHERE vec_id = 0)::DOUBLE[]), 6) AS s
        FROM embeddings
    ),
    vleg AS (
        SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r
        FROM vec ORDER BY s DESC, doc_id ASC LIMIT 30
    ),
    u AS (
        SELECT doc_id, 1.0 / (60 + r) AS c FROM bleg
        UNION ALL
        SELECT doc_id, 1.0 / (60 + r) AS c FROM vleg
    )
    SELECT doc_id, round(sum(c), 6) AS score,
           CAST(count(*) AS INT) AS n_legs
    FROM u GROUP BY 1
    ORDER BY round(sum(c), 6) DESC, doc_id ASC
    LIMIT 15
    """,
    doc="Hybrid retrieval with reciprocal-rank fusion (ES 8's rank/rrf): "
        "a BM25 lexical leg (top-30 for 'spark merge') and an exact-"
        "cosine vector leg (top-30 to the vec_id-0 embedding) fused as "
        "sum of 1/(60+rank) — scoreless by design, so BM25 and cosine "
        "scales combine without calibration; docs absent from a leg "
        "contribute nothing. Each leg truncates via TakeOrderedAndProject "
        "BEFORE the rank window, so the fusion runs on leg-sized "
        "relations — the coordinator-side shape.",
)
def q_search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    docs = materialize_tokens(docs, {"text": ["custom_shingles"]})
    qtokens = analyze_text(spark, "spark merge", "custom_shingles")
    stats = bm25_stats(docs, [("text__custom_shingles", 1.0)], qtokens)
    match = BM25Match(
        [("text", "text__custom_shingles", 1.0)], "spark merge",
        analyzer="custom_shingles", stats=stats,
    )
    query = FunctionScore(
        Bool(should=[(match, 1.0)], filter=[Term("lang", "en"), match])
    )
    bm25_leg = (
        search(docs, query, k=None)
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(30)
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    vec_leg = cosine_topk(emb, qvec, k=30).withColumnRenamed(
        "vec_id", "doc_id"
    )
    return rrf_fuse([bm25_leg, vec_leg], k=15, rank_constant=60)


_RETRIEVER_FRAME_CTE = """
    WITH frame AS (
        SELECT d.doc_id, d.n_chars, e.embedding
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ),
    leg1 AS (
        SELECT doc_id, round(0.001 * n_chars, 6) AS s
        FROM frame WHERE n_chars >= 100
        ORDER BY s DESC, doc_id ASC LIMIT 25
    ),
    r1 AS (SELECT doc_id, s,
                  row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r
           FROM leg1),
    leg2 AS (
        SELECT doc_id,
               round(list_cosine_similarity(
                   embedding::DOUBLE[],
                   (SELECT embedding FROM embeddings
                    WHERE vec_id = 7)::DOUBLE[]), 6) AS s
        FROM frame
        ORDER BY s DESC, doc_id ASC LIMIT 25
    ),
    r2 AS (SELECT doc_id, s,
                  row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r
           FROM leg2)
"""


@register(
    "es_request_retriever_rrf",
    oracle=_RETRIEVER_FRAME_CTE + """,
    u AS (
        SELECT doc_id, 1.0 / (60 + r) AS c FROM r1
        UNION ALL
        SELECT doc_id, 1.0 / (60 + r) AS c FROM r2
    )
    SELECT doc_id, round(sum(c), 6) AS score,
           CAST(count(*) AS INT) AS n_legs
    FROM u GROUP BY 1
    ORDER BY round(sum(c), 6) DESC, doc_id ASC
    LIMIT 12
    """,
    doc="ES 8.14 retriever tree, rrf node: a standard retriever "
        "(function_score field_value_factor over n_chars, range-filtered) "
        "and a knn retriever (exact cosine to the vec_id-7 embedding) "
        "evaluate recursively, truncate to rank_window_size=25 each, and "
        "fuse via reciprocal ranks — the request-level surface that "
        "replaced the top-level query/knn/rank split, compiled onto the "
        "same leg machinery as search_hybrid_rrf (plans/search.py "
        "es_retriever).",
)
def q_es_request_retriever_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    emb = load_table(spark, sf_dir, "embeddings")
    frame = docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id", "n_chars", "embedding"
    )
    qvec = [float(x) for x in emb.filter("vec_id = 7").head()["embedding"]]
    return es_retriever(frame, {"rrf": {
        "retrievers": [
            {"standard": {"query": {"function_score": {
                "query": {"range": {"n_chars": {"gte": 100}}},
                "functions": [{"field_value_factor": {
                    "field": "n_chars", "factor": 0.001}}],
            }}}},
            {"knn": {"field": "embedding", "query_vector": qvec, "k": 25,
                     "num_candidates": 50}},
        ],
        "rank_window_size": 25,
        "rank_constant": 60,
    }}, id_col="doc_id", size=12)


@register(
    "es_request_retriever_rerank",
    oracle="""
    WITH leg AS (
        SELECT doc_id, round(0.001 * n_chars, 6) AS s
        FROM documents WHERE n_chars >= 100
        ORDER BY s DESC, doc_id ASC LIMIT 30
    ),
    toks AS (
        SELECT d.doc_id,
               list_distinct(list_transform(
                 list_filter(regexp_split_to_array(d.text,
                                                   '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x))) AS t
        FROM documents d JOIN leg USING (doc_id)
    ),
    sim AS (
        SELECT doc_id,
               CAST(len(list_intersect(t, ['data', 'spark', 'streaming']))
                    AS DOUBLE)
               / (len(t) + 3
                  - len(list_intersect(t, ['data', 'spark', 'streaming'])))
               AS score
        FROM toks
    )
    SELECT doc_id, round(score, 6) AS score
    FROM sim
    ORDER BY round(score, 6) DESC, doc_id ASC
    LIMIT 12
    """,
    doc="ES 8.15 text_similarity_reranker retriever: a standard child "
        "leg (field_value_factor over n_chars) retrieves a 30-doc rank "
        "window, then the window re-scores by text similarity between "
        "inference_text and the text field. ES calls an inference "
        "endpoint; this engine substitutes the deterministic lexical "
        "model (token-set Jaccard, standard analyzer) — documented "
        "model-free divergence. The window's ids broadcast back onto "
        "the doc scan; the similarity is scan-local; the re-rank is a "
        "TakeOrdered over 30 rows.",
)
def q_es_request_retriever_rerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "text"
    )
    return es_retriever(docs, {"text_similarity_reranker": {
        "retriever": {"standard": {"query": {"function_score": {
            "query": {"range": {"n_chars": {"gte": 100}}},
            "functions": [{"field_value_factor": {
                "field": "n_chars", "factor": 0.001}}],
        }}}},
        "field": "text",
        "inference_text": "spark streaming data",
        "rank_window_size": 30,
    }}, id_col="doc_id", size=12)


@register(
    "es_request_retriever_linear",
    oracle=_RETRIEVER_FRAME_CTE + """,
    b1 AS (SELECT min(s) AS lo, max(s) AS hi FROM r1),
    b2 AS (SELECT min(s) AS lo, max(s) AS hi FROM r2),
    u AS (
        SELECT doc_id,
               0.7 * (CASE WHEN b1.hi = b1.lo THEN 1.0
                           ELSE (s - b1.lo) / (b1.hi - b1.lo) END) AS c
        FROM r1, b1
        UNION ALL
        SELECT doc_id,
               0.3 * (CASE WHEN b2.hi = b2.lo THEN 1.0
                           ELSE (s - b2.lo) / (b2.hi - b2.lo) END) AS c
        FROM r2, b2
    )
    SELECT doc_id, round(sum(c), 6) AS score,
           CAST(count(*) AS INT) AS n_legs
    FROM u GROUP BY 1
    ORDER BY round(sum(c), 6) DESC, doc_id ASC
    LIMIT 12
    """,
    doc="ES 8.16 linear retriever: the same two legs as the rrf entry, "
        "each minmax-normalized to [0, 1] over its rank window and "
        "weighted 0.7/0.3 — score-calibrated fusion vs rrf's scoreless "
        "ranks. The per-leg min/max is a 1-row broadcast over the "
        "leg-sized (rank_window_size) relation; docs absent from a leg "
        "contribute nothing.",
)
def q_es_request_retriever_linear(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    emb = load_table(spark, sf_dir, "embeddings")
    frame = docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id", "n_chars", "embedding"
    )
    qvec = [float(x) for x in emb.filter("vec_id = 7").head()["embedding"]]
    return es_retriever(frame, {"linear": {
        "retrievers": [
            {"retriever": {"standard": {"query": {"function_score": {
                "query": {"range": {"n_chars": {"gte": 100}}},
                "functions": [{"field_value_factor": {
                    "field": "n_chars", "factor": 0.001}}],
            }}}}, "weight": 0.7, "normalizer": "minmax"},
            {"retriever": {"knn": {"field": "embedding",
                                   "query_vector": qvec, "k": 25}},
             "weight": 0.3, "normalizer": "minmax"},
        ],
        "rank_window_size": 25,
    }}, id_col="doc_id", size=12)


@register(
    "es_request_knn",
    oracle="""
    SELECT vec_id,
           round(list_cosine_similarity(
               embedding::DOUBLE[],
               (SELECT embedding FROM embeddings
                WHERE vec_id = 3)::DOUBLE[]), 6) AS score
    FROM embeddings
    WHERE vec_id >= 100
    ORDER BY round(list_cosine_similarity(
        embedding::DOUBLE[],
        (SELECT embedding FROM embeddings
         WHERE vec_id = 3)::DOUBLE[]), 6) DESC,
        vec_id ASC
    LIMIT 12
    """,
    doc="ES 8 knn request clause: vector top-k with a PRE-filter (range "
        "on the id) inside the search envelope. Similarity evaluates "
        "EXACTLY over the filtered scan (the documented strictly-more-"
        "accurate divergence from HNSW; the *_indexed ANN entries are "
        "the approximate scale path). One scan ending in "
        "TakeOrderedAndProject.",
)
def q_es_request_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter("vec_id = 3").head()["embedding"]]
    request = {
        "knn": {
            "field": "embedding",
            "query_vector": qvec,
            "k": 12,
            "num_candidates": 50,
            "filter": {"range": {"vec_id": {"gte": 100}}},
        },
        "_source": ["vec_id", "score"],
    }
    return es_request(emb, request, tiebreak="vec_id")


@register(
    "search_query_string",
    oracle=_TOKENS_CTE + """
    SELECT doc_id, lang, source,
           CAST(
             CASE WHEN list_contains(tokens, 'spark')
                   AND list_contains(tokens, 'merge')
                  THEN 2.0 ELSE 0.0 END
           + CASE WHEN source = 'src1' THEN 1.0 ELSE 0.0 END
           AS DOUBLE) AS score
    FROM toks
    WHERE (   (list_contains(tokens, 'spark')
               AND list_contains(tokens, 'merge'))
           OR source = 'src1')
      AND NOT (lang = 'de')
    ORDER BY score DESC, doc_id ASC
    LIMIT 25
    """,
    doc="Lucene query_string front-end: the Kibana-bar syntax "
        "'text:(spark AND merge) OR source:src1 -lang:de' parsed "
        "(plans/query_string.py) onto the same Query tree as the JSON "
        "DSL — grouping, field scoping, AND/OR/NOT precedence, must_not. "
        "Scoring is the engine's constant-weight sum (each matched "
        "positive clause contributes its boost; the AND group sums its "
        "two matches). Same filter -> score -> TakeOrderedAndProject "
        "plan as every search query; the parse is driver-side string "
        "work.",
)
def q_search_query_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    query = parse_query_string(
        "text:(spark AND merge) OR source:src1 -lang:de",
        default_field="text",
        analyzers={"text": "custom_shingles"},
    )
    return search(docs, query, k=25, tiebreak="doc_id").select(
        "doc_id", "lang", "source", "score"
    )


@register(
    "search_simple_query_string",
    oracle=_TOKENS_CTE + """
    SELECT doc_id, lang, source,
           CAST(
             CASE WHEN list_contains(tokens, 'spark')
                   AND list_contains(tokens, 'merge')
                  THEN 2.0 ELSE 0.0 END
           + CASE WHEN list_contains(tokens, 'streaming')
                  THEN 1.0 ELSE 0.0 END
           AS DOUBLE) AS score
    FROM toks
    WHERE (list_contains(tokens, 'spark')
           AND list_contains(tokens, 'merge'))
       OR list_contains(tokens, 'streaming')
    ORDER BY score DESC, doc_id ASC
    LIMIT 25
    """,
    doc="simple_query_string: the never-throws user-facing syntax "
        "'spark + merge | streaming' — '+' AND, '|' OR, left-"
        "associative equal precedence (Lucene SimpleQueryParser's "
        "contract). Malformed input degrades to plain terms instead of "
        "erroring, so the parser is safe on raw user text.",
)
def q_search_simple_query_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    query = parse_simple_query_string(
        "spark + merge | streaming",
        default_field="text",
        analyzers={"text": "custom_shingles"},
    )
    return search(docs, query, k=25, tiebreak="doc_id").select(
        "doc_id", "lang", "source", "score"
    )


@register(
    "percolate_matches",
    oracle=_TOKENS_CTE + """
    SELECT doc_id, 'alert_spark' AS query_id
    FROM toks WHERE list_contains(tokens, 'spark')
    UNION ALL
    SELECT doc_id, 'alert_long_en' FROM documents
    WHERE n_chars > 400 AND lang = 'en'
    UNION ALL
    SELECT doc_id, 'alert_src2_short' FROM documents
    WHERE source = 'src2' AND n_chars < 200
    UNION ALL
    SELECT doc_id, 'alert_langs' FROM documents
    WHERE lang IN ('de', 'fr')
    UNION ALL
    SELECT doc_id, 'alert_src1' FROM documents
    WHERE source LIKE 'src1%'
    """,
    doc="Percolate (reverse search): five stored ES-JSON query artifacts "
        "(match / filtered bool / terms / prefix) matched against every "
        "document in ONE scan — boolean predicate columns folded into an "
        "array_compact + explode, zero shuffle. The ES alerting/routing "
        "primitive: which saved searches does each new document satisfy.",
)
def q_percolate_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    artifacts = {
        "alert_spark": {"query": {"match": {"text": {"query": "spark"}}}},
        "alert_long_en": {"query": {"bool": {"filter": [
            {"range": {"n_chars": {"gt": 400}}},
            {"term": {"lang": "en"}},
        ]}}},
        "alert_src2_short": {"query": {"bool": {
            "must": [{"term": {"source": "src2"}}],
            "filter": [{"range": {"n_chars": {"lt": 200}}}],
        }}},
        "alert_langs": {"query": {"terms": {"lang": ["de", "fr"]}}},
        "alert_src1": {"query": {"prefix": {"source": "src1"}}},
    }
    return percolate_from_json(
        docs, artifacts, analyzers={"text": "custom_shingles"}
    )


@register(
    "es_aggs_multi_terms_mad",
    oracle="""
    SELECT lang || '|' || source AS by_ls,
           CAST(count(*) AS BIGINT) AS doc_count,
           round(mad(n_chars::DOUBLE), 6) AS mad_chars
    FROM documents
    WHERE lang IS NOT NULL AND source IS NOT NULL
    GROUP BY lang, source
    ORDER BY doc_count DESC, by_ls ASC
    LIMIT 10
    """,
    doc="ES multi_terms bucket agg (distinct lang x source combinations, "
        "key rendered as the |-joined key_as_string, terms-order size "
        "truncation) carrying a median_absolute_deviation metric — "
        "evaluated EXACTLY as median(|x - median(x)|) with interpolated "
        "medians over a per-bucket sorted array (DuckDB's mad() "
        "definition), vs ES's t-digest estimate: the documented strictly-"
        "more-accurate divergence. One groupBy; the nested median is "
        "expression-level array math, no second shuffle.",
)
def q_es_aggs_multi_terms_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return es_aggregate(docs, {"by_ls": {
        "multi_terms": {
            "terms": [{"field": "lang"}, {"field": "source"}],
            "size": 10,
        },
        "aggs": {"mad_chars": {
            "median_absolute_deviation": {"field": "n_chars"}}},
    }})


@register(
    "es_aggs_multi_terms_mad_sketch",
    oracle="""
    WITH src AS (
        SELECT lang, source, n_chars::DOUBLE AS x,
               quantile_disc(n_chars::DOUBLE, 0.5)
                   OVER (PARTITION BY lang, source) AS med
        FROM documents
        WHERE lang IS NOT NULL AND source IS NOT NULL
    )
    SELECT lang || '|' || source AS by_ls,
           CAST(count(*) AS BIGINT) AS doc_count,
           round(quantile_disc(abs(x - med), 0.5), 6) AS mad_chars
    FROM src GROUP BY lang, source
    ORDER BY doc_count DESC, by_ls ASC
    LIMIT 10
    """,
    # FULL oracle: in the all-values regime (bucket n <= the GK buffer at accuracy
    # 20000 — provable at every oracle-gated SF; fixture buckets hold
    # 10-112 values) Spark's percentile_approx(0.5) deterministically
    # returns the order statistic at 1-based rank ceil(n/2), which is
    # DuckDB's quantile_disc(0.5) — so sketch median AND sketched
    # deviations replay exactly as discrete quantiles (verified
    # value-equal at sf0.001/0.01/0.1). The COMPRESSED regime (where the
    # replay no longer holds) stays pinned by the Zipf rank-error pytest
    # (test_es_aggs.py::test_mad_zipf_skew_exact_vs_sketch, 20k rows);
    # if fixture buckets ever outgrow the buffer the row fails loudly
    # rather than silently passing.
    doc="The SKEW-SAFE twin of es_aggs_multi_terms_mad: "
        "median_absolute_deviation with ES's compression knob opts "
        "into the sketch path — per-bucket state is two mergeable "
        "quantile summaries (percentile_approx) REGARDLESS of bucket "
        "population, vs the exact path's O(bucket) value buffer (the one "
        "entry that could OOM an executor on a Zipf-skewed bucket key at "
        "100x). Plan: bucket medians via one sketch agg, medians hash-"
        "joined back co-partitioned, deviations sketch-agged, left-joined "
        "onto the bucket relation — three same-key exchanges, all "
        "sketch-sized state.",
)
def q_es_aggs_multi_terms_mad_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return es_aggregate(docs, {"by_ls": {
        "multi_terms": {
            "terms": [{"field": "lang"}, {"field": "source"}],
            "size": 10,
        },
        "aggs": {"mad_chars": {
            "median_absolute_deviation": {"field": "n_chars",
                                          "compression": 200}}},
    }})


# Shared haversine-in-SQL (ES's mean earth radius; operand order mirrors
# plans/search.haversine_sql exactly). The fixtures carry no geographic
# columns, so the geo queries derive a deterministic (lat, lon) pair from
# events — the operator is agnostic to where the degrees came from.
_GEO_CTE = """
    WITH pts AS (
        SELECT event_id, user_id, value,
               (value % 140) - 70 AS lat,
               (user_id * 2.4) - 180 AS lon
        FROM events
    ), d AS (
        SELECT *,
               (2.0 * 6371008.7714) * asin(sqrt(
                   sin(radians(0.0 - lat) / 2) * sin(radians(0.0 - lat) / 2)
                 + cos(radians(lat)) * cos(radians(0.0))
                   * sin(radians(0.0 - lon) / 2) * sin(radians(0.0 - lon) / 2)
               )) AS dist_m
        FROM pts
    )
"""


@register(
    "search_geo_distance",
    oracle=_GEO_CTE + """
    SELECT event_id, user_id
    FROM d
    WHERE dist_m <= 3000000.0
    """,
    doc="ES geo_distance query (the geo family): events within "
        "3000 km of the origin, haversine with ES's mean earth radius as "
        "scan-local JVM math over a numeric degree column pair (no "
        "geo_point type — a pair of doubles IS columnar point storage; "
        "documented divergence). Compiled through from_es_json; the "
        "oracle recomputes the identical formula.",
)
def q_search_geo_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").withColumns({
        "lat": (F.col("value") % 140) - 70,
        "lon": (F.col("user_id") * 2.4) - 180,
    })
    q = from_es_json({"query": {"geo_distance": {
        "distance": "3000km",
        "field": {"lat": "lat", "lon": "lon"},
        "origin": {"lat": 0.0, "lon": 0.0},
    }}})
    return search(events, q, k=None).select("event_id", "user_id")


@register(
    "es_aggs_geo_distance",
    oracle=_GEO_CTE + """
    SELECT CASE WHEN dist_m < 2000000.0 THEN '*-2000000.0'
                WHEN dist_m < 6000000.0 THEN '2000000.0-6000000.0'
                WHEN dist_m < 12000000.0 THEN '6000000.0-12000000.0'
                ELSE 'far' END AS ring,
           CAST(count(*) AS BIGINT) AS doc_count,
           round(avg(value), 6) AS mean_value
    FROM d
    GROUP BY 1
    """,
    doc="ES geo_distance aggregation: concentric distance rings "
        "around an origin, [from, to) meters with range-agg key labels, "
        "carrying a metric. The haversine distance is bound once and the "
        "ring CASE ladder branches on it; one groupBy. ES distance-string "
        "units ('2000km') parse on both the query and agg surfaces.",
)
def q_es_aggs_geo_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").withColumns({
        "lat": (F.col("value") % 140) - 70,
        "lon": (F.col("user_id") * 2.4) - 180,
    })
    out = es_aggregate(events, {"ring": {
        "geo_distance": {
            "field": {"lat": "lat", "lon": "lon"},
            "origin": {"lat": 0.0, "lon": 0.0},
            "ranges": [
                {"to": "2000km"},
                {"from": "2000km", "to": "6000km"},
                {"from": "6000km", "to": "12000km"},
                {"from": "12000km", "key": "far"},
            ],
        },
        "aggs": {"mean_value": {"avg": {"field": "value"}}},
    }})
    return out.select(
        "ring", "doc_count", F.round("mean_value", 6).alias("mean_value")
    )


@register(
    "search_geo_bounding_box",
    oracle="""
    WITH pts AS (
        SELECT event_id, user_id,
               (value % 140) - 70 AS lat,
               (user_id * 2.4) - 180 AS lon
        FROM events
    )
    SELECT event_id, user_id
    FROM pts
    WHERE lat >= -10.0 AND lat <= 40.0
      AND (lon >= 150.0 OR lon <= -120.0)
    """,
    doc="ES geo_bounding_box query: documents inside a degree box "
        "over the numeric degree column pair — and this box CROSSES the "
        "antimeridian (left 150 > right -120), exercising the wrapped "
        "longitude contract (lon >= left OR lon <= right). Pure "
        "scan-local comparisons, pushdown-eligible, compiled through "
        "from_es_json.",
)
def q_search_geo_bounding_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").withColumns({
        "lat": (F.col("value") % 140) - 70,
        "lon": (F.col("user_id") * 2.4) - 180,
    })
    q = from_es_json({"query": {"geo_bounding_box": {
        "field": {"lat": "lat", "lon": "lon"},
        "top_left": {"lat": 40.0, "lon": 150.0},
        "bottom_right": {"lat": -10.0, "lon": -120.0},
    }}})
    return search(events, q, k=None).select("event_id", "user_id")


@register(
    "es_aggs_geotile_grid",
    oracle="""
    WITH pts AS (
        SELECT value,
               (value % 140) - 70 AS lat,
               (user_id * 2.4) - 180 AS lon
        FROM events
    ), t AS (
        SELECT value,
               greatest(least(floor((lon + 180.0) / 360.0 * 16.0), 15), 0)
                   AS x,
               greatest(least(floor(
                   (1.0 - ln(tan(radians(
                        greatest(least(lat, 85.05112878), -85.05112878)))
                      + 1.0 / cos(radians(
                        greatest(least(lat, 85.05112878), -85.05112878))))
                    / pi()) / 2.0 * 16.0), 15), 0) AS y
        FROM pts
    )
    SELECT '4/' || CAST(CAST(x AS BIGINT) AS VARCHAR) || '/'
               || CAST(CAST(y AS BIGINT) AS VARCHAR) AS tile,
           CAST(count(*) AS BIGINT) AS doc_count,
           round(avg(value), 6) AS mean_value
    FROM t
    GROUP BY 1
    """,
    doc="ES geotile_grid bucket agg: Web-Mercator slippy-map tiles "
        "at precision 4, keys 'z/x/y', carrying an avg metric. Latitude "
        "clamps to the Mercator limit (±85.05112878) and x/y clamp to "
        "[0, 2^z−1] — ES's contract for the lon=180/pole edges. The y "
        "formula is written with the exact operation sequence the oracle "
        "mirrors (ln(tan+1/cos), literal π), so tile-boundary floors "
        "agree bit-for-bit. One groupBy on the computed key.",
)
def q_es_aggs_geotile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").withColumns({
        "lat": (F.col("value") % 140) - 70,
        "lon": (F.col("user_id") * 2.4) - 180,
    })
    out = es_aggregate(events, {"tile": {
        "geotile_grid": {"field": {"lat": "lat", "lon": "lon"},
                         "precision": 4},
        "aggs": {"mean_value": {"avg": {"field": "value"}}},
    }})
    return out.select(
        "tile", "doc_count", F.round("mean_value", 6).alias("mean_value")
    )


def _geohash_oracle(p: int) -> str:
    """The geohash interleave arithmetic, mirrored operator-for-operator
    in SQL (like the dHash oracle): quantize, interleave lon-first,
    base32 per 5 bits."""
    total = 5 * p
    n_lon = (total + 1) // 2
    n_lat = total // 2
    terms = []
    for i in range(n_lon):
        terms.append(f"((lonq >> {n_lon - 1 - i}) & 1) "
                     f"* {1 << (total - 1 - 2 * i)}")
    for i in range(n_lat):
        terms.append(f"((latq >> {n_lat - 1 - i}) & 1) "
                     f"* {1 << (total - 2 - 2 * i)}")
    vsum = " + ".join(terms)
    chars = " || ".join(
        f"substr('0123456789bcdefghjkmnpqrstuvwxyz', "
        f"CAST(((v >> {5 * (p - 1 - g)}) & 31) + 1 AS INT), 1)"
        for g in range(p)
    )
    return f"""
    WITH pts AS (
        SELECT value,
               (value % 140) - 70 AS lat,
               (user_id * 2.4) - 180 AS lon
        FROM events
    ), q AS (
        SELECT value,
               CAST(greatest(least(floor((lon + 180.0) / 360.0 *
                    {float(1 << n_lon)}), {(1 << n_lon) - 1}), 0)
                    AS BIGINT) AS lonq,
               CAST(greatest(least(floor((lat + 90.0) / 180.0 *
                    {float(1 << n_lat)}), {(1 << n_lat) - 1}), 0)
                    AS BIGINT) AS latq
        FROM pts
    ), iv AS (
        SELECT value, {vsum} AS v FROM q
    )
    SELECT {chars} AS cell,
           CAST(count(*) AS BIGINT) AS doc_count,
           round(avg(value), 6) AS mean_value
    FROM iv
    GROUP BY 1
    """


@register(
    "es_aggs_geohash_grid",
    oracle=_geohash_oracle(3),
    doc="ES geohash_grid bucket agg: the classic base32 geohash "
        "cell per point at precision 3, carrying an avg metric. A "
        "precision-p hash is 5p bits of alternating lon/lat bisections "
        "— computed CLOSED-FORM (quantize lon to ceil(5p/2) bits, lat "
        "to floor(5p/2), interleave lon-first, base32 per 5 bits), so "
        "the key is one codegen'd JVM bit-math expression with the "
        "interleave bound once; verified against the classic test "
        "vectors (u4pruyd / ezs42) in pytest, and the oracle mirrors "
        "the arithmetic operator-for-operator. One groupBy on the "
        "computed key.",
)
def q_es_aggs_geohash_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").withColumns({
        "lat": (F.col("value") % 140) - 70,
        "lon": (F.col("user_id") * 2.4) - 180,
    })
    out = es_aggregate(events, {"cell": {
        "geohash_grid": {"field": {"lat": "lat", "lon": "lon"},
                         "precision": 3},
        "aggs": {"mean_value": {"avg": {"field": "value"}}},
    }})
    return out.select(
        "cell", "doc_count", F.round("mean_value", 6).alias("mean_value")
    )


_GEO_POLY = [(-60.0, -150.0), (60.0, -150.0), (60.0, 0.0),
             (0.0, -60.0), (60.0, 120.0), (-60.0, 120.0)]


def _geo_polygon_oracle() -> str:
    """Mirror of GeoPolygon's ray-casting parity, edge for edge (same
    literal differences, same division), over the derived degree pair."""
    terms = []
    n = len(_GEO_POLY)
    for i in range(n):
        y1, x1 = _GEO_POLY[i]
        y2, x2 = _GEO_POLY[(i + 1) % n]
        if y1 == y2:
            continue
        terms.append(
            f"CASE WHEN (({y1} > lat) <> ({y2} > lat)) AND "
            f"(lon < ({x2 - x1} * (lat - {y1}) / {y2 - y1} + {x1})) "
            f"THEN 1 ELSE 0 END"
        )
    total = " + ".join(terms)
    return f"""
    WITH pts AS (
        SELECT event_id,
               (value % 140) - 70 AS lat,
               (user_id * 2.4) - 180 AS lon
        FROM events
    )
    SELECT event_id FROM pts
    WHERE lat IS NOT NULL AND lon IS NOT NULL
      AND ({total}) % 2 = 1
    """


@register(
    "search_geo_polygon",
    oracle=_geo_polygon_oracle(),
    doc="ES geo_polygon query: even-odd ray-casting "
        "containment over planar degree coordinates — how ES's legacy "
        "geo_polygon evaluates — against a NON-CONVEX hexagon (a notch "
        "exercises the parity logic). One indicator per edge summed "
        "into a parity test: fixed-size codegen'd scan arithmetic, no "
        "UDF. The oracle replays every edge's crossing formula with "
        "identical literal differences.",
)
def q_search_geo_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").withColumns({
        "lat": (F.col("value") % 140) - 70,
        "lon": (F.col("user_id") * 2.4) - 180,
    })
    query = from_es_json({"query": {"geo_polygon": {
        "field": {"lat": "lat", "lon": "lon"},
        "points": [{"lat": a, "lon": o} for a, o in _GEO_POLY],
    }}})
    return search(events, query, k=None).select("event_id")


@register(
    "es_aggs_geo_line",
    oracle="""
    WITH pts AS (
        SELECT event_type,
               (value % 140) - 70 AS lat,
               (user_id * 2.4) - 180 AS lon,
               epoch(ts) AS s
        FROM events
        WHERE event_type IS NOT NULL
    )
    SELECT event_type AS by_type,
           CAST(count(*) AS BIGINT) AS doc_count,
           array_to_string(list_transform(
             (list(struct_pack(s := s, lon := lon, lat := lat)
                   ORDER BY s, lon, lat))[1:20],
             p -> printf('%.6f %.6f', p.lon, p.lat)), ';') AS track_line,
           count(CASE WHEN lat IS NOT NULL AND lon IS NOT NULL
                      AND s IS NOT NULL THEN 1 END) <= 20 AS track_complete,
           array_to_string(list_transform(
             (list(struct_pack(s := s, lon := lon, lat := lat)
                   ORDER BY s, lon, lat))[1:20],
             p -> printf('%.6f', p.s)), ';') AS track_sort_values
    FROM pts
    GROUP BY 1
    """,
    doc="ES geo_line agg: each bucket's points joined into a "
        "LineString in timestamp order — the track-reconstruction agg. "
        "size=20 truncates after the sort (complete=false when the "
        "bucket holds more); include_sort returns the sort values; "
        "[lon, lat] GeoJSON coordinate order; ties on the sort value "
        "break by (lon, lat) so both engines share one total order. The "
        "oracle replays the ordered-list slice with DuckDB list "
        "aggregates. The coordinate and sort-value arrays are "
        "projected to ';'-joined '%.6f'-formatted strings (C-style "
        "formatting is identical across the JVM and DuckDB; driver "
        "prefix primitive-schema constraint) — the agg itself keeps the "
        "array columns.",
)
def q_es_aggs_geo_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").withColumns({
        "lat": (F.col("value") % 140) - 70,
        "lon": (F.col("user_id") * 2.4) - 180,
        "ts_s": F.col("ts").cast("double"),
    })
    out = es_aggregate(events, {"by_type": {
        "terms": {"field": "event_type"},
        "aggs": {"track": {"geo_line": {
            "point": {"field": {"lat": "lat", "lon": "lon"}},
            "sort": {"field": "ts_s"},
            "include_sort": True, "size": 20,
        }}},
    }})
    return out.select(
        "by_type", "doc_count",
        F.array_join(
            F.transform(
                "track_line",
                lambda p: F.format_string(
                    "%.6f %.6f", F.element_at(p, 1), F.element_at(p, 2)
                ),
            ), ";",
        ).alias("track_line"),
        "track_complete",
        F.array_join(
            F.transform("track_sort_values",
                        lambda s: F.format_string("%.6f", s)), ";",
        ).alias("track_sort_values"),
    )


@register(
    "es_aggs_geo_centroid",
    oracle="""
    WITH pts AS (
        SELECT event_type,
               (value % 140) - 70 AS lat,
               (user_id * 2.4) - 180 AS lon
        FROM events
        WHERE event_type IS NOT NULL
    )
    SELECT event_type AS by_type,
           CAST(count(*) AS BIGINT) AS doc_count,
           round(avg(lat), 6) AS c_lat,
           round(avg(lon), 6) AS c_lon,
           CAST(count(*) AS BIGINT) AS c_count
    FROM pts
    GROUP BY 1
    """,
    doc="ES geo_centroid metric agg under a terms bucket: the "
        "arithmetic mean of each bucket's coordinates (ES's documented "
        "computation) plus the point count, over the degree column "
        "pair; docs missing either coordinate drop out. One groupBy, "
        "three plain aggregates riding the same partial/final plan.",
)
def q_es_aggs_geo_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").withColumns({
        "lat": (F.col("value") % 140) - 70,
        "lon": (F.col("user_id") * 2.4) - 180,
    })
    return es_aggregate(events, {"by_type": {
        "terms": {"field": "event_type"},
        "aggs": {"c": {"geo_centroid": {
            "field": {"lat": "lat", "lon": "lon"}}}},
    }}).select(
        "by_type", "doc_count",
        F.col("c_lat"), F.col("c_lon"), F.col("c_count"),
    )


@register(
    "es_aggs_geo_bounds",
    oracle="""
    WITH pts AS (
        SELECT event_type,
               (value % 140) - 70 AS lat,
               CASE WHEN event_type = 'error'
                    THEN CASE WHEN 170 + (value % 20) > 180
                              THEN 170 + (value % 20) - 360
                              ELSE 170 + (value % 20) END
                    ELSE (user_id * 2.4) - 120 END AS lon
        FROM events
        WHERE event_type IS NOT NULL
    ),
    agg AS (
        SELECT event_type AS by_type,
               CAST(count(*) AS BIGINT) AS doc_count,
               max(lat) AS top_r, min(lat) AS bottom_r,
               min(lon) AS lmin, max(lon) AS lmax,
               min(CASE WHEN lon < 0 THEN lon + 360 ELSE lon END) AS pmin,
               max(CASE WHEN lon < 0 THEN lon + 360 ELSE lon END) AS pmax
        FROM pts GROUP BY 1
    )
    SELECT by_type, doc_count,
           round(top_r, 6) AS box_top,
           round(bottom_r, 6) AS box_bottom,
           round(CASE WHEN (pmax - pmin) < (lmax - lmin)
                      THEN CASE WHEN pmin > 180 THEN pmin - 360 ELSE pmin END
                      ELSE lmin END, 6) AS box_left,
           round(CASE WHEN (pmax - pmin) < (lmax - lmin)
                      THEN CASE WHEN pmax > 180 THEN pmax - 360 ELSE pmax END
                      ELSE lmax END, 6) AS box_right
    FROM agg
    """,
    doc="ES geo_bounds metric agg under a terms bucket: each "
        "bucket's smallest enclosing lat/lon box with ES's default "
        "wrap_longitude=true — the 'error' bucket's longitudes cluster "
        "across the antimeridian so its box crosses (left > right), the "
        "other buckets take the regular box; both candidates come from "
        "min/max aggregates on one shared partial/final plan. The oracle "
        "replays the narrower-width selection arithmetically.",
)
def q_es_aggs_geo_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    wrap_lon = F.lit(170) + (F.col("value") % 20)
    events = load_table(spark, sf_dir, "events").withColumns({
        "lat": (F.col("value") % 140) - 70,
        "lon": F.when(
            F.col("event_type") == "error",
            F.when(wrap_lon > 180, wrap_lon - 360).otherwise(wrap_lon),
        ).otherwise((F.col("user_id") * 2.4) - 120),
    })
    return es_aggregate(events, {"by_type": {
        "terms": {"field": "event_type"},
        "aggs": {"box": {"geo_bounds": {
            "field": {"lat": "lat", "lon": "lon"},
            "wrap_longitude": True,
        }}},
    }})


@register(
    "es_aggs_filters_metrics",
    oracle="""
    SELECT 'big_clicks' AS which,
           CAST(count(*) AS BIGINT) AS doc_count,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
           round(max(value), 6) AS hi
    FROM events WHERE event_type = 'click' AND value > 50
    UNION ALL
    SELECT 'errors', CAST(count(*) AS BIGINT),
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
           round(max(value), 6)
    FROM events WHERE event_type = 'error'
    UNION ALL
    SELECT 'impossible', CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(CAST(value AS DECIMAL(18,2))), 0) AS DOUBLE),
           round(max(value), 6)
    FROM events WHERE event_type = 'no_such_type'
    """,
    doc="ES filters agg with metric sub-aggs: named DSL-predicate "
        "buckets each carrying sum/max metrics — rows tag themselves with "
        "the matching bucket names, one explode + groupBy evaluates every "
        "metric (overlap preserved), and the literal name list left-joins "
        "back so the empty bucket keeps its zero-count row with ES's "
        "empty-bucket metric shape (sum coalesced to 0, max stays NULL). "
        "One scan; the only shuffle keys on the 3 bucket names.",
)
def q_es_aggs_filters_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # decimal sum: order-free across engines (the es_aggs_parent lesson)
    events = events.withColumn(
        "value_dec", F.col("value").cast("decimal(18,2)")
    )
    out = es_aggregate(events, {"which": {
        "filters": {"filters": {
            "big_clicks": {"bool": {"filter": [
                {"term": {"event_type": "click"}},
                {"range": {"value": {"gt": 50}}},
            ]}},
            "errors": {"term": {"event_type": "error"}},
            "impossible": {"term": {"event_type": "no_such_type"}},
        }},
        "aggs": {"total": {"sum": {"field": "value_dec"}},
                 "hi": {"max": {"field": "value"}}},
    }})
    return out.select(
        "which", "doc_count",
        F.col("total").cast("double").alias("total"),
        F.round("hi", 6).alias("hi"),
    )


@register(
    "es_rank_eval_ndcg",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    ),
    ratings(request_id, doc_id, rating) AS (VALUES
        ('q_spark', 1, 3), ('q_spark', 2, 1), ('q_spark', 7, 2),
        ('q_spark', 12, 0), ('q_spark', 400, 2),
        ('q_src1', 3, 2), ('q_src1', 5, 1), ('q_src1', 9, 1),
        ('q_src1', 401, 3)
    ),
    h1 AS (
        SELECT 'q_spark' AS request_id, doc_id,
               row_number() OVER (ORDER BY doc_id ASC) AS rank
        FROM toks WHERE list_contains(t, 'spark')
        QUALIFY rank <= 10
    ),
    h2 AS (
        SELECT 'q_src1' AS request_id, doc_id,
               row_number() OVER (ORDER BY doc_id ASC) AS rank
        FROM toks WHERE source = 'src1'
        QUALIFY rank <= 10
    ),
    hits AS (SELECT * FROM h1 UNION ALL SELECT * FROM h2),
    dcg AS (
        SELECT h.request_id,
               sum((pow(2.0, r.rating) - 1.0) / log2(h.rank + 1.0)) AS d
        FROM hits h JOIN ratings r
          ON h.request_id = r.request_id AND h.doc_id = r.doc_id
        GROUP BY 1
    ),
    ideal AS (
        SELECT request_id,
               sum((pow(2.0, rating) - 1.0) / log2(rn + 1.0)) AS i
        FROM (
            SELECT request_id, rating, doc_id,
                   row_number() OVER (
                     PARTITION BY request_id
                     ORDER BY rating DESC, doc_id ASC) AS rn
            FROM ratings
        ) WHERE rn <= 10
        GROUP BY 1
    )
    SELECT q.request_id,
           round(coalesce(d, 0.0) / i, 6) AS metric_score
    FROM (VALUES ('q_spark'), ('q_src1')) q(request_id)
    LEFT JOIN dcg ON q.request_id = dcg.request_id
    LEFT JOIN ideal ON q.request_id = ideal.request_id
    ORDER BY q.request_id
    """,
    doc="ES _rank_eval: NDCG@10 of two DSL queries against literal "
        "relevance judgments — the search-quality/retrieval-evaluation "
        "API. Each request's leg is an already-truncated top-k "
        "(TakeOrderedAndProject through the shared search plan), the "
        "rank window runs over k-sized legs, the judgment list "
        "broadcasts. Constant-score matches rank by the doc_id tiebreak, "
        "so the oracle reproduces the exact ranking and the full "
        "(2^rating−1)/log2(rank+1) arithmetic, ideal-DCG normalization "
        "included.",
)
def q_es_rank_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    body = {
        "requests": [
            {"id": "q_spark",
             "request": {"query": {"match": {"text": "spark"}}},
             "ratings": [{"_id": 1, "rating": 3}, {"_id": 2, "rating": 1},
                         {"_id": 7, "rating": 2}, {"_id": 12, "rating": 0},
                         {"_id": 400, "rating": 2}]},
            {"id": "q_src1",
             "request": {"query": {"term": {"source": "src1"}}},
             "ratings": [{"_id": 3, "rating": 2}, {"_id": 5, "rating": 1},
                         {"_id": 9, "rating": 1}, {"_id": 401, "rating": 3}]},
        ],
        "metric": {"dcg": {"k": 10, "normalize": True}},
    }
    return es_rank_eval(docs, body, analyzers={"text": "standard"})


@register(
    "es_rank_eval_err",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    ),
    ratings(request_id, doc_id, rating) AS (VALUES
        ('q_spark', 1, 3), ('q_spark', 2, 1), ('q_spark', 7, 2),
        ('q_spark', 12, 0), ('q_spark', 400, 2),
        ('q_src1', 3, 2), ('q_src1', 5, 1), ('q_src1', 9, 1),
        ('q_src1', 401, 3)
    ),
    h1 AS (
        SELECT 'q_spark' AS request_id, doc_id,
               row_number() OVER (ORDER BY doc_id ASC) AS rank
        FROM toks WHERE list_contains(t, 'spark')
        QUALIFY rank <= 10
    ),
    h2 AS (
        SELECT 'q_src1' AS request_id, doc_id,
               row_number() OVER (ORDER BY doc_id ASC) AS rank
        FROM toks WHERE source = 'src1'
        QUALIFY rank <= 10
    ),
    hits AS (SELECT * FROM h1 UNION ALL SELECT * FROM h2),
    rated AS (
        SELECT h.request_id, h.rank,
               (pow(2.0, r.rating) - 1.0) / 8.0 AS rr
        FROM hits h JOIN ratings r
          ON h.request_id = r.request_id AND h.doc_id = r.doc_id
    ),
    surv AS (
        SELECT request_id, rank, rr,
               coalesce(product(1.0 - rr) OVER (
                   PARTITION BY request_id ORDER BY rank
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 1.0) AS p
        FROM rated
    ),
    err AS (
        SELECT request_id, sum(rr / rank * p) AS e
        FROM surv GROUP BY request_id
    )
    SELECT q.request_id, round(coalesce(e, 0.0), 6) AS metric_score
    FROM (VALUES ('q_spark'), ('q_src1')) q(request_id)
    LEFT JOIN err ON q.request_id = err.request_id
    ORDER BY q.request_id
    """,
    doc="ES _rank_eval expected_reciprocal_rank (completing the "
        "metric set): the Chapelle cascade model — "
        "sum (1/r)*R_r*prod(1-R_i) over rated hits in rank order, "
        "R = (2^rating-1)/2^max_relevance (=3 here). Unrated hits have "
        "R=0 and survive the cascade untouched, so only rated hits fold "
        "— one bounded array aggregate per k-sized request leg. The "
        "oracle replays the identical cascade with DuckDB's product() "
        "window over the same ascending rank order (bit-identical "
        "multiply sequence).",
)
def q_es_rank_eval_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    body = {
        "requests": [
            {"id": "q_spark",
             "request": {"query": {"match": {"text": "spark"}}},
             "ratings": [{"_id": 1, "rating": 3}, {"_id": 2, "rating": 1},
                         {"_id": 7, "rating": 2}, {"_id": 12, "rating": 0},
                         {"_id": 400, "rating": 2}]},
            {"id": "q_src1",
             "request": {"query": {"term": {"source": "src1"}}},
             "ratings": [{"_id": 3, "rating": 2}, {"_id": 5, "rating": 1},
                         {"_id": 9, "rating": 1}, {"_id": 401, "rating": 3}]},
        ],
        "metric": {"expected_reciprocal_rank": {"k": 10,
                                                "maximum_relevance": 3}},
    }
    return es_rank_eval(docs, body, analyzers={"text": "standard"})


@register(
    "es_aggs_rare_terms",
    oracle="""
    SELECT o_custkey AS by_cust,
           CAST(count(*) AS BIGINT) AS doc_count,
           round(max(o_totalprice), 6) AS top_order
    FROM orders
    GROUP BY 1
    HAVING count(*) <= 3
    ORDER BY doc_count ASC, by_cust ASC
    """,
    doc="ES rare_terms bucket agg: the LONG TAIL — customers with at "
        "most 3 orders, rarest first, carrying a metric. ES bounds memory "
        "with a CuckooFilter and documents false negatives; this engine "
        "evaluates the tail EXACTLY from the same one-groupBy relation "
        "terms uses (global counts, no per-shard approximation) — the "
        "documented strictly-more-accurate divergence.",
)
def q_es_aggs_rare_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    out = es_aggregate(orders, {"by_cust": {
        "rare_terms": {"field": "o_custkey", "max_doc_count": 3},
        "aggs": {"top_order": {"max": {"field": "o_totalprice"}}},
    }})
    return out.select(
        "by_cust", "doc_count", F.round("top_order", 6).alias("top_order")
    )


@register(
    "es_aggs_inference",
    oracle="""
    WITH b AS (
        SELECT event_type AS by_type,
               CAST(count(*) AS BIGINT) AS doc_count,
               avg(value) AS avg_value
        FROM events
        WHERE event_type IS NOT NULL
        GROUP BY 1
    ),
    m AS (
        SELECT by_type, doc_count, avg_value,
               1.0 / (1.0 + exp(-(-2.0 + 0.08 * avg_value
                                  + 0.00002 * doc_count))) AS p
        FROM b
    )
    SELECT by_type, doc_count, round(avg_value, 6) AS avg_value,
           round(p, 6) AS score_prediction_probability,
           CAST(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS INT) AS score
    FROM m
    ORDER BY by_type
    """,
    doc="ES inference pipeline agg: run a trained model over each "
        "bucket's metrics (features = buckets_path). ES resolves "
        "model_id from its ML store; the engine takes the trained "
        "parameters inline (documented divergence), here a logistic "
        "model over (avg value, bucket count) — emits ES's "
        "predicted-value/prediction-probability pair per bucket. The "
        "model math runs coordinator-side over the reduced bucket "
        "relation, exactly like bucket_script.",
)
def q_es_aggs_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    out = es_aggregate(events, {"by_type": {
        "terms": {"field": "event_type", "size": 100},
        "aggs": {
            "avg_value": {"avg": {"field": "value"}},
            "score": {"inference": {
                "buckets_path": {"v": "avg_value", "n": "_count"},
                "model": {"type": "classification",
                          "weights": {"v": 0.08, "n": 0.00002},
                          "intercept": -2.0},
            }},
        },
    }})
    return out.select(
        "by_type", "doc_count",
        F.round("avg_value", 6).alias("avg_value"),
        F.round("score_prediction_probability", 6)
        .alias("score_prediction_probability"),
        "score",
    ).orderBy("by_type")


@register(
    "es_aggs_time_series",
    oracle="""
    WITH src AS (
        SELECT event_type,
               'd' || CAST(user_id % 4 AS VARCHAR) AS device,
               value
        FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL
    )
    SELECT event_type, device,
           CAST(count(*) AS BIGINT) AS doc_count,
           round(avg(value), 6) AS avg_value,
           round(max(value), 6) AS peak
    FROM src
    GROUP BY event_type, device
    ORDER BY event_type ASC, device ASC
    LIMIT 15
    """,
    doc="ES time_series agg (TSDB indices, 8.7+): one bucket per unique "
        "time series — the distinct dimension combination (_tsid) — with "
        "metric sub-aggs per series and a size cap. Dimensions are "
        "explicit parameters here (ES reads them from the TSDB mapping; "
        "raw parquet has none) and buckets order by the dimension tuple "
        "(ES orders by the opaque _tsid hash — not reproducible across "
        "engines). Plan: one hash aggregation on the compound key + "
        "TakeOrderedAndProject for the cap, the terms shape.",
)
def q_es_aggs_time_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").withColumn(
        "device", F.concat(F.lit("d"), (F.col("user_id") % 4).cast("string"))
    )
    out = es_aggregate(events, {"series": {
        "time_series": {"dimensions": ["event_type", "device"], "size": 15},
        "aggs": {
            "avg_value": {"avg": {"field": "value"}},
            "peak": {"max": {"field": "value"}},
        },
    }})
    return out.select(
        "event_type", "device", "doc_count",
        F.round("avg_value", 6).alias("avg_value"),
        F.round("peak", 6).alias("peak"),
    )


@register(
    "es_aggs_boxplot",
    oracle="""
    SELECT lang AS by_lang,
           CAST(count(*) AS BIGINT) AS doc_count,
           CAST(min(n_chars) AS DOUBLE) AS len_min,
           CAST(max(n_chars) AS DOUBLE) AS len_max,
           round(quantile_cont(n_chars, 0.25), 6) AS len_q1,
           round(quantile_cont(n_chars, 0.50), 6) AS len_q2,
           round(quantile_cont(n_chars, 0.75), 6) AS len_q3
    FROM documents
    WHERE lang IS NOT NULL
    GROUP BY 1
    """,
    doc="ES boxplot metric agg per terms bucket: min/max + exact "
        "interpolated quartiles of document length by language — ES "
        "estimates the quartiles with t-digest, this engine evaluates "
        "them exactly (quantile_cont definition, oracle bit-for-bit at "
        "6 dp), the same documented strictly-more-accurate divergence as "
        "percentiles. One groupBy, built-in JVM aggregates.",
)
def q_es_aggs_boxplot(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = es_aggregate(docs, {"by_lang": {
        "terms": {"field": "lang"},
        "aggs": {"len": {"boxplot": {"field": "n_chars"}}},
    }})
    return out.select(
        "by_lang", "doc_count", "len_min", "len_max",
        "len_q1", "len_q2", "len_q3",
    )


@register(
    "es_aggs_top_metrics",
    oracle="""
    SELECT event_type AS by_type,
           CAST(count(*) AS BIGINT) AS doc_count,
           round(arg_max(value, ts), 6) AS latest_value,
           round(arg_min(value, ts), 6) AS first_value
    FROM events
    WHERE event_type IS NOT NULL
    GROUP BY 1
    """,
    doc="ES top_metrics agg: the metric's value AT the bucket's "
        "top-sorted document — 'the value at the latest timestamp' "
        "without a top_hits payload. size=1 compiles to max_by/min_by, "
        "a single JVM aggregate in the same partial/final hash plan (ES "
        "keeps a per-shard top-1 buffer; same state, engine-native). "
        "Deterministic here: ts is unique in the fixture; DuckDB mirrors "
        "via arg_max/arg_min.",
)
def q_es_aggs_top_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    out = es_aggregate(events, {"by_type": {
        "terms": {"field": "event_type"},
        "aggs": {
            "latest": {"top_metrics": {"metrics": {"field": "value"},
                                       "sort": {"ts": "desc"}}},
            "first": {"top_metrics": {"metrics": {"field": "value"},
                                      "sort": {"ts": "asc"}}},
        },
    }})
    return out.select(
        "by_type", "doc_count",
        F.round("latest_value", 6).alias("latest_value"),
        F.round("first_value", 6).alias("first_value"),
    )


@register(
    "es_aggs_top_metrics_multi",
    oracle="""
    WITH ranked AS (
        SELECT event_type, value, ts,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY ts DESC, value DESC
               ) AS rn
        FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
    )
    SELECT event_type AS by_type,
           (SELECT CAST(count(*) AS BIGINT) FROM events e
            WHERE e.event_type = ranked.event_type) AS doc_count,
           max(CASE WHEN rn = 1 THEN round(value, 6) END) AS recent_value_1,
           max(CASE WHEN rn = 2 THEN round(value, 6) END) AS recent_value_2,
           max(CASE WHEN rn = 3 THEN round(value, 6) END) AS recent_value_3
    FROM ranked WHERE rn <= 3
    GROUP BY event_type
    """,
    doc="ES top_metrics with size>1: the metric's values at the bucket's top-3 "
        "documents by sort field. One shared collect buffer per bucket "
        "(Spark dedups equal aggregate functions), sorted and sliced to "
        "size — per-bucket memory O(bucket) before the slice, acceptable "
        "because ES caps size at 10. Sort ties break by the metric "
        "values themselves (deterministic, mirrored in the oracle's "
        "window ORDER BY). The top-3 array is projected to per-rank "
        "PRIMITIVE columns recent_value_1..3 (driver prefix constraint — "
        "tests/test_plans.py primitive-schema guard; the array form "
        "stays exercised via the plan itself).",
)
def q_es_aggs_top_metrics_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    out = es_aggregate(events, {"by_type": {
        "terms": {"field": "event_type"},
        "aggs": {"recent": {"top_metrics": {
            "metrics": {"field": "value"},
            "sort": {"ts": "desc"},
            "size": 3,
        }}},
    }})
    rounded = F.transform("recent_value", lambda v: F.round(v, 6))
    return out.select(
        "by_type", "doc_count",
        *[F.element_at(rounded, i).alias(f"recent_value_{i}")
          for i in (1, 2, 3)],
    )


@register(
    "es_aggs_string_stats",
    oracle="""
    WITH chars AS (
        SELECT lang, unnest(string_split(source, '')) AS ch
        FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
    ), ent AS (
        SELECT lang, round(entropy(ch), 6) AS src_entropy
        FROM chars GROUP BY lang
    ), base AS (
        SELECT lang AS by_lang,
               CAST(count(*) AS BIGINT) AS doc_count,
               CAST(count(source) AS BIGINT) AS src_count,
               CAST(min(length(source)) AS INTEGER) AS src_min_length,
               CAST(max(length(source)) AS INTEGER) AS src_max_length,
               round(avg(length(source)), 6) AS src_avg_length
        FROM documents WHERE lang IS NOT NULL GROUP BY lang
    )
    SELECT base.*, ent.src_entropy
    FROM base JOIN ent ON base.by_lang = ent.lang
    """,
    doc="ES string_stats metric under a terms bucket: count, min/max/avg "
        "term length, and the char-level Shannon entropy (log2) — exact, "
        "via one per-bucket char-array aggregate (ES computes the same "
        "quantity from its own char histogram). Oracle cross-checks "
        "entropy against DuckDB's entropy() over exploded chars.",
)
def q_es_aggs_string_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return es_aggregate(docs, {"by_lang": {
        "terms": {"field": "lang"},
        "aggs": {"src": {"string_stats": {"field": "source"}}},
    }})


@register(
    "es_aggs_rate_serial_diff",
    oracle="""
    WITH daily AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS daily,
               CAST(count(*) AS BIGINT) AS doc_count,
               round(count(*) / 24.0, 6) AS per_hour,
               round(sum(value) / 24.0, 6) AS value_per_hour
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    )
    SELECT daily, doc_count, per_hour, value_per_hour,
           doc_count - lag(doc_count, 7) OVER (ORDER BY daily ASC) AS wow
    FROM daily
    """,
    doc="ES rate metric (bucket-width-normalized doc_count and sum(value) "
        "to per-hour under a daily date_histogram — pure arithmetic on "
        "the fixed bucket width) + serial_diff pipeline (lag-7 "
        "difference, the week-over-week deseasonalizer; NULL for the "
        "first 7 buckets, ES's gap contract). The window runs over the "
        "REDUCED bucket relation — coordinator-side shape, not corpus "
        "work.",
)
def q_es_aggs_rate_serial_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return es_aggregate(events, {"daily": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {
            "per_hour": {"rate": {"unit": "hour"}},
            "value_per_hour": {"rate": {"field": "value", "unit": "hour"}},
            "wow": {"serial_diff": {"buckets_path": "_count", "lag": 7}},
        },
    }})


@register(
    "es_aggs_auto_date_histogram",
    oracle="""
    WITH span AS (
        SELECT epoch(max(ts)) - epoch(min(ts)) AS s FROM events
    ), rung AS (
        SELECT min(r) AS secs
        FROM (VALUES (1),(5),(10),(30),(60),(300),(600),(1800),(3600),
                     (10800),(43200),(86400),(604800),(2592000),(7776000)
             ) t(r), span
        WHERE span.s / r + 1 <= 8
    ), pick AS (
        SELECT COALESCE(secs, 7776000) AS secs FROM rung
    )
    SELECT strftime(to_timestamp(CAST(floor(epoch(ts) / pick.secs) AS BIGINT)
                                 * pick.secs),
                    '%Y-%m-%d %H:%M:%S') AS auto,
           CAST(count(*) AS BIGINT) AS doc_count,
           pick.secs::VARCHAR || 's' AS interval
    FROM events, pick
    WHERE ts IS NOT NULL
    GROUP BY 1, 3
    """,
    doc="ES auto_date_histogram: the engine picks the interval so the "
        "bucket count fits the target (8) — span probed via a bounded "
        "1-row driver aggregate, then the smallest fixed-width ladder "
        "rung that covers it (ES's calendar month/year rungs replaced by "
        "30d/90d fixed widths — documented divergence keeping the key a "
        "portable epoch-floor). The ORACLE replays the same ladder pick "
        "in SQL, so the entry stays correct under fixture regeneration "
        "with a different time span.",
)
def q_es_aggs_auto_date_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return es_aggregate(events, {"auto": {
        "auto_date_histogram": {"field": "ts", "buckets": 8},
    }})


@register(
    "es_aggs_sibling_stats",
    oracle="""
    WITH daily AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS daily,
               CAST(count(*) AS BIGINT) AS doc_count
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ), sib AS (
        SELECT CAST(count(doc_count) AS BIGINT) AS sb_count,
               round(min(doc_count::DOUBLE), 6) AS sb_min,
               round(max(doc_count::DOUBLE), 6) AS sb_max,
               round(avg(doc_count::DOUBLE), 6) AS sb_avg,
               round(sum(doc_count::DOUBLE), 6) AS sb_sum,
               round(quantile_cont(doc_count::DOUBLE, 0.5), 6) AS pb_p50,
               round(quantile_cont(doc_count::DOUBLE, 0.9), 6) AS pb_p90
        FROM daily
    )
    SELECT daily.*, sib.* FROM daily, sib
    """,
    doc="ES sibling pipeline aggs stats_bucket (five flattened "
        "{name}_{stat} scalars) + percentiles_bucket (exact interpolated "
        "percentiles — ES itself is exact here, the bucket list is "
        "coordinator-side) over a daily histogram's doc_counts, "
        "annotating every bucket row via the 1-row broadcast cross join.",
)
def q_es_aggs_sibling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return es_aggregate(events, {
        "daily": {"date_histogram": {"field": "ts",
                                     "calendar_interval": "day"}},
        "sb": {"stats_bucket": {"buckets_path": "daily>_count"}},
        "pb": {"percentiles_bucket": {"buckets_path": "daily>_count",
                                      "percents": [50, 90]}},
    })


@register(
    "es_aggs_extended_stats_bucket",
    oracle="""
    WITH daily AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS daily,
               CAST(count(*) AS BIGINT) AS doc_count
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ), sib AS (
        SELECT CAST(count(doc_count) AS BIGINT) AS xb_count,
               round(min(doc_count::DOUBLE), 6) AS xb_min,
               round(max(doc_count::DOUBLE), 6) AS xb_max,
               round(avg(doc_count::DOUBLE), 6) AS xb_avg,
               round(sum(doc_count::DOUBLE), 6) AS xb_sum,
               round(sum(doc_count::DOUBLE * doc_count::DOUBLE), 6)
                   AS xb_sum_of_squares,
               round(var_pop(doc_count::DOUBLE), 6) AS xb_variance,
               round(stddev_pop(doc_count::DOUBLE), 6) AS xb_std_deviation,
               round(avg(doc_count::DOUBLE)
                     + 2.0 * stddev_pop(doc_count::DOUBLE), 6)
                   AS xb_std_upper,
               round(avg(doc_count::DOUBLE)
                     - 2.0 * stddev_pop(doc_count::DOUBLE), 6)
                   AS xb_std_lower
        FROM daily
    )
    SELECT daily.*, sib.* FROM daily, sib
    """,
    doc="ES extended_stats_bucket sibling pipeline: the "
        "stats_bucket set plus sum_of_squares, POPULATION variance and "
        "std-deviation, and avg ± sigma·std bounds (sigma=2 default) "
        "over a daily histogram's doc_counts — flattened {name}_{stat} "
        "scalars annotated onto every bucket via the 1-row broadcast "
        "cross join (the coordinator-side reduction's distributed twin).",
)
def q_es_aggs_extended_stats_bucket(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return es_aggregate(events, {
        "daily": {"date_histogram": {"field": "ts",
                                     "calendar_interval": "day"}},
        "xb": {"extended_stats_bucket": {"buckets_path": "daily>_count"}},
    })


@register(
    "es_aggs_ip_prefix",
    oracle="""
    WITH ips AS (
        SELECT '10.' || CAST((user_id // 256) % 256 AS VARCHAR) || '.' ||
               CAST(user_id % 256 AS VARCHAR) || '.' ||
               CAST((user_id * 7) % 256 AS VARCHAR) AS ip,
               value
        FROM events
    ),
    parsed AS (
        SELECT CASE WHEN regexp_matches(ip,
                   '^((25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])$')
               THEN CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216
                  + CAST(string_split(ip, '.')[2] AS BIGINT) * 65536
                  + CAST(string_split(ip, '.')[3] AS BIGINT) * 256
                  + CAST(string_split(ip, '.')[4] AS BIGINT)
               END AS ipn, value
        FROM ips
    ),
    nets AS (
        SELECT (ipn // 4096) * 4096 AS net, value
        FROM parsed WHERE ipn IS NOT NULL
    )
    SELECT CAST(net // 16777216 AS VARCHAR) || '.' ||
           CAST((net // 65536) % 256 AS VARCHAR) || '.' ||
           CAST((net // 256) % 256 AS VARCHAR) || '.' ||
           CAST(net % 256 AS VARCHAR) || '/20' AS by_prefix,
           CAST(count(*) AS BIGINT) AS doc_count,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM nets
    GROUP BY 1
    """,
    doc="ES ip_prefix agg: bucket by the /N IPv4 network prefix — "
        "the unbounded-cardinality sibling of ip_range (buckets come "
        "from the data; one hash aggregation, validate-regex + integer "
        "//-and-% octet arithmetic bound once, no UDF; the oracle "
        "mirrors the arithmetic operator for operator, /20 width 4096). "
        "append_prefix_length renders ES's '/N'-suffixed response keys; "
        "IPv6 raises loudly.",
)
def q_es_aggs_ip_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: the fixture parquet is one row group = one input split, so
    # without it the octet arithmetic + bucket-key render runs partial-agg
    # on a single core (no-op on a many-split production scan).
    events = fan_out(
        load_table(spark, sf_dir, "events").select("user_id", "value")
    ).withColumn(
        "ip",
        F.concat_ws(
            ".",
            F.lit("10"),
            (F.expr("user_id DIV 256") % 256).cast("string"),
            (F.col("user_id") % 256).cast("string"),
            ((F.col("user_id") * 7) % 256).cast("string"),
        ),
    )
    # Sum over DECIMAL(18,2) on both engines — the raw double sum's
    # ~1e-10 summation-order noise is order-dependent at full precision
    # (the es_aggs_parent driver-hash lesson, applied fleet-wide); exact
    # decimal accumulation is order-free, one cast back keeps the schema.
    events = events.withColumn("value", F.col("value").cast("decimal(18,2)"))
    return es_aggregate(events, {"by_prefix": {
        "ip_prefix": {"field": "ip", "prefix_length": 20,
                      "append_prefix_length": True},
        "aggs": {"total": {"sum": {"field": "value"}}},
    }}).withColumn("total", F.col("total").cast("double"))


_V6_COMPRESS = "key"
for _n in range(2, 9):  # longest run wins: wrap ascending, outer = longer
    _p = "'^(.*?)(^|:)0(:0){%d}(:|$)'" % (_n - 1)
    _V6_COMPRESS = (
        f"CASE WHEN regexp_matches(key, {_p}) "
        f"THEN regexp_replace(key, {_p}, '\\1::') ELSE {_V6_COMPRESS} END"
    )


@register(
    "es_aggs_ip_prefix_v6",
    oracle=f"""
    WITH src AS (
        SELECT CASE
                 WHEN user_id % 37 = 0 THEN '2001:::db8'      -- malformed
                 WHEN user_id % 41 = 0 THEN '10.0.0.1'        -- IPv4
                 ELSE printf('2001:db8:%x:0:%x:0:0:%x',
                             (user_id * 40503) % 65536, (user_id * 31) % 65536,
                             CAST(floor(value) AS BIGINT) % 7)
               END AS ip6,
               value
        FROM events
    ),
    masked AS (
        -- /68 = groups 1-4 full + top 4 bits of group 5; groups 6-8
        -- zero. Malformed/IPv4 rows drop (no bucket), mirroring the
        -- engine's NULL-key policy.
        SELECT printf('2001:db8:%x:0:%x:0:0:0',
                      (user_id * 40503) % 65536,
                      (((user_id * 31) % 65536) // 4096) * 4096) AS key,
               value
        FROM events
        WHERE user_id % 37 <> 0 AND user_id % 41 <> 0
    ),
    comp AS (SELECT {_V6_COMPRESS} AS ckey, value FROM masked)
    SELECT ckey || '/68' AS by_prefix,
           CAST(count(*) AS BIGINT) AS doc_count,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM comp GROUP BY 1
    """,
    doc="ES ip_prefix agg with is_ipv6: "
        "bucket by the /N IPv6 network prefix. The address parses to "
        "its eight 16-bit groups ('::'-expanding pure-Catalyst parse, "
        "functions/ip.py), is masked GROUP-WISE at /68 (full groups "
        "pass, the partial group //-and-* shifts — no 128-bit integers "
        "anywhere), and renders back in RFC 5952 canonical form "
        "(lowercase hex, longest zero run compressed to '::', leftmost "
        "on ties) via an anchored lazy-prefix regexp cascade that both "
        "engines replay identically (Spark regexp_replace replaces ALL "
        "matches, DuckDB the first — the ^ anchor makes them agree). "
        "Malformed and IPv4 strings key to NULL and fall in no bucket. "
        "The oracle reconstructs the masked groups from the same base "
        "columns and replays the render; the PARSE path is pinned "
        "separately against Python ipaddress in tests/test_es_aggs.py.",
)
def q_es_aggs_ip_prefix_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    uid = F.col("user_id")
    # fan_out: single-row-group fixture → one split; the '::'-expanding
    # parse + group-wise mask + RFC 5952 render is the most expression-
    # heavy agg key in the registry and must not run on one core.
    events = fan_out(
        load_table(spark, sf_dir, "events").select("user_id", "value")
    ).withColumn(
        "ip6",
        F.when(uid % 37 == 0, F.lit("2001:::db8"))
        .when(uid % 41 == 0, F.lit("10.0.0.1"))
        .otherwise(F.format_string(
            "2001:db8:%x:0:%x:0:0:%x",
            (uid * 40503) % 65536, (uid * 31) % 65536,
            F.floor("value").cast("long") % 7,
        )),
    )
    # decimal sum: order-free across engines (the es_aggs_parent lesson);
    # cast AFTER ip6 so floor(value) above still sees the raw double
    events = events.withColumn("value", F.col("value").cast("decimal(18,2)"))
    out = es_aggregate(events, {"by_prefix": {
        "ip_prefix": {"field": "ip6", "prefix_length": 68,
                      "is_ipv6": True, "append_prefix_length": True},
        "aggs": {"total": {"sum": {"field": "value"}}},
    }}).withColumn("total", F.col("total").cast("double"))
    return out  # malformed rows already dropped (engine null contract)


@register(
    "search_terms_set",
    oracle=_TOKENS_CTE + """
    SELECT doc_id, lang,
           CAST(  CASE WHEN list_contains(tokens, 'spark') THEN 1 ELSE 0 END
                + CASE WHEN list_contains(tokens, 'merge') THEN 1 ELSE 0 END
                + CASE WHEN list_contains(tokens, 'stream') THEN 1 ELSE 0 END
                + CASE WHEN list_contains(tokens, 'data') THEN 1 ELSE 0 END
             AS INT) AS n_matched
    FROM toks
    WHERE   CASE WHEN list_contains(tokens, 'spark') THEN 1 ELSE 0 END
          + CASE WHEN list_contains(tokens, 'merge') THEN 1 ELSE 0 END
          + CASE WHEN list_contains(tokens, 'stream') THEN 1 ELSE 0 END
          + CASE WHEN list_contains(tokens, 'data') THEN 1 ELSE 0 END >= 2
    """,
    doc="ES terms_set query: a document matches when at least N of the "
        "supplied terms appear in its token array (N constant here; the "
        "per-document minimum_should_match_field variant is unit-tested) "
        "— a sum of array_contains indicators compared against the "
        "bound, codegen'd arithmetic riding the scan.",
)
def q_search_terms_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    terms = ["spark", "merge", "stream", "data"]
    # pinned: the filter predicate and the n_matched projection both read
    # toks — unpinned, the pushed filter re-evaluates the analyzer chain
    # below the scan projection (two ArrowEvalPython nodes, guide §4.4)
    toked = docs.withColumn(
        "toks", pin_computed(analyze(F.col("text"), "custom_shingles"))
    )
    q = TermsSet("toks", terms, minimum_should_match=2)
    matched = sum(
        (F.array_contains("toks", t).cast("int") for t in terms),
        start=F.lit(0),
    )
    return (
        toked.filter(q.predicate(spark))
        .select("doc_id", "lang", matched.alias("n_matched"))
    )


@register(
    "es_aggs_diversified_sampler",
    oracle="""
    WITH capped AS (
        SELECT doc_id, lang, n_chars, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id ASC) AS rk
        FROM documents WHERE source IS NOT NULL
    ), sample AS (
        SELECT * FROM capped WHERE rk <= 2
        ORDER BY n_chars DESC, doc_id ASC LIMIT 50
    )
    SELECT lang AS by_lang,
           CAST(count(*) AS BIGINT) AS doc_count,
           round(avg(n_chars), 6) AS mean_chars
    FROM sample WHERE lang IS NOT NULL GROUP BY lang
    """,
    doc="ES diversified_sampler: sub-aggs over the top-50 longest docs "
        "with AT MOST 2 per source — the de-biasing sampler (a dominant "
        "source cannot swamp the sample). Engine divergence, documented: "
        "an explicit sort_field+tiebreak replaces ES's internal "
        "relevance order, making the sample reproducible across engines. "
        "Plan: window rank riding one exchange on the diversity key, "
        "TakeOrdered sample, then ordinary agg machinery over 50 rows.",
)
def q_es_aggs_diversified_sampler(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return es_aggregate(docs, {"sample": {
        "diversified_sampler": {
            "field": "source", "max_docs_per_value": 2,
            "shard_size": 50, "sort_field": "n_chars",
            "tiebreak_field": "doc_id",
        },
        "aggs": {"by_lang": {
            "terms": {"field": "lang"},
            "aggs": {"mean_chars": {"avg": {"field": "n_chars"}}},
        }},
    }}).withColumn("mean_chars", F.round("mean_chars", 6))


_WORDS_CTE = """
    WITH toks AS (
        SELECT doc_id, lang, source, n_chars,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    )
"""


@register(
    "search_rank_feature_prefix",
    oracle=_WORDS_CTE + """
    SELECT doc_id, n_chars,
           round(2.0 * (n_chars / (n_chars + 500.0)), 6) AS score
    FROM toks
    WHERE position(chr(1) || 'spark' || chr(1) || 'mer'
                   IN chr(1) || array_to_string(t, chr(1)) || chr(1)) > 0
      AND n_chars > 0
    ORDER BY score DESC, doc_id ASC
    LIMIT 20
    """,
    doc="ES match_phrase_prefix (search-as-you-type: 'spark mer' matches "
        "'spark' followed by any token starting 'mer' — the NUL-joined "
        "containment with the trailing sentinel dropped) filtered, scored "
        "by rank_feature saturation (boost * x/(x+pivot) over n_chars — "
        "the popularity/freshness feature fold). Both compiled from the "
        "JSON artifact; pure scan arithmetic + TakeOrderedAndProject.",
)
def q_search_rank_feature_prefix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    dsl = {"query": {"bool": {
        "should": [{
            "query": {"rank_feature": {
                "field": "n_chars",
                "saturation": {"pivot": 500},
                "boost": 2.0,
            }},
            "weight": 1,
        }],
        "filter": [
            {"match_phrase_prefix": {"text": {"query": "spark mer"}}},
        ],
    }}}
    query = from_es_json(dsl, analyzers={"text": "standard"})
    return (
        search(docs, query, k=20, tiebreak="doc_id")
        .select("doc_id", "n_chars", F.round("score", 6).alias("score"))
    )


@register(
    "search_match_bool_prefix",
    oracle=_WORDS_CTE + """
    SELECT doc_id, lang
    FROM toks
    WHERE list_contains(t, 'spark')
      AND len(list_filter(t, x -> x LIKE 'mer%')) > 0
    """,
    doc="ES match_bool_prefix (operator=and): every analyzed term present "
        "except the last, which matches as a token PREFIX anywhere — the "
        "position-free type-ahead. An exists(startswith) HOF + "
        "array_contains conjunction riding the scan.",
)
def q_search_match_bool_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    q = MatchBoolPrefix("text", "spark mer", analyzer="standard",
                        operator="and")
    return docs.filter(q.predicate(spark)).select("doc_id", "lang")


@register(
    "es_aggs_percentiles_tdigest",
    # The approx_distinct_profile contract pattern — sketch values
    # are engine-specific, so the hash-checkable surface is (exact
    # percentiles, within-bound booleans): the query still DRIVES the
    # tdigest/percentile_approx path and asserts each sketch value lands
    # within 5% of the group's p50..p99 spread of the exact percentile
    # (the test_tdigest_percentiles_within_rank_error bound, now
    # driver-verified); the oracle recomputes the exact side and pins
    # the booleans TRUE.
    oracle="""
    SELECT event_type AS by_type,
           CAST(count(value) AS BIGINT) AS doc_count,
           round(quantile_cont(value, 0.50), 6) AS p50_exact,
           round(quantile_cont(value, 0.90), 6) AS p90_exact,
           round(quantile_cont(value, 0.99), 6) AS p99_exact,
           true AS p50_ok, true AS p90_ok, true AS p99_ok
    FROM events
    WHERE event_type IS NOT NULL AND value IS NOT NULL
    GROUP BY 1
    """,
    doc="Percentiles via the SKETCH path (ES tdigest option -> "
        "percentile_approx, a Greenwald-Khanna summary): bounded-memory, "
        "executor-MERGEABLE per-group state — the 100 TB shape, where the "
        "exact form's per-group value buffer is the scale limit. Driver "
        "contract: exact percentiles (cross-engine, quantile_cont "
        "interpolation) plus within-bound booleans computed against the "
        "engine's own sketch values — the GK rank-error bound is "
        "hash-verified, the sketch values stay engine-side.",
)
def q_es_aggs_percentiles_tdigest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    spec = {"field": "value", "percents": [50, 90, 99]}
    approx = es_aggregate(events, {"by_type": {
        "terms": {"field": "event_type", "size": 10000},
        "aggs": {"a": {"percentiles": {
            **spec, "tdigest": {"compression": 100},
        }}},
    }}).select("by_type", "a_p50", "a_p90", "a_p99")
    exact = es_aggregate(events, {"by_type": {
        "terms": {"field": "event_type", "size": 10000},
        "aggs": {"e": {"percentiles": spec}},
    }})
    j = exact.join(approx, "by_type")
    spread = F.abs(F.col("e_p99") - F.col("e_p50")) + F.lit(1e-9)

    def ok(p: str) -> F.Column:
        return (
            F.abs(F.col(f"a_{p}") - F.col(f"e_{p}"))
            <= 0.05 * spread + F.lit(1e-6)
        ).alias(f"{p}_ok")

    return j.select(
        "by_type",
        F.col("doc_count").cast("bigint").alias("doc_count"),
        F.round("e_p50", 6).alias("p50_exact"),
        F.round("e_p90", 6).alias("p90_exact"),
        F.round("e_p99", 6).alias("p99_exact"),
        ok("p50"), ok("p90"), ok("p99"),
    )


@register(
    "search_explain_parts",
    oracle=_TOKENS_CTE + """
    SELECT doc_id,
           CAST(CASE WHEN list_has_any(tokens, ['spark', 'merge', 'sparkmerge'])
                     THEN 5.0 ELSE 0.0 END AS DOUBLE) AS part_match,
           CAST(CASE WHEN source = 'src1' THEN 2.0 ELSE 0.0 END
                AS DOUBLE) AS part_term,
           CAST(CASE WHEN list_has_any(tokens, ['spark', 'merge', 'sparkmerge'])
                     THEN 5.0 ELSE 0.0 END
              + CASE WHEN source = 'src1' THEN 2.0 ELSE 0.0 END
                AS DOUBLE) AS score
    FROM toks
    WHERE lang = 'en'
    """,
    doc="ES _explain analogue: the reference query's score returned WITH "
        "its labeled per-clause breakdown (score_parts walks the same "
        "tree the score compiles from, so components always sum to the "
        "score — pinned here by the oracle re-deriving both components "
        "AND the total independently). Pure expression work on the same "
        "scan as search().",
)
def q_search_explain_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    q = Bool(
        should=[
            (Match("text", "spark merge", analyzer="custom_shingles"), 5.0),
            (Term("source", "src1"), 2.0),
        ],
        filter=[Term("lang", "en")],
    )
    out = explain_score(docs, q)
    return out.select(
        "doc_id",
        F.col("score_parts")["should[0]:Match"].alias("part_match"),
        F.col("score_parts")["should[1]:Term"].alias("part_term"),
        "score",
    )


@register(
    "es_aggs_significant_chi2",
    oracle="""
    WITH g AS (
        SELECT lang,
               CAST(sum(CASE WHEN n_chars > 400 THEN 1 ELSE 0 END)
                    AS BIGINT) AS doc_count,
               CAST(count(*) AS BIGINT) AS bg_count
        FROM documents WHERE lang IS NOT NULL GROUP BY lang
    ), t AS (
        SELECT *,
               CAST(sum(doc_count) OVER () AS DOUBLE) AS fg_total,
               CAST(sum(bg_count) OVER () AS DOUBLE) AS bg_total
        FROM g
    )
    SELECT lang AS by_lang, doc_count, bg_count,
           round(
             CASE WHEN CAST(doc_count AS DOUBLE) / fg_total
                       < CAST(bg_count AS DOUBLE) / bg_total
                  THEN -1.0 ELSE 1.0 END
             * bg_total
             * ((doc_count * (bg_total - bg_count - (fg_total - doc_count))
                 - (bg_count - doc_count) * (fg_total - doc_count)) ^ 2)
             / ((doc_count + (bg_count - doc_count))
                * (doc_count + (fg_total - doc_count))
                * ((bg_count - doc_count)
                   + (bg_total - bg_count - (fg_total - doc_count)))
                * ((fg_total - doc_count)
                   + (bg_total - bg_count - (fg_total - doc_count)))),
             6) AS score
    FROM t
    WHERE doc_count > 0
    ORDER BY score DESC, by_lang ASC
    LIMIT 5
    """,
    doc="significant_terms with the chi_square heuristic (ES's selectable "
        "significance scoring — jlh/mutual_information/chi_square share "
        "one ranking tail): which languages are over-represented among "
        "long documents, scored by the chi-squared statistic over the 2x2 "
        "contingency table. Same one-scan conditional aggregation as the "
        "JLH form; the oracle re-derives the full chi-squared arithmetic "
        "independently.",
)
def q_es_aggs_significant_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return es_request(docs, {
        "query": {"range": {"n_chars": {"gt": 400}}},
        "aggs": {"by_lang": {"significant_terms": {
            "field": "lang", "size": 5, "chi_square": {},
        }}},
    })


@register(
    "es_aggs_significant_gnd",
    oracle="""
    WITH g AS (
        SELECT lang,
               CAST(sum(CASE WHEN n_chars > 400 THEN 1 ELSE 0 END)
                    AS BIGINT) AS doc_count,
               CAST(count(*) AS BIGINT) AS bg_count
        FROM documents WHERE lang IS NOT NULL GROUP BY lang
    ), t AS (
        SELECT *,
               CAST(sum(doc_count) OVER () AS DOUBLE) AS fg_total,
               CAST(sum(bg_count) OVER () AS DOUBLE) AS bg_total
        FROM g
    )
    SELECT lang AS by_lang, doc_count, bg_count,
           round(
             CASE WHEN doc_count > 0 AND bg_count > 0 AND fg_total > 0
                       AND bg_total > 0
                       AND (ln(bg_total)
                            - least(ln(CAST(bg_count AS DOUBLE)),
                                    ln(fg_total))) > 0
             THEN exp(-(
                    (greatest(ln(CAST(bg_count AS DOUBLE)), ln(fg_total))
                     - ln(CAST(doc_count AS DOUBLE)))
                    / (ln(bg_total)
                       - least(ln(CAST(bg_count AS DOUBLE)), ln(fg_total)))))
             ELSE 0.0 END,
             6) AS score
    FROM t
    WHERE doc_count > 0
    ORDER BY score DESC, by_lang ASC
    LIMIT 5
    """,
    doc="significant_terms with the gnd heuristic (the last named "
        "significance heuristic): Google Normalized Distance (Cilibrasi & "
        "Vitányi 2007) between the term and the foreground, scored as "
        "exp(-NGD) so smaller distance ranks first. Same one-scan "
        "conditional aggregation; the oracle re-derives the full NGD "
        "arithmetic independently.",
)
def q_es_aggs_significant_gnd(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return es_request(docs, {
        "query": {"range": {"n_chars": {"gt": 400}}},
        "aggs": {"by_lang": {"significant_terms": {
            "field": "lang", "size": 5, "gnd": {},
        }}},
    })


@register(
    "es_aggs_significant_script",
    oracle="""
    WITH g AS (
        SELECT lang,
               CAST(sum(CASE WHEN n_chars > 400 THEN 1 ELSE 0 END)
                    AS BIGINT) AS doc_count,
               CAST(count(*) AS BIGINT) AS bg_count
        FROM documents WHERE lang IS NOT NULL GROUP BY lang
    ), t AS (
        SELECT *,
               CAST(sum(doc_count) OVER () AS DOUBLE) AS fg_total,
               CAST(sum(bg_count) OVER () AS DOUBLE) AS bg_total
        FROM g
    )
    SELECT lang AS by_lang, doc_count, bg_count,
           round(
             (CAST(doc_count AS DOUBLE) / CAST(bg_count AS DOUBLE))
             * (CAST(doc_count AS DOUBLE) / fg_total),
             6) AS score
    FROM t
    WHERE doc_count > 0
    ORDER BY score DESC, by_lang ASC
    LIMIT 5
    """,
    doc="significant_terms with a USER-SUPPLIED script_heuristic (ES's "
        "escape hatch for custom significance formulas): the script sees "
        "ES's four frequency variables (params._subset_freq/"
        "_superset_freq/_subset_size/_superset_size) and compiles ONCE "
        "through the Painless-subset compiler to a Catalyst expression "
        "over the reduced bucket relation — codegen'd bucket arithmetic, "
        "vs ES's per-bucket script interpreter. The formula here "
        "(precision x foreground-recall) is re-derived by the oracle.",
)
def q_es_aggs_significant_script(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return es_request(docs, {
        "query": {"range": {"n_chars": {"gt": 400}}},
        "aggs": {"by_lang": {"significant_terms": {
            "field": "lang", "size": 5,
            "script_heuristic": {"script": {
                "source": "(params._subset_freq / params._superset_freq)"
                          " * (params._subset_freq / params._subset_size)",
            }},
        }}},
    })


@register(
    "es_request_runtime_field",
    oracle="""
    WITH rt AS (
        SELECT event_type, value * value AS value_sq
        FROM events
    )
    SELECT event_type AS by_type,
           CAST(count(*) AS BIGINT) AS doc_count,
           round(avg(value_sq), 6) AS mean_sq
    FROM rt
    WHERE value_sq > 900 AND event_type IS NOT NULL
    GROUP BY 1
    """,
    doc="ES runtime fields (runtime_mappings in the request): a "
        "schema-on-read column defined by a Painless-subset script, "
        "visible to the query filter AND the aggregation like any mapped "
        "field — compiled ONCE to a Catalyst expression attached before "
        "query compilation, so the filter rides the scan predicate "
        "pipeline (vs ES's per-doc script evaluation).",
)
def q_es_request_runtime_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    out = es_request(events, {
        "runtime_mappings": {
            "value_sq": {"type": "double",
                         "script": "doc['value'].value * doc['value'].value"},
        },
        "query": {"range": {"value_sq": {"gt": 900}}},
        "aggs": {"by_type": {
            "terms": {"field": "event_type"},
            "aggs": {"mean_sq": {"avg": {"field": "value_sq"}}},
        }},
    })
    return out.withColumn("mean_sq", F.round("mean_sq", 6))


@register(
    "es_termvectors",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents WHERE doc_id % 151 = 0
    ), pos AS (
        SELECT doc_id, t[i] AS term, CAST(i - 1 AS INT) AS position
        FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
    )
    SELECT doc_id, term,
           CAST(count(*) AS BIGINT) AS term_freq,
           array_to_string(list_sort(list(position)), ',') AS positions
    FROM pos GROUP BY doc_id, term
    """,
    doc="ES _termvectors: per-document term frequency + positions from "
        "the analyzed token stream — one posexplode + groupBy, the "
        "keyword-extraction/relevance-debugging API. The oracle rebuilds "
        "positions independently via an unnest-with-ordinality walk. "
        "Positions are projected to a comma-joined string (verified "
        "rows need primitive schemas); the API itself keeps the "
        "array<int> column.",
)
def q_es_termvectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents")).filter(
        F.col("doc_id") % 151 == 0
    )
    tv = es_termvectors(docs, analyzer="standard")
    return tv.withColumn(
        "positions",
        F.array_join(F.transform("positions", lambda p: p.cast("string")),
                     ","),
    )


@register(
    "es_mget",
    oracle="""
    WITH req(ord, _id) AS (
        VALUES (0, 3), (1, 987654321), (2, 7), (3, 3), (4, 42)
    )
    SELECT CAST(req.ord AS BIGINT) AS ord,
           CAST(req._id AS BIGINT) AS _id,
           d.doc_id IS NOT NULL AS found,
           d.lang, d.n_chars
    FROM req LEFT JOIN documents d ON d.doc_id = req._id
    """,
    doc="ES _mget: batched point lookups — one BROADCAST hash join of "
        "the tiny literal id relation against the corpus (pushdown-"
        "eligible, never N point queries), request order preserved, "
        "duplicate ids allowed, missing ids kept with found=false and "
        "NULL _source fields (ES's response contract). _source "
        "filtering selects lang/n_chars only.",
)
def q_es_mget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return es_mget(
        docs, [3, 987654321, 7, 3, 42], source=["lang", "n_chars"]
    )


@register(
    "search_pinned_distance",
    oracle="""
    WITH scored AS (
        -- rank by the UNROUNDED score (the engine's order), round only
        -- the output: rounding before ORDER BY could flip ties at the
        -- top-k boundary
        SELECT event_id, user_id,
               CASE
                 WHEN event_id = 77 THEN 1000000002.0
                 WHEN event_id = 3  THEN 1000000001.0
                 ELSE 1.5 * 86400.0
                      / (86400.0
                         + abs(epoch(ts)
                               - epoch(TIMESTAMP '2024-01-15 00:00:00')))
               END AS raw_score
        FROM events
        WHERE event_id IN (77, 3) OR ts IS NOT NULL
        ORDER BY raw_score DESC, event_id ASC
        LIMIT 20
    )
    SELECT event_id, user_id, round(raw_score, 6) AS score FROM scored
    """,
    doc="ES pinned + distance_feature: ids 77 and 3 promoted to the top "
        "(descending constant ladder above any organic score), organic "
        "results ranked by timestamp PROXIMITY to Jan 15 (the recency "
        "boost: boost * pivot/(pivot + |ts - origin|), pivot = 1 day). "
        "Pure CASE/abs arithmetic riding the scan; "
        "TakeOrderedAndProject.",
)
def q_search_pinned_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    origin = datetime.datetime(2024, 1, 15, tzinfo=datetime.timezone.utc).timestamp()
    q = Pinned(
        ids=[77, 3],
        organic=DistanceFeature(
            "ts", origin=origin, pivot=86400.0, boost=1.5,
        ),
        id_field="event_id",
    )
    return (
        search(events, q, k=20, tiebreak="event_id")
        .select("event_id", "user_id", F.round("score", 6).alias("score"))
    )


@register(
    "search_has_child",
    oracle="""
    WITH kids AS (
        SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS n
        FROM lineitem WHERE l_quantity > 45
        GROUP BY 1 HAVING count(*) >= 3
    )
    SELECT o.o_orderkey, o.o_orderstatus, CAST(k.n AS DOUBLE) AS score
    FROM orders o JOIN kids k ON o.o_orderkey = k.k
    """,
    doc="ES has_child query (plans/joinfield.py): orders having "
        ">= 3 lineitems matching a child range query, score_mode=sum "
        "folding the constant-score children (= matching-child count). "
        "The child side aggregates BEFORE the join — map-side partial "
        "count, one shuffle on the key, one row per qualifying parent — "
        "never the child fan-out; ES runs the same join per shard "
        "against the join-field doc values.",
)
def q_search_has_child(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return has_child(
        orders, lineitem,
        parent_key="o_orderkey", child_key="l_orderkey",
        query={"range": {"l_quantity": {"gt": 45}}},
        score_mode="sum", min_children=3,
    ).select("o_orderkey", "o_orderstatus", "score")


@register(
    "search_has_parent",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_quantity >= 49
      AND l_orderkey IN (SELECT o_orderkey FROM orders
                         WHERE o_orderstatus = 'F')
    """,
    doc="ES has_parent query (plans/joinfield.py): lineitems whose "
        "parent order matches a term query, score=false — a LEFT SEMI "
        "join (only child columns move; the parent side carries just its "
        "key). The child-side quantity filter rides the parquet scan.",
)
def q_search_has_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") >= 49
    )
    return has_parent(
        lineitem, orders,
        parent_key="o_orderkey", child_key="l_orderkey",
        query={"term": {"o_orderstatus": "F"}},
    ).select("l_orderkey", "l_linenumber", "l_quantity")


@register(
    "es_aggs_cumulative_cardinality",
    oracle="""
    WITH b AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS by_day,
               user_id
        FROM events WHERE ts IS NOT NULL
    ),
    per AS (
        SELECT by_day, CAST(count(*) AS BIGINT) AS doc_count,
               CAST(count(DISTINCT user_id) AS BIGINT) AS day_users
        FROM b GROUP BY 1
    ),
    firsts AS (
        SELECT user_id, min(by_day) AS by_day
        FROM b WHERE user_id IS NOT NULL GROUP BY 1
    ),
    news AS (SELECT by_day, count(*) AS n FROM firsts GROUP BY 1)
    SELECT p.by_day, p.doc_count, p.day_users,
           CAST(sum(coalesce(n.n, 0)) OVER (
               ORDER BY p.by_day ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS total_users
    FROM per p LEFT JOIN news n USING (by_day)
    """,
    doc="ES cumulative_cardinality pipeline agg: distinct users "
        "seen up to each day bucket. Distinct counts don't sum, so the "
        "engine uses the exact first-seen decomposition — one extra "
        "groupBy(user) -> min(bucket) over the same scan, a bucket-sized "
        "join, and a running sum over the ordered bucket relation — "
        "instead of ES's per-bucket HLL-sketch merge (documented "
        "strictly-more-accurate divergence, same as cardinality).",
)
def q_es_aggs_cumulative_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return es_aggregate(events, {"by_day": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {
            "day_users": {"cardinality": {"field": "user_id"}},
            "total_users": {"cumulative_cardinality":
                            {"buckets_path": "day_users"}},
        },
    }})


# combined_fields oracle: the BM25F formula recomputed entirely in SQL from
# the same standard tokens of the two fields (head = first 80 chars ^2,
# text ^1): tf/dl are weighted sums across fields, df is the exact
# union-df, k1=1.2, b=0.75.
_CF_TF = {
    t: (f"(CAST(len(list_filter(ht, x -> x = '{t}')) AS DOUBLE) * 2.0 + "
        f"CAST(len(list_filter(tt, x -> x = '{t}')) AS DOUBLE) * 1.0)")
    for t in ("spark", "merge")
}
_CF_DL = ("(CAST(len(ht) AS DOUBLE) * 2.0 + "
          "CAST(len(tt) AS DOUBLE) * 1.0)")
_CF_SCORE = " + ".join(
    f"""ln(1.0 + (s.n - d.df_{t} + 0.5)/(d.df_{t} + 0.5))
        * ({_CF_TF[t]} * 2.2)
        / ({_CF_TF[t]} + 1.2 * (0.25 + 0.75 * {_CF_DL} / s.avgdl))"""
    for t in ("spark", "merge")
)


_CF_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id,
               list_transform(list_filter(
                   regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                   x -> x <> ''), x -> lower(x)) AS tt,
               list_transform(list_filter(
                   regexp_split_to_array(substr(text, 1, 80),
                                         '[^a-zA-Z0-9'']+'),
                   x -> x <> ''), x -> lower(x)) AS ht
        FROM documents
    ),
    stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n, avg({_CF_DL}) AS avgdl
        FROM toks
    ),
    dfs AS (
        SELECT
          CAST(sum(CASE WHEN list_contains(ht, 'spark')
                          OR list_contains(tt, 'spark')
                   THEN 1 ELSE 0 END) AS DOUBLE) AS df_spark,
          CAST(sum(CASE WHEN list_contains(ht, 'merge')
                          OR list_contains(tt, 'merge')
                   THEN 1 ELSE 0 END) AS DOUBLE) AS df_merge
        FROM toks
    )
    SELECT doc_id, round({_CF_SCORE}, 6) AS score
    FROM toks, stats s, dfs d
    WHERE list_contains(ht, 'spark') OR list_contains(tt, 'spark')
       OR list_contains(ht, 'merge') OR list_contains(tt, 'merge')
    """


@register(
    "search_combined_fields",
    oracle=_CF_ORACLE,
    doc="ES combined_fields query: BM25F — the fields fused into "
        "ONE pseudo-field before scoring (tf and doc length are weighted "
        "sums across fields, idf uses the exact union document frequency "
        "— Lucene's CombinedFieldQuery approximates that df from merged "
        "per-field term stats; the scan-side union is exact, documented). "
        "Through the JSON front-end with a corpus_bm25_provider; "
        "per-doc math is JVM expressions, stats one aggregation job.",
)
def q_search_combined_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents")).withColumn(
        "head", F.substring("text", 1, 80)
    )
    docs = materialize_tokens(
        docs, {"text": ["standard"], "head": ["standard"]}
    )
    query = from_es_json(
        {"combined_fields": {
            "query": "spark merge",
            "fields": ["head^2", "text"],
        }},
        analyzers={"text": "standard", "head": "standard"},
        tokens_cols={"text": "text__standard", "head": "head__standard"},
        bm25_stats_for=corpus_bm25_provider(spark, docs),
    )
    return search(docs, query, k=None).select(
        "doc_id", F.round("score", 6).alias("score")
    )


@register(
    "search_template",
    oracle="""
    SELECT event_type AS by_type, CAST(count(*) AS BIGINT) AS doc_count,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events
    WHERE event_type IN ('click', 'error') AND value >= 10
    GROUP BY 1
    """,
    doc="ES search templates (plans/templates.py): a mustache "
        "source rendered against params — {{#toJson}} injects the terms "
        "list, a truthy section splices the optional range clause, scalar "
        "{{min_value}} interpolates — then parsed and executed through "
        "the ordinary es_request front-end (render is driver-side string "
        "work; the plan is identical to writing the JSON by hand).",
)
def q_search_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    source = """
    {
      "query": {"bool": {"filter": [
        {"terms": {"event_type": {{#toJson}}types{{/toJson}}}}
        {{#min_value}}, {"range": {"value": {"gte": {{min_value}}}}}{{/min_value}}
      ]}},
      "aggs": {"by_type": {
        "terms": {"field": "event_type"},
        "aggs": {"total": {"sum": {"field": "value_dec"}}}
      }}
    }
    """
    request = render_search_template(
        source, {"types": ["click", "error"], "min_value": 10}
    )
    events = load_table(spark, sf_dir, "events")
    # decimal sum on a SEPARATE column: order-free across engines (the
    # es_aggs_parent lesson) while the range filter stays on the raw
    # double `value` so the parquet scan still gets the pushdown
    events = events.withColumn(
        "value_dec", F.col("value").cast("decimal(18,2)")
    )
    return es_request(events, request).withColumn(
        "total", F.col("total").cast("double")
    )


# Mustache LIST ITERATION through the `_msearch/template` surface: one
# template, two param sets; {{#langs}} repeats a term clause per element
# ({{.}} = the element), the never-matching sentinel term keeps the JSON
# array comma-valid (a bool.should ignores a clause that matches nothing).
_MST_LIST_SRC = (
    '{"query": {"bool": {"should": ['
    '{{#langs}}{"term": {"lang": "{{.}}"}},{{/langs}}'
    '{"term": {"lang": "__none__"}}]}}, '
    '"sort": [{"doc_id": "asc"}], "size": {{size}}{{^size}}100000{{/size}}, '
    '"_source": ["doc_id", "lang"]}'
)


@register(
    "msearch_template_list",
    oracle="""
    SELECT 0 AS req, doc_id, lang FROM documents WHERE lang IN ('en', 'de')
    UNION ALL
    SELECT 1 AS req, doc_id, lang FROM documents WHERE lang = 'fr'
    """,
    doc="ES _msearch/template with a LIST param (plans/templates.py "
        "mustache iteration): {{#langs}}...{{.}}...{{/langs}} "
        "expands one term clause per element into a bool.should "
        "(implicit minimum_should_match=1), rendered per batch entry and "
        "executed through the ordinary msearch/es_request path; results "
        "union with their request ordinal — the gather half of ES's "
        "msearch envelope as one DataFrame.",
)
def q_msearch_template_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    frames = es_msearch_template(docs, [
        (_MST_LIST_SRC, {"langs": ["en", "de"]}),
        (_MST_LIST_SRC, {"langs": ["fr"]}),
    ])
    out = None
    for i, f in enumerate(frames):
        g = f.select(F.lit(i).alias("req"), "doc_id", "lang")
        out = g if out is None else out.unionByName(g)
    return out


@register(
    "es_aggs_ip_range",
    oracle="""
    WITH ips AS (
        SELECT '10.' || CAST((user_id // 256) % 256 AS VARCHAR) || '.' ||
               CAST(user_id % 256 AS VARCHAR) || '.' ||
               CAST((user_id * 7) % 256 AS VARCHAR) AS ip,
               value
        FROM events
    ),
    parsed AS (
        SELECT CASE WHEN regexp_matches(ip,
                   '^((25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])$')
               THEN CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216
                  + CAST(string_split(ip, '.')[2] AS BIGINT) * 65536
                  + CAST(string_split(ip, '.')[3] AS BIGINT) * 256
                  + CAST(string_split(ip, '.')[4] AS BIGINT)
               END AS ipn, value
        FROM ips
    )
    SELECT CASE WHEN ipn < 167903232 THEN '*-10.2.0.0'
                WHEN ipn < 168034304 THEN '10.2.0.0-10.4.0.0'
                ELSE '10.4.0.0/15' END AS by_ip,
           CAST(count(*) AS BIGINT) AS doc_count,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM parsed
    WHERE ipn IS NOT NULL AND ipn < 168165376
    GROUP BY 1
    """,
    doc="ES ip_range agg: [from, to) IPv4 buckets (from/to "
        "addresses + a CIDR mask). Addresses compile to integer bounds "
        "at plan time; per-row work is one validating regex + 4-octet "
        "arithmetic, scan-local and codegen'd. The oracle re-parses the "
        "same derived address strings with mirrored arithmetic "
        "(167903232 = 10.2.0.0, 168034304 = 10.4.0.0, /15 width "
        "131072).",
)
def q_es_aggs_ip_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: same single-split fixture rationale as ip_prefix.
    events = fan_out(
        load_table(spark, sf_dir, "events").select("user_id", "value")
    ).withColumn(
        "ip",
        F.concat_ws(
            ".",
            F.lit("10"),
            (F.expr("user_id DIV 256") % 256).cast("string"),
            (F.col("user_id") % 256).cast("string"),
            ((F.col("user_id") * 7) % 256).cast("string"),
        ),
    )
    # decimal sum: order-free across engines (the es_aggs_parent lesson)
    events = events.withColumn("value", F.col("value").cast("decimal(18,2)"))
    return es_aggregate(events, {"by_ip": {
        "ip_range": {"field": "ip", "ranges": [
            {"to": "10.2.0.0"},
            {"from": "10.2.0.0", "to": "10.4.0.0"},
            {"mask": "10.4.0.0/15"},
        ]},
        "aggs": {"total": {"sum": {"field": "value"}}},
    }}).withColumn("total", F.col("total").cast("double"))


@register(
    "es_aggs_ip_range_v6",
    # The engine compares GROUP-WISE (eight 16-bit longs, lexicographic
    # when-chain); the oracle deliberately uses a DIFFERENT mechanism —
    # one HUGEINT (128-bit) value per address — so agreement checks the
    # comparison logic itself, not a replay of it. Our 2001:db8::/32
    # addresses stay far below 2^127, so signed HUGEINT holds them.
    oracle="""
    WITH src AS (
        SELECT CAST(8193 AS HUGEINT) * 5192296858534827628530496329220096
             + CAST(3512 AS HUGEINT) * 79228162514264337593543950336
             + CAST((user_id * 40503) % 65536 AS HUGEINT)
               * 1208925819614629174706176
             + CAST((user_id * 31) % 65536 AS HUGEINT) * 281474976710656
             + CAST(CAST(floor(value) AS BIGINT) % 7 AS HUGEINT) AS v,
             value
        FROM events
        WHERE user_id % 37 <> 0 AND user_id % 41 <> 0
    ),
    based AS (
        SELECT v, value,
               CAST(8193 AS HUGEINT)
               * 5192296858534827628530496329220096
             + CAST(3512 AS HUGEINT)
               * 79228162514264337593543950336 AS base,
               CAST(1208925819614629174706176 AS HUGEINT) AS g3w
        FROM src
    )
    SELECT CASE WHEN v < base + 16384 * g3w THEN 'low'
                WHEN v < base + 32768 * g3w THEN 'mid'
                WHEN v < base + 49152 * g3w THEN '2001:db8:8000::/34'
                ELSE 'high' END AS by_ip,
           CAST(count(*) AS BIGINT) AS doc_count,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM based
    GROUP BY 1
    """,
    doc="ES ip_range agg over IPv6: "
        "[from, to) buckets whose bounds compile to eight 16-bit group "
        "constants at plan time; per-row work is the shared "
        "'::'-expanding parse (functions/ip.py, bound once) plus a "
        "group-wise lexicographic when-chain per bound — scan-local, "
        "codegen'd, no 128-bit integers in the engine. Malformed and "
        "IPv4 strings land in no bucket. The oracle compares via a "
        "single DuckDB HUGEINT per address — an independent 128-bit "
        "mechanism, not a replay of the group arithmetic.",
)
def q_es_aggs_ip_range_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    uid = F.col("user_id")
    # fan_out: same single-split fixture rationale as ip_prefix_v6 —
    # the group-wise lexicographic range compare binds the parsed
    # array<long> key per row and must spread over the cores.
    events = fan_out(
        load_table(spark, sf_dir, "events").select("user_id", "value")
    ).withColumn(
        "ip6",
        F.when(uid % 37 == 0, F.lit("2001:::db8"))
        .when(uid % 41 == 0, F.lit("10.0.0.1"))
        .otherwise(F.format_string(
            "2001:db8:%x:0:%x:0:0:%x",
            (uid * 40503) % 65536, (uid * 31) % 65536,
            F.floor("value").cast("long") % 7,
        )),
    )
    # decimal sum: order-free across engines (the es_aggs_parent lesson);
    # cast AFTER ip6 so floor(value) above still sees the raw double
    events = events.withColumn("value", F.col("value").cast("decimal(18,2)"))
    out = es_aggregate(events, {"by_ip": {
        "ip_range": {"field": "ip6", "ranges": [
            {"to": "2001:db8:4000::", "key": "low"},
            {"from": "2001:db8:4000::", "to": "2001:db8:8000::",
             "key": "mid"},
            {"mask": "2001:db8:8000::/34"},
            {"from": "2001:db8:c000::", "key": "high"},
        ]},
        "aggs": {"total": {"sum": {"field": "value"}}},
    }}).withColumn("total", F.col("total").cast("double"))
    return out  # malformed rows already dropped (engine null contract)


@register(
    "es_aggs_adjacency_nested_terms",
    oracle="""
    WITH f AS (
        SELECT event_type, value,
               value >= 60 AS big,
               user_id < 60 AS busy,
               event_type IN ('click', 'purchase') AS clicky
        FROM events
    ),
    cells AS (
        SELECT 'big' AS by_adj, event_type, value FROM f WHERE big
        UNION ALL SELECT 'busy', event_type, value FROM f WHERE busy
        UNION ALL SELECT 'clicky', event_type, value FROM f WHERE clicky
        UNION ALL SELECT 'big&busy', event_type, value FROM f
            WHERE big AND busy
        UNION ALL SELECT 'big&clicky', event_type, value FROM f
            WHERE big AND clicky
        UNION ALL SELECT 'busy&clicky', event_type, value FROM f
            WHERE busy AND clicky
    )
    SELECT by_adj, event_type AS types,
           CAST(count(*) AS BIGINT) AS doc_count,
           round(avg(value), 6) AS avg_val
    FROM cells WHERE event_type IS NOT NULL
    GROUP BY 1, 2
    """,
    doc="ES adjacency_matrix with a nested BUCKET sub-agg: each row "
        "explodes on "
        "the cells it matches — singles plus sorted-name '&' pair "
        "intersections — and ONE (cell, inner-key) groupBy evaluates "
        "the inner terms bucket with its avg metric: the flattened "
        "two-level leaf relation, same shape as the generic "
        "terms-under-terms path (plans/aggs.py _tagged_nested_bucket, "
        "shared with the filters agg). Scan-local tagging; the only "
        "shuffle is the final two-key hash aggregation.",
)
def q_es_aggs_adjacency_nested_terms(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    out = es_aggregate(events, {"by_adj": {
        "adjacency_matrix": {"filters": {
            "big": {"range": {"value": {"gte": 60}}},
            "busy": {"range": {"user_id": {"lt": 60}}},
            "clicky": {"terms": {"event_type": ["click", "purchase"]}},
        }},
        "aggs": {"types": {
            "terms": {"field": "event_type"},
            "aggs": {"avg_val": {"avg": {"field": "value"}}},
        }},
    }})
    return out.withColumn("avg_val", F.round("avg_val", 6))


@register(
    "es_aggs_categorize_text",
    oracle="""
    WITH msgs AS (
        SELECT 'job ' || event_type || ' attempt ' ||
               CAST(CAST(value AS BIGINT) AS VARCHAR) ||
               CASE WHEN value > 50 THEN ' failed with retryable error'
                    ELSE ' completed' END AS message,
               value
        FROM events
    ),
    keyed AS (
        SELECT array_to_string(
                   list_filter(string_split_regex(message, '\\s+'),
                               t -> t <> '' AND NOT regexp_matches(t, '\\d')),
                   ' ') AS pattern,
               value
        FROM msgs
    )
    SELECT pattern, CAST(count(*) AS BIGINT) AS doc_count,
           round(max(value), 6) AS worst
    FROM keyed
    WHERE pattern <> ''
    GROUP BY 1
    """,
    doc="ES categorize_text agg: log messages grouped by their "
        "invariant token pattern — whitespace tokens, number-bearing "
        "tokens dropped as variables, the surviving sequence is the "
        "category key (ES's deterministic first pass; its ML "
        "similarity-merging knob refuses loudly, documented). Derived "
        "log-like messages from events; one scan-local HOF chain, "
        "groupBy on the pattern.",
)
def q_es_aggs_categorize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").withColumn(
        "message",
        F.concat(
            F.lit("job "), F.col("event_type"), F.lit(" attempt "),
            F.col("value").cast("bigint").cast("string"),
            F.when(F.col("value") > 50,
                   F.lit(" failed with retryable error"))
            .otherwise(F.lit(" completed")),
        ),
    )
    return es_aggregate(events, {"pattern": {
        "categorize_text": {"field": "message"},
        "aggs": {"worst": {"max": {"field": "value"}}},
    }})


@register(
    "es_aggs_change_point",
    oracle="""
    WITH per AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS by_day,
               CAST(count(*) AS BIGINT) AS doc_count,
               sum(value) AS total_raw
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    w AS (
        SELECT by_day, total_raw,
               row_number() OVER (ORDER BY by_day) AS i,
               sum(total_raw) OVER (ORDER BY by_day
                                    ROWS UNBOUNDED PRECEDING) AS cum,
               sum(total_raw) OVER () AS tot,
               count(*) OVER () AS n
        FROM per
    ),
    cp AS (
        SELECT by_day AS cp_key,
               round(sqrt(CAST(i AS DOUBLE) * (n - i) / n)
                     * abs(cum / i - (tot - cum) / (n - i)), 6) AS cp_stat
        FROM w WHERE i < n
        ORDER BY cp_stat DESC, cp_key ASC LIMIT 1
    )
    SELECT p.by_day, p.doc_count, round(p.total_raw, 6) AS total,
           cp.cp_key, cp.cp_stat
    FROM per p, cp
    """,
    doc="ES change_point sibling agg: the split of the ordered "
        "bucket metric series maximizing the CUSUM mean-shift statistic "
        "sqrt(nl*nr/n)*|mean_l - mean_r| — the deterministic step-change "
        "detector (ES's ML spike/trend classification is replaced by the "
        "reproducible statistic; ties break to the earliest key, "
        "documented). Window math over the bucket relation, one 1-row "
        "broadcast back onto the buckets as cp_key/cp_stat.",
)
def q_es_aggs_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    out = es_aggregate(events, {
        "by_day": {"date_histogram": {"field": "ts",
                                      "calendar_interval": "day"},
                   "aggs": {"total": {"sum": {"field": "value"}}}},
        "cp": {"change_point": {"buckets_path": "by_day>total"}},
    })
    return out.select(
        "by_day", "doc_count", F.round("total", 6).alias("total"),
        "cp_key", "cp_stat",
    )


@register(
    "es_aggs_frequent_item_sets",
    oracle="""
    WITH basket AS (
        SELECT l_orderkey AS k,
               'c' || CAST(l_partkey % 12 AS VARCHAR) AS item
        FROM lineitem GROUP BY 1, 2
    ),
    nn AS (SELECT CAST(count(DISTINCT k) AS DOUBLE) AS n FROM basket),
    singles AS (
        SELECT [item] AS sets, CAST(count(*) AS BIGINT) AS doc_count
        FROM basket GROUP BY item
    ),
    pairs AS (
        SELECT [a.item, b.item] AS sets,
               CAST(count(*) AS BIGINT) AS doc_count
        FROM basket a JOIN basket b ON a.k = b.k AND a.item < b.item
        GROUP BY 1
    ),
    u AS (SELECT * FROM singles UNION ALL SELECT * FROM pairs)
    SELECT array_to_string(list_sort(sets), '|') AS sets,
           doc_count, round(doc_count / n, 6) AS support
    FROM u, nn WHERE doc_count >= n * 0.05
    """,
    doc="ES frequent_item_sets agg: market-basket mining over "
        "order baskets (items = part categories) — itemsets of size 1-2 "
        "with support >= 5%, mined EXACTLY (ES's miner is sampled ECLAT, "
        "approximate by contract; sizes > 2 refuse loudly). The basket "
        "arrays materialize once (localCheckpoint — otherwise the "
        "collect_set upstream would run 3x: singles, pairs, denominator); "
        "size-1 and size-2 itemsets come from ONE per-document HOF "
        "(C(d,2) per doc, no join, doc-size capped) counted in one "
        "explode+groupBy, support denominator a 1-row broadcast. "
        "The driver row projects the itemset to a pipe-joined string: "
        "the driver's canonicalizer sorts RAW pandas cells and cannot "
        "factorize list values — prefix rows must be "
        "primitive-only (tests/test_plans.py guard).",
)
def q_es_aggs_frequent_item_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    baskets = (
        # deliberately NOT fanned out: measured at sf0.1 the extra
        # exchange loses to the light map-side collect_set partials.
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.collect_set(
            F.concat(F.lit("c"), (F.col("l_partkey") % 12).cast("string"))
        ).alias("cats"))
    )
    out = es_aggregate(baskets, {"sets": {"frequent_item_sets": {
        "fields": [{"field": "cats"}],
        "minimum_support": 0.05,
    }}})
    return out.select(
        F.array_join(F.array_sort("sets"), "|").alias("sets"),
        "doc_count", "support",
    )


@register(
    "delete_by_query",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE NOT coalesce((n_chars < 100 OR lang = 'de'), false)
    """,
    doc="ES _delete_by_query (sinks.py): the survivor relation — "
        "one negated-predicate filter riding the scan (vs ES's "
        "scroll-then-bulk-delete round trips); write-back goes through "
        "write_documents(mode=overwrite) / a transactional DELETE.",
)
def q_delete_by_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return delete_by_query(docs, {"bool": {"should": [
        {"range": {"n_chars": {"lt": 100}}},
        {"term": {"lang": "de"}},
    ], "minimum_should_match": 1}}).select("doc_id", "lang", "n_chars")


@register(
    "update_by_query",
    oracle="""
    SELECT event_id, event_type,
           CASE WHEN event_type = 'error' THEN value * 2 + 1
                ELSE value END AS value
    FROM events
    """,
    doc="ES _update_by_query (sinks.py): the Painless assignment "
        "`ctx._source.value = ctx._source.value * params.f + 1` over "
        "matching documents, compiled to ONE conditional codegen'd "
        "projection (non-matching rows pass through bit-unchanged) — vs "
        "ES's per-document interpreter + reindex.",
)
def q_update_by_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return update_by_query(
        events, {"term": {"event_type": "error"}},
        "ctx._source.value = ctx._source.value * params.f + 1",
        params={"f": 2},
    ).select("event_id", "event_type", "value")


@register(
    "search_cross_fields",
    oracle=_CF_ORACLE,
    doc="multi_match type=cross_fields routed through the BM25F "
        "combined-field node (ES documents combined_fields as "
        "cross_fields' principled successor; the mapping is the "
        "documented divergence). Shares search_combined_fields' oracle "
        "VERBATIM — the two front-ends must agree row-for-row.",
)
def q_search_cross_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents")).withColumn(
        "head", F.substring("text", 1, 80)
    )
    docs = materialize_tokens(
        docs, {"text": ["standard"], "head": ["standard"]}
    )
    query = from_es_json(
        {"multi_match": {
            "query": "spark merge",
            "fields": ["head^2", "text"],
            "type": "cross_fields",
        }},
        analyzers={"text": "standard", "head": "standard"},
        tokens_cols={"text": "text__standard", "head": "head__standard"},
        bm25_stats_for=corpus_bm25_provider(spark, docs),
    )
    return search(docs, query, k=None).select(
        "doc_id", F.round("score", 6).alias("score")
    )


@register(
    "search_terms_lookup",
    oracle="""
    SELECT event_id, user_id, event_type FROM events
    WHERE event_type IN (SELECT DISTINCT event_type FROM events
                         WHERE user_id = 7)
    """,
    doc="ES terms LOOKUP query: the terms list lives in another "
        "document ({'index','id','path'}) — ES's coordinator GETs that "
        "one doc and expands it to a regular terms query (capped at "
        "index.max_terms_count=65536); here the same bounded 1-document "
        "fetch happens at compile time through the lookup_indices "
        "binding, and the expanded IN-list pushes down to the scan.",
)
def q_search_terms_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    user_types = (
        events.groupBy("user_id")
        .agg(F.sort_array(F.collect_set("event_type")).alias("types"))
    )
    query = from_es_json(
        {"terms": {"event_type": {
            "index": "user_types", "id": 7, "path": "types"}}},
        lookup_indices={"user_types": (user_types, "user_id")},
    )
    return search(events, query, k=None).select(
        "event_id", "user_id", "event_type"
    )


@register(
    "search_geo_shape",
    oracle="""
    WITH pts AS (
        SELECT event_id,
               (value % 140) - 70 AS lat,
               ((user_id * CAST(7.3 AS DOUBLE)) % 360) - 180 AS lon
        FROM events
    )
    SELECT event_id, round(lat, 6) AS lat, round(lon, 6) AS lon
    FROM pts
    WHERE lat >= -10 AND lat <= 60 AND (lon >= 160 OR lon <= -170)
    """,
    doc="ES geo_shape query against point documents: an inline "
        "envelope crossing the antimeridian (GeoJSON [lon, lat] corner "
        "order), relation=intersects — for point docs intersects/within "
        "coincide and disjoint negates; contains and indexed_shape "
        "refuse. Delegates to the bounding-box node's wrapped-longitude "
        "comparison: scan-local, pushdown-eligible, non-scoring.",
)
def q_search_geo_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").withColumns({
        "lat": (F.col("value") % 140) - 70,
        "lon": ((F.col("user_id") * 7.3) % 360) - 180,
    })
    query = from_es_json({"geo_shape": {
        "field": {"lat": "lat", "lon": "lon"},
        "shape": {"type": "envelope",
                  "coordinates": [[160.0, 60.0], [-170.0, -10.0]]},
        "relation": "intersects",
    }})
    return search(events, query, k=None).select(
        "event_id", F.round("lat", 6).alias("lat"),
        F.round("lon", 6).alias("lon"),
    )


@register(
    "ingest_pipeline",
    oracle="""
    WITH msgs AS (
        SELECT event_id,
               'level=' || CASE WHEN value > 50 THEN 'ERROR'
                                ELSE 'INFO' END ||
               ' code ' || CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) ||
               ' host 10.0.' || CAST(user_id % 256 AS VARCHAR) || '.1' AS line,
               value
        FROM events
    )
    SELECT event_id,
           CASE WHEN regexp_matches(line,
                '^level=(TRACE|DEBUG|INFO|WARN|ERROR|FATAL) code (-?\\d+) host (\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3})$')
                THEN lower(regexp_extract(line,
                '^level=(TRACE|DEBUG|INFO|WARN|ERROR|FATAL) code (-?\\d+) host (\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3})$', 1))
           END AS level,
           CASE WHEN regexp_matches(line,
                '^level=(TRACE|DEBUG|INFO|WARN|ERROR|FATAL) code (-?\\d+) host (\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3})$')
                THEN CAST(regexp_extract(line,
                '^level=(TRACE|DEBUG|INFO|WARN|ERROR|FATAL) code (-?\\d+) host (\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3})$', 2) AS BIGINT)
           END AS code,
           CASE WHEN regexp_matches(line,
                '^level=(TRACE|DEBUG|INFO|WARN|ERROR|FATAL) code (-?\\d+) host (\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3})$')
                THEN regexp_extract(line,
                '^level=(TRACE|DEBUG|INFO|WARN|ERROR|FATAL) code (-?\\d+) host (\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3})$', 3)
           END AS host,
           round(value * 2 + 1, 6) AS boosted,
           'etl-v1' AS tag
    FROM msgs
    """,
    doc="ES ingest pipeline (plans/ingest.py): a processor chain "
        "— grok (%{LOGLEVEL}/%{INT}/%{IP} subset compiled to one "
        "regexp_extract per captured field, no-match -> NULL), lowercase, "
        "script (Painless arithmetic through the shared compiler), set — "
        "compiled to ONE codegen'd projection over the scan instead of "
        "ES's per-document ingest-node interpreter. The oracle replays "
        "the generated regex verbatim.",
)
def q_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").withColumn(
        "line",
        F.concat(
            F.lit("level="),
            F.when(F.col("value") > 50, F.lit("ERROR")).otherwise(F.lit("INFO")),
            F.lit(" code "), F.col("value").cast("bigint").cast("string"),
            F.lit(" host 10.0."), (F.col("user_id") % 256).cast("string"),
            F.lit(".1"),
        ),
    )
    out = apply_ingest_pipeline(events, {"processors": [
        {"grok": {"field": "line", "patterns": [
            "level=%{LOGLEVEL:level} code %{INT:code:int} "
            "host %{IP:host}"]}},
        {"lowercase": {"field": "level"}},
        {"script": {"source": "ctx.boosted = ctx.value * 2 + 1"}},
        {"set": {"field": "tag", "value": "etl-v1"}},
    ]})
    return out.select(
        "event_id", "level", "code", "host",
        F.round("boosted", 6).alias("boosted"), "tag",
    )


@register(
    "es_aggs_children",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS doc_count,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue,
           round(avg(l.l_quantity), 6) AS avg_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority IS NOT NULL
    GROUP BY 1
    """,
    doc="ES children agg (plans/joinfield.py): parents bucketed "
        "by a parent field, metrics over each bucket's CHILDREN "
        "(doc_count counts children, ES's contract). One projection "
        "join — the parent's (key, bucket) pair onto the children, "
        "broadcast at dimension size — and one groupBy for every "
        "metric. The revenue sum runs over DECIMAL(18,2) on BOTH "
        "engines: bucket sums reach ~1e9 where float64 summation-order "
        "noise (~1e-4) survives 6-digit rounding, so the hash check "
        "reddened the double-sum twin (es_aggs_parent) while this row "
        "passed on luck. Exact decimal accumulation is order-free; one "
        "cast back to double after the agg keeps the output schema.",
)
def q_es_aggs_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem").withColumn(
        "l_extendedprice", F.col("l_extendedprice").cast("decimal(18,2)")
    )
    return children_agg(
        load_table(spark, sf_dir, "orders"),
        lineitem,
        parent_key="o_orderkey", child_key="l_orderkey",
        group_by="o_orderpriority",
        aggs={"revenue": {"sum": {"field": "l_extendedprice"}},
              "avg_qty": {"avg": {"field": "l_quantity"}}},
    ).select(
        "o_orderpriority", "doc_count",
        F.col("revenue").cast("double").alias("revenue"),
        F.round("avg_qty", 6).alias("avg_qty"),
    )


@register(
    "es_aggs_parent",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT l.l_returnflag, l.l_orderkey
        FROM lineitem l
        WHERE l.l_returnflag IS NOT NULL
    )
    SELECT p.l_returnflag,
           CAST(count(*) AS BIGINT) AS doc_count,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue,
           round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE) / count(*), 6) AS avg_price
    FROM pairs p JOIN orders o ON p.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
    doc="ES parent agg (plans/joinfield.py — the children agg's "
        "inverse): children bucketed by a child field, metrics over each "
        "bucket's PARENTS with every parent counted ONCE per bucket no "
        "matter how many children land there (ES's per-shard "
        "child->parent hop dedups on the join field). The plan dedups "
        "(bucket, parent key) pairs child-side BEFORE the join, so only "
        "qualifying keys move; the oracle mirrors with SELECT DISTINCT "
        "then the parent join.",
)
def q_es_aggs_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sum over DECIMAL(18,2) on both engines.
    # Bucket revenue reaches ~2.75e9 where double summation-order noise
    # (Spark 2754983250.180004 vs DuckDB ...18001) survives round(,6);
    # exact decimal accumulation is order-free, one cast back to double
    # after the agg keeps the published schema.
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_totalprice_dec", F.col("o_totalprice").cast("decimal(18,2)")
    )
    return parent_agg(
        orders,
        load_table(spark, sf_dir, "lineitem"),
        parent_key="o_orderkey", child_key="l_orderkey",
        group_by="l_returnflag",
        aggs={"revenue": {"sum": {"field": "o_totalprice_dec"}}},
    ).select(
        "l_returnflag", "doc_count",
        F.col("revenue").cast("double").alias("revenue"),
        # avg from the EXACT decimal sum: one double division of
        # identical inputs on both engines is bit-deterministic, where
        # avg(double) accumulates in partition order
        F.round(
            F.col("revenue").cast("double") / F.col("doc_count"), 6
        ).alias("avg_price"),
    )


@register(
    "es_terms_enum",
    oracle="""
    SELECT DISTINCT p_brand AS term
    FROM part
    WHERE p_brand IS NOT NULL AND p_brand LIKE 'Brand#1%'
    ORDER BY term
    LIMIT 10
    """,
    doc="ES _terms_enum (plans/api.py): the first N distinct "
        "keyword-field values with a given prefix, ascending — the index "
        "autocomplete endpoint. Prefix filter rides the scan (startswith "
        "pushes down), one distinct hash aggregation over qualifying "
        "terms, TakeOrdered for the page; search_after keyset pagination "
        "and case_insensitive matching are pytest-pinned. (Driver row "
        "seed: p_brand's 'Brand#1' prefix matches 11 distinct "
        "terms so the size-10 page boundary actually cuts — p_type had "
        "one qualifying term, a near-empty verification.)",
)
def q_es_terms_enum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return es_terms_enum(
        load_table(spark, sf_dir, "part"), "p_brand",
        string="Brand#1", size=10,
    )
