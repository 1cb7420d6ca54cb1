"""Text-analyzer pipelines as composable Column functions (SURVEY §2.8).

The reference declares four custom Elasticsearch analyzers
(/root/reference/src/config/settings.json:8-45) bound to text fields in the
index mapping; analysis happens at index time (per-document) and at query
time (per query string). Here each Lucene primitive (T1-T10) is defined
once and each analyzer (AN1-AN4) is an ordered list of those steps, in
``ANALYZERS``. Two kinds of step:

* Column steps (``Column -> Column``): JVM built-ins and SQL higher-order
  expressions (whole-stage codegen) — char filters, tokenizers, lowercase,
  stopwords, char n-grams, shingles;
* token steps (``TokenFilter``): the two genuinely-custom primitives,
  asciifolding and Porter stemming, each defined by its per-token Python
  function.

``analyze`` folds the steps over a DataFrame column (index time,
``materialize_tokens``): a token step becomes an Arrow-batched Pandas UDF
built from its per-token function (SURVEY §2.10), never row-at-a-time.
``analyze_text`` analyzes one query string in the driver, the way
Elasticsearch's coordinating node does, with no Spark job: each run of
Column steps is one projection over a one-row ``VALUES`` relation, which
Catalyst's ConvertToLocalRelation rule evaluates in the driver, and a token
step calls its per-token function directly. Both paths run the same
definitions, so query tokens always equal index tokens.
"""

from __future__ import annotations

import unicodedata
from collections import OrderedDict
from itertools import groupby

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from tweets_elastic_spark.functions.stemmer import porter_stem

# ---------------------------------------------------------------------------
# T1: html_strip char filter (settings.json:12,23,33)
# ---------------------------------------------------------------------------

_HTML_ENTITIES = [
    ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'"), ("&nbsp;", " "),
]


def html_strip(c: Column) -> Column:
    out = F.regexp_replace(c, r"<[^>]*>", " ")
    for ent, rep in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return out


# ---------------------------------------------------------------------------
# T2: standard tokenizer (settings.json:11,22,32) — Unicode word-boundary
# (UAX#29) approximation: split on runs of non-letter/non-digit, but keep
# apostrophes BETWEEN letters in the token (MidNumLet rule: "fïancé's" is
# one token — which is why the possessive stemmer exists downstream), then
# trim apostrophes that ended up at token edges.
# ---------------------------------------------------------------------------

def standard_tokenize(c: Column) -> Column:
    toks = F.split(c, r"[^\p{L}\p{N}'’]+")
    toks = F.transform(toks, lambda t: F.regexp_replace(t, r"^['’]+|['’]+$", ""))
    return F.filter(toks, lambda t: t != F.lit(""))


# T3: keyword tokenizer (settings.json:42) — whole input is one token.
def keyword_tokenize(c: Column) -> Column:
    return F.array(c)


# T4: lowercase token filter (settings.json:15,25,35,43)
def lowercase(toks: Column) -> Column:
    return F.transform(toks, F.lower)


# ---------------------------------------------------------------------------
# T5: asciifolding (settings.json:26,36) — custom UDF item. NFKD-decompose,
# strip combining marks, plus the Latin ligature/special-letter foldings
# NFKD doesn't cover (subset of Lucene's table; divergence documented).
# ---------------------------------------------------------------------------

_FOLD_TABLE = str.maketrans({
    "ß": "ss", "æ": "ae", "Æ": "AE", "ø": "o", "Ø": "O", "œ": "oe",
    "Œ": "OE", "đ": "d", "Đ": "D", "ð": "d", "Ð": "D", "þ": "th",
    "Þ": "TH", "ł": "l", "Ł": "L", "ı": "i",
})


def _fold_token(t: str) -> str:
    # ASCII fast path (guide §4.2 — make the per-batch work cheap): an
    # all-ASCII token has no combining marks, NFKD is the identity, and
    # every _FOLD_TABLE key is non-ASCII — folding is a no-op. str.isascii
    # is a single C scan, vs NFKD + a join per token; real corpora are
    # overwhelmingly ASCII tokens, so this removes most of the Python cost
    # of the analyzer chain's one unavoidable UDF.
    if t.isascii():
        return t
    t = t.translate(_FOLD_TABLE)
    return "".join(
        ch for ch in unicodedata.normalize("NFKD", t) if not unicodedata.combining(ch)
    )


class TokenFilter:
    """A token step defined by one per-token Python function, ``token``.
    Called on a token-array Column it applies ``token`` through an
    Arrow-batched UDF named ``udf_name`` in query plans (index time; null
    arrays stay null); ``analyze_text`` calls ``token`` directly (query
    time)."""

    def __init__(self, token, udf_name: str):
        self.token = token

        def apply(batch: pd.Series) -> pd.Series:
            return batch.map(
                lambda toks: None if toks is None else [token(t) for t in toks]
            )

        apply.__name__ = udf_name
        self._udf = F.pandas_udf(apply, ArrayType(StringType()))

    def __call__(self, toks: Column) -> Column:
        return self._udf(toks)


asciifold = TokenFilter(_fold_token, "_asciifold_udf")


# T6: english_possessive_stemmer (settings.json:56-59) — strip 's / ’s.
def possessive_stem(toks: Column) -> Column:
    return F.transform(toks, lambda t: F.regexp_replace(t, r"['’]s$", ""))


# ---------------------------------------------------------------------------
# T7: english_stop (settings.json:60-63) — Lucene's English stopword list;
# preserves order and duplicates of the surviving tokens (array_except would
# dedup, so a HOF filter is used instead).
# ---------------------------------------------------------------------------

ENGLISH_STOPWORDS = [
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such", "that",
    "the", "their", "then", "there", "these", "they", "this", "to", "was",
    "will", "with",
]


def english_stop(toks: Column) -> Column:
    return F.filter(toks, lambda t: ~t.isin(ENGLISH_STOPWORDS))


# ---------------------------------------------------------------------------
# T8: english_stemmer (settings.json:64-67) — Porter, custom UDF item,
# memoized: corpus vocabulary is tiny relative to tokens.
# ---------------------------------------------------------------------------

# Memo shared across batches AND tasks: the UDF lives in an importable
# module, so a reused Python worker (spark.python.worker.reuse, default
# on) keeps the module global across tasks (guide §4.5), and the driver
# keeps it across queries. Pure-function cache, bounded by corpus
# vocabulary; never grows past a few hundred k entries on real text.
_PORTER_CACHE: dict[str, str] = {}


def _stem_token(t: str) -> str:
    s = _PORTER_CACHE.get(t)
    if s is None:
        s = _PORTER_CACHE[t] = porter_stem(t)
    return s


porter_stem_tokens = TokenFilter(_stem_token, "_porter_udf")


# ---------------------------------------------------------------------------
# T9: char n-gram filter, min_gram=1 max_gram=10 (settings.json:47-51) —
# pure SQL higher-order expression (no Python): for each token, every
# substring of length 1..10, ordered by start position then length
# (matching ES's position-major emission order).
# ---------------------------------------------------------------------------

def char_ngrams(toks: Column, min_gram: int = 1, max_gram: int = 10) -> Column:
    def grams_of(t: Column) -> Column:
        # start positions stop at length - min_gram + 1: beyond that the
        # remaining tail is shorter than min_gram and the inner sequence
        # would run DESCENDING, fabricating sub-min_gram grams
        starts = F.sequence(F.lit(1), F.length(t) - F.lit(min_gram - 1))
        return F.flatten(
            F.transform(
                starts,
                lambda i: F.transform(
                    F.sequence(
                        F.lit(min_gram),
                        F.least(F.lit(max_gram), F.length(t) - i + 1),
                    ),
                    lambda n: F.substring(t, i, n),
                ),
            )
        )

    # guard: tokens shorter than min_gram yield no grams (and keep the
    # outer starts sequence ascending)
    return F.flatten(
        F.transform(
            F.filter(toks, lambda t: F.length(t) >= min_gram),
            grams_of,
        )
    )


# ---------------------------------------------------------------------------
# T10: shingle filter, token_separator="" (settings.json:52-55) — ES shingle
# emits unigrams AND glued adjacent bigrams ("wilbur soot" → wilbur, soot,
# wilbursoot), per docs/protokol.md:330-340.
# ---------------------------------------------------------------------------

def shingles(toks: Column) -> Column:
    # zip each token with its successor; the input array appears only as a
    # direct argument (never inside a lambda body), so this stays legal even
    # when `toks` is the output of a Python UDF (Catalyst rejects
    # LAMBDA_FUNCTION_WITH_PYTHON_UDF otherwise). zip_with pads the shorter
    # side with null → concat yields null → filtered out.
    rest = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    bigrams = F.filter(
        F.zip_with(toks, rest, lambda a, b: F.concat(a, b)),
        lambda g: g.isNotNull(),
    )
    return F.concat(toks, bigrams)


def fingerprint_filter(toks: Column) -> Column:
    """ES ``fingerprint`` token filter: sort, dedupe and concatenate the
    stream into ONE output token (the OpenRefine-style clustering
    normalizer behind the fingerprint analyzer). An empty stream stays
    empty, ES's contract."""
    joined = F.array_join(F.array_sort(F.array_distinct(toks)), " ")
    return F.when(
        joined == F.lit(""), F.array().cast("array<string>")
    ).otherwise(F.array(joined))


# ---------------------------------------------------------------------------
# Analyzers as ordered step lists. AN1-AN4 (settings.json:8-45): filter
# order mirrors the ES definitions exactly.
# ---------------------------------------------------------------------------

ANALYZERS = {
    # AN1 (settings.json:9-19): html_strip → standard → possessive →
    # lowercase → stop → Porter
    "englando": [html_strip, standard_tokenize, possessive_stem, lowercase,
                 english_stop, porter_stem_tokens],
    # AN2 (settings.json:20-29): html_strip → standard → lowercase →
    # asciifolding → ngram(1,10)
    "custom_ngram": [html_strip, standard_tokenize, lowercase, asciifold,
                     char_ngrams],
    # AN3 (settings.json:30-39): html_strip → standard → lowercase →
    # asciifolding → shingles
    "custom_shingles": [html_strip, standard_tokenize, lowercase, asciifold,
                        shingles],
    # AN4 (settings.json:40-44): keyword → lowercase — hashtags match
    # case-insensitively as a single unit (docs/protokol.md:304)
    "keyword_lowercase": [keyword_tokenize, lowercase],
    # ES's built-in ``standard`` analyzer, the default for a text field the
    # mapping names no analyzer for; match_phrase positions are defined
    # over these plain word tokens
    "standard": [standard_tokenize, lowercase],
    # ES's built-in ``fingerprint`` analyzer (no stopwords by default): one
    # token out, the sorted-deduped-space-joined normal form — equal
    # fingerprints mean the same word multiset, a near-dup clustering key
    "fingerprint": [standard_tokenize, lowercase, asciifold,
                    fingerprint_filter],
}


def analyze(c: Column | str, analyzer: str) -> Column:
    """Index-time analysis: column → array<string> of tokens."""
    return _apply_steps(F.col(c) if isinstance(c, str) else c, ANALYZERS[analyzer])


def _apply_steps(c: Column, steps) -> Column:
    for step in steps:
        c = step(c)
    return c


def _query_stages(analyzer: str) -> list:
    """``ANALYZERS[analyzer]`` for query time: each run of Column steps
    composed into one Column over ``v``, token steps as they are. Built once
    per analyzer and reused, because building the Column costs hundreds of
    Py4J calls; it names no relation, so any one-row relation can project
    it."""
    stages = _QUERY_STAGES.get(analyzer)
    if stages is None:
        stages = []
        for is_token, steps in groupby(
            ANALYZERS[analyzer], key=lambda s: isinstance(s, TokenFilter)
        ):
            if is_token:
                stages += steps
            else:
                stages.append(_apply_steps(F.col("v"), steps))
        _QUERY_STAGES[analyzer] = stages
    return stages


_QUERY_STAGES: dict[str, list] = {}

# Distinct (text, analyzer) pairs kept by analyze_text, least recently
# used evicted first.
_ANALYZE_TEXT_CACHE_SIZE = 4096
_ANALYZE_TEXT_CACHE: OrderedDict[tuple[str, str], tuple[str, ...]] = OrderedDict()


def analyze_text(spark, text: str, analyzer: str) -> list[str]:
    """Query-time analysis of one string (ES analyzes the query with the
    target field's analyzer before matching, SURVEY §2.7 Q5), in the
    driver and without a Spark job. Each composed run of Column steps is
    one projection over a one-row VALUES relation, which
    ConvertToLocalRelation evaluates while optimizing, so collecting it
    runs no job; each token step calls its per-token function. Memoized in
    a bounded LRU: analyzers are pure functions of the literal, and a query
    tree may ask for the same analysis several times (predicate + score)."""
    key = (text, analyzer)
    toks = _ANALYZE_TEXT_CACHE.pop(key, None)
    if toks is None:
        value = text
        for stage in _query_stages(analyzer):
            if isinstance(stage, TokenFilter):
                value = [stage.token(t) for t in value]
            else:
                sql_type = "ARRAY<STRING>" if isinstance(value, list) else "STRING"
                value = spark.sql(
                    f"SELECT * FROM VALUES (CAST(:v AS {sql_type})) AS t(v)",
                    args={"v": value},
                ).select(stage.alias("v")).collect()[0]["v"]
        toks = tuple(value)
    _ANALYZE_TEXT_CACHE[key] = toks
    if len(_ANALYZE_TEXT_CACHE) > _ANALYZE_TEXT_CACHE_SIZE:
        _ANALYZE_TEXT_CACHE.popitem(last=False)
    return list(toks)


def pin_computed(c: Column) -> Column:
    """Pin an expensive computed column to ONE evaluation site.

    Wraps ``c`` in a trivially-true CASE WHEN whose condition
    (``spark_partition_id() >= 0``) is classified non-deterministic, which
    forbids Catalyst from (a) duplicating the expression below a filter it
    pushes down and (b) pushing filters that reference the column beneath
    the projection that computes it. Without the pin, a match predicate
    over an analyzed token column is pushed below the fan-out exchange
    with a SECOND copy of the whole analyzer chain — the expensive
    Arrow-UDF analysis then runs twice, and the pushed copy runs at the
    raw scan's parallelism (a single task on a one-row-group parquet
    file). With it, the column is computed exactly once, above the
    exchange, and every consumer (filter and score alike) reads the
    attribute (guide §4.4 — the asNondeterministic idea applied to the
    column rather than the UDF, which keeps the UDF itself CSE-able).
    Values are unchanged: the branch condition is always true.

    Schema note: CASE WHEN without an ELSE is nullable, so the pinned
    column's schema reports nullable=true even when ``c`` never is.
    Values are unaffected (the branch always fires); strict-schema
    consumers that need the original nullability must re-assert it
    downstream (no declared query or oracle does)."""
    return F.when(F.spark_partition_id() >= 0, c)


def materialize_tokens(df: DataFrame, spec: dict[str, list[str]]) -> DataFrame:
    """Index-time token materialization: the multi-field analogue
    (mapping.json:23-54 — one source field indexed several ways). Adds a
    ``{col}__{analyzer}`` array column per requested pairing, pinned to a
    single evaluation site (see ``pin_computed``)."""
    for col_name, analyzers in spec.items():
        for an in analyzers:
            df = df.withColumn(
                f"{col_name}__{an}", pin_computed(analyze(col_name, an))
            )
    return df


def lower_alnum_tokens(c: Column) -> Column:
    """The lowercase-alnum pre-tokenization the training-pipeline
    operators share (DSIR features, BPE word counts, chunking, UniMax
    token counts): split lower(text) on ``[^a-z0-9]+``, drop empties.
    ONE definition so the operators can never silently disagree; the
    DuckDB oracle mirror is
    ``list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
    x -> x <> '')``. (The ``standard`` analyzer differs: it keeps
    apostrophes.)"""
    return F.filter(
        F.split(F.lower(c), "[^a-z0-9]+"), lambda x: x != F.lit("")
    )
