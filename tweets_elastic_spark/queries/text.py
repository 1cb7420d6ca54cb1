"""Text-analysis queries over the documents corpus (SURVEY §2.8 + the
training-data-pipeline text operators)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tweets_elastic_spark.functions import analyzers as A
from tweets_elastic_spark.functions import textstats as T
from tweets_elastic_spark.functions.analyzers import pin_computed
from tweets_elastic_spark.functions.stemmer import porter_stem
from tweets_elastic_spark.operators.bpe import END, bpe_encode, bpe_train
from tweets_elastic_spark.operators.lm import bigram_ce_filter
from tweets_elastic_spark.operators.sampling import (
    deterministic_split,
    split_thresholds,
)
from tweets_elastic_spark.registry import register
from tweets_elastic_spark.sources.catalog import fan_out, load_table


@register(
    "token_count",
    oracle="""
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x <> '')) AS n_tokens
    FROM documents
    """,
    doc="Token counting over the corpus (T2-ish; training-pipeline stat).",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.token_count(F.col("text")).alias("n_tokens"))


@register(
    "lang_id",
    oracle=f"""
    SELECT doc_id, {T.lang_id_oracle_sql('text')} AS lang_pred
    FROM documents
    """,
    doc="Stopword-profile language identification (north-star text op).",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.lang_id(F.col("text")).alias("lang_pred"))


@register(
    "quality_score",
    oracle=f"""
    SELECT doc_id, round({T.QUALITY_ORACLE_SQL}, 6) AS quality
    FROM documents
    """,
    doc="Document quality heuristic: length/punct/stopword/word-shape.",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(T.quality_score(F.col("text")), 6).alias("quality")
    )


@register(
    "model_quality_filter",
    oracle=f"""
    SELECT doc_id, round({T.classifier_oracle_sql()}, 6) AS model_quality
    FROM documents
    WHERE {T.classifier_oracle_sql()} >= 0.5
    """,
    doc="Model-based quality filtering (the fasttext/CCNet classifier "
        "stage): logistic score over the heuristic features with literal "
        "weights standing in for trained coefficients — at scale the model "
        "is broadcast literals inside whole-stage codegen riding the scan; "
        "docs below 0.5 are dropped.",
)
def q_model_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # pinned: the gate and the output column both read the classifier
    # score — unpinned, Catalyst evaluates the whole feature expression
    # twice per surviving row (once in the pushed filter, once in the
    # projection; it does not CSE across operators — guide §4.4 applied
    # to a pure-JVM expression)
    score = pin_computed(T.classifier_quality_score(F.col("text")))
    return (
        docs.withColumn("_mq", score)
        .filter(F.col("_mq") >= 0.5)
        .select("doc_id", F.round("_mq", 6).alias("model_quality"))
    )


@register(
    "vocab_top_tokens",
    oracle="""
    SELECT t AS token, count(*) AS n
    FROM (
        SELECT unnest(list_transform(
            list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x <> ''),
            x -> lower(x))) AS t
        FROM documents
    )
    GROUP BY t
    ORDER BY n DESC, t ASC
    LIMIT 500
    """,
    doc="Corpus vocabulary head: top-500 tokens by frequency — the input "
        "statistic tokenizer/vocab training starts from. One explode + one "
        "hash-shuffle count + TakeOrderedAndProject; map-side partial "
        "aggregation makes the shuffle carry (token, partial_count), not "
        "token instances, so at 100 TB the exchange is vocabulary-sized.",
)
def q_vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        F.explode(F.transform(T.simple_tokens(F.col("text")), F.lower)).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(500)
    )


@register(
    "fingerprint",
    oracle=f"""
    SELECT doc_id, {T.FINGERPRINT_ORACLE_EXPR} AS fp
    FROM documents
    """,
    doc="Content fingerprint: md5 over normalized text (exact-dedup key).",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.fingerprint_md5(F.col("text")).alias("fp"))


# The analyze_* queries emit the token array joined to ONE string per doc
# (order-preserving) so the driver's canonicalizer — which sorts rows through
# pandas — sees hash-stable primitives instead of unhashable lists. Token
# order is part of the analyzer contract, so the join loses nothing.


@register(
    "analyze_keyword_lowercase",
    oracle="SELECT doc_id, lower(source) AS tokens FROM documents",
    doc="AN4 keyword_lowercase analyzer (settings.json:40-44) applied at scale.",
)
def q_analyze_keyword_lowercase(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.array_join(
            A.analyze(F.col("source"), "keyword_lowercase"), " "
        ).alias("tokens"),
    )


@register(
    "analyze_shingles",
    oracle="""
    SELECT doc_id,
           array_to_string(list_concat(
             toks,
             CASE WHEN len(toks) >= 2
                  THEN list_transform(range(1, len(toks)), i -> toks[i] || toks[i+1])
                  ELSE [] END
           ), ' ') AS tokens
    FROM (
        SELECT doc_id,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'), x -> x <> ''),
                 x -> lower(x)) AS toks
        FROM documents
    )
    """,
    doc="AN3 shingle pipeline (settings.json:30-39) at corpus scale; ASCII corpus ⇒ asciifold is identity.",
)
def q_analyze_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.array_join(A.analyze(F.col("text"), "custom_shingles"), " ").alias("tokens"),
    )


@register(
    "analyze_ngram",
    oracle="""
    SELECT doc_id,
           array_to_string(
             flatten(list_transform(
               list_filter(
                 list_transform(
                   list_filter(regexp_split_to_array(source, '[^a-zA-Z0-9'']+'), x -> x <> ''),
                   x -> lower(x)),
                 t -> length(t) >= 1),
               t -> flatten(list_transform(
                      range(1, length(t) + 1),
                      i -> list_transform(
                             range(1, least(10, length(t) - i + 1) + 1),
                             n -> substring(t, i, n)))))),
             ' ') AS tokens
    FROM documents
    """,
    doc="AN2 custom_ngram analyzer (settings.json:20-29; .ngram multi-fields "
        "mapping.json:26-29,39-43): char 1..10-grams, position-major order. "
        "Run over the short `source` field (the author-name/username analogue); "
        "ASCII corpus ⇒ asciifold is identity, as analyze_shingles exploits.",
)
def q_analyze_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.array_join(A.analyze(F.col("source"), "custom_ngram"), " ").alias("tokens"),
    )


# The documents corpus's complete text vocabulary (31 words, identical
# across every shipped SF — all lowercase ASCII, no possessives, so the
# possessive/lowercase filters are exercised as identities and the stop +
# stem filters do the visible work: 'a'/'the' drop, six words re-spell).
# Coverage is asserted by
# tests/test_analyzers.py::test_englando_oracle_vocab_covers_corpus.
_ENGLANDO_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]


def _englando_oracle_sql() -> str:
    """Full DuckDB oracle for AN1: replay
    tokenize → possessive → lowercase → stop in SQL, then map each token
    through a Porter-stem CASE built AT IMPORT from the vendored stemmer
    over the fixed corpus vocabulary. The driver row thereby verifies
    the whole distributed analyzer chain (tokenization, filter order,
    stop list, order-preserving join) against an independent engine;
    Porter itself is pinned separately by the exact-token pytest over
    the published Porter vocabulary, so the CASE is a fixture, not a
    replay of the UDF under test. A token OUTSIDE the fixture maps to
    token||'~MISSINGSTEM', which can only make the row FAIL — loud,
    never silently green."""
    whens = " ".join(
        f"WHEN '{w}' THEN '{porter_stem(w)}'" for w in _ENGLANDO_VOCAB
    )
    stem_case = f"CASE t {whens} ELSE t || '~MISSINGSTEM' END"
    stop_in = ", ".join(f"'{w}'" for w in A.ENGLISH_STOPWORDS)
    return f"""
    SELECT doc_id,
           array_to_string(
             list_transform(
               list_filter(
                 list_transform(
                   list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                               x -> x <> ''),
                   x -> lower(regexp_replace(x, '[''’]s$', ''))),
                 t -> t NOT IN ({stop_in})),
               t -> {stem_case}),
             ' ') AS tokens
    FROM documents
    """


@register(
    "analyze_englando",
    oracle=_englando_oracle_sql(),
    doc="AN1 englando analyzer (settings.json:9-19) at corpus scale — "
        "html_strip → standard → possessive → lowercase → stop → Porter, "
        "token order preserved through the join. FULL oracle "
        "(was rows-only 'Porter is not SQL-expressible'): the corpus "
        "vocabulary is a fixed 31-word set, so the stem step becomes an "
        "inline CASE fixture built from the vendored stemmer (itself "
        "exact-token-pinned against the published Porter vocabulary); "
        "unknown tokens map to a loud ~MISSINGSTEM sentinel that can "
        "only fail the row. html_strip is identity on this HTML-free "
        "corpus, same as every analyze_* oracle here.",
)
def q_analyze_englando(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.array_join(A.analyze(F.col("text"), "englando"), " ").alias("tokens"),
    )


# Deterministic train/val/test assignment: md5-bucketed id, thresholds
# shared between the Spark operator and this oracle via split_thresholds.
_SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _split_case_sql() -> str:
    h = "substr(md5(doc_id::VARCHAR || ':split'), 1, 8)"
    ths = split_thresholds(_SPLIT_FRACTIONS)
    whens = " ".join(
        f"WHEN {h} < '{bound}' THEN '{name}'" for name, bound in ths[:-1]
    )
    return f"CASE {whens} ELSE '{ths[-1][0]}' END"


@register(
    "corpus_split",
    oracle=f"SELECT doc_id, {_split_case_sql()} AS split FROM documents",
    doc="Deterministic train/val/test split (80/10/10): bucket by the "
        "first 8 hex chars of md5(id:salt) against cumulative-fraction "
        "thresholds - a pure codegen'd projection (no shuffle, no seed, no "
        "partition dependence; a doc never migrates splits as the corpus "
        "grows), unlike randomSplit. Same hex thresholds inlined in the "
        "oracle.",
)
def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return deterministic_split(docs, "doc_id", _SPLIT_FRACTIONS).select(
        "doc_id", "split"
    )


@register(
    "lm_perplexity_filter",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    ),
    bw AS (
        SELECT doc_id, p['w1'] AS w1, p['w2'] AS w2
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(t), 1)),
                                         i -> {'w1': t[i], 'w2': t[i+1]})) AS p
            FROM toks
        )
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bw GROUP BY 1, 2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bw GROUP BY 1),
    v AS (SELECT CAST(count(DISTINCT u) AS DOUBLE) AS v
          FROM (SELECT unnest(t) AS u FROM toks)),
    scored AS (
        SELECT b.doc_id,
               -ln((coalesce(c12.c12, 0) + 1.0)
                   / (coalesce(c1.c1, 0) + 1.0 * v.v)) AS nll
        FROM bw b LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1 USING (w1)
        CROSS JOIN v
    )
    SELECT doc_id, round(avg(nll), 6) AS bigram_ce,
           avg(nll) < 3.45 AS keep
    FROM scored GROUP BY doc_id
    """,
    doc="CCNet-style LM perplexity gate (Wenzek et al. 2020) as one "
        "declarative plan: a Laplace-smoothed bigram model trained IN-PLAN "
        "on the corpus, each doc scored by mean -ln P(w2|w1), keep = "
        "cross-entropy below threshold (the out-of-distribution tail sits "
        "high). Count tables are vocabulary-sized and broadcast to the "
        "scoring joins — the doc stream is never shuffled except the "
        "per-doc mean. Full-oracle twin of KenLM filtering with no opaque "
        "model artifact (operators/lm.py).",
)
def q_lm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return bigram_ce_filter(docs, threshold=3.45)


@register(
    "bpe_token_stats",
    # CONTRACT ORACLE (the ann_ivf_recall_profile pattern, closing
    # the rows-only class for good): the iterative merge recursion is
    # not SQL-expressible, so the row emits (a) per-lang doc/word counts
    # the oracle REPLAYS exactly (same pre-tokenization regex both
    # engines) and (b) structural-correctness booleans computed IN-PLAN
    # over every encoded document — round-trip reconstruction, one
    # end-of-word marker per word, the n_words <= n_bpe <= chars+words
    # compression bounds, all-80-merges-learned. A violation on ANY doc
    # turns a bool_and FALSE and reddens the row against the oracle's
    # TRUE columns. The merge LIST itself stays pinned by tests/
    # test_bpe.py (independent reference trainer, Sennrich example
    # merges verbatim, monotone compression, determinism).
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               x -> x <> ''))) AS BIGINT) AS total_words,
           TRUE AS roundtrip_ok,
           TRUE AS word_marks_ok,
           TRUE AS bpe_ge_words,
           TRUE AS bpe_le_chars,
           TRUE AS merges_complete
    FROM documents WHERE text IS NOT NULL
    GROUP BY lang
    """,
    doc="BPE subword tokenizer (Sennrich et al. 2016) trained on the "
        "corpus and applied to it in one operator pair: the corpus "
        "collapses to a (word, freq) relation (one map-side-combined "
        "shuffle, vocabulary-sized), merges are learned driver-side over "
        "that bounded table (TakeOrderedAndProject cap, like every "
        "trainer does on aggregated counts), and encoding runs as an "
        "Arrow-batched pandas UDF with a per-batch word memo — work "
        "scales with unique words (Zipf), not tokens. Output: per-lang "
        "doc/word counts (oracle-replayed) + in-plan structural "
        "booleans over every encoded doc (round-trip, marker-per-word, "
        "compression bounds, full merge count).",
)
def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    merges = bpe_train(docs, num_merges=80)
    out = bpe_encode(docs, merges)
    # the encoder's OWN pre-tokenization (bpe.py _encode), mirrored in
    # the oracle's regexp_split_to_array so total_words replays exactly
    words = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
        lambda x: x != F.lit(""),
    )
    words_joined = F.concat_ws("", words)
    n_words = F.size(words)
    n_bpe = F.size("bpe_tokens")
    rejoined = F.replace(
        F.concat_ws("", F.col("bpe_tokens")), F.lit(END), F.lit("")
    )
    n_marks = F.size(F.filter(F.col("bpe_tokens"),
                              lambda t: t.contains(END)))
    per_doc = out.select(
        "lang",
        n_words.alias("nw"),
        # decode = strip the </w> markers and concatenate: must equal
        # the concatenated pre-tokenized words (per-doc round trip)
        (rejoined == words_joined).alias("rt"),
        # exactly one end-of-word-marked token per word
        (n_marks == n_words).alias("wm"),
        # merges only ever SHRINK the char+marker split: the token
        # count sits in [n_words, alnum_chars + n_words]
        (n_bpe >= n_words).alias("ge"),
        (n_bpe <= F.length(words_joined) + n_words).alias("le"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nw").cast("bigint").alias("total_words"),
        F.bool_and("rt").alias("roundtrip_ok"),
        F.bool_and("wm").alias("word_marks_ok"),
        F.bool_and("ge").alias("bpe_ge_words"),
        F.bool_and("le").alias("bpe_le_chars"),
        F.lit(len(merges) == 80).alias("merges_complete"),
    )


@register(
    "analyze_fingerprint",
    oracle="""
    SELECT doc_id,
           array_to_string(
             list_sort(list_distinct(
               list_filter(
                 list_transform(
                   regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}''’]+'),
                   x -> regexp_replace(x, '^[''’]+|[''’]+$', '')),
                 x -> x <> ''))), ' ') AS fingerprint
    FROM documents
    """,
    doc="ES's built-in fingerprint ANALYZER (analyzers.py): "
        "standard tokenize -> lowercase -> asciifold -> sort + dedupe + "
        "space-join into one normal-form token (equal fingerprints = "
        "same word multiset, the classic clustering key). ASCII corpus "
        "=> asciifold is identity, so the oracle mirrors the chain "
        "exactly; all work is scan-local expressions (the asciifold leg "
        "is the one Arrow-batched UDF, shared with T5).",
)
def q_analyze_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.array_join(A.analyze(F.col("text"), "fingerprint"), " ")
        .alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# Unicode script profile. The fixture corpus is pure ASCII, so the
# row PLANTS deterministic non-Latin suffixes (the c4_line_filter / html
# wrap precedent): one script per residue class, a mixed-script page, and
# a repeat-amplified Cyrillic page whose dominant script FLIPS away from
# latin — so the dominant-pick logic is exercised, not just the counts.
# Shared constants keep Spark and SQL building byte-identical text.
# ---------------------------------------------------------------------------

_SCRIPT_SUFFIXES = {
    1: " советские архивы хранят тексты",      # cyrillic
    2: " 中文语料库质量很高",                     # han
    3: " نصوص عربية للاختبار",                  # arabic
    4: " ελληνικό κείμενο δοκιμής",             # greek
    5: " טקסט עברי לבדיקה",                     # hebrew
    6: " परीक्षण के लिए पाठ",                      # devanagari
    7: " 한국어 텍스트 예시",                     # hangul
    8: " советские 中文 тексты 语料",            # mixed cyr+han
}


@register(
    "script_profile",
    oracle=f"""
    WITH pages AS (
        SELECT doc_id,
               text ||
               CASE doc_id % 11
                 {" ".join(f"WHEN {k} THEN '{v}'" for k, v in _SCRIPT_SUFFIXES.items())}
                 ELSE '' END ||
               CASE WHEN doc_id % 31 = 0
                    THEN repeat(' советский текстовый корпус для обучения моделей', 20)
                    ELSE '' END AS t
        FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id,
           {T.script_count_oracle_sql('latin', 't')} AS n_latin,
           {T.script_count_oracle_sql('cyrillic', 't')} AS n_cyrillic,
           {T.script_count_oracle_sql('han', 't')} AS n_han,
           {T.script_count_oracle_sql('arabic', 't')} AS n_arabic,
           {T.script_count_oracle_sql('hangul', 't')} AS n_hangul,
           {T.dominant_script_oracle_sql('t')} AS dominant
    FROM pages
    ORDER BY doc_id
    """,
    doc="Unicode script profile: per-document character counts for "
        "the eight major writing systems + the dominant script — the "
        "multilingual routing signal CCNet/mC4 apply BEFORE language ID "
        "(lang-id models are per-script; mixed-script pages are a spam "
        "signal). Counting is len(text) - len(text-with-script-removed), "
        "one scan-local regexp per script, no tokenization, no UDF, no "
        "shuffle; dominant = ONE array_max over (count, priority) "
        "structs. Java spells the class \\p{IsCyrillic}, RE2 "
        "\\p{Cyrillic}; both sides derive from the same SCRIPT_CLASSES "
        "list (functions/textstats.py) so they cannot drift. The "
        "planted pages put one script per residue class, a mixed "
        "cyr+han page, and a repeat-amplified Cyrillic page that flips "
        "dominant away from latin.",
)
def q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(
        load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    suffix = F.lit("")
    for k, v in _SCRIPT_SUFFIXES.items():
        suffix = F.when(F.col("doc_id") % 11 == k, F.lit(v)).otherwise(suffix)
    amp = F.when(
        F.col("doc_id") % 31 == 0,
        F.repeat(F.lit(" советский текстовый корпус для обучения моделей"), 20),
    ).otherwise(F.lit(""))
    t = F.concat(F.col("text"), suffix, amp)
    counts = T.script_counts(t)
    return docs.select(
        "doc_id",
        counts["latin"].alias("n_latin"),
        counts["cyrillic"].alias("n_cyrillic"),
        counts["han"].alias("n_han"),
        counts["arabic"].alias("n_arabic"),
        counts["hangul"].alias("n_hangul"),
        T.dominant_script(counts).alias("dominant"),
    ).orderBy("doc_id")
