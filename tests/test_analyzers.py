"""Analyzer unit tests (SURVEY §5.2 item 3): fixed input → exact token
arrays for the four reference analyzers (settings.json:8-45) and their
primitives, including the edge cases called out in SURVEY §7."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tweets_elastic_spark.functions import analyzers as A
from tweets_elastic_spark.functions.stemmer import porter_stem


def run(spark, col_fn, text):
    row = spark.range(1).select(col_fn(F.lit(text)).alias("out")).head()
    out = row["out"]
    return list(out) if out is not None else None


# -- primitives -------------------------------------------------------------

def test_html_strip(spark):
    got = spark.range(1).select(
        A.html_strip(F.lit("<p>Hello &amp; <b>world</b></p>")).alias("s")
    ).head()["s"]
    assert got == " Hello &  world  "


def test_standard_tokenize_drops_empties_and_punct(spark):
    assert run(spark, A.standard_tokenize, "  Hello,   world! 42 ") == [
        "Hello", "world", "42",
    ]


def test_standard_tokenize_unicode_letters(spark):
    assert run(spark, A.standard_tokenize, "naïve café “quoted”") == [
        "naïve", "café", "quoted",
    ]


def test_possessive_stemmer_both_apostrophes(spark):
    f = lambda c: A.possessive_stem(A.standard_tokenize(c))  # noqa: E731
    # straight apostrophe survives the tokenizer only if we tokenize after;
    # test the filter directly on pre-split tokens
    got = spark.range(1).select(
        A.possessive_stem(F.array(F.lit("Wilbur's"), F.lit("Soot’s"), F.lit("its"))).alias("t")
    ).head()["t"]
    assert list(got) == ["Wilbur", "Soot", "its"]


def test_english_stop_preserves_order_and_duplicates(spark):
    got = spark.range(1).select(
        A.english_stop(
            F.array(*[F.lit(t) for t in ["the", "cat", "sat", "cat", "on", "the", "mat"]])
        ).alias("t")
    ).head()["t"]
    assert list(got) == ["cat", "sat", "cat", "mat"]


def test_asciifold(spark):
    got = spark.range(1).select(
        A.asciifold(F.array(F.lit("naïve"), F.lit("Zoë"), F.lit("straße"), F.lit("Ærø"))).alias("t")
    ).head()["t"]
    assert list(got) == ["naive", "Zoe", "strasse", "AEro"]


def test_char_ngrams_max_gram_boundary(spark):
    # token length 3 with max_gram 2: grams by position then length
    got = run(spark, lambda c: A.char_ngrams(A.standard_tokenize(c), 1, 2), "abc")
    assert got == ["a", "ab", "b", "bc", "c"]


def test_char_ngrams_long_token_capped_at_10(spark):
    got = run(spark, lambda c: A.char_ngrams(A.standard_tokenize(c), 1, 10), "abcdefghijkl")
    assert max(len(g) for g in got) == 10
    # every substring of length<=10 present
    assert "abcdefghij" in got and "cdefghijkl" in got and "abcdefghijk" not in got


def test_shingles_glued_bigrams(spark):
    # docs/protokol.md:330-340: "wilbur soot" → wilbur, soot, wilbursoot
    got = run(spark, lambda c: A.shingles(A.standard_tokenize(c)), "wilbur soot smith")
    assert got == ["wilbur", "soot", "smith", "wilbursoot", "sootsmith"]


def test_shingles_single_token_no_bigrams(spark):
    assert run(spark, lambda c: A.shingles(A.standard_tokenize(c)), "solo") == ["solo"]


# -- Porter stemmer (canonical algorithm outputs) ---------------------------

@pytest.mark.parametrize(
    "word,stem",
    [
        ("caresses", "caress"), ("ponies", "poni"), ("ties", "ti"),
        ("cats", "cat"), ("feed", "feed"), ("agreed", "agre"),
        ("plastered", "plaster"), ("bled", "bled"), ("motoring", "motor"),
        ("sing", "sing"), ("conflated", "conflat"), ("troubled", "troubl"),
        ("sized", "size"), ("hopping", "hop"), ("tanned", "tan"),
        ("falling", "fall"), ("hissing", "hiss"), ("fizzed", "fizz"),
        ("failing", "fail"), ("filing", "file"), ("happy", "happi"),
        ("sky", "sky"), ("relational", "relat"), ("conditional", "condit"),
        ("rational", "ration"), ("digitizer", "digit"), ("operator", "oper"),
        ("feudalism", "feudal"), ("decisiveness", "decis"),
        ("hopefulness", "hope"), ("formaliti", "formal"),
        ("sensitiviti", "sensit"), ("sensibiliti", "sensibl"),
        ("electriciti", "electr"), ("electrical", "electr"),
        ("hopeful", "hope"), ("goodness", "good"), ("revival", "reviv"),
        ("allowance", "allow"), ("inference", "infer"),
        ("adjustable", "adjust"), ("defensible", "defens"),
        ("replacement", "replac"), ("adoption", "adopt"),
        ("communism", "commun"), ("activate", "activ"),
        ("effective", "effect"), ("rate", "rate"),
        ("controlling", "control"), ("rolling", "roll"),
        ("running", "run"), ("argument", "argument"),
    ],
)
def test_porter_stem_canonical(word, stem):
    assert porter_stem(word) == stem


# -- composed analyzers AN1-AN4 ---------------------------------------------

def test_englando_full_pipeline(spark):
    text = "<b>The</b> fïancé's tweets were troubling the OPERATORS"
    # html_strip → tokenize → possessive → lower → stop → porter
    # (englando has NO asciifolding — fïancé keeps its diacritics)
    got = run(spark, lambda c: A.analyze(c, "englando"), text)
    assert got == ["fïancé", "tweet", "were", "troubl", "oper"]


def test_custom_ngram_pipeline(spark):
    got = run(spark, lambda c: A.analyze(c, "custom_ngram"), "Zoë")
    # lowercase → asciifold("zoë"→"zoe") → char grams pos-major
    assert got == ["z", "zo", "zoe", "o", "oe", "e"]


def test_custom_shingles_pipeline(spark):
    got = run(spark, lambda c: A.analyze(c, "custom_shingles"), "Wilbur Soot")
    assert got == ["wilbur", "soot", "wilbursoot"]


def test_keyword_lowercase_pipeline(spark):
    assert run(spark, lambda c: A.analyze(c, "keyword_lowercase"), "Ukraine") == ["ukraine"]


def test_analyze_text_query_time(spark):
    assert A.analyze_text(spark, "The Persons", "englando") == ["person"]


def test_materialize_tokens_multifield(spark):
    df = spark.createDataFrame([(1, "Wilbur Soot")], "id long, name string")
    out = A.materialize_tokens(df, {"name": ["custom_ngram", "custom_shingles"]})
    assert "name__custom_ngram" in out.columns
    assert "name__custom_shingles" in out.columns
    row = out.head()
    assert "wilbursoot" in list(row["name__custom_shingles"])


def test_char_ngrams_min_gram_above_one_no_fabricated_grams(spark):
    """min_gram=2: tail positions must not emit sub-min_gram grams (a
    descending sequence bug would fabricate duplicated 1-char grams)."""
    from tweets_elastic_spark.functions.analyzers import char_ngrams

    row = spark.range(1).select(
        char_ngrams(F.array(F.lit("abc")), 2, 10).alias("g")
    ).head()
    assert list(row["g"]) == ["ab", "abc", "bc"]
    # token shorter than min_gram yields nothing
    row2 = spark.range(1).select(
        char_ngrams(F.array(F.lit("a")), 2, 10).alias("g")
    ).head()
    assert list(row2["g"]) == []


def test_fingerprint_filter(spark):
    from tweets_elastic_spark.functions.analyzers import (
        analyze, fingerprint_filter,
    )

    df = spark.createDataFrame([(["b", "a", "b"],)], "u array<string>")
    row = df.select(fingerprint_filter("u").alias("fp")).head()
    assert list(row["fp"]) == ["a b"]            # sorted, deduped, joined
    # the full fingerprint analyzer: tokenize, lower, fold, normalize
    out = spark.createDataFrame(
        [("The quick  brown the QUICK fox",), ("",), ("  ",)],
        "text string",
    ).select(analyze(F.col("text"), "fingerprint").alias("fp")).collect()
    assert list(out[0]["fp"]) == ["brown fox quick the"]
    assert list(out[1]["fp"]) == [] and list(out[2]["fp"]) == []


def test_englando_oracle_vocab_covers_corpus():
    """The englando oracle's stem CASE is a fixture over the corpus's
    fixed vocabulary; this guard keeps the fixture complete — if the
    testdata generator ever widens the vocabulary, this fails before a
    ~MISSINGSTEM sentinel can redden the driver row."""
    import duckdb

    from tweets_elastic_spark.queries.text import _ENGLANDO_VOCAB

    con = duckdb.connect()
    vocab = set()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        rows = con.execute(f"""
            SELECT DISTINCT unnest(list_filter(
                regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                x -> x <> ''))
            FROM read_parquet('/root/testdata/{sf}/documents.parquet')
        """).fetchall()
        vocab.update(r[0].lower() for r in rows)
    assert vocab <= set(_ENGLANDO_VOCAB), (
        f"corpus vocabulary outgrew the oracle fixture: "
        f"{sorted(vocab - set(_ENGLANDO_VOCAB))}"
    )


# -- query-time analysis in the driver --------------------------------------

HARD_TEXTS = [
    "<p>Caf&eacute; &amp; <b>Straße</b></p>",
    "&lt;tag&gt; &quot;q&quot; &#39;s&#39; &apos;t &nbsp;x",
    "ﬁnancial ﬁle ﬂow",
    "Ｆｕｌｌ ｗｉｄｔｈ ＡＢＣ１２３",
    "ß æ Æ Ł ł þ Þ œ ø ð ı",
    "élève naïve Zoë",
    "Wilbur’s dog's cats’ 'quoted'",
    "the and of is it This That THE",
    "42 3.14 2026-10-17 1st 007",
    "東京タワー 中文 한국어",
    "🎉 party 🎉🎉 ok👍",
    "running runner ran troubling OPERATORS",
    "",
    "   ",
    " \t\n ",
]


@pytest.mark.parametrize("analyzer", sorted(A.ANALYZERS))
def test_analyze_text_equals_column_analysis(spark, spark_jobs, monkeypatch, analyzer):
    """The driver path (no job) yields exactly the tokens the column path
    (Arrow UDFs for the token steps) stores at index time."""
    monkeypatch.setattr(A, "_ANALYZE_TEXT_CACHE", type(A._ANALYZE_TEXT_CACHE)())
    df = spark.createDataFrame([(i, t) for i, t in enumerate(HARD_TEXTS)],
                               "i int, text string")
    column = {r["i"]: list(r["t"]) for r in
              df.select("i", A.analyze("text", analyzer).alias("t")).collect()}
    with spark_jobs() as jobs:
        driver = {i: A.analyze_text(spark, t, analyzer)
                  for i, t in enumerate(HARD_TEXTS)}
    assert jobs[0] == 0
    assert driver == column
    if analyzer != "keyword_lowercase":  # the keyword tokenizer keeps the input
        assert driver[HARD_TEXTS.index("")] == []
        assert driver[HARD_TEXTS.index("   ")] == []


def test_analyze_text_cache_is_bounded_lru(spark, monkeypatch):
    monkeypatch.setattr(A, "_ANALYZE_TEXT_CACHE", type(A._ANALYZE_TEXT_CACHE)())
    monkeypatch.setattr(A, "_ANALYZE_TEXT_CACHE_SIZE", 2)
    for text in ["One", "Two", "One", "Three"]:
        assert A.analyze_text(spark, text, "keyword_lowercase") == [text.lower()]
    assert list(A._ANALYZE_TEXT_CACHE) == [
        ("One", "keyword_lowercase"), ("Three", "keyword_lowercase"),
    ]
