"""Bigram language-model cross-entropy scoring — the CCNet/KenLM-style
perplexity gate of LLM data pipelines (Wenzek et al. 2020, "CCNet:
Extracting High Quality Monolingual Datasets from Web Crawl Data"),
re-expressed as one declarative DataFrame plan.

CCNet scores each document by the perplexity of a KenLM n-gram model and
keeps the low-perplexity head/middle of the distribution. The portable
re-expression: a bigram model with Laplace smoothing, TRAINED IN-PLAN on a
reference corpus (here: the corpus itself — self-scoring flags the
out-of-distribution tail, the same decision CCNet's middle-cut makes), and
scored as mean negative log-likelihood per bigram:

    H(doc) = -(1/|B|) Σ ln (c(w1,w2) + α) / (c(w1·) + α·V)

where c(w1,w2) counts the bigram in the corpus, c(w1·) counts w1 as a
bigram history, V = corpus vocabulary size, α = 1 (Laplace). Every step is
ANSI-SQL-expressible, so the registered query carries a full DuckDB oracle
(no KenLM binary, no opaque model file).

Scale shape (100 TB): the two count tables are VOCABULARY-sized, not
corpus-sized — they aggregate once (map-side partial combine does most of
the work) and then BROADCAST to the scoring join, so the document stream
itself is never shuffled: tokenize → explode bigrams → two broadcast hash
joins → per-doc re-aggregation on the same doc_id key the explode
preserved. A trained-once LM (the production deployment) is just the
DataFrames ``fit_bigram_lm`` returns, persisted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tweets_elastic_spark.functions.analyzers import analyze


def _bigram_pairs(toks: Column) -> Column:
    """Adjacent-token struct pairs from a token-array column. zip_with pads
    the shorter slice with null → null bigrams are the array tails,
    filtered before the explode."""
    return F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
        lambda p: p["w2"].isNotNull(),
    )


def doc_bigrams(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, w1, w2) — one row per adjacent token pair under the standard
    analyzer."""
    pairs = _bigram_pairs(analyze(F.col(text_col), "standard"))
    return (
        docs.select(F.col(id_col), F.explode(pairs).alias("p"))
        .select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )


def fit_bigram_lm(
    ref_docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the model: (bigram counts, history counts, 1-row vocab size).
    All three are aggregations of the exploded token stream — vocab-sized
    outputs, corpus-sized inputs, one shuffle each with map-side combine."""
    big = doc_bigrams(ref_docs, text_col, id_col)
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    toks = ref_docs.select(
        F.explode(analyze(F.col(text_col), "standard")).alias("t")
    )
    vocab = toks.agg(F.countDistinct("t").cast("double").alias("v"))
    return c12, c1, vocab


def bigram_ce_filter(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
) -> DataFrame:
    """Self-scored LM gate: train on ``docs``, score ``docs``, keep =
    cross-entropy below ``threshold`` (the out-of-distribution tail —
    gibberish, boilerplate-free repetition, wrong-language residue — sits
    high). Returns (id, bigram_ce, keep).

    Tokenize-once: self-scoring reads the corpus for the bigram counts,
    the history counts, the vocabulary AND the scoring stream. The token
    arrays are materialized once (``localCheckpoint`` — the analyze-once
    move corpus_clean already makes for its cleaned set) and all four
    consumers derive from the checkpointed tokens; only the cheap
    zip_with/explode re-runs per consumer. Counts are the same
    expressions ``fit_bigram_lm`` builds (oracle-parity-gated)."""
    toks = docs.select(
        F.col(id_col), analyze(F.col(text_col), "standard").alias("_toks")
    ).localCheckpoint()
    big = (
        toks.select(F.col(id_col), F.explode(_bigram_pairs(F.col("_toks"))).alias("p"))
        .select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        toks.select(F.explode("_toks").alias("t"))
        .agg(F.countDistinct("t").cast("double").alias("v"))
    )
    scored = (
        big.join(F.broadcast(c12), ["w1", "w2"], "left")
        .join(F.broadcast(c1), ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(id_col),
            (
                -F.log(
                    (F.coalesce(F.col("c12"), F.lit(0)).cast("double") + F.lit(alpha))
                    / (
                        F.coalesce(F.col("c1"), F.lit(0)).cast("double")
                        + F.lit(alpha) * F.col("v")
                    )
                )
            ).alias("nll"),
        )
    )
    scored = scored.groupBy(id_col).agg(F.avg("nll").alias("bigram_ce"))
    return scored.select(
        id_col,
        F.round("bigram_ce", 6).alias("bigram_ce"),
        (F.col("bigram_ce") < F.lit(threshold)).alias("keep"),
    )
