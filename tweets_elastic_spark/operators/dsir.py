"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling"), the
standard domain-targeting selector of LLM data pipelines, re-expressed as
one declarative DataFrame plan.

DSIR ranks raw documents by how target-domain-like they are: featurize
every document into HASHED N-GRAM counts, fit two bag-of-hashed-ngrams
models — p_target on a small in-domain set, p_raw on the raw pool — and
weight each raw document by the importance ratio

    log w(x) = Σ_f  c_x(f) · ( ln p̂_target(f) − ln p̂_raw(f) )

then sample k documents WITHOUT replacement with probability ∝ w(x) via
the Gumbel-top-k trick: rank by  log w(x) + g_x,  g_x ~ Gumbel(0,1).

Engine mapping, all ANSI-SQL-portable so the registered query carries a
full DuckDB oracle:

* features: unigrams + bigrams of the lowercase alnum tokenization,
  hashed into ``n_buckets`` slots with the cross-engine 60-bit md5-prefix
  hash (functions/hashing.py) — the same hashing DSIR's reference
  implementation does with a Python ``hash``, made deterministic.
* p̂ tables: Laplace-smoothed bucket frequencies, (cnt + α)/(total + α·B).
  Both tables are ≤ ``n_buckets`` rows — broadcast joins, never a shuffle
  of the corpus itself.
* Gumbel noise: g = −ln(−ln(u)) with u ∈ (0,1) derived from the SAME
  portable hash of (seed, doc id) — reproducible noise, so resampling is
  deterministic across engines AND runs (the paper's seeded-rng intent).

Scale shape (100 TB): featurize is scan-local; the (doc, feature) counts
aggregate on a key the explode preserves (one shuffle, map-side combine
collapses to ≤ n_buckets rows per doc); both model tables broadcast; the
final selection is a TakeOrderedAndProject top-k. The target set is small
by construction (DSIR targets Wikipedia/books-sized domains), so its
aggregation is trivial; nothing else touches a second corpus pass.

Reference behavioral anchor: the reference repo has no data-selection
stage (src/main.py:12-184 is ingest-only); this operator extends the
engine along SURVEY §6's LLM-training-data north star.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tweets_elastic_spark.functions.analyzers import lower_alnum_tokens
from tweets_elastic_spark.functions.hashing import HASH60_BITS, hash60

_TWO60 = float(1 << HASH60_BITS)


def _tokens(text: Column) -> Column:
    return lower_alnum_tokens(text)


def hashed_ngram_features(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """(id, fid, cnt): hashed unigram+bigram counts per document.

    Feature strings are prefixed (``u:`` / ``b:``) before hashing so a
    unigram never collides with the bigram of the same bytes by
    construction (buckets still collide, by design — that IS the hashed
    feature space)."""
    toks = df.select(
        F.col(id_col).alias("_id"), _tokens(F.col(text_col)).alias("t")
    )
    grams = toks.select(
        "_id",
        F.concat(
            F.transform(F.col("t"), lambda x: F.concat(F.lit("u:"), x)),
            F.zip_with(
                F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
                F.slice(F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(0))),
                lambda a, b: F.concat(F.lit("b:"), a, F.lit(" "), b),
            ),
        ).alias("feats"),
    )
    return (
        grams.select("_id", F.explode("feats").alias("f"))
        .select(
            F.col("_id").alias(id_col),
            (hash60(F.col("f")) % F.lit(int(n_buckets))).alias("fid"),
        )
        .groupBy(id_col, "fid")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _bucket_counts(feats: DataFrame, id_col: str) -> DataFrame:
    return feats.groupBy("fid").agg(F.sum("cnt").alias("n"))


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    alpha: float = 1.0,
    target_within_raw: bool = False,
) -> DataFrame:
    """(id, logw): per-raw-document log importance weight
    ln p̂_target(x) − ln p̂_raw(x) under the two hashed-ngram models.

    Buckets absent from the target set get the smoothed-zero probability
    α/(T + α·B) — the Laplace prior, never −inf. The raw side is fitted on
    ``raw`` itself, so every joined bucket exists there by construction.

    ``target_within_raw=True`` declares the target a SUBSET of ``raw``
    (the in-domain-slice-of-the-pool deployment): the corpus is then
    featurized ONCE — checkpointed, since three consumers read it — and
    the target model derives from a semi-join on the target ids instead
    of a second tokenize+hash pass over the target text. With a foreign
    target corpus (the paper's Wikipedia/books case) leave it False."""
    kwargs = dict(id_col=id_col, text_col=text_col, n_buckets=n_buckets)
    feats = hashed_ngram_features(raw, **kwargs)
    if target_within_raw:
        feats = feats.localCheckpoint(eager=True)
        tgt_feats = feats.join(
            F.broadcast(target.select(F.col(id_col))), id_col, "leftsemi"
        )
    else:
        tgt_feats = hashed_ngram_features(target, **kwargs)
    raw_b = _bucket_counts(feats, id_col)
    tgt_b = _bucket_counts(tgt_feats, id_col)
    raw_tot = raw_b.agg(F.sum("n").alias("_rt"))
    tgt_tot = tgt_b.agg(F.sum("n").alias("_tt"))

    a = float(alpha)
    ab = a * float(n_buckets)
    joined = (
        feats.join(F.broadcast(raw_b.withColumnRenamed("n", "rn")), "fid")
        .join(
            F.broadcast(tgt_b.withColumnRenamed("n", "tn")), "fid", "left"
        )
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(tgt_tot))
    )
    contrib = F.col("cnt") * (
        F.log((F.coalesce(F.col("tn"), F.lit(0)) + F.lit(a))
              / (F.col("_tt") + F.lit(ab)))
        - F.log((F.col("rn") + F.lit(a)) / (F.col("_rt") + F.lit(ab)))
    )
    return joined.groupBy(id_col).agg(F.sum(contrib).alias("logw"))


def gumbel_noise(id_col: Column, seed: int) -> Column:
    """Deterministic Gumbel(0,1) noise from the portable hash of
    (seed, id): u = (h+1)/(2^60+1) ∈ (0,1), g = −ln(−ln u). The same
    double arithmetic in any engine with md5 — reproducible resampling."""
    h = hash60(F.concat(F.lit(f"{seed}:"), id_col.cast("string")))
    u = (h.cast("double") + F.lit(1.0)) / F.lit(_TWO60 + 1.0)
    return -F.log(-F.log(u))


def dsir_sample(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    alpha: float = 1.0,
    seed: int = 42,
    target_within_raw: bool = False,
) -> DataFrame:
    """Select ``k`` documents from ``raw`` with probability ∝ importance
    weight, without replacement (Gumbel-top-k). Returns the selected rows
    of ``raw`` + ``logw`` + the ranking ``key`` (logw + gumbel)."""
    lw = dsir_log_weights(
        raw, target,
        id_col=id_col, text_col=text_col, n_buckets=n_buckets, alpha=alpha,
        target_within_raw=target_within_raw,
    )
    keyed = lw.withColumn(
        "key", F.col("logw") + gumbel_noise(F.col(id_col), seed)
    )
    top = keyed.orderBy(F.col("key").desc(), F.col(id_col).asc()).limit(k)
    return raw.join(top, id_col)
