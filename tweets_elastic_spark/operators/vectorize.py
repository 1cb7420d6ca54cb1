"""Hashed TF-IDF vectorization: text -> fixed-dimension vectors with NO
external model — the feature-hashing trick (Weinberger et al. 2009,
"Feature Hashing for Large Scale Multitask Learning"; Spark MLlib's
HashingTF is the same construction). Closes the loop between the text
layer and the ANN/semantic-dedup stack: a corpus can be embedded,
indexed (IVF/PQ/LSH), searched, and SemDeDup'd end-to-end from raw text.

Why this shape at 100 TB:

* The "model" is a hash function — nothing to train, broadcast, or
  version. Every executor vectorizes independently; the only aggregation
  is the IDF table, which is ``dim``-bounded (one groupBy over hashed
  feature ids, never vocabulary-sized).
* TF is one explode+groupBy (the word-count shuffle); the dense form is
  a per-row expression (map lookup over a dim-length sequence), no
  second shuffle.
* Hashing uses the portable 60-bit md5 prefix (functions/hashing.py), so
  the SPARSE relation carries a REAL DuckDB value-hash oracle — the same
  portability design as the MinHash/SimHash families. (Swap hash60 for
  xxhash64 in production if oracle portability is not needed; the shape
  is identical.)

IDF is smoothed sklearn-style: ``ln((N+1)/(df+1)) + 1`` — strictly
positive, so hash buckets that every document hits still contribute.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tweets_elastic_spark.functions.hashing import hash60
from tweets_elastic_spark.functions.vectors import norm, vec_sql


def _tokens(text: Column) -> Column:
    from tweets_elastic_spark.functions.analyzers import lower_alnum_tokens

    return lower_alnum_tokens(text)


def hashed_tfidf_sparse(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 256,
) -> DataFrame:
    """(id, fid, w): the sparse hashed TF-IDF relation — fid in [0, dim),
    w = tf * (ln((N+1)/(df+1)) + 1) rounded to 6 dp (the cross-engine
    float contract every oracled weight in this repo follows)."""
    if dim <= 0:
        raise ValueError(f"dim must be > 0, got {dim}")
    tf = (
        df.select(F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("t"))
        .select(id_col, (hash60(F.col("t")) % F.lit(dim)).alias("fid"))
        .groupBy(id_col, "fid")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = tf.groupBy("fid").agg(
        F.countDistinct(id_col).alias("df_t")
    )
    n = df.agg(F.countDistinct(F.col(id_col)).alias("n_docs"))
    return (
        tf.join(F.broadcast(idf), "fid")
        .crossJoin(F.broadcast(n))
        .select(
            F.col(id_col), F.col("fid"),
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df_t") + 1.0))
                   + 1.0),
                6,
            ).alias("w"),
        )
    )


def hashed_tfidf_vectors(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 256,
    l2_normalize: bool = True,
) -> DataFrame:
    """(id, vector): the dense array<double> form, ready for the ANN
    operators (cosine_topk / IVF / PQ / LSH) and semdedup. Dense assembly
    is a per-row map lookup over a dim-length sequence — a projection on
    the sparse relation's groupBy, no extra shuffle."""
    sparse = hashed_tfidf_sparse(
        df, id_col=id_col, text_col=text_col, dim=dim
    )
    vec = (
        sparse.groupBy(id_col)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("fid", "w"))
            ).alias("_m")
        )
        .select(
            id_col,
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(F.col("_m")[i.cast("long")], F.lit(0.0)),
            ).alias("vector"),
        )
    )
    # a doc whose text analyzes to NO tokens produces no sparse rows —
    # keep it as a ZERO vector rather than silently dropping the id from
    # the corpus (downstream ANN/semdedup must see every document)
    zero = F.expr(vec_sql([0.0] * dim))
    vec = (
        df.select(id_col).distinct()
        .join(vec, id_col, "left")
        .select(id_col, F.coalesce("vector", zero).alias("vector"))
    )
    if l2_normalize:
        # materialize the norm ONCE per row: inlining the O(dim)
        # aggregate into the transform lambda would re-evaluate it per
        # element (O(dim^2) per row — HOFs don't CSE captured subtrees)
        vec = (
            vec.withColumn("_n", norm("vector"))
            .select(
                id_col,
                F.when(
                    F.col("_n") > 0,
                    F.transform(F.col("vector"), lambda x: x / F.col("_n")),
                ).otherwise(F.col("vector")).alias("vector"),
            )
        )
    return vec
