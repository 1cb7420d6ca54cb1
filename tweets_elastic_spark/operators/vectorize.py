"""Hashed TF-IDF vectorization: text -> fixed-dimension vectors with NO
external model — the feature-hashing trick (Weinberger et al. 2009,
"Feature Hashing for Large Scale Multitask Learning"; Spark MLlib's
HashingTF is the same construction).

Why this shape at 100 TB:

* The "model" is a hash function — nothing to train, broadcast, or
  version. Every executor vectorizes independently; the only aggregation
  is the IDF table, which is ``dim``-bounded (one groupBy over hashed
  feature ids, never vocabulary-sized).
* TF is one explode+groupBy (the word-count shuffle).
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

from tweets_elastic_spark.functions.analyzers import lower_alnum_tokens
from tweets_elastic_spark.functions.hashing import hash60


def _tokens(text: Column) -> Column:
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
