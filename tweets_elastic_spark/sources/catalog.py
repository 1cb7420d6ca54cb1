"""Table catalog: strict-schema parquet scans (SURVEY §2.1 S1-S4).

The reference streams rows out of Postgres through a server-side cursor with
keyset pagination (src/main.py:41,98-100,118-124) because a single client
must not materialize 32 M rows. In Spark the scan itself is distributed and
lazy, so the whole mechanism collapses into ``spark.read.schema(...).parquet``:
partition parallelism replaces the pagination loop, the vectorized reader
replaces fetchmany batching, and predicate pushdown replaces the keyset
predicate. ``incremental.py`` keeps an explicit watermark variant for
re-runnable ingestion (S3).
"""

from __future__ import annotations

import os
from functools import lru_cache as _lru_cache

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType, TimestampType

from tweets_elastic_spark.schemas import TESTDATA_TABLES

# Fixture generations have flipped timestamp encodings between rounds
# (events.ts shipped as TIMESTAMP(NANOS) in some generations and
# TIMESTAMP(MICROS) in others). Spark rejects NANOS outright
# (PARQUET_TYPE_ILLEGAL), and hardcoding either choice silently corrupts
# the other encoding (a nanos workaround applied to micros data divides
# every instant by 1000 and lands in January 1970). So the reader
# dispatches on the file's actual footer annotation, for EVERY declared
# timestamp column of every table: nanos columns are read as raw longs
# (legacy nanosAsLong) and truncated to µs with exact integer division
# (`div`, never double division — ns epoch values exceed 2^53). The
# footer peek is a driver-side metadata read (kilobytes), cached per path.


def parquet_ts_is_nanos(path: str, col: str) -> bool:
    """True only for INT64 columns annotated TIMESTAMP(NANOS) — the one
    encoding Spark rejects. Legacy INT96 timestamps ALSO surface as
    timestamp[ns] in pyarrow's arrow-level schema, but Spark reads INT96
    natively, so the check must inspect the parquet-level physical type,
    not the arrow view.

    Directories are probed via their first part file (one generation per
    directory is assumed — mixed-encoding directories would need per-file
    dispatch, which Spark's one-schema-per-scan model can't express
    anyway). An EMPTY directory returns False WITHOUT caching, so a
    directory read before its first file arrives re-probes on the next
    call instead of pinning a guess forever."""
    if os.path.isdir(path):
        parts = sorted(
            p for p in os.listdir(path) if p.endswith(".parquet")
        )
        if not parts:
            return False
        path = os.path.join(path, parts[0])
    # Key the cache on the file's identity (mtime+size), not just its path:
    # fixtures are regenerated in place between rounds with flipped timestamp
    # encodings, and a stale path-keyed verdict would mis-decode the new file
    # (a nanos workaround on micros data lands every instant in January 1970).
    try:
        st = os.stat(path)
        ident = (st.st_mtime_ns, st.st_size)
    except OSError:
        ident = (0, 0)
    return _file_ts_is_nanos(path, ident, col)


@_lru_cache(maxsize=None)
def _file_ts_is_nanos(path: str, _ident: tuple[int, int], col: str) -> bool:
    meta = pq.ParquetFile(path).metadata.schema
    for i in range(len(meta)):
        c = meta.column(i)
        if c.path == col:
            return (
                c.physical_type == "INT64"
                and "nanoseconds" in str(c.logical_type).lower()
            )
    return False


def _declared_ts_cols(schema: StructType) -> list[str]:
    return [f.name for f in schema.fields if isinstance(f.dataType, TimestampType)]


def _raw_long_schema(base: StructType, long_cols: list[str]) -> StructType:
    return StructType([
        StructField(f.name, LongType(), f.nullable) if f.name in long_cols else f
        for f in base.fields
    ])


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with its declared schema (never inferred)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = TESTDATA_TABLES.get(name)
    if schema is not None:
        ns_cols = [
            c for c in _declared_ts_cols(schema)
            if parquet_ts_is_nanos(path, c)
        ]
        if ns_cols:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.schema(_raw_long_schema(schema, ns_cols)).parquet(path)
            for c in ns_cols:
                df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
            return df
        return spark.read.schema(schema).parquet(path)
    return spark.read.parquet(path)


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Spread CPU-bound per-row work over the session's full parallelism.

    The local fixture parquets are single-row-group files, so Spark reads
    them as ONE input split — and every downstream per-doc expression/UDF
    stage (shingling, minhash, analyzers) would run on one core of
    local[32]. A round-robin repartition up to ``defaultParallelism`` fixes
    that for pennies (the projected id+text rows shuffle once). On a real
    cluster a 100 TB scan already carries far more partitions than cores,
    so this returns the input unchanged (never repartitions DOWN).
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    # df.rdd builds the RDD lineage (a plan analysis per call) but is the
    # only CORRECT split count: file count is neither a lower bound (bin-
    # packing merges small files into one split) nor an upper bound (large
    # files split by maxPartitionBytes), and for derived plans the leaf
    # files say nothing about the post-shuffle partitioning.
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def cluster_by(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-cluster ``df`` on ``cols`` at full session parallelism for a
    downstream per-group Python stage (``groupBy(...).applyInPandas``).

    Why not let the groupBy's own exchange do it: AQE sizes post-shuffle
    partitions by BYTES (advisoryPartitionSizeInBytes), so a small-but-
    CPU-heavy grouped stage (WARC assembly, media decode) coalesces to
    one partition and runs single-core — byte-based sizing can't see
    Python-UDF cost. An explicit ``repartition(N, cols)`` is exempt from
    AQE coalescing and already satisfies the applyInPandas clustered-
    distribution requirement, so no second exchange is inserted. On a
    real cluster defaultParallelism is the executor-core total, which is
    exactly the floor a CPU-bound stage wants; data skew beyond that is
    the per-group cap problem, handled by the callers' group design."""
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target, *[F.col(c) for c in cols])


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TESTDATA_TABLES)}
