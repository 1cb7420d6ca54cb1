"""JSONL (newline-delimited JSON) source + sink — the lingua franca of
LLM training corpora (every public text dataset ships as .jsonl/.jsonl.gz
shards). The reference ingests from Postgres (src/connect.py) and ships
JSON only at its Elasticsearch boundary; a training-data pipeline also
needs the FILE-side JSON path, with the same two properties the parquet
catalog enforces (sources/catalog.py): DECLARED schemas (never inferred —
schema inference is a full extra pass over 100 TB and non-deterministic
under corpus drift) and a QUARANTINE channel instead of dropped-or-crash
for malformed rows (the sink-side twin is sinks.validate_split).

Scale notes:

* The JSON text source is line-splittable: executors scan byte ranges and
  resync at newlines, so a 100 TB corpus parallelizes like any text scan.
  Gzip shards are NOT splittable (one task per .gz file) — acceptable
  when shards are the usual 100-500 MB; document, don't hide.
* PERMISSIVE parse with ``columnNameOfCorruptRecord``: a malformed line
  yields NULL fields + the raw line in the corrupt column, split here
  into (valid, quarantine) — the S9 error-channel contract. The split is
  a predicate on the parsed relation: one scan, both legs.
* ``write_jsonl`` serializes with ``to_json(struct(*))`` in schema column
  order with ISO-8601 timestamps — byte-stable run-to-run, so shard-level
  dedup/diffing of emitted corpora works (same contract as
  sinks.document_json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
) -> tuple[DataFrame, DataFrame]:
    """Read newline-delimited JSON with a DECLARED schema. Returns
    ``(valid, quarantine)``: valid rows carry the schema's columns;
    quarantined rows carry ``(_corrupt_record)`` — the raw malformed line,
    preserved verbatim for replay/debugging (the S9 contract: no silent
    drops, no ingest crash on one bad line).

    A line is quarantined if it is not valid JSON or if a declared
    column's value cannot be coerced to its type (Spark's PERMISSIVE
    semantics). Missing fields are NOT corruption — they parse as NULL,
    the same semi-structured null contract the ES layer uses.

    Plan shape: the TEXT source + a ``from_json`` expression, NOT the
    json file source — deliberately. The json source forbids queries
    that reference only its internal corrupt column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), which would
    force caching/checkpointing the parsed corpus to split it; the
    expression form has no such restriction, so BOTH legs stay pure
    scan-shaped projections (each leg is one text scan + per-line parse;
    nothing materializes, nothing shuffles)."""
    if CORRUPT_COL in schema.fieldNames():
        raise ValueError(f"schema must not declare {CORRUPT_COL!r}")
    with_corrupt = StructType(
        list(schema.fields) + [StructField(CORRUPT_COL, StringType(), True)]
    )
    raw = spark.read.text(path).select(
        F.col("value"),
        F.from_json(
            "value", with_corrupt,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
        ).alias("_parsed"),
    )
    # A row is quarantined when the parse flagged it corrupt, when the
    # parse returned a NULL struct, or when the line is blank:
    # ``from_json('')`` yields a NULL struct WITHOUT setting the corrupt
    # column, and silently admitting it would inject an all-NULL row into
    # the valid leg, the exact failure the quarantine channel exists to
    # surface.
    bad = (
        F.col("_parsed").isNull()
        | F.col(f"_parsed.{CORRUPT_COL}").isNotNull()
        | (F.trim(F.col("value")) == "")
    )
    valid = raw.filter(~bad).select("_parsed.*").drop(CORRUPT_COL)
    quarantine = raw.filter(bad).select(F.col("value").alias(CORRUPT_COL))
    return valid, quarantine


def write_jsonl(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    target_file_partitions: int | None = None,
    compression: str | None = None,
) -> None:
    """Write one JSON object per line, fields in schema column order,
    ISO-8601 timestamps — byte-stable serialization (the P6 contract at
    the file boundary). ``compression='gzip'`` emits .jsonl.gz shards
    (remember: not splittable on re-read — size shards accordingly)."""
    out = df.select(
        F.to_json(
            F.struct(*[F.col(c) for c in df.columns]),
            # fractional seconds INCLUDED: ...HH:mm:ssXXX would silently
            # truncate sub-second precision on round-trip
            {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"},
        ).alias("value")
    )
    if target_file_partitions is not None:
        out = out.repartition(target_file_partitions)
    writer = out.write.mode(mode)
    if compression is not None:
        writer = writer.option("compression", compression)
    writer.text(path)


def read_documents_jsonl(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """The documents table from JSONL shards, with its catalog-declared
    schema (schemas.TESTDATA_TABLES) — the corpus-interchange read path."""
    from tweets_elastic_spark.schemas import TESTDATA_TABLES

    return read_jsonl(spark, path, TESTDATA_TABLES["documents"])
