"""JSONL source/sink: declared-schema parse, quarantine channel, byte-
stable serialization, round-trip fidelity (incl. timestamps), gzip."""

from __future__ import annotations

import gzip
import json
import os

import pytest

from tweets_elastic_spark.sources.catalog import load_table
from tweets_elastic_spark.sources.jsonl import (
    CORRUPT_COL,
    read_documents_jsonl,
    read_jsonl,
    write_jsonl,
)

SF = "/root/testdata/sf0.001"


def test_round_trip_documents(spark, tmp_path):
    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, path)
    valid, quarantine = read_documents_jsonl(spark, path)
    assert quarantine.count() == 0
    assert valid.count() == docs.count()
    a = sorted(map(tuple, docs.collect()))
    b = sorted(map(tuple, valid.select(docs.columns).collect()))
    assert a == b


def test_quarantine_preserves_raw_lines(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    good = [{"id": 1, "name": "a"}, {"id": 2, "name": "b"}]
    bad = ['{"id": notjson}', '{"id": "NaNope", "name": "c"}']
    with open(src / "part0.jsonl", "w") as f:
        for row in good:
            f.write(json.dumps(row) + "\n")
        for line in bad:
            f.write(line + "\n")
    from pyspark.sql.types import StructType

    valid, quarantine = read_jsonl(
        spark, str(src), StructType.fromDDL("id long, name string"))
    assert sorted((r["id"], r["name"]) for r in valid.collect()) == \
        [(1, "a"), (2, "b")]
    qlines = sorted(r[CORRUPT_COL] for r in quarantine.collect())
    assert qlines == sorted(bad)


def test_missing_fields_are_null_not_corrupt(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    with open(src / "a.jsonl", "w") as f:
        f.write('{"id": 7}\n')
    from pyspark.sql.types import StructType

    valid, quarantine = read_jsonl(
        spark, str(src), StructType.fromDDL("id long, name string"))
    assert quarantine.count() == 0
    assert [(r["id"], r["name"]) for r in valid.collect()] == [(7, None)]


def test_schema_must_not_claim_corrupt_col(spark, tmp_path):
    from pyspark.sql.types import StructType

    with pytest.raises(ValueError, match="_corrupt_record"):
        read_jsonl(spark, str(tmp_path),
                   StructType.fromDDL(f"{CORRUPT_COL} string"))


def test_serialization_is_byte_stable(spark, tmp_path):
    docs = load_table(spark, SF, "documents").limit(50)
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    write_jsonl(docs, p1, target_file_partitions=1)
    write_jsonl(docs, p2, target_file_partitions=1)

    def lines(p):
        out = []
        for f in os.listdir(p):
            if f.startswith("part-"):
                out += open(os.path.join(p, f)).read().splitlines()
        return sorted(out)

    assert lines(p1) == lines(p2)


def test_gzip_shards(spark, tmp_path):
    docs = load_table(spark, SF, "documents").limit(20)
    path = str(tmp_path / "gz")
    write_jsonl(docs, path, target_file_partitions=2, compression="gzip")
    names = [f for f in os.listdir(path) if f.endswith(".txt.gz")]
    assert len(names) == 2
    with gzip.open(os.path.join(path, names[0]), "rt") as f:
        json.loads(f.readline())  # parses
    valid, quarantine = read_documents_jsonl(spark, path)
    assert quarantine.count() == 0 and valid.count() == 20


# -------------------------------------------- review-pass regressions (r6)


def test_blank_lines_quarantined_not_null_filled(spark, tmp_path):
    """from_json('') yields a NULL struct with no corrupt flag — blank
    lines must still quarantine, never become silent all-NULL rows."""
    from pyspark.sql.types import StructType

    src = tmp_path / "in"
    src.mkdir()
    with open(src / "a.jsonl", "w") as f:
        f.write('{"id": 1, "name": "a"}\n\n   \n{"id": 2, "name": "b"}\n')
    valid, quar = read_jsonl(
        spark, str(src), StructType.fromDDL("id long, name string"))
    assert sorted(r["id"] for r in valid.collect()) == [1, 2]
    assert quar.count() == 2  # the blank and the whitespace-only line


def test_subsecond_timestamps_round_trip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00.123"), (2, "2024-01-01 10:00:00")],
        "id long, raw string",
    ).selectExpr("id", "cast(raw as timestamp) as ts")
    path = str(tmp_path / "ms")
    write_jsonl(df, path)
    from pyspark.sql.types import StructType

    valid, quar = read_jsonl(
        spark, str(path), StructType.fromDDL("id long, ts timestamp"))
    assert quar.count() == 0
    got = {r["id"]: r["ts"] for r in valid.collect()}
    assert got[1].microsecond == 123000
    assert got[2].microsecond == 0
