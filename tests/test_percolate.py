"""Percolate (reverse search): batching equivalence, id validation, JSON
artifact compilation, and the streaming twin (the operator is a stateless
projection, so the SAME function runs on a readStream)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tweets_elastic_spark.operators.percolate import (
    percolate,
    percolate_from_json,
)
from tweets_elastic_spark.plans.search import Bool, Range, Term
from tweets_elastic_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"

STORED = [
    ("en", Term("lang", "en")),
    ("long", Range("n_chars", gt=500)),
    ("short_de", Bool(must=[Term("lang", "de"), Range("n_chars", lt=300)])),
]


def _pairs(df):
    return sorted((r["doc_id"], r["query_id"]) for r in df.collect())


def test_matches_equal_manual_filters(spark):
    docs = load_table(spark, SF, "documents")
    got = _pairs(percolate(docs, STORED))
    want = []
    for qid, q in STORED:
        ids = docs.filter(q.predicate(spark)).select("doc_id").collect()
        want += [(r["doc_id"], qid) for r in ids]
    assert got == sorted(want) and len(got) > 0


def test_batching_is_semantics_free(spark):
    docs = load_table(spark, SF, "documents")
    assert _pairs(percolate(docs, STORED, batch_size=1)) == \
        _pairs(percolate(docs, STORED, batch_size=64))


def test_duplicate_and_empty_ids_raise(spark):
    docs = load_table(spark, SF, "documents")
    with pytest.raises(ValueError, match="duplicate"):
        percolate(docs, [("a", STORED[0][1]), ("a", STORED[1][1])])
    with pytest.raises(ValueError, match="at least one"):
        percolate(docs, [])


def test_json_artifacts_match_builder(spark):
    docs = load_table(spark, SF, "documents")
    arts = {
        "en": {"query": {"term": {"lang": "en"}}},
        "long": {"query": {"range": {"n_chars": {"gt": 500}}}},
        "short_de": {"query": {"bool": {"must": [
            {"term": {"lang": "de"}},
            {"range": {"n_chars": {"lt": 300}}},
        ]}}},
    }
    assert _pairs(percolate_from_json(docs, arts)) == \
        _pairs(percolate(docs, STORED))


def test_streaming_percolate_matches_batch(spark, tmp_path):
    """The stateless projection percolates a file stream unchanged —
    results equal the batch run over the same files."""
    docs = load_table(spark, SF, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    src = tmp_path / "in"
    docs.coalesce(1).write.parquet(str(src))
    stream = (
        spark.readStream.schema("doc_id long, lang string, n_chars long")
        .parquet(str(src))
    )
    q = (
        percolate(stream, STORED)
        .writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .format("memory")
        .queryName("perc_out")
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["doc_id"], r["query_id"])
        for r in spark.sql("select * from perc_out").collect()
    )
    assert got == _pairs(percolate(docs, STORED))


def test_multi_batch_still_single_scan(spark):
    """batch_size smaller than the query count must NOT multiply corpus
    scans (arrays concat into one projection; no per-batch union)."""
    docs = load_table(spark, SF, "documents")
    df = percolate(docs, STORED, batch_size=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    assert "Union" not in plan
    assert _pairs(df) == _pairs(percolate(docs, STORED, batch_size=64))
