"""Bigram-LM cross-entropy gate (operators/lm.py): semantic pins + the
broadcast-plan guarantee behind the 100 TB story."""

from __future__ import annotations

from tweets_elastic_spark.operators.lm import (
    bigram_ce_filter,
    doc_bigrams,
)


def _corpus(spark):
    common = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, common) for i in range(8)]
    rows.append((100, "zxqv plomb wibble fnord glarp snork blivet quux"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_gibberish_scores_highest(spark):
    """Self-scored corpus: the one out-of-distribution doc (unique unseen
    token transitions) must carry the highest cross-entropy; the repeated
    coherent docs all share the low score."""
    df = _corpus(spark)
    rows = {r["doc_id"]: r["bigram_ce"] for r in bigram_ce_filter(df, 1e9).collect()}
    gib = rows.pop(100)
    assert all(gib > v for v in rows.values())
    assert len(set(rows.values())) == 1  # identical docs -> identical CE


def test_threshold_splits_keep_flag(spark):
    df = _corpus(spark)
    scored = bigram_ce_filter(df, 1e9).collect()
    low = min(r["bigram_ce"] for r in scored)
    high = max(r["bigram_ce"] for r in scored)
    mid = (low + high) / 2
    kept = {r["doc_id"] for r in bigram_ce_filter(df, mid).collect() if r["keep"]}
    assert kept == set(range(8))


def test_short_docs_drop_out(spark):
    """<2 tokens -> no bigrams -> no row (the length filter owns those)."""
    df = spark.createDataFrame(
        [(1, "single"), (2, ""), (3, "two tokens")], "doc_id long, text string"
    )
    assert {r["doc_id"] for r in bigram_ce_filter(df, 10.0).collect()} == {3}


def test_scoring_joins_are_broadcast(spark):
    """The count tables are vocabulary-sized: both scoring joins and the
    vocab cross join must be broadcast — the document stream is only ever
    shuffled by the final per-doc mean."""
    df = _corpus(spark)
    plan = bigram_ce_filter(df, 3.0)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row vocab cross join
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_doc_bigrams_order_and_count(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    got = [(r["w1"], r["w2"]) for r in doc_bigrams(df).collect()]
    assert sorted(got) == [("a", "b"), ("b", "c")]
