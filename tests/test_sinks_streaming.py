"""Sink idempotence + quarantine (SURVEY §5.2 item 5), update-in-place
at the sink, and the event-time window functions in batch mode."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tweets_elastic_spark.sinks import validate_split, write_documents
from tweets_elastic_spark.sources.catalog import load_table
from tweets_elastic_spark.streaming.windows import session_counts, sliding_counts

SF = "/root/testdata/sf0.001"


# -- sinks -------------------------------------------------------------------

def test_write_documents_idempotent_overwrite(spark, tmp_path):
    df = load_table(spark, SF, "orders")
    path = str(tmp_path / "docs")
    write_documents(df, path, id_col="o_orderkey")
    write_documents(df, path, id_col="o_orderkey")  # rerun == same result
    assert spark.read.parquet(path).count() == df.count()


def test_write_documents_dedups_ids(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "id long, payload string"
    )
    path = str(tmp_path / "dedup")
    write_documents(df, path, id_col="id")
    out = spark.read.parquet(path)
    assert out.count() == 2
    assert out.filter("id = 1").count() == 1


def test_validate_split_quarantine(spark):
    df = spark.createDataFrame(
        [(1, "ok", 5), (2, None, 5), (3, "ok", -1), (4, None, -2)],
        "id long, url string, qty int",
    )
    good, bad = validate_split(
        df, {"url_missing": F.col("url").isNotNull(), "qty_negative": F.col("qty") >= 0}
    )
    assert {r["id"] for r in good.collect()} == {1}
    bad_rows = {r["id"]: list(r["_errors"]) for r in bad.collect()}
    assert bad_rows == {
        2: ["url_missing"],
        3: ["qty_negative"],
        4: ["url_missing", "qty_negative"],
    }


# -- windows -------------------------------------------------------------------

def test_sliding_and_session_windows_batch(spark):
    events = load_table(spark, SF, "events")
    slid = sliding_counts(events, "2 hours", "1 hour")
    # every event contributes to exactly 2 windows
    total = slid.agg(F.sum("n_events").alias("s")).head()["s"]
    assert total == 2 * events.count()
    sess = session_counts(events, "30 minutes")
    # sessions partition all events
    assert sess.agg(F.sum("n_events").alias("s")).head()["s"] == events.count()


# -- S11: batch update-in-place analogue ---------------------------------------

def test_increment_counters_update_in_place(spark, tmp_path):
    """Painless `ctx._source.retweet_count += n` (docs/protokol.md:596-611)
    as a batch recompute + atomic directory swap."""
    from tweets_elastic_spark.sinks import increment_counters

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 0), (3, "c", 5)],
        "id long, content string, retweet_count int",
    )
    path = str(tmp_path / "docs")
    write_documents(df, path, id_col="id")

    deltas = spark.createDataFrame(
        [(1, 7), (3, -2), (99, 100)],  # 99 unknown → ignored
        "id long, delta int",
    )
    n = increment_counters(spark, path, deltas, counter_col="retweet_count")
    assert n == 2
    back = {r["id"]: r["retweet_count"] for r in spark.read.parquet(path).collect()}
    assert back == {1: 17, 2: 0, 3: 3}
    # schema unchanged (counter keeps its declared int type)
    assert dict(spark.read.parquet(path).dtypes)["retweet_count"] == "int"
    # idempotent re-apply of an empty delta set
    empty = spark.createDataFrame([], "id long, delta int")
    assert increment_counters(spark, path, empty) == 0
    assert {r["id"]: r["retweet_count"] for r in spark.read.parquet(path).collect()} == back


# -- S6: ES connector (optional; sandbox has no jar) --------------------------

def test_write_elasticsearch_clear_error_without_connector(spark):
    """Without the connector jar on the classpath the sink must fail with
    actionable guidance, not a raw ClassNotFoundException."""
    from tweets_elastic_spark.sinks import write_elasticsearch

    df = spark.createDataFrame([(1, "x")], "id long, content string")
    with pytest.raises(RuntimeError, match="elasticsearch-spark connector"):
        write_elasticsearch(df, "tweets")


def test_write_elasticsearch_contract_against_mock_datasource(spark, tmp_path):
    """S6 contract test (r6 verdict item 4): the sandbox has no connector
    jar, so register a mock DataSource under the connector's EXACT name
    ('org.elasticsearch.spark.sql', Spark 4 Python DataSource API) in an
    isolated session and assert the options write_elasticsearch would
    send a real cluster — the id-keyed mapping (es.mapping.id, the
    reference's bulk _id contract, src/main.py:137-148), the batch sizing
    (es.batch.size.entries, mirroring src/main.py:109), node list,
    auto-create, append mode, and the index as the save path. The mock
    consumes every row through the real executor write path."""
    import json

    from pyspark.sql.datasource import (
        DataSource, DataSourceWriter, WriterCommitMessage,
    )

    from tweets_elastic_spark.sinks import write_elasticsearch

    capture = str(tmp_path / "captured.json")

    class _MockESWriter(DataSourceWriter):
        def write(self, iterator):
            n = sum(1 for _ in iterator)
            return WriterCommitMessage()

    class _MockES(DataSource):
        @classmethod
        def name(cls) -> str:
            return "org.elasticsearch.spark.sql"

        def writer(self, schema, overwrite):
            with open(capture, "w") as f:
                json.dump({
                    "options": dict(self.options),
                    "overwrite": overwrite,
                    "schema": schema.simpleString(),
                }, f)
            return _MockESWriter()

    # isolated session: the registration must not leak into the shared
    # fixture session, where the no-connector error path is pinned above
    ns = spark.newSession()
    ns.dataSource.register(_MockES)
    df = ns.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "id long, content string"
    )
    write_elasticsearch(
        df, "tweets", id_col="id", nodes="es1:9200,es2:9200",
        batch_entries=500,
    )
    got = json.load(open(capture))
    opts = got["options"]
    assert opts["es.mapping.id"] == "id"
    assert opts["es.batch.size.entries"] == "500"
    assert opts["es.nodes"] == "es1:9200,es2:9200"
    assert opts["es.index.auto.create"] == "true"
    assert opts["path"] == "tweets"          # .save(index) → the index name
    assert got["overwrite"] is False         # mode("append")
    assert got["schema"] == "struct<id:bigint,content:string>"
    # the shared session still has no such source: error path intact
    df0 = spark.createDataFrame([(1, "x")], "id long, content string")
    with pytest.raises(RuntimeError, match="elasticsearch-spark connector"):
        write_elasticsearch(df0, "tweets")


def test_increment_counters_sums_duplicate_delta_ids(spark, tmp_path):
    """Several delta batches for one id sum into one update — never
    duplicate document rows."""
    from tweets_elastic_spark.sinks import increment_counters

    df = spark.createDataFrame([(1, 10), (2, 1)], "id long, retweet_count int")
    path = str(tmp_path / "docs")
    write_documents(df, path, id_col="id")
    deltas = spark.createDataFrame(
        [(1, 7), (1, 3), (1, -2)], "id long, delta int"
    )
    assert increment_counters(spark, path, deltas) == 1
    rows = spark.read.parquet(path).collect()
    assert len(rows) == 2  # one row per doc, no join fan-out
    assert {r["id"]: r["retweet_count"] for r in rows} == {1: 18, 2: 1}


def test_partitioned_sink_prunes_on_read(spark, tmp_path):
    """write_documents(partition_by=['lang']) + a lang filter on read-back:
    the scan must prune to the one partition directory (PartitionFilters in
    the plan, not a post-scan filter) — the layout move that turns a
    full-corpus scan into a per-language scan at 100 TB."""
    from tweets_elastic_spark.sinks import write_documents

    docs = load_table(spark, SF, "documents")
    out = str(tmp_path / "docs_by_lang")
    write_documents(docs, out, id_col="doc_id", partition_by=["lang"])

    back = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1][:120]
    n_langs = docs.select("lang").distinct().count()
    assert back.select("lang").distinct().count() == 1
    assert n_langs > 1  # pruning actually excluded something


def test_delete_and_update_by_query(spark):
    from tweets_elastic_spark.sinks import delete_by_query, update_by_query

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0), (4, None, 5.0)],
        "id long, g string, v double",
    )
    # delete: NULL-predicate docs survive (coalesce false), matches drop
    got = sorted(r["id"] for r in delete_by_query(
        df, {"term": {"g": "a"}}).collect())
    assert got == [2, 4]
    # update: only matches change; target type preserved; params bind
    out = {r["id"]: r["v"] for r in update_by_query(
        df, {"range": {"v": {"gte": 20}}},
        "ctx._source.v = ctx._source.v * params.f + 1", params={"f": 2},
    ).collect()}
    assert out == {1: 10.0, 2: 41.0, 3: 61.0, 4: 5.0}
    # unsupported script shapes and unknown targets refuse
    import pytest as _pt
    with _pt.raises(ValueError, match="arithmetic"):
        update_by_query(df, {"term": {"g": "a"}},
                        "ctx._source.tags.add('x')")
    with _pt.raises(ValueError, match="not a column"):
        update_by_query(df, {"term": {"g": "a"}},
                        "ctx._source.nope = 1")
