"""Sink idempotence + quarantine (SURVEY §5.2 item 5), incremental
watermark ingestion (S3), and the Structured-Streaming layer (windows,
foreachBatch, custom stateful operator) — streaming results checked against
their batch twins."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from tweets_elastic_spark.sinks import validate_split, write_documents
from tweets_elastic_spark.sources.catalog import load_table
from tweets_elastic_spark.sources.incremental import (
    WatermarkStore,
    ingest_increment,
    read_increment,
)
from tweets_elastic_spark.streaming.ingest import (
    run_foreach_batch_ingest,
    run_windowed_stream,
    stream_events,
)
from tweets_elastic_spark.streaming.stateful import running_user_totals
from tweets_elastic_spark.streaming.windows import (
    session_counts,
    sliding_counts,
    tumbling_counts,
)

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


# -- incremental (keyset watermark) -------------------------------------------

def test_incremental_ingest_watermark_cycle(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    orders = load_table(spark, SF, "orders")
    # first arrival: keys <= 700
    orders.filter("o_orderkey <= 700").write.parquet(str(src / "orders.parquet"))
    store = WatermarkStore(str(tmp_path / "wm.json"))
    sink = str(tmp_path / "sink")

    n1 = ingest_increment(spark, str(src), "orders", "o_orderkey", sink, store)
    assert n1 == orders.filter("o_orderkey <= 700").count()
    # caught up → 0 rows, watermark unchanged
    assert ingest_increment(spark, str(src), "orders", "o_orderkey", sink, store) == 0

    # second arrival: the rest
    shutil.rmtree(src / "orders.parquet")
    orders.write.parquet(str(src / "orders.parquet"))
    n2 = ingest_increment(spark, str(src), "orders", "o_orderkey", sink, store)
    assert n1 + n2 == orders.count()
    assert spark.read.parquet(sink).count() == orders.count()
    # predicate actually prunes: read_increment matches filter semantics
    assert (
        read_increment(spark, SF, "orders", "o_orderkey", 700).count()
        == orders.filter("o_orderkey > 700").count()
    )


# -- streaming ----------------------------------------------------------------

@pytest.fixture()
def events_dir(spark, tmp_path):
    d = tmp_path / "events_in"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "events.parquet")
    return str(d)


def test_windowed_stream_matches_batch(spark, tmp_path, events_dir):
    sink = str(tmp_path / "agg_out")
    q = run_windowed_stream(
        stream_events(spark, events_dir), sink, str(tmp_path / "ckpt"),
        width="1 hour", watermark="2 hours",
    )
    q.awaitTermination(120)
    streamed = spark.read.parquet(sink)

    batch_events = load_table(spark, SF, "events")
    max_ts = batch_events.agg(F.max("ts").alias("m")).head()["m"]
    batch = tumbling_counts(batch_events, "1 hour").filter(
        F.col("window_start") + F.expr("INTERVAL 1 HOUR")
        <= F.lit(max_ts) - F.expr("INTERVAL 2 HOURS")
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in streamed.collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_foreach_batch_ingest_exactly_once(spark, tmp_path, events_dir):
    sink = str(tmp_path / "ev_out")
    ckpt = str(tmp_path / "ev_ckpt")
    q = run_foreach_batch_ingest(stream_events(spark, events_dir), sink, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 1000
    # restart with same checkpoint: no new files → no duplicates
    q2 = run_foreach_batch_ingest(stream_events(spark, events_dir), sink, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 1000


def test_stateful_running_totals_match_batch(spark, tmp_path, events_dir):
    out = (
        running_user_totals(stream_events(spark, events_dir))
        .writeStream.outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "st_ckpt"))
        .format("memory")
        .queryName("user_totals")
        .start()
    )
    out.awaitTermination(120)
    # last update per user == batch aggregate
    final = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in spark.sql("select * from user_totals").collect()
    }
    batch = {
        r["user_id"]: (r["n"], round(r["t"], 6))
        for r in load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    # memory sink in update mode appends rows; keep the max-count row per user
    assert {u: v for u, v in final.items() if v[0] == batch[u][0]} == batch


def test_sliding_and_session_windows_batch(spark):
    events = load_table(spark, SF, "events")
    slid = sliding_counts(events, "2 hours", "1 hour")
    # every event contributes to exactly 2 windows
    total = slid.agg(F.sum("n_events").alias("s")).head()["s"]
    assert total == 2 * events.count()
    sess = session_counts(events, "30 minutes")
    # sessions partition all events
    assert sess.agg(F.sum("n_events").alias("s")).head()["s"] == events.count()


# -- P6: document JSON serialization at the sink -----------------------------

def test_document_json_byte_stable_golden(spark):
    """The golden document's JSON wire format is byte-stable run-to-run
    (P6: to_json(a.*) queries.sql:20 / bulk bodies main.py:140,146)."""
    from tweets_elastic_spark.operators.denormalize import build_tweet_documents
    from tweets_elastic_spark.sinks import document_json
    from tweets_elastic_spark.sources.fixtures import make_tweets_tables

    tables = make_tweets_tables(spark, n_conversations=5)
    doc = build_tweet_documents(tables)
    j1 = {r["id"]: r["json"] for r in document_json(doc).collect()}
    j2 = {r["id"]: r["json"] for r in document_json(doc).collect()}
    assert j1 == j2  # byte-stable

    import json as jsonlib
    golden = jsonlib.loads(j1[1])
    # id travels in the header (op pair), not the body — like the bulk loop
    assert "id" not in golden
    assert golden["author"]["username"] == "WilburSoot"
    assert golden["created_at"] == "2022-02-26T23:29:55Z"
    assert [h["tag"] for h in golden["conversation_hashtags"]] == ["Peace", "Ukraine"]
    # P4: childless conversation serializes [] (not null/missing)
    bare = jsonlib.loads(j1[2])
    assert bare["links"] == [] and bare["annotations"] == []


def test_write_documents_json_lines(spark, tmp_path):
    from tweets_elastic_spark.sinks import write_documents_json

    df = load_table(spark, SF, "orders").limit(50)
    path = str(tmp_path / "docs_json")
    write_documents_json(df, path, id_col="o_orderkey")
    back = spark.read.json(path)
    assert back.count() == 50
    assert set(back.columns) == {"o_orderkey", "json"}


# -- P5: string-timestamp ingest ---------------------------------------------

def test_parse_es_timestamp_offset_preserving(spark):
    """yyyy-MM-dd'T'HH:mm:ssZZZZZ parse (mapping.json:16-19) — offsets
    normalize to the same instant under the pinned-UTC session."""
    from tweets_elastic_spark.schemas import parse_es_timestamp

    df = spark.createDataFrame(
        [("2022-02-23T09:51:47+00:00",), ("2022-02-23T10:51:47+01:00",),
         ("2022-02-23T09:51:47Z",), (None,)],
        "raw string",
    ).select(parse_es_timestamp(F.col("raw")).alias("ts"))
    out = [r["ts"] for r in df.collect()]
    assert out[0] == out[1] == out[2]  # same instant, offset-normalized
    assert out[0].isoformat().startswith("2022-02-23T09:51:47")
    assert out[3] is None


# -- incremental: crash-replay idempotence -----------------------------------

def test_incremental_replay_does_not_duplicate(spark, tmp_path):
    """A crash between the increment write and the watermark advance replays
    the same increment into the same ingest_wm partition (overwrite) —
    effectively-once without a transactional sink."""
    src = tmp_path / "src"
    src.mkdir()
    orders = load_table(spark, SF, "orders")
    orders.write.parquet(str(src / "orders.parquet"))
    store = WatermarkStore(str(tmp_path / "wm.json"))
    sink = str(tmp_path / "sink")

    n1 = ingest_increment(spark, str(src), "orders", "o_orderkey", sink, store)
    assert n1 == orders.count()
    # simulate the crash: roll the watermark back as if store.set never ran
    store.set("orders.o_orderkey", -1)
    n2 = ingest_increment(spark, str(src), "orders", "o_orderkey", sink, store)
    assert n2 == n1
    assert spark.read.parquet(sink).count() == orders.count()  # no dups


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


# -- streaming dedup -----------------------------------------------------------

def test_streaming_dedup_exact_suppresses_in_horizon_dups(spark, tmp_path):
    """Duplicates arriving within the watermark horizon are suppressed;
    distinct texts all pass."""
    from tweets_elastic_spark.streaming.dedup import streaming_dedup_exact

    src = tmp_path / "docs_in"
    src.mkdir()
    rows = [
        (1, "alpha beta gamma", "2024-01-01 10:00:00"),
        (2, "Alpha  beta GAMMA", "2024-01-01 10:05:00"),   # dup of 1 (normalized)
        (3, "something different", "2024-01-01 10:10:00"),
        (4, "alpha beta gamma", "2024-01-01 10:20:00"),     # dup of 1, in horizon
        (5, "yet another doc", "2024-01-01 11:00:00"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, raw_ts string")
    df = df.withColumn("ts", F.to_timestamp("raw_ts")).drop("raw_ts")
    # stage FLAT files: the file-stream source does not recurse into the
    # directory-per-dataset layout df.write.parquet produces
    staging = tmp_path / "staging"
    df.coalesce(1).write.parquet(str(staging))
    import glob

    for i, part in enumerate(glob.glob(str(staging / "part-*.parquet"))):
        shutil.copy(part, src / f"batch{i}.parquet")

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .parquet(str(src))
    )
    out = (
        streaming_dedup_exact(stream, watermark="1 hour")
        .writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    out.awaitTermination(120)
    survivors = {r["doc_id"] for r in spark.sql("select * from dedup_out").collect()}
    # one survivor per distinct normalized text
    assert len(survivors) == 3
    assert 3 in survivors and 5 in survivors
    assert len(survivors & {1, 2, 4}) == 1


def test_salted_collect_list_matches_plain_groupby(spark):
    """Two-stage salted aggregation == plain groupBy+collect_list (sorted),
    including under a pathologically hot key."""
    from tweets_elastic_spark.operators.skew import salted_collect_list

    rows = [(1, f"v{i:04d}") for i in range(500)] + [(k, f"x{k}") for k in range(2, 30)]
    df = spark.createDataFrame(rows, "key long, val string")
    salted = {
        r["key"]: list(r["vals"])
        for r in salted_collect_list(df, "key", F.col("val"), "vals", salts=8).collect()
    }
    plain = {
        r["key"]: sorted(r["vals"])
        for r in df.groupBy("key").agg(F.collect_list("val").alias("vals")).collect()
    }
    assert salted == plain
    assert len(salted[1]) == 500


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


def test_compact_sink_latest_increment_wins(spark, tmp_path):
    """compact_sink keeps the row from the highest ingest_wm per id,
    collapses the sink to one partition, and is idempotent."""
    from tweets_elastic_spark.sinks import compact_sink

    sink = str(tmp_path / "sink")
    spark.createDataFrame(
        [(1, "v0"), (2, "v0"), (3, "v0")], "id long, payload string"
    ).write.parquet(sink + "/ingest_wm=0")
    spark.createDataFrame(
        [(2, "v10"), (4, "v10")], "id long, payload string"
    ).write.parquet(sink + "/ingest_wm=10")
    spark.createDataFrame(
        [(3, "v5")], "id long, payload string"
    ).write.parquet(sink + "/ingest_wm=5")

    n = compact_sink(spark, sink, id_col="id")
    assert n == 4
    rows = {r["id"]: r["payload"] for r in
            spark.read.parquet(sink).drop("ingest_wm").collect()}
    assert rows == {1: "v0", 2: "v10", 3: "v5", 4: "v10"}
    wms = {r["ingest_wm"] for r in spark.read.parquet(sink).collect()}
    assert wms == {-1}
    # idempotent: compacting a compacted sink changes nothing
    assert compact_sink(spark, sink, id_col="id") == 4
    rows2 = {r["id"]: r["payload"] for r in
             spark.read.parquet(sink).drop("ingest_wm").collect()}
    assert rows2 == rows


def test_json_string_ingest_parses_es_timestamps(spark, tmp_path):
    """P5 at its real call site: a JSON-lines export carrying the
    reference's ...ssZZZZZ timestamps round-trips through load_table_json
    into exactly the typed rows the parquet path would produce."""
    from tweets_elastic_spark.schemas import ES_TIMESTAMP_FORMAT, TWEETS_TABLES
    from tweets_elastic_spark.sources.catalog import load_table_json
    from tweets_elastic_spark.sources.fixtures import make_tweets_tables

    conv = make_tweets_tables(spark, n_conversations=20)["conversations"]
    path = str(tmp_path / "conversations.jsonl")
    conv.write.option("timestampFormat", ES_TIMESTAMP_FORMAT).json(path)

    back = load_table_json(spark, path, "conversations")
    # nullability is reader-dependent; names and TYPES must match exactly
    want = [(f.name, f.dataType) for f in TWEETS_TABLES["conversations"].fields]
    assert [(f.name, f.dataType) for f in back.schema.fields] == want
    a = sorted(map(tuple, conv.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


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


def test_stream_stream_join_matches_batch(spark, tmp_path, events_dir):
    """Stream-stream interval join (clicks × same-user error windows, both
    sides watermarked) emits exactly the batch pairs: the same
    click_error_pairs function runs on the batch DataFrames (watermarks
    are no-ops there), so the twin is literal, not re-implemented."""
    from tweets_elastic_spark.streaming.ingest import stream_events
    from tweets_elastic_spark.streaming.joins import (
        click_error_pairs,
        run_click_error_join,
    )

    ev_c = stream_events(spark, events_dir)
    ev_e = stream_events(spark, events_dir)
    q = run_click_error_join(
        ev_c.filter(F.col("event_type") == "click"),
        ev_e.filter(F.col("event_type") == "error"),
        str(tmp_path / "pairs_out"),
        str(tmp_path / "pairs_ckpt"),
    )
    q.awaitTermination(120)
    streamed = {
        (r["err_id"], r["click_ts"])
        for r in spark.read.parquet(str(tmp_path / "pairs_out")).collect()
    }

    ev = load_table(spark, SF, "events")
    batch = {
        (r["err_id"], r["click_ts"])
        for r in click_error_pairs(
            ev.filter(F.col("event_type") == "click"),
            ev.filter(F.col("event_type") == "error"),
        ).collect()
    }
    assert streamed == batch
    assert len(batch) > 0


def test_stream_events_empty_dir_fails_fast(spark, tmp_path):
    """An empty source directory can't be probed for the ts encoding;
    guessing micros would crash the running query at runtime if nanos files
    arrive, so stream definition must raise unless allow_empty=True."""
    d = tmp_path / "empty_events"
    d.mkdir()
    with pytest.raises(FileNotFoundError, match="allow_empty"):
        stream_events(spark, str(d))
    # escape hatch: explicit opt-in starts (micros assumption, documented)
    assert stream_events(spark, str(d), allow_empty=True).isStreaming


def test_streaming_index_maintenance_equals_monolithic(spark, tmp_path):
    """The NRT-segment story: base index over half the corpus, then the
    rest arrives as a document STREAM drained via availableNow — each
    micro-batch one appended segment. Aggregated BM25 stats and results
    equal a monolithic full build; base segment files untouched; replaying
    the stream from the same checkpoint appends nothing twice."""
    import os

    from pyspark.sql import functions as F

    from tweets_elastic_spark import indexing
    from tweets_elastic_spark.functions.analyzers import analyze_text
    from tweets_elastic_spark.plans.search import BM25Match, search
    from tweets_elastic_spark.sources.catalog import load_table
    from tweets_elastic_spark.streaming.indexing import (
        run_streaming_index_maintenance,
        stream_documents,
    )

    sf = "/root/testdata/sf0.01"
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    src_half = str(tmp_path / "src_half")
    src_full = str(tmp_path / "src_full")
    for out, dpred, epred in (
        (src_half, "doc_id <= 250", "vec_id <= 250"),
        (src_full, "true", "true"),
    ):
        docs.filter(dpred).write.parquet(os.path.join(out, "documents.parquet"))
        emb.filter(epred).write.parquet(os.path.join(out, "embeddings.parquet"))

    idx_mono = indexing.build_index(spark, src_full, str(tmp_path / "idx_mono"))
    idx_seg = indexing.build_index(spark, src_half, str(tmp_path / "idx_seg"))
    base_dir = os.path.join(idx_seg, "documents_indexed", "segment=base")
    base_files = {
        os.path.join(r, f) for r, _, fs in os.walk(base_dir) for f in fs
    }
    base_mtimes = {f: os.path.getmtime(f) for f in base_files}

    # the "arriving" docs: several parquet files so several micro-batches
    stream_src = str(tmp_path / "arrivals")
    docs.filter("doc_id > 250").repartition(4).write.parquet(stream_src)
    ckpt = str(tmp_path / "ckpt")
    q = run_streaming_index_maintenance(
        stream_documents(spark, stream_src), idx_seg, ckpt
    )
    q.awaitTermination(120)

    # replay from the same checkpoint: nothing new arrives, nothing doubles
    q2 = run_streaming_index_maintenance(
        stream_documents(spark, stream_src), idx_seg, ckpt
    )
    q2.awaitTermination(120)

    assert {f: os.path.getmtime(f) for f in base_files} == base_mtimes

    qtokens = analyze_text(spark, "spark merge", "custom_shingles")

    def bm25_results(idx):
        d = indexing.read_indexed_documents(spark, idx)
        stats = indexing.bm25_stats_from_index(
            spark, idx, "text__custom_shingles", qtokens
        )
        match = BM25Match(
            [("text", "text__custom_shingles", 1.0)], "spark merge",
            analyzer="custom_shingles", stats=stats,
        )
        out = search(d, match, k=None).select(
            "doc_id", F.round("score", 6).alias("s")
        )
        return sorted((r["doc_id"], r["s"]) for r in out.collect())

    assert bm25_results(idx_seg) == bm25_results(idx_mono)


def test_stream_documents_requires_files(spark, tmp_path):
    import pytest as _pytest

    from tweets_elastic_spark.streaming.indexing import stream_documents

    empty = tmp_path / "empty"
    empty.mkdir()
    with _pytest.raises(FileNotFoundError, match="no parquet files"):
        stream_documents(spark, str(empty))


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
