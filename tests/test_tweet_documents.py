"""Golden-document test (SURVEY §5.2 item 2).

Structurally replicates /root/reference/docs/sample_document.json: one
conversation with every child populated, plus the two semantics traps —
top-level [] for childless conversations (COALESCE, queries.sql:21-25) and
NULL nested hashtags for a parent without hashtags (queries.sql:61-66).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tweets_elastic_spark import schemas
from tweets_elastic_spark.operators.denormalize import CHILD_ARRAYS, build_tweet_documents
from tweets_elastic_spark.sources.fixtures import make_tweets_tables


def _doc_json(df):
    """(id, json): every other column serialized, the byte-level form the
    ETL equality tests compare."""
    body = F.struct(*[c for c in df.columns if c != "id"])
    return df.select("id", F.to_json(body).alias("json"))


@pytest.fixture(scope="module")
def docs(spark):
    tables = make_tweets_tables(spark, n_conversations=100)
    df = build_tweet_documents(tables)
    rows = {r["id"]: r for r in df.collect()}
    return df, rows


def test_document_schema(docs):
    """Types must match the declared contract exactly; the pipeline is
    allowed to be *stricter* on nullability (COALESCE → non-null arrays)."""
    df, _ = docs
    assert df.schema.simpleString() == schemas.TWEETS_DOCUMENT.simpleString()


def test_row_count_one_doc_per_conversation(docs):
    _, rows = docs
    assert len(rows) == 100


def test_golden_document_full(docs):
    _, rows = docs
    d = rows[1].asDict(recursive=True)

    assert d["content"].startswith("RT @WilburSoot")
    assert d["language"] == "en"
    assert d["possibly_sensitive"] is False
    assert d["created_at"].isoformat().startswith("2022-02-26T23:29:55")

    # P2: author packed as struct (J1 inner join)
    assert d["author"] == {
        "id": 1, "name": "Wilbur Soot", "username": "WilburSoot",
        "description": "I'm in Antarctica's coldest café",
        "followers_count": 500000, "following_count": 50,
        "tweet_count": 1200, "listed_count": 300,
    }

    # J2/J3 + A1: duplicated annotation pair preserved (sample_document.json:26-51)
    ca = d["context_annotations"]
    assert len(ca) == 3
    assert ca[0] == ca[1]
    assert ca[0]["entity"]["name"] == "Wilbur Soot"
    assert ca[0]["domain"] == {
        "id": 123, "name": "Person",
        "description": "Named people in the world like Nelson Mandela",
    }
    assert ca[2]["entity"]["name"] == "Music"
    assert ca[2]["domain"]["name"] == "Interests and Hobbies Category"

    # J4: hashtags, deterministic (sorted) order
    assert d["conversation_hashtags"] == [{"tag": "Peace"}, {"tag": "Ukraine"}]

    # J5: annotations with half_float→float widening
    (an,) = d["annotations"]
    assert an["value"] == "UKRAINE" and an["type"] == "Place"
    assert abs(an["probability"] - 0.6334) < 1e-4

    # J5: links with null title/description preserved
    assert d["links"] == [
        {"url": "https://example.com/article", "title": "An article", "description": None}
    ]

    # J6-J9: reference to parent 4 with decorrelated author subquery
    (ref,) = d["conversation_references"]
    assert ref["id"] == 4 and ref["type"] == "retweeted"
    assert ref["content"].startswith("tweet number 4")
    assert ref["author"]["id"] is not None and ref["author"]["username"] is not None


def test_childless_conversation_gets_empty_arrays(docs):
    _, rows = docs
    d = rows[2].asDict(recursive=True)
    assert d["context_annotations"] == []
    assert d["conversation_hashtags"] == []
    assert d["annotations"] == []
    assert d["links"] == []
    assert d["conversation_references"] == []


def test_nested_parent_hashtags_null_not_empty(docs):
    """queries.sql:61-66 has no COALESCE: parent without hashtags → NULL."""
    _, rows = docs
    d = rows[3].asDict(recursive=True)
    (ref,) = d["conversation_references"]
    assert ref["id"] == 2 and ref["type"] == "replied_to"
    assert ref["hashtags"] is None  # NOT []


def test_parent_with_hashtags_gets_sorted_list(docs):
    _, rows = docs
    # find any reference whose parent has hashtags; assert sorted, non-empty
    found = False
    parent_tags = {}
    for r in rows.values():
        d = r.asDict(recursive=True)
        for tag in d["conversation_hashtags"]:
            parent_tags.setdefault(d["id"], []).append(tag["tag"])
    for r in rows.values():
        d = r.asDict(recursive=True)
        for ref in d["conversation_references"]:
            if ref["hashtags"] is not None:
                tags = [h["tag"] for h in ref["hashtags"]]
                assert tags == sorted(tags)
                assert tags == sorted(parent_tags[ref["id"]])
                found = True
    assert found, "fixture should contain at least one parent with hashtags"


@pytest.mark.parametrize("child", CHILD_ARRAYS)
def test_children_subset_equals_full_build(spark, docs, child):
    """``children=[c]`` builds the same documents, and the same array ``c``
    for each, as the full build."""
    df, rows = docs
    sub = build_tweet_documents(make_tweets_tables(spark, n_conversations=100),
                                children=[child])
    assert sub.schema[child] == df.schema[child]
    got = {r["id"]: r[child] for r in sub.select("id", child).collect()}
    assert set(got) == set(rows)
    assert got == {i: r[child] for i, r in rows.items()}


def test_document_field_paths_match_reference_sample(spark, docs, reference_json):
    """Every nested field path in the reference's own golden document
    (/root/reference/docs/sample_document.json:5-94, the `_source` body)
    exists in our document schema, and vice versa — wire-format parity a
    reference user can rely on when switching engines."""
    sample = reference_json("docs/sample_document.json")["_source"]

    def sample_paths(obj, prefix=""):
        out = set()
        if isinstance(obj, dict):
            for k, v in obj.items():
                out.add(prefix + k)
                out |= sample_paths(v, prefix + k + ".")
        elif isinstance(obj, list):
            for el in obj:
                out |= sample_paths(el, prefix)
        return out

    from pyspark.sql.types import ArrayType, StructType

    def schema_paths(dt, prefix=""):
        out = set()
        if isinstance(dt, StructType):
            for f in dt.fields:
                out.add(prefix + f.name)
                out |= schema_paths(f.dataType, prefix + f.name + ".")
        elif isinstance(dt, ArrayType):
            out |= schema_paths(dt.elementType, prefix)
        return out

    df, _ = docs
    ours = schema_paths(df.schema)
    theirs = sample_paths(sample)
    assert theirs <= ours, f"missing from our schema: {sorted(theirs - ours)}"
    assert ours <= theirs, f"extra fields not in reference: {sorted(ours - theirs)}"


def test_incremental_etl_equals_full_build(spark, tmp_path):
    """§3.1 main() lifecycle: keyset-PAGED incremental ETL (page_limit, the
    reference's LIMIT) over a static source unions to exactly the one-shot
    build, byte-for-byte — including documents whose parent references
    point OUTSIDE their own page (J6-J8 lookups run over the full tables,
    so cross-page parent hashtags must resolve, not NULL out)."""
    from tweets_elastic_spark.pipeline import etl_full, etl_increment
    from tweets_elastic_spark.sources.incremental import WatermarkStore

    tables = make_tweets_tables(spark, n_conversations=60)
    src = tmp_path / "src"
    for name, df in tables.items():
        df.write.parquet(str(src / f"{name}.parquet"))

    # the fixtures must actually exercise cross-page parents with hashtags,
    # otherwise this test can't catch page-pruning bugs
    refs = tables["conversation_references"]
    ht_convs = {r["conversation_id"] for r in tables["conversation_hashtags"].collect()}
    cross = [
        r for r in refs.collect()
        if abs(r["parent_id"] - r["conversation_id"]) > 25 and r["parent_id"] in ht_convs
    ]
    assert cross, "fixture lacks cross-page parents with hashtags"

    full_sink = str(tmp_path / "full")
    assert etl_full(spark, str(src), full_sink) == 60

    # true keyset pages: 25 docs per increment until caught up
    inc_sink = str(tmp_path / "inc")
    store = WatermarkStore(str(tmp_path / "wm.json"))
    store.set("conversations.id", 0)
    ns = []
    while True:
        n = etl_increment(spark, str(src), inc_sink, store, page_limit=25)
        if n == 0:
            break
        ns.append(n)
    assert ns == [25, 25, 10]

    # equality of the document sets, byte-level via the JSON wire format
    full_docs = spark.read.parquet(full_sink).drop("ingest_wm")
    inc_docs = spark.read.parquet(inc_sink).drop("ingest_wm")
    a = {r["id"]: r["json"] for r in _doc_json(full_docs).collect()}
    b = {r["id"]: r["json"] for r in _doc_json(inc_docs).collect()}
    assert a == b


def test_incremental_etl_pages_union_to_full(spark, tmp_path):
    """True paging: source grows in two arrivals; increments resolve parent
    references against the full current source and union to the full build."""
    from tweets_elastic_spark.pipeline import etl_full, etl_increment
    from tweets_elastic_spark.sources.incremental import WatermarkStore
    import shutil as sh

    tables = make_tweets_tables(spark, n_conversations=60)
    src = tmp_path / "src"
    # arrival 1: conversations 1..30 (children and dims all present from the
    # start — only the spine grows, like a crawl appending new tweets)
    for name, df in tables.items():
        if name == "conversations":
            df.filter("id <= 30").write.parquet(str(src / f"{name}.parquet"))
        else:
            df.write.parquet(str(src / f"{name}.parquet"))

    inc_sink = str(tmp_path / "inc")
    store = WatermarkStore(str(tmp_path / "wm.json"))
    store.set("conversations.id", 0)
    n1 = etl_increment(spark, str(src), inc_sink, store)
    assert n1 == 30

    # arrival 2: the rest of the conversations
    sh.rmtree(src / "conversations.parquet")
    tables["conversations"].write.parquet(str(src / "conversations.parquet"))
    n2 = etl_increment(spark, str(src), inc_sink, store)
    assert n1 + n2 == 60

    full_sink = str(tmp_path / "full")
    etl_full(spark, str(src), full_sink)
    a = {
        r["id"]: r["json"]
        for r in _doc_json(spark.read.parquet(full_sink).drop("ingest_wm")).collect()
    }
    b = {
        r["id"]: r["json"]
        for r in _doc_json(spark.read.parquet(inc_sink).drop("ingest_wm")).collect()
    }
    # batch-1 docs whose parent arrived in batch 2 legitimately differ
    # (the reference would show the same: its pages see the DB as of the
    # page's execution); everything else must match byte-for-byte
    refs = tables["conversation_references"]
    late_parent_children = {
        r["conversation_id"]
        for r in refs.filter("parent_id > 30").collect()
        if r["conversation_id"] <= 30
    }
    assert set(a) == set(b)
    for doc_id, j in a.items():
        if doc_id not in late_parent_children:
            assert b[doc_id] == j, f"doc {doc_id} differs"


def test_incremental_etl_replay_does_not_duplicate(spark, tmp_path):
    """A crash between the page write and the watermark advance replays
    the same page into the same ``ingest_wm`` partition (overwrite), so the
    sink keeps the same rows and no id twice — effectively-once without a
    transactional sink."""
    from tweets_elastic_spark.pipeline import etl_increment
    from tweets_elastic_spark.sources.incremental import WatermarkStore

    tables = make_tweets_tables(spark, n_conversations=30)
    src = tmp_path / "src"
    for name, df in tables.items():
        df.write.parquet(str(src / f"{name}.parquet"))
    sink = str(tmp_path / "inc")
    store = WatermarkStore(str(tmp_path / "wm.json"))
    store.set("conversations.id", 0)

    def sink_rows():
        docs = spark.read.parquet(sink)
        return sorted((r["id"], r["json"]) for r in _doc_json(docs).collect())

    assert etl_increment(spark, str(src), sink, store, page_limit=20) == 20
    first = sink_rows()
    # the crash: the watermark rolls back as if store.set never ran
    store.set("conversations.id", 0)
    assert etl_increment(spark, str(src), sink, store, page_limit=20) == 20
    again = sink_rows()
    assert again == first
    ids = [i for i, _ in again]
    assert len(ids) == len(set(ids)) == 20


def test_incremental_etl_caught_up_writes_nothing(spark, tmp_path, spark_jobs):
    """Past the last conversation, a keyset page is one Spark job (the
    probe that finds the page's last id and size): it returns 0, writes no
    ``ingest_wm`` partition and leaves the watermark where it was."""
    from tweets_elastic_spark.pipeline import etl_increment
    from tweets_elastic_spark.sources.incremental import WatermarkStore

    tables = make_tweets_tables(spark, n_conversations=30)
    src = tmp_path / "src"
    for name, df in tables.items():
        df.write.parquet(str(src / f"{name}.parquet"))
    sink = str(tmp_path / "inc")
    store = WatermarkStore(str(tmp_path / "wm.json"))
    store.set("conversations.id", 0)
    assert etl_increment(spark, str(src), sink, store) == 30
    partitions, wm = sorted(os.listdir(sink)), store.get("conversations.id")

    with spark_jobs() as jobs:
        n = etl_increment(spark, str(src), sink, store, page_limit=20)
    assert n == 0
    assert sorted(os.listdir(sink)) == partitions
    assert store.get("conversations.id") == wm == 30
    assert jobs[0] == 1
