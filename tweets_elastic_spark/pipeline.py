"""The reference's ``main()`` retold Spark-first (SURVEY §3.1).

The reference runs: connect → create index → keyset loop { page the
conversations spine → denormalize the page server-side → bulk-upsert the
documents, advancing ``last_id`` } (src/main.py:106-162). Here:

* ``etl_full`` — the one-shot form: a single distributed pipeline replaces
  the whole loop (partitioned scan ≙ pagination, per-partition writes ≙
  bulk batches).
* ``etl_increment`` — the re-runnable form: document only conversations
  past the durable watermark (optionally capped by ``page_limit``, the
  reference's LIMIT at src/main.py:100). ``conversations.id`` is unique,
  so a page is exactly the ids in ``(watermark, max page id]``: one action
  finds that max and the page size, and the document query reads the
  page as an id range, which parquet pushes into the scans. Every lookup —
  parent tweets/authors (J6/J7) and parent hashtags (J8) — still resolves
  against the FULL tables, the same semantics as the reference's page
  query whose subqueries run over the whole database. Each increment
  lands in a deterministic ``ingest_wm=<wm>`` partition so crash replays
  overwrite instead of duplicating.

Both writers use the same ``ingest_wm=…`` partition layout (``-1`` for the
one-shot build), so a sink stays readable with plain
``spark.read.parquet(sink)`` whichever mode produced it. Re-documenting a
conversation across increments (watermark rewound for a backfill, or
mixing modes) leaves both versions in different partitions. No reader in
this package resolves that to ES's overwrite-by-id; and keeping the
largest ``ingest_wm`` per id would not do it either, because a backfill
writes under a smaller watermark than the version it replaces.

Unioned increments are exactly ``etl_full``'s output as long as referenced
parents exist in the source when their child's page is processed — for a
static-snapshot source (the reference's case) that is always true.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from tweets_elastic_spark import schemas
from tweets_elastic_spark.operators.denormalize import build_tweet_documents
from tweets_elastic_spark.sinks import write_documents
from tweets_elastic_spark.sources.incremental import WatermarkStore


def load_tweet_tables(spark: SparkSession, src_dir: str) -> dict[str, DataFrame]:
    """Strict-schema scan of a tweets-star parquet directory."""
    return {
        name: spark.read.schema(schema).parquet(os.path.join(src_dir, f"{name}.parquet"))
        for name, schema in schemas.TWEETS_TABLES.items()
    }


def etl_full(spark: SparkSession, src_dir: str, sink_path: str) -> int:
    """One-shot ETL: scan → denormalize → id-keyed overwrite. Returns docs
    written (counted by observe() on the write job — no re-scan)."""
    obs = Observation()
    docs = build_tweet_documents(load_tweet_tables(spark, src_dir)).observe(
        obs, F.count(F.lit(1)).alias("n")
    )
    # conversations.id is unique, so the build yields one document per id
    write_documents(
        docs, os.path.join(sink_path, "ingest_wm=-1"), id_col="id", mode="overwrite",
        dedup_ids=False,
    )
    return int(obs.get["n"])


def etl_increment(
    spark: SparkSession,
    src_dir: str,
    sink_path: str,
    store: WatermarkStore,
    page_limit: int | None = None,
) -> int:
    """One incremental ETL batch. Returns conversations PROCESSED (the
    reference's processed_rows; 0 = caught up, the loop-termination
    condition at src/main.py:161-162). Processed ≥ documents written: a
    conversation without an author drops at the J1 inner join yet still
    counts as processed — returning docs-written here would make an
    all-dropped middle page look like end-of-data to the caller's loop."""
    t = load_tweet_tables(spark, src_dir)
    wm = store.get("conversations.id")
    ids = t["conversations"].select("id").where(F.col("id") > F.lit(wm))
    if page_limit is not None:
        # the keyset page: ORDER BY id LIMIT n (src/main.py:98-100)
        ids = ids.orderBy("id").limit(page_limit)
    # one action: the page's last id and its size. An empty page means
    # caught up, and nothing is written, so an idle polling loop leaves no
    # empty ingest_wm partitions.
    mx, n = ids.agg(F.max("id"), F.count(F.lit(1))).head()
    if n == 0:
        return 0
    build_tweet_documents(t, page=(wm, mx)).write.mode("overwrite").parquet(
        os.path.join(sink_path, f"ingest_wm={wm}")
    )
    # advance by the max PAGE id, not the max document id: a page whose
    # tail conversations drop at the author inner join (J1) is still fully
    # processed — anchoring the watermark to emitted docs would re-process
    # the dropped tail on every poll (and an all-dropped page would never
    # advance at all)
    store.set("conversations.id", int(mx))
    return int(n)
