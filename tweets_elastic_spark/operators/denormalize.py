"""Relational → nested-document denormalization (SURVEY §2.4 J1-J9, §2.5 A1,
§2.2 P1-P4).

The reference's central operation is one large SQL query
(/root/reference/src/used_queries/queries.sql:18-71): scan ``conversations``,
inner-join ``authors``, left-join five *pre-aggregated* child subqueries
(each ``GROUP BY conversation_id`` + ``json_agg(json_build_object(...))``),
plus a decorrelated self-join for parent-tweet references.

Design decisions carried over on purpose (SURVEY §4):

* **Pre-aggregate children BEFORE the left joins.** Joining six 1-N children
  directly would multiply rows across independent relationships (fan-out
  explosion); grouping first keeps each join 1-1. Catalyst will not invent
  this rewrite — it is a logical-shape decision made here.
* **Decorrelate the two correlated scalar subqueries** (queries.sql:56-66)
  into plain joins (J7/J8) so every join is an equi-join Catalyst can plan
  freely (broadcast vs sort-merge, AQE skew handling).
* **Deterministic array order.** Postgres ``json_agg`` follows scan order;
  Spark ``collect_list`` is nondeterministic across retries/partitions. Every
  collected array is wrapped in ``array_sort`` over a struct whose FIRST
  field is a sort key, so results are stable at any parallelism (SURVEY §7
  risk 1).
* **Empty-vs-null semantics.** Top-level child arrays default to ``[]``
  (COALESCE, queries.sql:21-25) but the nested parent-hashtags array stays
  NULL when absent (queries.sql:61-66 has no COALESCE) — pinned by the
  golden-document test (SURVEY §7 risk 2).

At 100 TB: the parent fact is the large side; every dim (authors, entities,
domains, hashtags) is broadcast; the child aggregations and the final joins
all shuffle on the same key (conversation_id / o_orderkey), so AQE can reuse
co-partitioning between consecutive left joins rather than re-shuffling the
ever-growing document rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tweets_elastic_spark.sources.catalog import load_table


def group_children(
    child: DataFrame,
    key: str,
    value: Column,
    alias: str,
    sort: bool = True,
) -> DataFrame:
    """Collapse child rows into one array per parent key (A1).

    ``value`` is typically ``F.struct(...)``; put the intended sort key as
    the struct's first field — ``array_sort`` orders structs
    lexicographically by field position, which makes the output
    deterministic (the ``json_agg`` scan-order analogue).
    """
    agg = F.collect_list(value)
    if sort:
        agg = F.array_sort(agg)
    return child.groupBy(key).agg(agg.alias(alias))


def attach_children(
    parent: DataFrame,
    parent_key: str,
    grouped: list[tuple[DataFrame, str, str | list[str]]],
    empty_as_array: bool = True,
) -> DataFrame:
    """Left-join pre-grouped children onto the parent (J2/J4/J5/J9 + P4).

    ``grouped`` is a list of ``(grouped_df, child_key, array_col)`` where
    ``array_col`` may be one column name or a list of them (a grouped
    relation carrying several child arrays joins ONCE — the shared-key
    single-exchange shape, guide §2.4). With ``empty_as_array`` each array
    column is coalesced to ``[]`` for parents with no children (COALESCE
    semantics, queries.sql:21-25).
    """
    out = parent
    for gdf, child_key, array_cols in grouped:
        if isinstance(array_cols, str):
            array_cols = [array_cols]
        out = out.join(gdf, out[parent_key] == gdf[child_key], "left").drop(child_key)
        if empty_as_array:
            dtypes = dict(gdf.dtypes)
            for array_col in array_cols:
                out = out.withColumn(
                    array_col,
                    F.coalesce(
                        F.col(array_col),
                        F.expr(f"CAST(array() AS {dtypes[array_col]})"),
                    ),
                )
    return out


# ---------------------------------------------------------------------------
# Flagship #1 — the reference's own document: tweets star → nested documents
# ---------------------------------------------------------------------------

#: the five child arrays of the tweet document, in output order
CHILD_ARRAYS = (
    "context_annotations",
    "conversation_hashtags",
    "annotations",
    "links",
    "conversation_references",
)


def build_tweet_documents(
    t: dict[str, DataFrame],
    spine: DataFrame | None = None,
    children: list[str] | None = None,
) -> DataFrame:
    """Assemble the full denormalized tweet document (queries.sql:18-71).

    ``t`` maps table name → DataFrame for the ten tweets-star tables
    (schemas.TWEETS_TABLES). Output schema == schemas.TWEETS_DOCUMENT.

    ``spine`` optionally restricts WHICH conversations become documents
    (the keyset page, src/main.py:98-100) while every lookup — parent
    tweets (J6), parent authors (J7), parent hashtags (J8) — still
    resolves against the FULL ``t["conversations"]``/``t["authors"]``,
    exactly like the reference's page query whose subqueries run over the
    whole database. Defaults to all conversations.

    ``children`` optionally names the subset of CHILD_ARRAYS to build —
    consumers that touch one array (the nested-agg queries) skip the
    other four child streams entirely (their joins cannot be pruned by
    Catalyst: a left join against a grouped relation is only removable
    if the optimizer could prove key uniqueness, which it does not).

    Shuffle shape: each requested child stream is grouped on its own and
    left-joined onto the spine (five small exchanges + five joins that
    AQE co-partitions on conversation_id). An experiment fused the
    five groupings into ONE aggregation over a tagged union — fewer
    exchanges on paper, but measured 5× SLOWER end-to-end at sf0.1
    (4.6 s → 24.6 s): the union row carries every branch's struct slot,
    and the single ObjectHashAggregate holds all five collect_list
    buffers per key, spilling where the per-child aggregations ran in
    memory. Kept the per-child shape deliberately (guide §1.1 — the
    empirical loop overrides the first-principles shuffle count)."""
    conv = t["conversations"]
    authors = t["authors"]
    if spine is None:
        spine = conv
    want = CHILD_ARRAYS if children is None else tuple(children)
    unknown = set(want) - set(CHILD_ARRAYS)
    if unknown:
        raise ValueError(f"unknown child arrays: {sorted(unknown)}")

    grouped: list[tuple[DataFrame, str, str]] = []

    if "context_annotations" in want:
        # J3 + A1: context_annotations ⋈ entities ⋈ domains, grouped.
        # Both dims are small → broadcast (index-nested-loop analogue,
        # SURVEY §4). Sort key first, payload second; key stripped after
        # the grouped array_sort.
        entity = F.broadcast(t["context_entities"]).alias("ce")
        domain = F.broadcast(t["context_domains"]).alias("cd")
        ca = (
            t["context_annotations"].alias("ca")
            .join(entity, F.col("ca.context_entity_id") == F.col("ce.id"), "inner")
            .join(domain, F.col("ca.context_domain_id") == F.col("cd.id"), "inner")
            .select(
                F.col("ca.conversation_id").alias("conversation_id"),
                F.col("ca.id").alias("_ca_id"),
                F.struct(
                    F.struct(
                        F.col("ce.id").alias("id"),
                        F.col("ce.name").alias("name"),
                        F.col("ce.description").alias("description"),
                    ).alias("entity"),
                    F.struct(
                        F.col("cd.id").alias("id"),
                        F.col("cd.name").alias("name"),
                        F.col("cd.description").alias("description"),
                    ).alias("domain"),
                ).alias("value"),
            )
        )
        ca_g = (
            ca.groupBy("conversation_id")
            .agg(F.array_sort(F.collect_list(F.struct("_ca_id", "value"))).alias("_arr"))
            .select(
                "conversation_id",
                F.transform("_arr", lambda x: x["value"]).alias("context_annotations"),
            )
        )
        grouped.append((ca_g, "conversation_id", "context_annotations"))

    # J4 + A1: hashtags of the conversation (queries.sql:35-40) — also
    # the parent-hashtags lookup relation when references are built.
    ch_g = None
    if "conversation_hashtags" in want or "conversation_references" in want:
        h = F.broadcast(t["hashtags"]).alias("h")
        ch_g = (
            t["conversation_hashtags"].alias("ch")
            .join(h, F.col("ch.hashtag_id") == F.col("h.id"), "inner")
            .groupBy(F.col("ch.conversation_id").alias("conversation_id"))
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("h.tag").alias("tag")))
                ).alias("conversation_hashtags")
            )
        )
    if "conversation_hashtags" in want:
        grouped.append((ch_g, "conversation_id", "conversation_hashtags"))

    if "annotations" in want:
        # J5 + A1: annotations (queries.sql:41-45).
        an_g = group_children(
            t["annotations"],
            "conversation_id",
            F.struct(
                F.col("value"), F.col("probability"), F.col("type")
            ),
            "annotations",
        )
        grouped.append((an_g, "conversation_id", "annotations"))

    if "links" in want:
        # J5 + A1: links (queries.sql:46-50).
        li_g = group_children(
            t["links"],
            "conversation_id",
            F.struct(F.col("url"), F.col("title"), F.col("description")),
            "links",
        )
        grouped.append((li_g, "conversation_id", "links"))

    if "conversation_references" in want:
        # J6-J9: conversation_references — self-join to the parent tweet,
        # decorrelated parent-author (J7) and parent-hashtags (J8)
        # subqueries.
        parent = conv.select(
            F.col("id").alias("p_id"),
            F.col("content").alias("p_content"),
            F.col("author_id").alias("p_author_id"),
        )
        pa = authors.select(
            F.col("id").alias("pa_id"),
            F.col("name").alias("pa_name"),
            F.col("username").alias("pa_username"),
        )
        # Parent hashtags: NULL (not []) when the parent has none — the
        # correlated subquery at queries.sql:61-66 has no COALESCE.
        ph_g = ch_g.select(
            F.col("conversation_id").alias("ph_conversation_id"),
            F.col("conversation_hashtags").alias("p_hashtags"),
        )
        cr_g = (
            t["conversation_references"].alias("cr")
            .join(parent, F.col("cr.parent_id") == parent["p_id"], "inner")
            .join(pa, F.col("p_author_id") == pa["pa_id"], "left")
            .join(ph_g, F.col("p_id") == ph_g["ph_conversation_id"], "left")
            .select(
                F.col("cr.conversation_id").alias("conversation_id"),
                F.struct(
                    F.col("p_id").alias("id"),
                    F.col("cr.type").alias("type"),
                    F.col("p_content").alias("content"),
                    F.struct(
                        F.col("pa_id").alias("id"),
                        F.col("pa_name").alias("name"),
                        F.col("pa_username").alias("username"),
                    ).alias("author"),
                    F.col("p_hashtags").alias("hashtags"),
                ).alias("value"),
            )
            .groupBy("conversation_id")
            .agg(F.array_sort(F.collect_list("value")).alias("conversation_references"))
        )
        grouped.append((cr_g, "conversation_id", "conversation_references"))

    # J1: conversations ⋈ authors (inner), author packed as a struct (P2).
    a = authors.alias("a")
    doc = (
        spine.alias("c")
        .join(a, F.col("c.author_id") == F.col("a.id"), "inner")
        .select(
            F.col("c.id").alias("id"),
            F.col("c.content").alias("content"),
            F.col("c.possibly_sensitive").alias("possibly_sensitive"),
            F.col("c.language").alias("language"),
            F.col("c.source").alias("source"),
            F.col("c.retweet_count").alias("retweet_count"),
            F.col("c.reply_count").alias("reply_count"),
            F.col("c.like_count").alias("like_count"),
            F.col("c.quote_count").alias("quote_count"),
            F.col("c.created_at").alias("created_at"),
            F.struct(
                F.col("a.id").alias("id"),
                F.col("a.name").alias("name"),
                F.col("a.username").alias("username"),
                F.col("a.description").alias("description"),
                F.col("a.followers_count").alias("followers_count"),
                F.col("a.following_count").alias("following_count"),
                F.col("a.tweet_count").alias("tweet_count"),
                F.col("a.listed_count").alias("listed_count"),
            ).alias("author"),
        )
    )

    # J2/J4/J5/J9 + P4: left-join the grouped children, [] for absent
    # (except the nested parent-hashtags NULL, preserved inside the
    # reference structs above).
    if grouped:
        doc = attach_children(doc, "id", grouped)
    return doc


# ---------------------------------------------------------------------------
# Flagship #2 — same logical shape over the driver fixtures (orders/lineitem
# play conversations/children; FIXTURES.md §2 role mapping). This is the
# oracle-checked variant: arrays of primitives, sorted, so value hashes are
# order-stable.
# ---------------------------------------------------------------------------

def denormalize_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-then-left-join denormalization on the fixtures (J2+A1+P4).

    Per order: item count, exact decimal revenue, and the sorted array of
    line numbers; orders with no lineitems keep n_items=0 and [].
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")

    items = lineitem.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        # exact decimal sum, rounded to double exactly once → bit-identical
        # to the DuckDB oracle regardless of partial-agg ordering
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        F.array_sort(F.collect_list("l_linenumber")).alias("line_numbers"),
    )
    return (
        orders.join(items, orders["o_orderkey"] == items["l_orderkey"], "left")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.coalesce("n_items", F.lit(0)).alias("n_items"),
            F.coalesce(F.col("revenue"), F.lit(0.0)).alias("revenue"),
            F.coalesce("line_numbers", F.expr("CAST(array() AS array<int>)")).alias(
                "line_numbers"
            ),
        )
    )
