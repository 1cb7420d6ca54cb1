"""Relational → nested-document denormalization (SURVEY §2.4 J1-J9, §2.5 A1,
§2.2 P1-P4).

The reference's central operation is one large SQL query
(/root/reference/src/used_queries/queries.sql:18-71): scan ``conversations``,
inner-join ``authors``, left-join five *pre-aggregated* child subqueries
(each ``GROUP BY conversation_id`` + ``json_agg(json_build_object(...))``),
plus a decorrelated self-join for parent-tweet references.
``build_tweet_documents`` is one SQL statement of the same shape, run with
``spark.sql(text, **tables)``.

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tweets_elastic_spark.schemas import TWEETS_DOCUMENT
from tweets_elastic_spark.sources.catalog import load_table

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

# One grouped CTE per child array, named ``<array>_g`` (J2-J9 + A1).
# ``{page:col}`` keeps the children that only feed the page's own
# documents to the page; ``conversation_hashtags_g`` reads the whole table
# because it also resolves the parent hashtags (J8) of parents outside the
# page. ``array_sort`` orders structs by their first field, so a context
# annotation carries its row id first and drops it after the sort.
_CHILD_CTES = {
    "context_annotations": """context_annotations_g AS (
  SELECT /*+ BROADCAST(ce, cd) */ ca.conversation_id,
         transform(array_sort(collect_list(struct(ca.id AS _ca_id, struct(
             struct(ce.id, ce.name, ce.description) AS entity,
             struct(cd.id, cd.name, cd.description) AS domain) AS value))),
           x -> x.value) AS context_annotations
  FROM {context_annotations} ca
  JOIN {context_entities} ce ON ca.context_entity_id = ce.id
  JOIN {context_domains} cd ON ca.context_domain_id = cd.id
  WHERE {page:ca.conversation_id}
  GROUP BY ca.conversation_id)""",
    "conversation_hashtags": """conversation_hashtags_g AS (
  SELECT /*+ BROADCAST(h) */ ch.conversation_id,
         array_sort(collect_list(struct(h.tag))) AS conversation_hashtags
  FROM {conversation_hashtags} ch JOIN {hashtags} h ON ch.hashtag_id = h.id
  GROUP BY ch.conversation_id)""",
    "annotations": """annotations_g AS (
  SELECT conversation_id,
         array_sort(collect_list(struct(value, probability, type))) AS annotations
  FROM {annotations} WHERE {page:conversation_id} GROUP BY conversation_id)""",
    "links": """links_g AS (
  SELECT conversation_id,
         array_sort(collect_list(struct(url, title, description))) AS links
  FROM {links} WHERE {page:conversation_id} GROUP BY conversation_id)""",
    # J6 self-join to the parent tweet; the correlated parent-author (J7)
    # and parent-hashtags (J8) subqueries of queries.sql:56-66 as left
    # joins. The parent's hashtags stay NULL, not [], when it has none:
    # that subquery has no COALESCE.
    "conversation_references": """conversation_references_g AS (
  SELECT cr.conversation_id,
         array_sort(collect_list(struct(p.id AS id, cr.type AS type,
             p.content AS content, struct(pa.id, pa.name, pa.username) AS author,
             ph.conversation_hashtags AS hashtags))) AS conversation_references
  FROM {conversation_references} cr
  JOIN {conversations} p ON cr.parent_id = p.id
  LEFT JOIN {authors} pa ON p.author_id = pa.id
  LEFT JOIN conversation_hashtags_g ph ON p.id = ph.conversation_id
  WHERE {page:cr.conversation_id}
  GROUP BY cr.conversation_id)""",
}


class _Page:
    """Formats ``{page:col}`` as the keyset page's range on ``col``."""

    def __init__(self, page: tuple[int, int] | None):
        self.page = page

    def __format__(self, col: str) -> str:
        if self.page is None:
            return "TRUE"
        lo, hi = self.page
        return f"{col} > {int(lo)} AND {col} <= {int(hi)}"


def build_tweet_documents(
    t: dict[str, DataFrame],
    page: tuple[int, int] | None = None,
    children: list[str] | None = None,
) -> DataFrame:
    """Assemble the full denormalized tweet document (queries.sql:18-71)
    as one SQL statement.

    ``t`` maps table name → DataFrame for the ten tweets-star tables
    (schemas.TWEETS_TABLES). Output schema == schemas.TWEETS_DOCUMENT.

    ``page=(lo, hi)`` documents only the conversations with
    ``lo < id <= hi`` (the keyset page, src/main.py:98-100), and reads
    only their rows of the children that feed nothing else. The parent
    lookups (J6-J8) still read the whole tables, like the reference's page
    query, whose subqueries run over the whole database. Defaults to all
    conversations.

    ``children`` optionally names the subset of CHILD_ARRAYS to build.
    Spark 4.1 also drops the left join of a child array that nothing
    reads, since a grouped child is unique on its key, so a consumer that
    reads one array gets the same plan either way
    (plans/keyset_page/children_*.txt).

    Shuffle shape: each requested child stream is grouped on its own and
    left-joined onto the conversations (five small exchanges + five joins
    that AQE co-partitions on conversation_id). An experiment fused the
    five groupings into ONE aggregation over a tagged union — fewer
    exchanges on paper, but measured 5× SLOWER end-to-end at sf0.1
    (4.6 s → 24.6 s): the union row carries every branch's struct slot,
    and the single ObjectHashAggregate holds all five collect_list
    buffers per key, spilling where the per-child aggregations ran in
    memory. Kept the per-child shape deliberately (guide §1.1 — the
    empirical loop overrides the first-principles shuffle count)."""
    unknown = set(children or ()) - set(CHILD_ARRAYS)
    if unknown:
        raise ValueError(f"unknown child arrays: {sorted(unknown)}")
    want = [c for c in CHILD_ARRAYS if children is None or c in children]
    ctes = [_CHILD_CTES[c] for c in want]
    if "conversation_references" in want and "conversation_hashtags" not in want:
        ctes.insert(0, _CHILD_CTES["conversation_hashtags"])
    # J1: conversations ⋈ authors (inner), the author packed as a struct
    # (P2); then each child array left-joined, [] when absent (P4: COALESCE,
    # queries.sql:21-25)
    text = "\n".join([
        "WITH " + ",\n".join(ctes) if ctes else "",
        "SELECT c.id, c.content, c.possibly_sensitive, c.language, c.source,",
        "  c.retweet_count, c.reply_count, c.like_count, c.quote_count, c.created_at,",
        "  struct(a.id, a.name, a.username, a.description, a.followers_count,",
        "         a.following_count, a.tweet_count, a.listed_count) AS author",
        *(f"  , COALESCE({c}_g.{c}, CAST(array() AS "
          f"{TWEETS_DOCUMENT[c].dataType.simpleString()})) AS {c}" for c in want),
        "FROM {conversations} c JOIN {authors} a ON c.author_id = a.id",
        *(f"LEFT JOIN {c}_g ON c.id = {c}_g.conversation_id" for c in want),
        "WHERE {page:c.id}",
    ])
    return t["conversations"].sparkSession.sql(text, **t, page=_Page(page))


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
