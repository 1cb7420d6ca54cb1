"""Driver-checked tweet-document pipeline (the reference's raison d'être,
queries.sql:18-71) over the TPC-H fixtures.

The driver's correctness gate only provides the ten TPC-H-ish parquet
tables, so the tweets star schema is DERIVED from them with deterministic
column mappings — implemented twice, once as Spark selects
(``tweet_star_from_tpch``) and once as SQL CTEs inside the oracle — and the
full ``build_tweet_documents`` assembly (J1-J9, A1, P1-P4) runs on top. The
nested result is then flattened to hash-stable primitives: scalar columns
pass through, each child array becomes (count, order-stable joined-string
summary). The summaries pin exactly the semantics the golden-document test
pins in-memory:

* ``ca_summary``    — J2+J3+A1: snowflake dims inside grouped children,
                      sorted by the child id (json_agg scan-order analogue).
* ``hashtags``      — J4: group-join through the hashtags dim, sorted by tag.
* ``annotations_summary`` / ``links_summary`` — J5.
* ``refs_summary``  — J6 (self-join) + J7 (decorrelated parent author) +
                      J8 (parent hashtags NULL — not [] — when absent;
                      rendered as the literal ``NULL``) + J9.
* ``n_* = 0`` / empty summaries — P4's COALESCE-to-[] for childless parents.

Role mapping: orders→conversations, customer→authors, lineitem rows fan out
into the five child tables by line number (1-2: context_annotations, 1-3:
hashtag links, 1: annotations, 2-3: links, 4-5: conversation_references),
part→context_entities/hashtags, nation→context_domains. Parent references
point at o_orderkey+1/+2, which may not exist — the inner self-join drops
them identically in both engines (queries.sql:68-69 semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tweets_elastic_spark.operators.denormalize import build_tweet_documents
from tweets_elastic_spark.plans.aggs import es_request
from tweets_elastic_spark.registry import register
from tweets_elastic_spark.sources.catalog import load_table


def tweet_star_from_tpch(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Derive the ten tweets-star tables from the TPC-H fixtures.

    Every expression here has a literal SQL twin in the oracle CTEs below —
    keep them in lockstep. Casts are explicit (floor before int cast: Spark
    truncates double→int, DuckDB rounds)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")

    price_i = F.floor(F.col("o_totalprice")).cast("int")
    conversations = orders.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderpriority").alias("content"),
        (F.col("o_orderstatus") == "F").alias("possibly_sensitive"),
        F.col("o_orderstatus").alias("language"),
        F.col("o_orderpriority").alias("source"),
        (price_i % 1000).alias("retweet_count"),
        (price_i % 100).alias("reply_count"),
        (price_i % 10000).alias("like_count"),
        (price_i % 10).alias("quote_count"),
        F.col("o_orderdate").alias("created_at"),
        F.col("o_custkey").alias("author_id"),
    )
    authors = customer.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.lower(F.col("c_name")).alias("username"),
        F.col("c_mktsegment").alias("description"),
        F.floor(F.col("c_acctbal")).cast("int").alias("followers_count"),
        F.col("c_nationkey").cast("int").alias("following_count"),
        (F.col("c_custkey") % 5000).cast("int").alias("tweet_count"),
        (F.col("c_nationkey") % 10).cast("int").alias("listed_count"),
    )
    context_annotations = lineitem.filter(F.col("l_linenumber") <= 2).select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id"),
        F.col("l_orderkey").alias("conversation_id"),
        F.col("l_partkey").alias("context_entity_id"),
        (F.col("l_suppkey") % 25).alias("context_domain_id"),
    )
    context_entities = part.select(
        F.col("p_partkey").alias("id"),
        F.col("p_name").alias("name"),
        F.col("p_type").alias("description"),
    )
    context_domains = nation.select(
        F.col("n_nationkey").cast("long").alias("id"),
        F.col("n_name").alias("name"),
        F.lit(None).cast("string").alias("description"),
    )
    hashtags = part.select(
        F.col("p_partkey").alias("id"), F.col("p_name").alias("tag")
    )
    conversation_hashtags = lineitem.filter(F.col("l_linenumber") <= 3).select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id"),
        F.col("l_orderkey").alias("conversation_id"),
        F.col("l_partkey").alias("hashtag_id"),
    )
    annotations = lineitem.filter(F.col("l_linenumber") == 1).select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id"),
        F.col("l_orderkey").alias("conversation_id"),
        F.col("l_returnflag").alias("value"),
        F.col("l_linestatus").alias("type"),
        F.col("l_discount").cast("float").alias("probability"),
    )
    links = lineitem.filter(F.col("l_linenumber").isin(2, 3)).select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id"),
        F.col("l_orderkey").alias("conversation_id"),
        F.concat(
            F.lit("https://t.co/"),
            F.col("l_orderkey").cast("string"),
            F.lit("/"),
            F.col("l_linenumber").cast("string"),
        ).alias("url"),
        F.col("l_returnflag").alias("title"),
        F.col("l_linestatus").alias("description"),
    )
    conversation_references = lineitem.filter(
        F.col("l_linenumber").isin(4, 5)
    ).select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id"),
        F.col("l_orderkey").alias("conversation_id"),
        (F.col("l_orderkey") + F.col("l_linenumber") - 3).alias("parent_id"),
        F.col("l_returnflag").alias("type"),
    )
    # NOTE: deliberately NO fan_out on the lineitem-derived children — the
    # map-side struct building is light, and measured at sf0.1 the five
    # extra exchanges cost more than the 3-split scan parallelism buys.
    return {
        "conversations": conversations,
        "authors": authors,
        "context_annotations": context_annotations,
        "context_entities": context_entities,
        "context_domains": context_domains,
        "hashtags": hashtags,
        "conversation_hashtags": conversation_hashtags,
        "annotations": annotations,
        "links": links,
        "conversation_references": conversation_references,
    }


# SQL twins of tweet_star_from_tpch — prefixed to the oracle query.
_STAR_CTES = """
    WITH conv AS (
        SELECT o_orderkey AS id, o_orderpriority AS content,
               (o_orderstatus = 'F') AS possibly_sensitive,
               o_orderstatus AS language, o_orderpriority AS source,
               CAST(floor(o_totalprice) AS INT) % 1000 AS retweet_count,
               CAST(floor(o_totalprice) AS INT) % 100 AS reply_count,
               CAST(floor(o_totalprice) AS INT) % 10000 AS like_count,
               CAST(floor(o_totalprice) AS INT) % 10 AS quote_count,
               o_orderdate AS created_at, o_custkey AS author_id
        FROM orders
    ),
    auth AS (
        SELECT c_custkey AS id, c_name AS name, lower(c_name) AS username,
               c_mktsegment AS description,
               CAST(floor(c_acctbal) AS INT) AS followers_count,
               CAST(c_nationkey AS INT) AS following_count,
               CAST(c_custkey % 5000 AS INT) AS tweet_count,
               CAST(c_nationkey % 10 AS INT) AS listed_count
        FROM customer
    ),
    ca AS (
        SELECT l_orderkey*10 + l_linenumber AS id, l_orderkey AS conversation_id,
               l_partkey AS context_entity_id, l_suppkey % 25 AS context_domain_id
        FROM lineitem WHERE l_linenumber <= 2
    ),
    ents AS (SELECT p_partkey AS id, p_name AS name, p_type AS description FROM part),
    doms AS (SELECT CAST(n_nationkey AS BIGINT) AS id, n_name AS name FROM nation),
    tags AS (SELECT p_partkey AS id, p_name AS tag FROM part),
    ch AS (
        SELECT l_orderkey*10 + l_linenumber AS id, l_orderkey AS conversation_id,
               l_partkey AS hashtag_id
        FROM lineitem WHERE l_linenumber <= 3
    ),
    ann AS (
        SELECT l_orderkey AS conversation_id, l_returnflag AS value,
               l_linestatus AS type
        FROM lineitem WHERE l_linenumber = 1
    ),
    lnk AS (
        SELECT l_orderkey AS conversation_id,
               'https://t.co/' || CAST(l_orderkey AS VARCHAR) || '/'
                   || CAST(l_linenumber AS VARCHAR) AS url,
               l_returnflag AS title, l_linestatus AS description
        FROM lineitem WHERE l_linenumber IN (2, 3)
    ),
    refs AS (
        SELECT l_orderkey AS conversation_id,
               l_orderkey + l_linenumber - 3 AS parent_id,
               l_returnflag AS type
        FROM lineitem WHERE l_linenumber IN (4, 5)
    ),
    ca_g AS (
        SELECT ca.conversation_id,
               count(*) AS n_ca,
               array_to_string(list(
                   CAST(ca.context_entity_id AS VARCHAR) || ':' || e.name
                       || ':' || d.name
                   ORDER BY CAST(ca.context_entity_id AS VARCHAR) || ':'
                       || e.name || ':' || d.name), '|') AS ca_summary
        FROM ca
        JOIN ents e ON ca.context_entity_id = e.id
        JOIN doms d ON ca.context_domain_id = d.id
        GROUP BY ca.conversation_id
    ),
    ch_g AS (
        SELECT ch.conversation_id,
               array_to_string(list(t.tag ORDER BY t.tag), '|') AS hashtags
        FROM ch JOIN tags t ON ch.hashtag_id = t.id
        GROUP BY ch.conversation_id
    ),
    an_g AS (
        SELECT conversation_id,
               array_to_string(list(value || ':' || type ORDER BY value || ':' || type), '|')
                   AS annotations_summary
        FROM ann GROUP BY conversation_id
    ),
    li_g AS (
        SELECT conversation_id, count(*) AS n_links,
               array_to_string(list(url || ':' || title ORDER BY url || ':' || title), '|')
                   AS links_summary
        FROM lnk GROUP BY conversation_id
    ),
    cr_g AS (
        SELECT r.conversation_id, count(*) AS n_refs,
               array_to_string(list(
                   CAST(p.id AS VARCHAR) || ':' || r.type || ':' || p.content
                       || ':' || pa.name || ':' || COALESCE(pht.hashtags, 'NULL')
                   ORDER BY CAST(p.id AS VARCHAR) || ':' || r.type || ':'
                       || p.content || ':' || pa.name || ':'
                       || COALESCE(pht.hashtags, 'NULL')), '|') AS refs_summary
        FROM refs r
        JOIN conv p ON r.parent_id = p.id
        LEFT JOIN auth pa ON p.author_id = pa.id
        LEFT JOIN ch_g pht ON p.id = pht.conversation_id
        GROUP BY r.conversation_id
    )
"""


@register(
    "tweet_documents_flat",
    oracle=_STAR_CTES + """
    SELECT c.id, c.content, c.possibly_sensitive, c.language, c.source,
           c.retweet_count, c.reply_count, c.like_count, c.quote_count,
           c.created_at,
           a.name AS author_name, a.username AS author_username,
           a.followers_count AS author_followers,
           COALESCE(cag.n_ca, 0) AS n_ca,
           COALESCE(cag.ca_summary, '') AS ca_summary,
           COALESCE(chg.hashtags, '') AS hashtags,
           COALESCE(ang.annotations_summary, '') AS annotations_summary,
           COALESCE(lig.n_links, 0) AS n_links,
           COALESCE(lig.links_summary, '') AS links_summary,
           COALESCE(crg.n_refs, 0) AS n_refs,
           COALESCE(crg.refs_summary, '') AS refs_summary
    FROM conv c
    JOIN auth a ON c.author_id = a.id
    LEFT JOIN ca_g cag ON c.id = cag.conversation_id
    LEFT JOIN ch_g chg ON c.id = chg.conversation_id
    LEFT JOIN an_g ang ON c.id = ang.conversation_id
    LEFT JOIN li_g lig ON c.id = lig.conversation_id
    LEFT JOIN cr_g crg ON c.id = crg.conversation_id
    """,
    doc="The full tweet-document denormalization (queries.sql:18-71; J1-J9, "
        "A1, P1-P4) on star tables derived from the TPC-H fixtures, "
        "flattened to hash-stable (count, sorted-joined-summary) columns. "
        "refs_summary renders absent parent hashtags as the literal NULL, "
        "pinning J8's no-COALESCE semantics under the driver gate.",
)
def q_tweet_documents_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = tweet_star_from_tpch(spark, sf_dir)
    doc = build_tweet_documents(tables)
    return doc.select(
        "id", "content", "possibly_sensitive", "language", "source",
        "retweet_count", "reply_count", "like_count", "quote_count",
        "created_at",
        F.col("author.name").alias("author_name"),
        F.col("author.username").alias("author_username"),
        F.col("author.followers_count").alias("author_followers"),
        F.size("context_annotations").alias("n_ca"),
        F.array_join(
            F.array_sort(F.transform(
                "context_annotations",
                lambda x: F.concat(
                    x["entity"]["id"].cast("string"), F.lit(":"),
                    x["entity"]["name"], F.lit(":"), x["domain"]["name"],
                ),
            )),
            "|",
        ).alias("ca_summary"),
        F.array_join(
            F.transform("conversation_hashtags", lambda x: x["tag"]), "|"
        ).alias("hashtags"),
        F.array_join(
            F.array_sort(F.transform(
                "annotations",
                lambda x: F.concat(x["value"], F.lit(":"), x["type"]),
            )),
            "|",
        ).alias("annotations_summary"),
        F.size("links").alias("n_links"),
        F.array_join(
            F.array_sort(F.transform(
                "links", lambda x: F.concat(x["url"], F.lit(":"), x["title"])
            )),
            "|",
        ).alias("links_summary"),
        F.size("conversation_references").alias("n_refs"),
        F.array_join(
            F.array_sort(F.transform(
                "conversation_references",
                lambda r: F.concat(
                    r["id"].cast("string"), F.lit(":"), r["type"], F.lit(":"),
                    r["content"], F.lit(":"), r["author"]["name"], F.lit(":"),
                    F.when(r["hashtags"].isNull(), F.lit("NULL")).otherwise(
                        F.array_join(
                            F.transform(r["hashtags"], lambda h: h["tag"]), "|"
                        )
                    ),
                ),
            )),
            "|",
        ).alias("refs_summary"),
    )


@register(
    "es_aggs_nested_terms",
    oracle="""
    SELECT n.n_name AS by_domain,
           CAST(count(*) AS BIGINT) AS doc_count
    FROM lineitem l
    JOIN nation n ON (l.l_suppkey % 25) = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE l.l_linenumber <= 2
    GROUP BY 1
    ORDER BY doc_count DESC, by_domain ASC
    LIMIT 5
    """,
    doc="ES nested AGGREGATION over the assembled tweet documents — the "
        "agg-side counterpart of the nested query (Q4): top-5 "
        "context-annotation domains by NESTED doc_count (array elements, "
        "not parent documents — ES's nested-agg counting contract). "
        "Compiles to explode(context_annotations) — a projection, no "
        "shuffle — feeding the ordinary terms machinery; the sub-agg "
        "field carries the full scope path (context_annotations.domain."
        "name) exactly as ES writes it, stripped by the compiler. The "
        "oracle recomputes the element counts from the BASE tables "
        "(lineitem fan-out x nation domains through the star joins), so a "
        "green row proves the whole denormalize -> nest -> explode -> "
        "aggregate round-trip.",
)
def q_es_aggs_nested_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = tweet_star_from_tpch(spark, sf_dir)
    # the request touches only context_annotations — skip the other four
    # child streams (their grouped left joins are not Catalyst-prunable)
    doc = build_tweet_documents(tables, children=["context_annotations"])
    request = {
        "aggs": {
            "ca": {
                "nested": {"path": "context_annotations"},
                "aggs": {
                    "by_domain": {
                        "terms": {
                            "field": "context_annotations.domain.name",
                            "size": 5,
                        }
                    }
                },
            }
        }
    }
    return es_request(doc, request)


@register(
    "es_aggs_reverse_nested",
    oracle="""
    SELECT n.n_name AS by_domain,
           CAST(count(*) AS BIGINT) AS doc_count,
           CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS parents
    FROM lineitem l
    JOIN nation n ON (l.l_suppkey % 25) = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE l.l_linenumber <= 2
    GROUP BY 1
    ORDER BY doc_count DESC, by_domain ASC
    LIMIT 5
    """,
    doc="ES reverse_nested agg: inside a nested terms agg, step "
        "back to the ROOT document — per domain bucket, doc_count counts "
        "nested elements while `parents` counts DISTINCT parent tweets "
        "(ES's reverse_nested doc_count). Compiles to an exact "
        "count-distinct over a synthetic parent id attached before the "
        "explode (only its distinct count reaches the output). The "
        "oracle recomputes both counts from the base star: elements = "
        "fanned-out lineitem rows, parents = distinct orderkeys.",
)
def q_es_aggs_reverse_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = tweet_star_from_tpch(spark, sf_dir)
    # only context_annotations is aggregated (reverse_nested needs just
    # the parent id, which the spine carries) — skip the other children
    doc = build_tweet_documents(tables, children=["context_annotations"])
    request = {
        "aggs": {
            "ca": {
                "nested": {"path": "context_annotations"},
                "aggs": {
                    "by_domain": {
                        "terms": {
                            "field": "context_annotations.domain.name",
                            "size": 5,
                        },
                        "aggs": {"parents": {"reverse_nested": {}}},
                    }
                },
            }
        }
    }
    return es_request(doc, request)
