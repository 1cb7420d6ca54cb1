"""Declared, strict schemas (SURVEY §1.2-1.3).

The reference rejects unknown fields at the index boundary
(``"dynamic": "strict"``, /root/reference/src/config/mapping.json:2). The
Spark analogue: every table and the denormalized document get a hand-declared
``StructType`` used with ``spark.read.schema(...)`` — inference is never part
of the contract.

Two schema families:

1. ``TWEETS_*`` — the reference's relational star schema + nested document
   type, reconstructed from its SQL (queries.sql:18-71), index mapping
   (mapping.json) and sample document (docs/sample_document.json). Types per
   the mapping table in SURVEY §1.3 (half_float → FloatType widening noted).
2. ``TESTDATA_*`` — the driver-provided TPC-H-ish fixtures under
   /root/testdata/sf*/ (see TESTDATA.md / FIXTURES.md §2).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _st(*fields: StructField) -> StructType:
    return StructType(list(fields))


def _f(name: str, dtype, nullable: bool = True) -> StructField:
    return StructField(name, dtype, nullable)


# ---------------------------------------------------------------------------
# 1. Tweets star schema (reference: src/used_queries/queries.sql:18-71,
#    src/config/mapping.json; column-by-column citations in FIXTURES.md §1)
# ---------------------------------------------------------------------------

TWEETS_CONVERSATIONS = _st(
    _f("id", LongType(), False),            # mapping.json:4
    _f("content", StringType()),            # mapping.json:5-8
    _f("possibly_sensitive", BooleanType()),  # mapping.json:9
    _f("language", StringType()),           # mapping.json:10 (keyword)
    _f("source", StringType()),             # mapping.json:11 (keyword)
    _f("retweet_count", IntegerType()),     # mapping.json:12
    _f("reply_count", IntegerType()),       # mapping.json:13
    _f("like_count", IntegerType()),        # mapping.json:14
    _f("quote_count", IntegerType()),       # mapping.json:15
    _f("created_at", TimestampType()),      # mapping.json:16-19
    _f("author_id", LongType()),            # queries.sql:27
)

TWEETS_AUTHORS = _st(
    _f("id", LongType(), False),            # mapping.json:22
    _f("name", StringType()),               # mapping.json:23-35
    _f("username", StringType()),           # mapping.json:36-44
    _f("description", StringType()),        # mapping.json:45-54
    _f("followers_count", IntegerType()),   # mapping.json:55
    _f("following_count", IntegerType()),   # mapping.json:56
    _f("tweet_count", IntegerType()),       # mapping.json:57
    _f("listed_count", IntegerType()),      # mapping.json:58
)

TWEETS_CONTEXT_ANNOTATIONS = _st(
    _f("id", LongType(), False),
    _f("conversation_id", LongType()),
    _f("context_entity_id", LongType()),    # queries.sql:31
    _f("context_domain_id", LongType()),    # queries.sql:32
)

TWEETS_CONTEXT_ENTITIES = _st(
    _f("id", LongType(), False),
    _f("name", StringType()),               # mapping.json:67
    _f("description", StringType()),
)

TWEETS_CONTEXT_DOMAINS = _st(
    _f("id", LongType(), False),
    _f("name", StringType()),               # mapping.json:77
    _f("description", StringType()),
)

TWEETS_HASHTAGS = _st(
    _f("id", LongType(), False),
    _f("tag", StringType()),                # mapping.json:88-92
)

TWEETS_CONVERSATION_HASHTAGS = _st(
    _f("id", LongType(), False),
    _f("conversation_id", LongType()),
    _f("hashtag_id", LongType()),
)

TWEETS_ANNOTATIONS = _st(
    _f("id", LongType(), False),
    _f("conversation_id", LongType()),
    _f("value", StringType()),              # mapping.json:97
    _f("type", StringType()),               # mapping.json:98
    _f("probability", FloatType()),         # mapping.json:99 (half_float → Float)
)

TWEETS_LINKS = _st(
    _f("id", LongType(), False),
    _f("conversation_id", LongType()),
    _f("url", StringType()),                # mapping.json:105
    _f("title", StringType()),              # mapping.json:106
    _f("description", StringType()),        # mapping.json:107
)

TWEETS_CONVERSATION_REFERENCES = _st(
    _f("id", LongType(), False),
    _f("conversation_id", LongType()),
    _f("parent_id", LongType()),            # queries.sql:69 self-join key
    _f("type", StringType()),               # mapping.json:114
)

TWEETS_TABLES: dict[str, StructType] = {
    "conversations": TWEETS_CONVERSATIONS,
    "authors": TWEETS_AUTHORS,
    "context_annotations": TWEETS_CONTEXT_ANNOTATIONS,
    "context_entities": TWEETS_CONTEXT_ENTITIES,
    "context_domains": TWEETS_CONTEXT_DOMAINS,
    "hashtags": TWEETS_HASHTAGS,
    "conversation_hashtags": TWEETS_CONVERSATION_HASHTAGS,
    "annotations": TWEETS_ANNOTATIONS,
    "links": TWEETS_LINKS,
    "conversation_references": TWEETS_CONVERSATION_REFERENCES,
}

# The denormalized document (queries.sql:18-25; docs/sample_document.json:5-94).
# Arrays default to [] for absent children (COALESCE, queries.sql:21-25);
# conversation_references[*].hashtags stays NULL when the parent has none
# (correlated subquery without COALESCE, queries.sql:61-66) — SURVEY §7 risk 2.

_AUTHOR_STRUCT = _st(
    _f("id", LongType()),
    _f("name", StringType()),
    _f("username", StringType()),
    _f("description", StringType()),
    _f("followers_count", IntegerType()),
    _f("following_count", IntegerType()),
    _f("tweet_count", IntegerType()),
    _f("listed_count", IntegerType()),
)

_ENTITY_STRUCT = _st(
    _f("id", LongType()), _f("name", StringType()), _f("description", StringType())
)

_REF_AUTHOR_STRUCT = _st(
    _f("id", LongType()), _f("name", StringType()), _f("username", StringType())
)

TWEETS_DOCUMENT = _st(
    _f("id", LongType(), False),
    _f("content", StringType()),
    _f("possibly_sensitive", BooleanType()),
    _f("language", StringType()),
    _f("source", StringType()),
    _f("retweet_count", IntegerType()),
    _f("reply_count", IntegerType()),
    _f("like_count", IntegerType()),
    _f("quote_count", IntegerType()),
    _f("created_at", TimestampType()),
    _f("author", _AUTHOR_STRUCT),
    _f("context_annotations", ArrayType(_st(
        _f("entity", _ENTITY_STRUCT), _f("domain", _ENTITY_STRUCT)))),
    _f("conversation_hashtags", ArrayType(_st(_f("tag", StringType())))),
    _f("annotations", ArrayType(_st(
        _f("value", StringType()), _f("probability", FloatType()), _f("type", StringType())))),
    _f("links", ArrayType(_st(
        _f("url", StringType()), _f("title", StringType()), _f("description", StringType())))),
    _f("conversation_references", ArrayType(_st(
        _f("id", LongType()), _f("type", StringType()), _f("content", StringType()),
        _f("author", _REF_AUTHOR_STRUCT),
        _f("hashtags", ArrayType(_st(_f("tag", StringType()))))))),
)

# ---------------------------------------------------------------------------
# 2. Driver-provided testdata tables (/root/testdata/sf*/; FIXTURES.md §2)
# ---------------------------------------------------------------------------

TESTDATA_TABLES: dict[str, StructType] = {
    "region": _st(
        _f("r_regionkey", IntegerType(), False), _f("r_name", StringType())),
    "nation": _st(
        _f("n_nationkey", IntegerType(), False), _f("n_name", StringType()),
        _f("n_regionkey", IntegerType())),
    "customer": _st(
        _f("c_custkey", LongType(), False), _f("c_name", StringType()),
        _f("c_nationkey", IntegerType()), _f("c_acctbal", DoubleType()),
        _f("c_mktsegment", StringType())),
    "supplier": _st(
        _f("s_suppkey", LongType(), False), _f("s_name", StringType()),
        _f("s_nationkey", IntegerType()), _f("s_acctbal", DoubleType())),
    "part": _st(
        _f("p_partkey", LongType(), False), _f("p_name", StringType()),
        _f("p_brand", StringType()), _f("p_type", StringType()),
        _f("p_size", IntegerType()), _f("p_retailprice", DoubleType())),
    "orders": _st(
        _f("o_orderkey", LongType(), False), _f("o_custkey", LongType()),
        _f("o_orderstatus", StringType()), _f("o_totalprice", DoubleType()),
        _f("o_orderdate", TimestampType()), _f("o_orderpriority", StringType())),
    "lineitem": _st(
        _f("l_orderkey", LongType(), False), _f("l_partkey", LongType()),
        _f("l_suppkey", LongType()), _f("l_linenumber", IntegerType()),
        _f("l_quantity", DoubleType()), _f("l_extendedprice", DoubleType()),
        _f("l_discount", DoubleType()), _f("l_tax", DoubleType()),
        _f("l_returnflag", StringType()), _f("l_linestatus", StringType()),
        _f("l_shipdate", TimestampType())),
    "events": _st(
        _f("event_id", LongType(), False), _f("ts", TimestampType()),
        _f("user_id", LongType()), _f("event_type", StringType()),
        _f("value", DoubleType()), _f("props", StringType())),
    "documents": _st(
        _f("doc_id", LongType(), False), _f("text", StringType()),
        _f("lang", StringType()), _f("source", StringType()),
        _f("n_chars", LongType())),
    "embeddings": _st(
        _f("vec_id", LongType(), False),
        _f("embedding", ArrayType(FloatType())),
        _f("label", IntegerType())),
}

# ---------------------------------------------------------------------------
# 3. Multimodal asset schema (north-star extension; no reference analogue).
#    Opaque payload + typed metadata: the Spark-side contract for
#    decode / feature-extract UDFs in functions/multimodal.py.
# ---------------------------------------------------------------------------

MULTIMODAL_ASSET = _st(
    _f("asset_id", LongType(), False),
    _f("modality", StringType()),           # 'image' | 'audio' | 'video'
    _f("payload", BinaryType()),            # opaque encoded bytes
    _f("mime_type", StringType()),
    _f("meta", MapType(StringType(), StringType())),
)
