"""Relational operator showcase queries (SURVEY §2.1-2.6) over the fixtures.

Role mapping (FIXTURES.md §2): orders plays the parent fact
(``conversations``), lineitem plays the 1-N children, customer/nation/region
play the dim chain, part/supplier extra dims.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tweets_elastic_spark.operators.denormalize import denormalize_orders
from tweets_elastic_spark.plans.essql import es_sql
from tweets_elastic_spark.registry import register
from tweets_elastic_spark.sources.catalog import load_table


@register(
    "denorm_order_lineitems",
    oracle="""
    SELECT o.o_orderkey,
           o.o_orderstatus,
           COALESCE(li.n_items, 0) AS n_items,
           COALESCE(li.revenue, 0.0) AS revenue,
           COALESCE(array_to_string(li.line_numbers, ','), '') AS line_numbers
    FROM orders o
    LEFT JOIN (
        SELECT l_orderkey,
               count(*) AS n_items,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               list(l_linenumber ORDER BY l_linenumber) AS line_numbers
        FROM lineitem
        GROUP BY l_orderkey
    ) li ON o.o_orderkey = li.l_orderkey
    """,
    doc="Group-then-left-join denormalization spine (J2+A1+P4, queries.sql:35-40). "
        "The sorted line-number array is joined to a comma string at the query "
        "boundary so the driver's canonicalizer gets hash-stable primitives.",
)
def q_denorm_order_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = denormalize_orders(spark, sf_dir)
    return doc.withColumn(
        "line_numbers",
        F.array_join(F.transform("line_numbers", lambda x: x.cast("string")), ","),
    )


@register(
    "keyset_page",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey > 500
    ORDER BY o_orderkey ASC
    LIMIT 100
    """,
    doc="Keyset pagination predicate+order+limit (F1/O1/O2, src/main.py:98-100).",
)
def q_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderkey") > 500)
        .orderBy(F.col("o_orderkey").asc())
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "point_lookup",
    oracle="SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey = 42",
    doc="Equality point-lookup (F2, queries.sql:72).",
)
def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") == 42).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@register(
    "snowflake_dim_join",
    oracle="""
    SELECT r.r_name AS region_name,
           count(*) AS n_customers,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    doc="Snowflake dim chain with broadcast joins (J3, queries.sql:30-32).",
)
def q_snowflake_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        customer.join(nation, customer["c_nationkey"] == nation["n_nationkey"])
        .join(region, nation["n_regionkey"] == region["r_regionkey"])
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_acctbal"),
        )
    )


@register(
    "star_join_project",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name AS customer_name,
           c.c_mktsegment AS segment
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_acctbal > 1000
    """,
    doc="Fact ⋈ dim inner join + projection/rename (J1+P1, queries.sql:27).",
)
def q_star_join_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 1000)
    return orders.join(
        F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"]
    ).select(
        "o_orderkey",
        "o_totalprice",
        F.col("c_name").alias("customer_name"),
        F.col("c_mktsegment").alias("segment"),
    )


@register(
    "self_join_pairs",
    oracle="""
    SELECT l1.l_orderkey AS o_key,
           l1.l_linenumber AS ln_a,
           l2.l_linenumber AS ln_b
    FROM lineitem l1
    JOIN lineitem l2
      ON l1.l_orderkey = l2.l_orderkey AND l1.l_linenumber < l2.l_linenumber
    WHERE l1.l_quantity > 45 AND l2.l_quantity > 45
    """,
    doc="Self-join with distinct aliases (J6, queries.sql:68-69).",
)
def q_self_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    a = li.alias("l1")
    b = li.alias("l2")
    return a.join(
        b,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_linenumber") < F.col("l2.l_linenumber")),
    ).select(
        F.col("l1.l_orderkey").alias("o_key"),
        F.col("l1.l_linenumber").alias("ln_a"),
        F.col("l2.l_linenumber").alias("ln_b"),
    )


@register(
    "exists_child_hof",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49
    )
    """,
    doc="exists-over-array higher-order predicate (F5/Q6, elastic_queries.json:30-40).",
)
def q_exists_child_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deliberately exercises the HOF path: nest children, then F.exists —
    # the document-side equivalent of ES `exists` on a nested field.
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.collect_list(F.struct("l_linenumber", "l_quantity")).alias("items")
    )
    return (
        orders.join(nested, orders["o_orderkey"] == nested["l_orderkey"], "inner")
        .filter(F.exists("items", lambda it: it["l_quantity"] >= 49))
        .select("o_orderkey", "o_orderstatus")
    )


@register(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
    doc="Relevance-style top-k → TakeOrderedAndProject (O3).",
)
def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Partial+final aggregation with exact decimal arithmetic (A1/A2 scale-up; TPC-H Q1 shape).",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "range_filter_conj",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_acctbal > 100 AND c_acctbal < 9000 AND c_mktsegment = 'BUILDING'
    """,
    doc="Boolean conjunction of range + equality filters (F4/F8, elastic_queries.json:23-41).",
)
def q_range_filter_conj(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return customer.filter(
        (F.col("c_acctbal") > 100)
        & (F.col("c_acctbal") < 9000)
        & (F.col("c_mktsegment") == "BUILDING")
    ).select("c_custkey", "c_name", "c_acctbal")


@register(
    "latest_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate
    FROM (
        SELECT o_custkey, o_orderkey, o_orderdate,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC
               ) AS rn
        FROM orders
    ) WHERE rn = 1
    """,
    doc="Analytic window: latest row per key via row_number() — the "
        "keeper-selection pattern (newest document per author) that exact "
        "dedup and update-in-place pipelines build on. One shuffle on the "
        "partition key; WindowExec streams sorted groups, no materialized "
        "per-group arrays.",
)
def q_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )


@register(
    "corpus_profile",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           count(DISTINCT source) AS n_sources,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang
    """,
    doc="Corpus profiling for pipeline triage: per-language doc counts, "
        "distinct sources, char-length extrema/total — grouped aggregation "
        "with a distinct count (partial aggregation + expand) over the "
        "documents table.",
)
def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "corpus_rollup",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY ROLLUP(lang, source)
    """,
    doc="Hierarchical subtotals via ROLLUP(lang, source) — grouping-sets "
        "aggregation (the Expand operator): per-(lang,source), per-lang, "
        "and grand-total rows in one pass over the corpus.",
)
def q_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.rollup("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "approx_distinct_profile",
    # HLL sketch values are engine-specific, so the
    # hash-checkable contract is (exact counts, bounded-error booleans):
    # Spark computes BOTH the HLL++ estimate and the exact count and
    # emits whether the estimate landed within 5% relative error
    # (rsd=0.02 ⇒ theoretical ~2%); the oracle computes the exact counts
    # and asserts TRUE for the bounds. A sketch drifting out of bound
    # hash-mismatches the boolean — the error bound IS driver-verified.
    oracle="""
    SELECT lang,
           CAST(count(DISTINCT source) AS BIGINT) AS exact_sources,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS exact_texts,
           true AS sources_within_5pct,
           true AS texts_within_5pct
    FROM documents
    GROUP BY lang
    """,
    doc="Approximate distinct counts (HyperLogLog++): distinct sources and "
        "distinct text fingerprints per language — the sketch path for "
        "cardinality profiling where exact countDistinct's shuffle is "
        "unaffordable. Driver contract: exact counts (cross-engine) "
        "plus within-5%%-relative-error booleans computed against the "
        "engine's own HLL estimate, so the sketch's error bound is "
        "hash-verified, not just pytest-pinned.",
)
def q_approx_distinct_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")

    def within(approx: F.Column, exact: F.Column) -> F.Column:
        return (
            F.abs(approx.cast("double") - exact.cast("double"))
            <= 0.05 * exact.cast("double")
        )

    agg = docs.groupBy("lang").agg(
        F.approx_count_distinct("source", rsd=0.02).alias("approx_sources"),
        F.approx_count_distinct(F.md5("text"), rsd=0.02).alias("approx_texts"),
        F.countDistinct("source").alias("exact_sources"),
        F.countDistinct(F.md5("text")).alias("exact_texts"),
    )
    return agg.select(
        "lang", "exact_sources", "exact_texts",
        within(F.col("approx_sources"), F.col("exact_sources"))
        .alias("sources_within_5pct"),
        within(F.col("approx_texts"), F.col("exact_texts"))
        .alias("texts_within_5pct"),
    )


@register(
    "match_all_count",
    oracle="SELECT count(*) AS n_docs FROM documents",
    doc="match_all + count verification (Q8/A2/A3, docs/protokol.md:544-550,643).",
)
def q_match_all_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(F.count(F.lit(1)).alias("n_docs"))


@register(
    "pricing_rollup_cube",
    oracle="""
    SELECT coalesce(l_returnflag, '<all>') AS flag,
           coalesce(l_linestatus, '<all>') AS status,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
                AS INT) AS gid,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(l_quantity) AS BIGINT) AS qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="OLAP rollup: subtotals at every prefix level of (returnflag, "
        "linestatus) plus the grand total, with grouping-id "
        "disambiguation (NULL keys rendered '<all>' so a NULL data value "
        "could never collide with a subtotal row). Spark expands rollup "
        "into grouping sets evaluated in ONE pass with partial "
        "aggregation — no per-level re-scan; the oracle is the identical "
        "ANSI ROLLUP.",
)
def q_pricing_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").cast("long").alias("qty"),
            (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus"))
            .cast("int")
            .alias("gid"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("status"),
            "gid", "n", "qty",
        )
    )


_ESSQL_GROUP = """SELECT o_orderpriority, COUNT(*) AS n,
       ROUND(AVG(o_totalprice), 6) AS avg_price
FROM orders
WHERE o_orderstatus <> 'P' AND o_totalprice BETWEEN 1000 AND 200000
GROUP BY o_orderpriority
HAVING n > 10
ORDER BY o_orderpriority
LIMIT 10"""

_ESSQL_FILTER = """SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem
WHERE l_quantity >= 49 AND l_returnflag IN ('A', 'R')
  AND l_shipdate IS NOT NULL
ORDER BY l_orderkey, l_linenumber
LIMIT 100"""


@register(
    "essql_group_query",
    oracle=_ESSQL_GROUP,
    doc="ES SQL endpoint (plans/essql.py): the grouped shape — "
        "WHERE/GROUP BY/HAVING-on-alias/ORDER/LIMIT translated to "
        "DataFrame ops (filter rides the scan with pushed predicates, "
        "one partial/final hash aggregation, TakeOrderedAndProject). "
        "The oracle is the SAME SQL string run by DuckDB — the subset "
        "is ANSI-compatible by construction, so the translation is "
        "checked against a real SQL engine verbatim.",
)
def q_essql_group_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return es_sql(_ESSQL_GROUP,
                  {"orders": load_table(spark, sf_dir, "orders")})


_ESSQL_DATE = """SELECT YEAR(o_orderdate) AS y, MONTH(o_orderdate) AS m,
       COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
FROM orders
WHERE o_orderstatus <> 'P'
GROUP BY y, m
HAVING n > 5
ORDER BY y, m
LIMIT 50"""


@register(
    "essql_date_parts",
    oracle=_ESSQL_DATE,
    doc="ES SQL date-part scalar functions: YEAR()/MONTH() in the "
        "select list and GROUP BY-by-alias — the endpoint's monthly-"
        "rollup idiom. Date parts compile to the matching Catalyst "
        "datetime expressions cast to BIGINT (DuckDB's width, so the "
        "SAME string is the oracle verbatim, like every essql row).",
)
def q_essql_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return es_sql(_ESSQL_DATE,
                  {"orders": load_table(spark, sf_dir, "orders")})


_ESSQL_STR = """SELECT doc_id, LCASE(lang) AS l, SUBSTRING(source, 1, 4) AS src4,
       CONCAT(lang, '-', source) AS tag, LENGTH(TRIM(text)) AS n
FROM documents
WHERE LENGTH(text) > 200 AND UCASE(lang) <> 'DE'
ORDER BY doc_id
LIMIT 400"""


@register(
    "essql_string_functions",
    oracle=_ESSQL_STR,
    doc="ES SQL string scalar functions: LCASE/UCASE/TRIM/LENGTH/"
        "SUBSTRING/CONCAT — nested (LENGTH(TRIM(text))), in WHERE "
        "(LENGTH gate + UCASE comparison, both riding the scan) and in "
        "the select list. CONCAT's NULL arguments count as '' (ES's and "
        "DuckDB's NULL-skipping — the Spark compile coalesces); LENGTH "
        "casts to BIGINT (DuckDB's width). Same string IS the oracle, "
        "verbatim, like every essql row.",
)
def q_essql_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return es_sql(_ESSQL_STR,
                  {"documents": load_table(spark, sf_dir, "documents")})


@register(
    "essql_histogram",
    oracle="""
    SELECT floor(value / 25.0) * 25.0 AS vb,
           CAST(count(*) AS BIGINT) AS n,
           max(value) AS mx
    FROM events
    WHERE value IS NOT NULL
    GROUP BY 1
    ORDER BY vb ASC
    """,
    doc="ES SQL HISTOGRAM(col, interval) (the endpoint's "
        "grouping function, the SQL spelling of the histogram agg): "
        "SELECT HISTOGRAM(value, 25) AS vb ... GROUP BY vb compiles "
        "to the shared fixed-width floor grid (floor(v/w)*w, DOUBLE — "
        "identical arithmetic to the histogram agg and ES|QL BUCKET) "
        "feeding ONE hash aggregation; the INTERVAL date form maps to "
        "the epoch floor grid / calendar date_trunc under the "
        "date_histogram rules. HISTOGRAM is not ANSI, so unlike the "
        "other essql rows the oracle replays the grid arithmetic "
        "instead of running the string verbatim. MAX keeps the "
        "doubles order-free.",
)
def q_essql_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return es_sql(
        "SELECT HISTOGRAM(value, 25) AS vb, COUNT(*) AS n, "
        "MAX(value) AS mx "
        "FROM events WHERE value IS NOT NULL "
        "GROUP BY vb ORDER BY vb ASC",
        {"events": load_table(spark, sf_dir, "events")},
    )


@register(
    "essql_filter_query",
    oracle=_ESSQL_FILTER,
    doc="ES SQL endpoint, the row-returning shape: comparison/IN/IS NOT "
        "NULL predicates + deterministic ORDER BY + LIMIT (top-k). Same "
        "verbatim-string oracle as essql_group_query.",
)
def q_essql_filter_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return es_sql(_ESSQL_FILTER,
                  {"lineitem": load_table(spark, sf_dir, "lineitem")})
