"""ES|QL front-end queries (plans/esql.py): the 8.11+ piped language
compiled onto DataFrame stages, each row with a hand-written ANSI-SQL
oracle replaying the same pipe semantics (the EQL oracle convention —
ES|QL itself does not run on DuckDB, the SEMANTICS do)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tweets_elastic_spark.functions.analyzers import materialize_tokens
from tweets_elastic_spark.plans.esql import esql
from tweets_elastic_spark.plans.search import corpus_bm25_provider
from tweets_elastic_spark.queries.search_q import _BM25_ORACLE
from tweets_elastic_spark.registry import register
from tweets_elastic_spark.sources.catalog import fan_out, load_table


def _run(spark: SparkSession, sf_dir: str, query: str,
         table: str = "documents") -> DataFrame:
    df = fan_out(load_table(spark, sf_dir, table))
    return esql(spark, query, {table: df})


@register(
    "esql_stats_by",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS cnt,
           round(avg(n_chars), 2) AS avg_chars
    FROM documents
    WHERE lang = 'en' AND n_chars > 200
    GROUP BY source
    ORDER BY cnt DESC, source ASC
    LIMIT 5
    """,
    doc="ES|QL (the 8.11+ piped language joins the DSL/EQL/ES-SQL "
        "front-ends): FROM | WHERE | STATS ... BY | SORT | LIMIT "
        "compiles to filter (rides the scan) + ONE partial/final hash "
        "aggregation + TakeOrderedAndProject — the translator emits "
        "declarative DataFrame stages, never an interpreter "
        "(plans/esql.py). The oracle replays the pipe as plain SQL.",
)
def q_esql_stats_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, """
        FROM documents
        | WHERE lang == "en" AND n_chars > 200
        | STATS cnt = COUNT(*), avg_chars = ROUND(AVG(n_chars), 2) BY source
        | SORT cnt DESC, source ASC
        | LIMIT 5
    """)


@register(
    "esql_eval_dissect",
    oracle="""
    SELECT doc_id,
           lang || '-' || source AS tag,
           regexp_extract(lang || '-' || source, '^(.*?)-(.*)$', 1) AS l,
           regexp_extract(lang || '-' || source, '^(.*?)-(.*)$', 2) AS s,
           CAST(floor(n_chars / 7.0) AS BIGINT) AS code
    FROM documents
    WHERE regexp_extract(lang || '-' || source, '^(.*?)-(.*)$', 2)
              LIKE 'src1%'
      AND lang NOT IN ('de', 'fr')
    ORDER BY doc_id
    """,
    doc="ES|QL EVAL + DISSECT + LIKE: computed columns, delimiter "
        "extraction (%{l}-%{s} -> one regexp with non-greedy keys, the "
        "dissect contract), ES|QL's * wildcard LIKE, TO_LONG truncation "
        "(oracle mirrors with floor() — DuckDB CAST rounds), KEEP "
        "projection. Everything is scan-local expression work; the "
        "oracle re-derives the dissect fields with the same regex.",
)
def q_esql_eval_dissect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, """
        FROM documents
        | EVAL tag = CONCAT(lang, "-", source), code = TO_LONG(n_chars / 7)
        | DISSECT tag "%{l}-%{s}"
        | WHERE s LIKE "src1*" AND NOT (l IN ("de", "fr"))
        | KEEP doc_id, tag, l, s, code
        | SORT doc_id
    """)


@register(
    "esql_mv_expand_stats",
    oracle="""
    SELECT tok AS toks,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS docs
    FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL
    )
    WHERE tok LIKE 's%'
    GROUP BY tok
    ORDER BY n DESC, toks ASC
    LIMIT 10
    """,
    doc="ES|QL multivalue pipeline: SPLIT -> MV_EXPAND (explode) -> "
        "wildcard WHERE -> STATS with COUNT + exact COUNT_DISTINCT "
        "(ES|QL uses HLL for COUNT_DISTINCT; exact is the documented "
        "strictly-more-accurate divergence shared with the cardinality "
        "agg) -> SORT/LIMIT. The explode feeds ONE map-side-combining "
        "aggregation; the token filter applies before the shuffle, so "
        "only s-prefixed tokens ever exchange.",
)
def q_esql_mv_expand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, """
        FROM documents
        | WHERE text IS NOT NULL
        | EVAL toks = SPLIT(text, " ")
        | MV_EXPAND toks
        | WHERE toks LIKE "s*"
        | STATS n = COUNT(*), docs = COUNT_DISTINCT(doc_id) BY toks
        | SORT n DESC, toks ASC
        | LIMIT 10
    """)


@register(
    "esql_percentiles",
    oracle="""
    SELECT lang,
           round(quantile_cont(n_chars, 0.5), 4) AS med,
           round(quantile_cont(n_chars, 0.9), 4) AS p90,
           CAST(count(*) AS BIGINT) AS n
    FROM documents
    GROUP BY lang
    ORDER BY lang ASC
    """,
    doc="ES|QL MEDIAN/PERCENTILE per group, evaluated EXACTLY "
        "(interpolated order statistics = DuckDB quantile_cont, vs "
        "ES|QL's t-digest — the documented strictly-more-accurate "
        "divergence); rounded to 4 dp for cross-engine float identity. "
        "One hash aggregation; percentiles are sort-based per group "
        "state, no second shuffle.",
)
def q_esql_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, """
        FROM documents
        | STATS med = ROUND(MEDIAN(n_chars), 4),
                p90 = ROUND(PERCENTILE(n_chars, 90), 4),
                n = COUNT(*) BY lang
        | SORT lang ASC
    """)


@register(
    "esql_match_score",
    # shares the BM25 oracle VERBATIM with search_bm25 / search_dsl_bm25 /
    # essql_match_query: FOUR front-ends (builder, JSON DSL, ES-SQL,
    # ES|QL), one scoring truth — any drift reddens exactly one row.
    oracle=_BM25_ORACLE,
    doc="ES|QL full-text (8.16 MATCH + METADATA _score): "
        "FROM documents METADATA _score | WHERE MATCH(text, ...) "
        "compiles the match through the SAME BM25Match node the other "
        "three front-ends use (plans/essql._match_builder), _score "
        "carries the Okapi BM25 relevance. Shares the DuckDB BM25 "
        "recompute oracle verbatim with search_bm25 / search_dsl_bm25 / "
        "essql_match_query.",
)
def q_esql_match_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    docs = materialize_tokens(docs, {"text": ["custom_shingles"]})
    return esql(
        spark,
        '''FROM documents METADATA _score
        | WHERE MATCH(text, "spark merge") AND lang == "en"
        | EVAL score = ROUND(_score, 6)
        | KEEP doc_id, lang, score''',
        {"documents": docs},
        analyzers={"text": "custom_shingles"},
        tokens_cols={"text": "text__custom_shingles"},
        bm25_stats_for=corpus_bm25_provider(spark, docs),
    )


@register(
    "esql_change_point",
    oracle="""
    WITH d AS (
        SELECT strftime(ts, '%Y-%m-%d') AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    v AS (
        SELECT day, n,
               n + CASE WHEN day > '2024-01-15' THEN 500 ELSE 0 END AS v
        FROM d
    ),
    w AS (
        SELECT day, n, v,
               row_number() OVER (ORDER BY day) AS i,
               sum(CAST(v AS DOUBLE)) OVER (ORDER BY day
                                            ROWS UNBOUNDED PRECEDING) AS cum,
               sum(CAST(v AS DOUBLE)) OVER () AS tot,
               count(*) OVER () AS cnt
        FROM v
    ),
    t AS (
        SELECT day, n, v, i, cnt,
               CASE WHEN i < cnt THEN
                 round(sqrt(CAST(i AS DOUBLE) * (cnt - i) / cnt)
                       * abs(cum / i - (tot - cum) / (cnt - i)), 6)
               END AS tstat
        FROM w
    ),
    b AS (SELECT min(i) AS bi FROM t
          WHERE tstat = (SELECT max(tstat) FROM t))
    SELECT day, n, v,
           CASE WHEN i = (SELECT bi FROM b)
                THEN 'step_change' END AS cp_type,
           CASE WHEN i = (SELECT bi FROM b) THEN tstat END AS cp_stat
    FROM t
    ORDER BY day ASC
    """,
    doc="ES|QL CHANGE_POINT (8.18): daily event counts with a "
        "PLANTED +500 step after 2024-01-15, the key-ordered CUSUM "
        "mean-shift detector marks the split row in-stream (cp_type = "
        "'step_change' at the peak-T row, cp_stat = the statistic, "
        "NULL elsewhere; ties to the earliest key). Same deterministic "
        "math as the change_point sibling agg — ES's ML type "
        "taxonomy/p_value replaced by the reproducible statistic, the "
        "documented divergence. The oracle replays the full cumulative "
        "window computation; the window runs over the bounded "
        "post-STATS series (the coordinator-side shape).",
)
def q_esql_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, """
        FROM events
        | WHERE ts IS NOT NULL
        | EVAL day = DATE_FORMAT("yyyy-MM-dd", ts)
        | STATS n = COUNT(*) BY day
        | EVAL v = n + CASE(day > "2024-01-15", 500, 0)
        | CHANGE_POINT v ON day
        | KEEP day, n, v, cp_type, cp_stat
        | SORT day ASC
    """, table="events")


@register(
    "esql_cidr_dates",
    oracle="""
    SELECT strftime(ts, '%Y-%m') AS mon,
           CAST(extract(hour FROM ts) AS BIGINT) AS hr,
           CAST(count(*) AS BIGINT) AS n,
           max(value) AS mx
    FROM events
    WHERE user_id % 2 = 0
    GROUP BY mon, hr
    ORDER BY mon ASC, hr ASC
    """,
    doc="ES|QL CIDR_MATCH + date functions: EVAL synthesizes a "
        "v4 address per event (10.<user_id%2>.0.<event_id%200>), "
        "CIDR_MATCH(ip, \"10.0.0.0/16\", \"192.168.0.0/24\") keeps the "
        "even-user half (compile-time-folded range compare on the "
        "32-bit long, the predicate shared with EQL's cidrMatch via "
        "functions/ip.py), DATE_FORMAT/DATE_EXTRACT bucket by month + "
        "hour-of-day. All scan-local expression work feeding one hash "
        "agg; the oracle derives the CIDR verdict straight from the "
        "synthesized octet rule (user_id parity) so a mask-arithmetic "
        "bug reddens the row.",
)
def q_esql_cidr_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, """
        FROM events
        | EVAL ip = CONCAT("10.", TO_STRING(user_id % 2), ".0.",
                           TO_STRING(event_id % 200)),
               mon = DATE_FORMAT("yyyy-MM", ts),
               hr = DATE_EXTRACT("hour_of_day", ts)
        | WHERE CIDR_MATCH(ip, "10.0.0.0/16", "192.168.0.0/24")
        | STATS n = COUNT(*), mx = MAX(value) BY mon, hr
        | SORT mon ASC, hr ASC
    """, table="events")


@register(
    "esql_grok",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN n_chars % 3 = 0 THEN 'ERROR'
                    WHEN n_chars % 3 = 1 THEN 'warn'
                    ELSE 'info' END AS lvl,
               n_chars AS ms
        FROM documents WHERE text IS NOT NULL
    )
    SELECT lvl,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(ms) AS BIGINT) AS total_ms
    FROM t WHERE ms > 150
    GROUP BY lvl
    ORDER BY lvl ASC
    """,
    doc="ES|QL GROK: EVAL synthesizes a "
        "log line per document (doc=<id> lvl=<LEVEL> ip=<v4> took "
        "<n>ms), GROK re-extracts id/level/ip/latency through the "
        "pattern library (INT with :int cast, LOGLEVEL, IP) in ONE "
        "compiled regex -> scan-local regexp_extract per field, and "
        "the re-parsed values feed WHERE + STATS. The oracle derives "
        "the same aggregate straight from the source columns — any "
        "mis-capture (wrong span, wrong cast, wrong anchor) changes "
        "the group counts/sums and reddens the row.",
)
def q_esql_grok(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, """
        FROM documents
        | WHERE text IS NOT NULL
        | EVAL line = CONCAT("doc=", TO_STRING(doc_id),
                             " lvl=", CASE(n_chars % 3 == 0, "ERROR",
                                           n_chars % 3 == 1, "warn",
                                           "info"),
                             " ip=10.0.", TO_STRING(doc_id % 256),
                             ".7 took ", TO_STRING(n_chars), "ms")
        | GROK line "doc=%{INT:id:int} lvl=%{LOGLEVEL:lvl} ip=%{IP:ip} took %{INT:ms:int}ms"
        | WHERE ms > 150
        | STATS n = COUNT(*), total_ms = SUM(ms) BY lvl
        | SORT lvl ASC
    """)


@register(
    "esql_inlinestats",
    oracle="""
    WITH t AS (
        SELECT lang, n_chars,
               round(avg(n_chars) OVER (PARTITION BY lang), 4) AS lang_avg,
               CAST(count(*) OVER () AS BIGINT) AS g_n
        FROM documents WHERE text IS NOT NULL
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n,
           max(n_chars) AS mx,
           max(g_n) AS g
    FROM t WHERE n_chars > lang_avg * 1.2
    GROUP BY lang
    ORDER BY lang ASC
    """,
    doc="ES|QL INLINESTATS (8.16 preview): per-group aggregates "
        "APPENDED to every row, then used as an ordinary column in a "
        "downstream WHERE — the above-their-language-average filter. "
        "BY form compiles to window aggregates over partitionBy(lang) "
        "(ONE hash exchange, no join, no second scan); the global "
        "COUNT(*) form is a 1-row broadcast back onto the stream (the "
        "engine's scalar-totals idiom). The oracle replays both as SQL "
        "window functions.",
)
def q_esql_inlinestats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, """
        FROM documents
        | WHERE text IS NOT NULL
        | INLINESTATS lang_avg = ROUND(AVG(n_chars), 4) BY lang
        | INLINESTATS g_n = COUNT(*)
        | WHERE n_chars > lang_avg * 1.2
        | STATS n = COUNT(*), mx = MAX(n_chars), g = MAX(g_n) BY lang
        | SORT lang ASC
    """)


@register(
    "esql_lookup_join",
    oracle="""
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS cnt,
           max(c_acctbal) AS hi,
           min(c_acctbal) AS lo
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY cnt DESC, n_name ASC
    LIMIT 10
    """,
    doc="ES|QL LOOKUP JOIN (ES 8.18's headline feature): "
        "FROM customer | RENAME .. | LOOKUP JOIN nation ON n_nationkey "
        "| STATS .. BY n_name — the lookup index compiles to a "
        "BROADCAST left join (lookup-mode indices are single-shard-small "
        "by ES contract, so the fact stream never shuffles for the "
        "enrich; plan-shape pytest pins BroadcastHashJoin), then ONE "
        "hash agg + TakeOrderedAndProject. MAX/MIN instead of SUM keeps "
        "the doubles order-insensitive for cross-engine hash identity. "
        "Oracle replays the pipe as a plain join+group (every customer "
        "has a nation, so LEFT==INNER here).",
)
def q_esql_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = fan_out(load_table(spark, sf_dir, "customer"))
    nation = load_table(spark, sf_dir, "nation")
    return esql(spark, """
        FROM customer
        | RENAME c_nationkey AS n_nationkey
        | LOOKUP JOIN nation ON n_nationkey
        | STATS cnt = COUNT(*), hi = MAX(c_acctbal), lo = MIN(c_acctbal)
                BY n_name
        | SORT cnt DESC, n_name ASC
        | LIMIT 10
    """, {"customer": cust, "nation": nation})


@register(
    "esql_stats_where",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(CASE WHEN value > 50 THEN 1 END) AS BIGINT)
               AS n_big,
           round(sum(CASE WHEN user_id % 2 = 0 AND value IS NOT NULL
                          THEN value * value END)
                 / sum(CASE WHEN user_id % 2 = 0 AND value IS NOT NULL
                            THEN value END), 4) AS wa,
           round(stddev_pop(value), 4) AS sd,
           array_to_string(list(user_id ORDER BY user_id DESC)[1:3], ',')
               AS top_uid
    FROM events
    WHERE event_type IS NOT NULL
    GROUP BY 1
    ORDER BY event_type ASC
    """,
    doc="ES|QL per-aggregate WHERE + the 8.13-8.16 aggregate widening "
        "STATS n = COUNT(*), n_big = COUNT(*) WHERE value > 50, "
        "wa = WEIGHTED_AVG(value, value) WHERE user_id % 2 == 0, "
        "sd = STD_DEV(value), top_uid = TOP(user_id, 3, DESC) BY "
        "event_type — every filtered aggregate compiles to a "
        "conditional ARGUMENT (agg(CASE WHEN cond THEN x END)) riding "
        "ONE hash aggregation: no extra pass, no second scan, no "
        "per-filter subquery. WEIGHTED_AVG is sum(v*w)/sum(w) with the "
        "ES null contract (null value or weight drops the row); "
        "STD_DEV is population (the extended_stats basis); TOP is a "
        "bounded multivalue (sort + slice over the group's collected "
        "values, stringified at the query boundary for hash-stable "
        "primitives). The oracle replays each filter as the same CASE "
        "conditional.",
)
def q_esql_stats_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = fan_out(load_table(spark, sf_dir, "events"))
    out = esql(spark, """
        FROM events
        | WHERE event_type IS NOT NULL
        | STATS n = COUNT(*),
                n_big = COUNT(*) WHERE value > 50,
                wa = ROUND(WEIGHTED_AVG(value, value), 4)
                     WHERE user_id % 2 == 0,
                sd = ROUND(STD_DEV(value), 4),
                top_uid = TOP(user_id, 3, "DESC")
                BY event_type
        | SORT event_type ASC
    """, {"events": events})
    return out.withColumn(
        "top_uid",
        F.array_join(
            F.transform("top_uid", lambda x: x.cast("string")), ","),
    )


@register(
    "esql_bucket_stats",
    oracle="""
    SELECT strftime(to_timestamp(floor(epoch(ts) / 86400) * 86400),
                    '%Y-%m-%d') AS day,
           floor(value / 25.0) * 25.0 AS vb,
           CAST(count(*) AS BIGINT) AS n,
           max(value) AS mx
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    ORDER BY day ASC, vb ASC NULLS LAST
    """,
    doc="ES|QL BUCKET (8.13 — the histogram grouping function): "
        "STATS ... BY day = BUCKET(ts, 1 day), vb = BUCKET(value, "
        "25.0) — the time span truncates on the fixed-width epoch "
        "grid (floor(epoch/width)*width, tz-independent instants), "
        "the numeric span is floor(v/25)*25; both are scan-local "
        "integer/double arithmetic feeding ONE two-key hash "
        "aggregation, exactly the date_histogram + histogram agg "
        "plan the DSL front-end emits. NULL values key to the NULL "
        "group (the STATS BY contract). The oracle replays the same "
        "grid arithmetic; MAX keeps the doubles order-free.",
)
def q_esql_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, """
        FROM events
        | WHERE ts IS NOT NULL
        | STATS n = COUNT(*), mx = MAX(value)
                BY day = BUCKET(ts, 1 day), vb = BUCKET(value, 25.0)
        | EVAL day = DATE_FORMAT("yyyy-MM-dd", day)
        | SORT day ASC, vb ASC NULLS LAST
    """, table="events")


@register(
    "esql_fork",
    oracle="""
    WITH b1 AS (
        SELECT event_id, event_type, value,
               CAST(NULL AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS mx,
               'fork1' AS _fork
        FROM events
        WHERE event_type IS NOT NULL AND value > 95
        ORDER BY value DESC, event_id ASC
        LIMIT 20
    ), b2 AS (
        SELECT CAST(NULL AS BIGINT) AS event_id, event_type,
               CAST(NULL AS DOUBLE) AS value,
               CAST(count(*) AS BIGINT) AS n, max(value) AS mx,
               'fork2' AS _fork
        FROM events
        WHERE event_type IS NOT NULL
        GROUP BY event_type
    )
    SELECT * FROM b1 UNION ALL SELECT * FROM b2
    """,
    doc="ES|QL FORK (8.19 preview): the pipe splits into branches "
        "that each receive the CURRENT stream — here a top-20 detail "
        "page AND its per-type aggregate in one query — and union by "
        "name with the `_fork` discriminator ('fork1'/'fork2', branch "
        "order), missing columns NULL. Compiled as N plans over the "
        "SAME source plus one no-shuffle unionByName (each branch "
        "embeds its own copy of the upstream plan, so Spark executes "
        "the upstream stages once per branch — cheap here, a bare "
        "scan+filter; persist() first when the pre-FORK pipe is "
        "expensive). Both branches stay order-safe: the "
        "detail branch ties break on event_id, the agg branch uses "
        "order-free COUNT/MAX.",
)
def q_esql_fork(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, """
        FROM events
        | WHERE event_type IS NOT NULL
        | FORK (WHERE value > 95
                | KEEP event_id, event_type, value
                | SORT value DESC, event_id ASC
                | LIMIT 20)
               (STATS n = COUNT(*), mx = MAX(value) BY event_type)
        | SORT _fork ASC, event_id ASC NULLS LAST, event_type ASC
    """, table="events")


@register(
    "esql_enrich",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS cnt,
           max(s.s_acctbal) AS hi,
           min(s.s_acctbal) AS lo,
           max(n.n_regionkey) AS region_key
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY 1
    ORDER BY cnt DESC, nation ASC
    LIMIT 10
    """,
    doc="ES|QL ENRICH (8.x users "
        "migrating ingest pipelines hit ENRICH constantly): "
        "FROM supplier | ENRICH nations ON s_nationkey WITH "
        "nation = n_name, region_key = n_regionkey | STATS ... — "
        "compiled as sugar over the LOOKUP JOIN path (plans/esql.py): "
        "the policy dict stands in for ES's executed .enrich-* index "
        "(small + key-unique by policy-execution construction), so the "
        "enrich side BROADCASTS and the fact stream never shuffles; "
        "WITH renames project before the join so only selected columns "
        "move. MAX/MIN keep the doubles order-insensitive for "
        "cross-engine hash identity. Oracle replays the policy as a "
        "plain join (every supplier has a nation, so LEFT==INNER).",
)
def q_esql_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = fan_out(load_table(spark, sf_dir, "supplier"))
    nation = load_table(spark, sf_dir, "nation")
    return esql(spark, """
        FROM supplier
        | ENRICH nations ON s_nationkey
                 WITH nation = n_name, region_key = n_regionkey
        | STATS cnt = COUNT(*), hi = MAX(s_acctbal), lo = MIN(s_acctbal),
                region_key = MAX(region_key)
                BY nation
        | SORT cnt DESC, nation ASC
        | LIMIT 10
    """, {"supplier": supp}, enrich_policies={
        "nations": {"table": nation, "match_field": "n_nationkey",
                    "enrich_fields": ["n_name", "n_regionkey"]},
    }).select("nation", "cnt", "hi", "lo", "region_key")


_SAMPLE_P = 0.2
_SAMPLE_SEED = 7
# the EXACT threshold the compiler computes (int() of the float
# product) — the oracle must compare against the same literal
_SAMPLE_THRESHOLD = int(_SAMPLE_P * (1 << 60))


@register(
    "esql_sample_stats",
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n,
           max(n_chars) AS mx
    FROM documents
    WHERE lang IS NOT NULL
      AND ('0x' || substr(md5(concat_ws(chr(31),
               CAST(doc_id AS VARCHAR), lang,
               CAST(n_chars AS VARCHAR), '{_SAMPLE_SEED}')),
           1, 15))::BIGINT < {_SAMPLE_THRESHOLD}
    GROUP BY lang
    ORDER BY lang ASC
    """,
    doc="ES|QL SAMPLE (8.19 tech preview): "
        "FROM | WHERE | KEEP | SAMPLE 0.2 7 | STATS ... BY lang. "
        "Upstream samples non-reproducibly over internal doc ids; "
        "this engine samples DETERMINISTICALLY by portable hash "
        "(hash60 of the current columns + seed < p*2^60 — the same "
        "documented determinism divergence as the aggs front-end's "
        "random_sampler), which makes the sample a pure scan-riding "
        "predicate: no shuffle, no RNG state, identical draw at any "
        "partitioning and in the DuckDB oracle. KEEP precedes SAMPLE "
        "so the hash key is pinned to int/string columns (cross-"
        "engine stable formatting). At 100 TB this is the only "
        "sampling shape that scales: df.sample() is partition-"
        "dependent and unreproducible across engines/retries.",
)
def q_esql_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, f"""
        FROM documents
        | WHERE lang IS NOT NULL
        | KEEP doc_id, lang, n_chars
        | SAMPLE {_SAMPLE_P} {_SAMPLE_SEED}
        | STATS n = COUNT(*), mx = MAX(n_chars) BY lang
        | SORT lang ASC
    """)


@register(
    "esql_kql_filter",
    oracle="""
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n,
           max(n_chars) AS mx
    FROM documents
    WHERE (lang = 'en' OR lang = 'de')
      AND NOT source = 'src9'
      AND n_chars > 300
      AND source LIKE 'src%'
    GROUP BY lang, source
    ORDER BY lang ASC, source ASC
    """,
    doc="ES|QL KQL (8.17 full-text): the Kibana "
        "search-bar language inside WHERE — KQL(\"lang:(en or de) and "
        "not source:src9 and n_chars > 300 and source:src*\") — "
        "parsed by plans/query_string.parse_kql onto the same Query "
        "tree as the DSL (value groups inherit the field, comparisons "
        "become Range, trailing-* becomes a sargable Prefix). KQL is "
        "FILTER context upstream: no score contribution, and every "
        "compiled predicate is scan-riding keyword/range work — the "
        "whole WHERE collapses into the parquet scan's filters at any "
        "scale. The oracle replays the clauses as plain SQL.",
)
def q_esql_kql_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, """
        FROM documents
        | WHERE KQL("lang:(en or de) and not source:src9
                     and n_chars > 300 and source:src*")
        | STATS n = COUNT(*), mx = MAX(n_chars) BY lang, source
        | SORT lang ASC, source ASC
    """)


@register(
    "esql_span_window",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           max(value) AS mx
    FROM events
    WHERE ts IS NOT NULL
      AND ts >= TIMESTAMP '2024-01-20 00:00:00' - INTERVAL 7 DAY
      AND ts <  TIMESTAMP '2024-01-20 00:00:00' + INTERVAL 36 HOUR
    GROUP BY event_type
    ORDER BY event_type ASC
    """,
    doc="ES|QL temporal-amount arithmetic (the "
        "WHERE ts > <anchor> - 7 days idiom every dashboard query "
        "uses, usually spelled NOW() - 7 days; the anchor is a "
        "literal here so the row stays oracle-reproducible): span "
        "literals (7 days, 36 hours) compile to timestamp_add on the "
        "scan-riding range predicate — a sargable timestamp window "
        "(the bounds fold to constants, so parquet min/max pruning "
        "applies at scale), feeding one hash aggregation. The oracle "
        "replays the same window with INTERVAL arithmetic; MAX keeps "
        "the doubles order-free.",
)
def q_esql_span_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, """
        FROM events
        | WHERE ts IS NOT NULL
              AND ts >= TO_DATETIME("2024-01-20 00:00:00") - 7 days
              AND ts < TO_DATETIME("2024-01-20 00:00:00") + 36 hours
        | STATS n = COUNT(*), mx = MAX(value) BY event_type
        | SORT event_type ASC
    """, table="events")


@register(
    "esql_qstr_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, n_chars, source,
               list_transform(
                 list_filter(regexp_split_to_array(text,
                     '[^a-zA-Z0-9'']+'), x -> x <> ''),
                 x -> lower(x)) AS tokens
        FROM documents
    )
    SELECT doc_id, lang, source, CAST(2.0 AS DOUBLE) AS score
    FROM toks
    WHERE list_contains(tokens, 'spark')
      AND list_contains(tokens, 'merge')
      AND n_chars > 100
    ORDER BY doc_id ASC
    """,
    doc="ES|QL QSTR (8.16 full-text): the Lucene "
        "query-string syntax inside an ES|QL WHERE — "
        "QSTR(\"spark AND merge\") — compiled through the SAME "
        "plans/query_string.py parser the DSL front-end uses, bare "
        "terms resolved to the single analyzer-bound field (the "
        "stand-in for ES's index default_field). Scoring is the "
        "engine's constant-weight clause sum accumulated into "
        "METADATA _score (both AND clauses match -> 2.0). The "
        "analyzed-token predicate rides the scan; the oracle replays "
        "tokenization with the same unigram rules (shingle bigrams "
        "don't affect single-term containment).",
)
def q_esql_qstr_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    docs = materialize_tokens(docs, {"text": ["standard"]})
    return esql(
        spark,
        '''FROM documents METADATA _score
        | WHERE QSTR("spark AND merge") AND n_chars > 100
        | EVAL score = ROUND(_score, 6)
        | KEEP doc_id, lang, source, score
        | SORT doc_id ASC''',
        {"documents": docs},
        analyzers={"text": "standard"},
        tokens_cols={"text": "text__standard"},
    )


@register(
    "esql_mad_round_to",
    oracle="""
    SELECT event_type,
           CAST(CASE WHEN value >= 75 THEN 75
                     WHEN value >= 50 THEN 50
                     WHEN value >= 25 THEN 25
                     ELSE 0 END AS DOUBLE) AS vb,
           CAST(count(*) AS BIGINT) AS n,
           mad(value) AS madv,
           median(value) AS med
    FROM events
    WHERE value IS NOT NULL
    GROUP BY 1, 2
    ORDER BY event_type ASC, vb ASC
    """,
    doc="ES|QL MEDIAN_ABSOLUTE_DEVIATION + ROUND_TO: "
        "ROUND_TO(value, 0, 25, 50, 75) rounds DOWN to the largest "
        "fixed point <= value (scan-local array arithmetic over the "
        "literal points — the upstream 8.19 bucket-boundary contract, "
        "mirrored by a CASE chain in the oracle), and the MAD "
        "aggregate is EXACT median(|x - median(x)|) via ONE sorted-"
        "array aggregate per group (plans/aggs.mad_expr, shared with "
        "the agg front-end's metric; upstream estimates with "
        "t-digest — DuckDB's mad() is the same quantile_cont "
        "definition, so the oracle compares exactly). Sort-then-"
        "interpolate is order-robust by construction — no float-sum "
        "hazard. Per-group memory is O(group size), the documented "
        "cost of exactness; group cardinality here is "
        "event_type x 4 buckets.",
)
def q_esql_mad_round_to(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, """
        FROM events
        | WHERE value IS NOT NULL
        | EVAL vb = ROUND_TO(value, 0, 25, 50, 75)
        | STATS n = COUNT(*),
                madv = MEDIAN_ABSOLUTE_DEVIATION(value),
                med = MEDIAN(value)
                BY event_type, vb
        | SORT event_type ASC, vb ASC
    """, table="events")
