"""Event-time window queries over the events table (SURVEY §2.9 extension:
the reference has no windows; the engine ships tumbling/sliding/session).
The same functions accept a streaming DataFrame unchanged — registered here
in batch mode for the oracle gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tweets_elastic_spark.operators.asof import asof_join
from tweets_elastic_spark.operators.rangejoin import interval_join
from tweets_elastic_spark.plans.eql import eql_search
from tweets_elastic_spark.registry import register
from tweets_elastic_spark.rollup import rollup_job, rollup_search
from tweets_elastic_spark.sources.catalog import load_table
from tweets_elastic_spark.streaming.windows import (
    session_counts,
    sliding_counts,
    tumbling_counts,
)


@register(
    "tumbling_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling event-time window + agg.",
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_counts(load_table(spark, sf_dir, "events"), "1 hour")


@register(
    "sliding_window",
    oracle="""
    SELECT ws AS window_start,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM (
        SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                       date_trunc('hour', ts)]) AS ws,
               value
        FROM events
    )
    GROUP BY 1
    """,
    doc="Sliding window (2h width, 1h slide): every event lands in 2 windows.",
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_counts(load_table(spark, sf_dir, "events"), "2 hours", "1 hour")


@register(
    "session_window",
    oracle="""
    WITH d AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events
    ),
    s AS (
        SELECT user_id,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM d
    ),
    per AS (SELECT user_id, sid, count(*) AS cnt FROM s GROUP BY user_id, sid)
    SELECT user_id, count(*) AS n_sessions, max(cnt) AS max_session_events
    FROM per GROUP BY user_id
    """,
    doc="Session windows (30 min gap) per user — gaps-and-islands oracle; "
        "touching boundaries start a new session on both sides.",
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    sessions = session_counts(load_table(spark, sf_dir, "events"), "30 minutes")
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
    )


@register(
    "events_asof_join",
    oracle="""
    WITH clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    views AS (
        SELECT user_id, ts, event_id AS view_id, value AS view_value
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id, ts ORDER BY event_id DESC
            ) AS rn
            FROM events WHERE event_type = 'view'
        ) WHERE rn = 1
    )
    SELECT c.event_id, c.user_id, v.view_id,
           round(v.view_value, 6) AS view_value
    FROM clicks c ASOF LEFT JOIN views v
      ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
    doc="As-of join: each click gains the user's latest view at or before "
        "it (NULL when none precedes) — the time-series backfill operator "
        "Spark lacks natively, expressed as union-tag + one key shuffle + "
        "a per-key ts-ordered last() window (the sort-merge as-of plan). "
        "The oracle is DuckDB's native ASOF LEFT JOIN; equal-ts view "
        "collisions resolve to the max view_id on both sides.",
)
def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts",
        F.col("event_id").alias("view_id"),
        F.col("value").alias("view_value"),
    )
    res = asof_join(
        clicks, views, on=["user_id"],
        payload_cols=["view_id", "view_value"], right_order="view_id",
    )
    return res.select(
        "event_id", "user_id", "view_id",
        F.round("view_value", 6).alias("view_value"),
    )


@register(
    "corpus_length_quantiles",
    oracle="""
    SELECT lang,
           round(quantile_cont(n_chars, 0.5), 6) AS p50,
           round(quantile_cont(n_chars, 0.9), 6) AS p90,
           round(quantile_cont(n_chars, 0.99), 6) AS p99
    FROM documents GROUP BY lang
    """,
    doc="Exact per-language length percentiles (linear interpolation): "
        "Spark's percentile() and DuckDB's quantile_cont compute the same "
        "estimator, so the values hash-match; at 100 TB swap in "
        "approx_percentile (t-digest) for one-pass bounded memory.",
)
def q_corpus_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(n_chars, 0.99)"), 6).alias("p99"),
    )


@register(
    "user_rolling_1h",
    oracle="""
    SELECT event_id,
           CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
               PARTITION BY user_id
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS rolling_value
    FROM events
    """,
    doc="Per-event rolling 1-hour sum of value within the user's stream: a "
        "RANGE window frame over epoch seconds — one shuffle on user_id, "
        "sorted once, frame slides in O(1) per row (no self-join range "
        "explosion). DECIMAL summation keeps the hash bit-identical across "
        "engines; value-based frames make equal-timestamp peers "
        "order-independent.",
)
def q_user_rolling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("rolling_value"),
    )


@register(
    "funnel_conversion",
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS view_ts FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS click_ts
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.view_ts
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS purchase_ts
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
        GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_viewed,
           (SELECT count(*) FROM c) AS n_clicked_after,
           (SELECT count(*) FROM p) AS n_purchased_after
    """,
    doc="Ordered funnel (view -> click -> purchase): stage k counts users "
        "whose first stage-k event strictly follows their first stage-k-1 "
        "event. ONE lazy plan: conditional-min windows over the user "
        "partition chain the stage dependency (each stage's window reads "
        "the previous stage's column), then a per-user reduce and a global "
        "count - one shuffle on user_id, no event self-joins, no driver "
        "actions at plan time.",
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "view_ts",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "click_ts",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("view_ts")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "purchase_ts",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("click_ts")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("view_ts").alias("v"),
        F.max("click_ts").alias("c"),
        F.max("purchase_ts").alias("p"),
    )
    return per_user.agg(
        F.count("v").alias("n_viewed"),
        F.count("c").alias("n_clicked_after"),
        F.count("p").alias("n_purchased_after"),
    )


@register(
    "clicks_in_error_windows",
    oracle="""
    WITH errs AS (
        SELECT event_id AS err_id, user_id, ts AS w_start,
               ts + INTERVAL 30 MINUTE AS w_end
        FROM events WHERE event_type = 'error'
    ),
    clicks AS (
        SELECT user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT e.err_id, count(c.ts) AS n_clicks
    FROM errs e LEFT JOIN clicks c
      ON c.user_id = e.user_id AND c.ts >= e.w_start AND c.ts <= e.w_end
    GROUP BY e.err_id
    """,
    doc="Bounded range join: clicks inside each error's 30-minute incident "
        "window, per user. The naive range join is a nested-loop cross "
        "product; interval_join bucketizes time at the max interval width, "
        "explodes each interval into <= 2 buckets, and equi-joins on "
        "(user, bucket) before the exact containment filter - a plain hash "
        "join at any scale (plan-pinned: no cartesian/nested-loop).",
)
def q_clicks_in_error_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    errs = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("w_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    joined = interval_join(
        clicks, errs, on=["user_id"], ts="ts",
        start="w_start", end="w_end", max_duration_s=1800,
    )
    # LEFT semantics of the oracle: errors with zero clicks still appear
    counts = joined.groupBy("err_id").agg(F.count(F.lit(1)).alias("n_clicks"))
    return (
        errs.select("err_id")
        .join(counts, "err_id", "left")
        .select("err_id", F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"))
    )


@register(
    "events_daily_pivot",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
    FROM events GROUP BY 1
    """,
    doc="Pivot (long -> wide): daily counts per event type as columns. The "
        "pivot values are DECLARED (not discovered), so the plan is a "
        "single groupBy with conditional aggregates - no extra "
        "distinct-values job, stable schema at any scale; the oracle is "
        "the equivalent conditional aggregation.",
)
def q_events_daily_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    types = ["view", "click", "purchase", "signup", "error"]
    return (
        ev.withColumn("day", F.date_format(F.col("ts"), "yyyy-MM-dd"))
        .groupBy("day")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .select("day", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types])
    )


@register(
    "events_daily_unpivot",
    oracle="""
    WITH wide AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click
        FROM events GROUP BY 1
    )
    SELECT day, kind, n FROM wide
    UNPIVOT (n FOR kind IN (view, click))
    """,
    doc="Unpivot (wide -> long): the inverse melt via Spark's native "
        "unpivot (stack) against DuckDB's UNPIVOT - a pure projection "
        "explode, no shuffle beyond the feeding aggregation.",
)
def q_events_daily_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wide = (
        ev.withColumn("day", F.date_format(F.col("ts"), "yyyy-MM-dd"))
        .groupBy("day")
        .agg(
            F.sum((F.col("event_type") == "view").cast("long")).alias("view"),
            F.sum((F.col("event_type") == "click").cast("long")).alias("click"),
        )
    )
    return wide.unpivot("day", ["view", "click"], "kind", "n")


@register(
    "events_json_runtime_field",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS n_with_k,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_sum,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6)
               AS k_avg,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_max
    FROM events
    WHERE event_type IS NOT NULL
    GROUP BY 1
    """,
    doc="ES runtime fields / schema-on-read: a value extracted from the "
        "semi-structured JSON props column AT QUERY TIME (get_json_object "
        "— a codegen'd JSON-path expression, the engine analogue of a "
        "Painless runtime field over _source) and aggregated per event "
        "type. Malformed or missing paths yield NULL and drop out of the "
        "aggregates, ES's missing-field contract; no pre-parsed schema, "
        "no UDF, one scan.",
)
def q_events_json_runtime_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.filter(F.col("event_type").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(k).alias("n_with_k"),
            F.sum(k).alias("k_sum"),
            F.round(F.avg(k), 6).alias("k_avg"),
            F.max(k).alias("k_max"),
        )
    )


# the recursive-CTE automaton replay shared by the funnel row and the
# sequence-pipes row (same sequence; the pipes row post-processes matches)
_EQL_FUNNEL_BODY = """
    WITH RECURSIVE ev AS (
        SELECT user_id AS k, epoch(ts) AS tsd, event_id AS eid,
               event_type AS cat,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY epoch(ts), event_id) AS rn
        FROM events
        WHERE event_type IN ('view', 'click', 'purchase')
          AND user_id IS NOT NULL
    ),
    run AS (
        SELECT k, 0 AS rn,
               CAST(NULL AS DOUBLE) AS s1_ts, CAST(NULL AS BIGINT) AS s1_id,
               CAST(NULL AS DOUBLE) AS s2_ts, CAST(NULL AS BIGINT) AS s2_id1,
               CAST(NULL AS BIGINT) AS s2_id2,
               CAST(NULL AS DOUBLE) AS m_first, CAST(NULL AS DOUBLE) AS m_last,
               CAST(NULL AS BIGINT) AS m_id1, CAST(NULL AS BIGINT) AS m_id2,
               CAST(NULL AS BIGINT) AS m_id3
        FROM (SELECT DISTINCT k FROM ev)
        UNION ALL
        SELECT e.k, e.rn,
               CASE WHEN (NOT c3 AND c2) THEN NULL
                    WHEN (NOT c3 AND NOT c2 AND c1) THEN e.tsd
                    ELSE r.s1_ts END,
               CASE WHEN (NOT c3 AND c2) THEN NULL
                    WHEN (NOT c3 AND NOT c2 AND c1) THEN e.eid
                    ELSE r.s1_id END,
               CASE WHEN c3 THEN NULL WHEN c2 THEN r.s1_ts ELSE r.s2_ts END,
               CASE WHEN c3 THEN NULL WHEN c2 THEN r.s1_id ELSE r.s2_id1 END,
               CASE WHEN c3 THEN NULL WHEN c2 THEN e.eid ELSE r.s2_id2 END,
               CASE WHEN c3 THEN r.s2_ts END,
               CASE WHEN c3 THEN e.tsd END,
               CASE WHEN c3 THEN r.s2_id1 END,
               CASE WHEN c3 THEN r.s2_id2 END,
               CASE WHEN c3 THEN e.eid END
        FROM run r
        JOIN ev e ON e.k = r.k AND e.rn = r.rn + 1,
        LATERAL (SELECT
            (e.cat = 'purchase' AND r.s2_ts IS NOT NULL
             AND e.tsd - r.s2_ts <= 172800.0) AS c3,
            (e.cat = 'click' AND r.s1_ts IS NOT NULL
             AND e.tsd - r.s1_ts <= 172800.0
             AND NOT (e.cat = 'purchase' AND r.s2_ts IS NOT NULL
                      AND e.tsd - r.s2_ts <= 172800.0)) AS c2,
            (e.cat = 'view') AS c1) f
    ),
    seqs AS (
        SELECT k AS user_id, m_first AS first_ts, m_last AS last_ts,
               m_id1 AS id1, m_id2 AS id2, m_id3 AS id3
        FROM run WHERE m_id3 IS NOT NULL
    )
"""


@register(
    "eql_sequence_funnel",
    oracle=_EQL_FUNNEL_BODY + """
    SELECT user_id, first_ts, last_ts, id1, id2, id3 FROM seqs
    """,
    doc="EQL sequence correlation (plans/eql.py): `sequence by "
        "user_id with maxspan=2d [view][click][purchase]` through the "
        "deterministic single-slot automaton — one groupBy(user) shuffle "
        "moving only (ts, id, stage bits), the automaton a JVM aggregate "
        "HOF over each key's time-sorted list, no Python. The oracle "
        "replays the exact automaton as a recursive CTE (one step per "
        "per-key event; depth = max events per key, which stays ~flat as "
        "corpus grows because keys scale, not per-key density).",
)
def q_eql_sequence_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return eql_search(events, """
        sequence by user_id with maxspan=2d
          [ view where true ]
          [ click where true ]
          [ purchase where true ]
    """)


@register(
    "eql_sequence_pipes",
    oracle=_EQL_FUNNEL_BODY + """
    , u AS (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY last_ts, id3) AS rn
        FROM seqs
    )
    SELECT user_id, first_ts, last_ts, id1, id2, id3
    FROM u WHERE rn = 1
    ORDER BY last_ts, id3
    LIMIT 25
    """,
    doc="EQL pipes over sequence MATCHES: `... | unique user_id | "
        "head 25` — matches ordered by their FINAL event (last_ts, then "
        "its id — ES's sequence hit order), first match per user, top "
        "25. unique compiles to one row_number window over the match "
        "relation; head to TakeOrderedAndProject. Shares the funnel's "
        "recursive-CTE automaton oracle body; the pipe layer is replayed "
        "as a window + ORDER/LIMIT over the same matches.",
)
def q_eql_sequence_pipes(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return eql_search(events, """
        sequence by user_id with maxspan=2d
          [ view where true ]
          [ click where true ]
          [ purchase where true ]
        | unique user_id | head 25
    """)


@register(
    "eql_sequence_disjunction",
    oracle="""
    WITH RECURSIVE ev AS (
        SELECT user_id AS k, epoch(ts) AS tsd, event_id AS eid,
               (event_type IN ('view', 'signup')
                AND NOT (value > 200)) AS p1,
               ((event_type = 'purchase' OR event_type = 'error')
                AND (value > 60 OR value < 15)) AS p2,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY epoch(ts), event_id) AS rn
        FROM events
        WHERE user_id IS NOT NULL
          AND (coalesce((event_type IN ('view', 'signup')
                         AND NOT (value > 200)), false)
            OR coalesce(((event_type = 'purchase' OR event_type = 'error')
                         AND (value > 60 OR value < 15)), false))
    ),
    run AS (
        SELECT k, 0 AS rn,
               CAST(NULL AS DOUBLE) AS s1_ts, CAST(NULL AS BIGINT) AS s1_id,
               CAST(NULL AS DOUBLE) AS m_first, CAST(NULL AS DOUBLE) AS m_last,
               CAST(NULL AS BIGINT) AS m_id1, CAST(NULL AS BIGINT) AS m_id2
        FROM (SELECT DISTINCT k FROM ev)
        UNION ALL
        SELECT e.k, e.rn,
               CASE WHEN c2 THEN NULL WHEN e.p1 THEN e.tsd
                    ELSE r.s1_ts END,
               CASE WHEN c2 THEN NULL WHEN e.p1 THEN e.eid
                    ELSE r.s1_id END,
               CASE WHEN c2 THEN r.s1_ts END,
               CASE WHEN c2 THEN e.tsd END,
               CASE WHEN c2 THEN r.s1_id END,
               CASE WHEN c2 THEN e.eid END
        FROM run r
        JOIN ev e ON e.k = r.k AND e.rn = r.rn + 1,
        LATERAL (SELECT
            (e.p2 AND r.s1_ts IS NOT NULL
             AND e.tsd - r.s1_ts <= 86400.0) AS c2) f
    )
    SELECT k AS user_id, m_first AS first_ts, m_last AS last_ts,
           m_id1 AS id1, m_id2 AS id2
    FROM run WHERE m_id2 IS NOT NULL
    """,
    doc="EQL sequence with DISJUNCTIVE stage conditions: "
        "both stages are `any where <boolean "
        "expr>` exercising the full condition grammar — `in` "
        "membership, `not`, parenthesized `or` at ES precedence — "
        "compiled to pure Catalyst predicates evaluated before the "
        "single key shuffle. The oracle replays the 2-stage single-slot "
        "automaton as a recursive CTE with the same stage predicates "
        "spelled in SQL (per-event p1/p2 bits computed in the scan CTE, "
        "exactly like the engine ships stage bits through the shuffle).",
)
def q_eql_sequence_disjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return eql_search(events, """
        sequence by user_id with maxspan=1d
          [ any where event_type in ('view', 'signup')
                      and not value > 200 ]
          [ any where (event_type == 'purchase' or event_type == 'error')
                      and (value > 60 or value < 15) ]
    """)


@register(
    "eql_event_query",
    oracle="""
    SELECT event_id, epoch(ts) AS tsd, user_id, event_type, value
    FROM events
    WHERE event_type = 'error' AND value > 90
    ORDER BY 2, 1
    """,
    doc="EQL simple event query: `error where value > 90` — the "
        "parser's non-sequence path; predicate reaches the parquet scan, "
        "hits ordered by (timestamp, id) like ES's EQL response.",
)
def q_eql_event_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        eql_search(events, "error where value > 90")
        .select(
            "event_id",
            F.col("ts").cast("double").alias("tsd"),
            "user_id", "event_type", "value",
        )
    )


@register(
    "eql_sequence_until",
    oracle="""
    WITH RECURSIVE ev AS (
        SELECT user_id AS k, epoch(ts) AS tsd, event_id AS eid,
               event_type AS cat,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY epoch(ts), event_id) AS rn
        FROM events
        WHERE event_type IN ('view', 'click', 'purchase', 'signup')
          AND user_id IS NOT NULL
    ),
    run AS (
        SELECT k, 0 AS rn,
               CAST(NULL AS DOUBLE) AS s1_ts, CAST(NULL AS BIGINT) AS s1_id,
               CAST(NULL AS DOUBLE) AS s2_ts, CAST(NULL AS BIGINT) AS s2_id1,
               CAST(NULL AS BIGINT) AS s2_id2,
               CAST(NULL AS DOUBLE) AS m_first, CAST(NULL AS DOUBLE) AS m_last,
               CAST(NULL AS BIGINT) AS m_id1, CAST(NULL AS BIGINT) AS m_id2,
               CAST(NULL AS BIGINT) AS m_id3
        FROM (SELECT DISTINCT k FROM ev)
        UNION ALL
        SELECT e.k, e.rn,
               CASE WHEN u THEN NULL
                    WHEN (NOT c3 AND c2) THEN NULL
                    WHEN (NOT c3 AND NOT c2 AND c1) THEN e.tsd
                    ELSE r.s1_ts END,
               CASE WHEN u THEN NULL
                    WHEN (NOT c3 AND c2) THEN NULL
                    WHEN (NOT c3 AND NOT c2 AND c1) THEN e.eid
                    ELSE r.s1_id END,
               CASE WHEN u THEN NULL WHEN c3 THEN NULL
                    WHEN c2 THEN r.s1_ts ELSE r.s2_ts END,
               CASE WHEN u THEN NULL WHEN c3 THEN NULL
                    WHEN c2 THEN r.s1_id ELSE r.s2_id1 END,
               CASE WHEN u THEN NULL WHEN c3 THEN NULL
                    WHEN c2 THEN e.eid ELSE r.s2_id2 END,
               CASE WHEN c3 AND NOT u THEN r.s2_ts END,
               CASE WHEN c3 AND NOT u THEN e.tsd END,
               CASE WHEN c3 AND NOT u THEN r.s2_id1 END,
               CASE WHEN c3 AND NOT u THEN r.s2_id2 END,
               CASE WHEN c3 AND NOT u THEN e.eid END
        FROM run r
        JOIN ev e ON e.k = r.k AND e.rn = r.rn + 1,
        LATERAL (SELECT
            (e.cat = 'signup') AS u,
            (e.cat = 'purchase' AND r.s2_ts IS NOT NULL
             AND e.tsd - r.s2_ts <= 172800.0) AS c3,
            (e.cat = 'click' AND r.s1_ts IS NOT NULL
             AND e.tsd - r.s1_ts <= 172800.0
             AND NOT (e.cat = 'purchase' AND r.s2_ts IS NOT NULL
                      AND e.tsd - r.s2_ts <= 172800.0)) AS c2,
            (e.cat = 'view') AS c1) f
    )
    SELECT k AS user_id, m_first AS first_ts, m_last AS last_ts,
           m_id1 AS id1, m_id2 AS id2, m_id3 AS id3
    FROM run WHERE m_id3 IS NOT NULL
    """,
    doc="EQL sequence with `until`: signup events terminate "
        "in-progress view->click->purchase funnels (ES's until contract; "
        "an event matching both until and a stage resolves to until — "
        "documented tie-break). Same single-slot automaton with one "
        "extra clear flag in the per-event bit array; the recursive-CTE "
        "oracle replays it exactly.",
)
def q_eql_sequence_until(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return eql_search(events, """
        sequence by user_id with maxspan=2d
          [ view where true ]
          [ click where true ]
          [ purchase where true ]
        until [ signup where true ]
    """)


@register(
    "eql_event_pipes",
    oracle="""
    WITH hits AS (
        SELECT event_id, epoch(ts) AS tsd, user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY epoch(ts), event_id) AS rn
        FROM events WHERE event_type = 'error'
    ),
    uniq AS (SELECT * FROM hits WHERE rn = 1)
    SELECT event_id, tsd, user_id, value
    FROM uniq ORDER BY tsd, event_id LIMIT 20
    """,
    doc="EQL pipes: `error where true | unique user_id | head 20` "
        "— unique keeps each key's FIRST hit in EQL hit order (one window "
        "rank), head is TakeOrderedAndProject. Pipes compose left-to-"
        "right; sequences refuse pipes (one row per match already).",
)
def q_eql_event_pipes(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        eql_search(events, "error where true | unique user_id | head 20")
        .select("event_id", F.col("ts").cast("double").alias("tsd"),
                "user_id", "value")
    )


@register(
    "eql_sequence_by_stage",
    oracle="""
    WITH RECURSIVE raw AS (
        SELECT CASE WHEN event_type = 'signup'
                    THEN CAST(user_id AS VARCHAR)
                    WHEN event_type = 'click'
                    THEN CAST(CAST(floor(value % 50) AS BIGINT) AS VARCHAR)
               END AS k,
               epoch(ts) AS tsd, event_id AS eid,
               (event_type = 'signup') AS p1,
               (event_type = 'click') AS p2
        FROM events
        WHERE user_id IS NOT NULL AND value IS NOT NULL
          AND event_type IN ('signup', 'click')
    ),
    ev AS (
        SELECT *, row_number() OVER (PARTITION BY k
                                     ORDER BY tsd, eid) AS rn
        FROM raw
    ),
    run AS (
        SELECT k, 0 AS rn,
               CAST(NULL AS DOUBLE) AS s1_ts, CAST(NULL AS BIGINT) AS s1_id,
               CAST(NULL AS DOUBLE) AS m_first, CAST(NULL AS DOUBLE) AS m_last,
               CAST(NULL AS BIGINT) AS m_id1, CAST(NULL AS BIGINT) AS m_id2
        FROM (SELECT DISTINCT k FROM ev)
        UNION ALL
        SELECT e.k, e.rn,
               CASE WHEN c2 THEN NULL WHEN e.p1 THEN e.tsd
                    ELSE r.s1_ts END,
               CASE WHEN c2 THEN NULL WHEN e.p1 THEN e.eid
                    ELSE r.s1_id END,
               CASE WHEN c2 THEN r.s1_ts END,
               CASE WHEN c2 THEN e.tsd END,
               CASE WHEN c2 THEN r.s1_id END,
               CASE WHEN c2 THEN e.eid END
        FROM run r
        JOIN ev e ON e.k = r.k AND e.rn = r.rn + 1,
        LATERAL (SELECT
            (e.p2 AND r.s1_ts IS NOT NULL
             AND e.tsd - r.s1_ts <= 172800.0) AS c2) f
    )
    SELECT k AS user_id, m_first AS first_ts, m_last AS last_ts,
           m_id1 AS id1, m_id2 AS id2
    FROM run WHERE m_id2 IS NOT NULL
    """,
    doc="EQL PER-STAGE join keys (plans/eql.py): `sequence "
        "[signup] by user_id [click] by uid2` — each stage keys on its "
        "OWN field (uid2 derived in-plan as floor(value %% 50)) and the "
        "values must agree, ES's cross-field sequence join. The engine "
        "fans events out per DISTINCT candidate key (here exactly one — "
        "categories are disjoint — so the oracle folds the key to a "
        "CASE; the overlapping-stage fan-out is pinned by hand-vector "
        "pytests), masks stage bits to key-matching stages, and runs "
        "the same single-slot automaton per (key) group. Keys compare "
        "as string renderings — the documented cross-typed convention. "
        "Oracle: the 2-stage recursive-CTE replay over the same keyed "
        "relation.",
)
def q_eql_sequence_by_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).withColumn("uid2", F.floor(F.col("value") % 50).cast("long"))
    return eql_search(events, """
        sequence with maxspan=2d
          [ signup where true ] by user_id
          [ click where true ] by uid2
    """)


@register(
    "eql_event_functions",
    oracle="""
    WITH ev AS (
        SELECT event_id, epoch(ts) AS tsd, user_id, event_type,
               '10.' || CAST(user_id % 200 AS VARCHAR) || '.' ||
               CAST(event_id % 250 AS VARCHAR) || '.7' AS ip
        FROM events
    ),
    f AS (
        SELECT *,
               CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216
               + CAST(string_split(ip, '.')[2] AS BIGINT) * 65536
               + CAST(string_split(ip, '.')[3] AS BIGINT) * 256
               + CAST(string_split(ip, '.')[4] AS BIGINT) AS ipl
        FROM ev
    )
    SELECT event_id, tsd, user_id, event_type, ip
    FROM f
    WHERE ((ipl >= 171966464 AND ipl < 176160768)
           OR lower(event_type) LIKE 'cl%')
      AND length(event_type) >= 5
    ORDER BY tsd, event_id
    LIMIT 300
    """,
    doc="EQL condition FUNCTIONS end-to-end (plans/eql.py): `any "
        "where (cidrMatch(ip, '10.64.0.0/10') or startsWith~(event_type, "
        "'CL')) and length(event_type) >= 5 | head 300` over an in-plan "
        "derived IPv4 column. cidrMatch parses the CIDR at COMPILE time "
        "into [net, net+width) long literals (the oracle carries the "
        "same folded constants — 10.64.0.0/10 = [171966464, 176160768)) "
        "and the per-row octet arithmetic is mirrored operator for "
        "operator; startsWith~ folds case on both sides; head compiles "
        "to TakeOrderedAndProject. All predicates pure Catalyst, "
        "evaluated on the scan.",
)
def q_eql_event_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").withColumn(
        "ip",
        F.concat_ws(
            ".", F.lit("10"), (F.col("user_id") % 200).cast("string"),
            (F.col("event_id") % 250).cast("string"), F.lit("7"),
        ),
    )
    out = eql_search(events, """
        any where (cidrMatch(ip, '10.64.0.0/10')
                   or startsWith~(event_type, 'CL'))
                  and length(event_type) >= 5
        | head 300
    """)
    return out.select(
        "event_id", F.col("ts").cast("double").alias("tsd"),
        "user_id", "event_type", "ip",
    )


@register(
    "eql_sample",
    oracle="""
    SELECT user_id,
           min(CASE WHEN event_type = 'view' AND value > 150
                    THEN event_id END) AS id1,
           min(CASE WHEN event_type = 'error'
                    THEN event_id END) AS id2,
           min(CASE WHEN event_type = 'purchase' AND value < 50
                    THEN event_id END) AS id3
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY user_id
    HAVING min(CASE WHEN event_type = 'view' AND value > 150
               THEN event_id END) IS NOT NULL
       AND min(CASE WHEN event_type = 'error'
               THEN event_id END) IS NOT NULL
       AND min(CASE WHEN event_type = 'purchase' AND value < 50
               THEN event_id END) IS NOT NULL
    """,
    doc="EQL `sample` query kind "
        "(plans/eql.py): UN-ordered per-key "
        "correlation, one event per stage joined on `sample by user_id` "
        "with no chronology and no maxspan (ES 8.6 samples). "
        "Deterministic documented divergence: ES caps at `size` samples "
        "and picks per-stage events heuristically; this engine emits "
        "every qualifying key with the smallest-id event per stage. "
        "Compiles to per-stage conditional ids in the scan + ONE "
        "map-side-combining groupBy — only (key, 3 nullable longs) "
        "shuffle. Oracle: the same conditional-min GROUP BY in SQL.",
)
def q_eql_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return eql_search(events, """
        sample by user_id
          [ view where value > 150 ]
          [ error where true ]
          [ purchase where value < 50 ]
    """)


@register(
    "eql_sample_by_stage",
    oracle="""
    WITH keyed AS (
        SELECT CASE WHEN event_type = 'view' AND value > 100
                    THEN CAST(user_id AS VARCHAR)
                    WHEN event_type = 'error'
                    THEN CAST(CAST(floor(value % 50) AS BIGINT) AS VARCHAR)
               END AS skey,
               event_type, value, event_id
        FROM events
        WHERE value IS NOT NULL
    )
    SELECT skey,
           min(CASE WHEN event_type = 'view' AND value > 100
                    THEN event_id END) AS id1,
           min(CASE WHEN event_type = 'error'
                    THEN event_id END) AS id2
    FROM keyed
    WHERE skey IS NOT NULL
    GROUP BY skey
    HAVING min(CASE WHEN event_type = 'view' AND value > 100
               THEN event_id END) IS NOT NULL
       AND min(CASE WHEN event_type = 'error'
               THEN event_id END) IS NOT NULL
    """,
    doc="EQL sample with PER-STAGE join keys (plans/eql.py): "
        "`sample [view where value > 100] by user_id [error where "
        "true] by uid2` — each stage keys on its OWN field (uid2 "
        "derived in-plan as floor(value %% 50)), values must agree, "
        "compared as string renderings (the sequence convention). "
        "Events fan out per DISTINCT candidate key (here exactly one — "
        "categories are disjoint, so the oracle folds the key to a "
        "CASE; overlapping-stage fan-out is pinned by hand-vector "
        "pytests), then the SAME single conditional-min groupBy runs "
        "per key — one shuffle, no ordering, no state. The output key "
        "column is the array<string> rendering, projected to a plain "
        "string here (arity 1; driver primitive-schema constraint).",
)
def q_eql_sample_by_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).withColumn("uid2", F.floor(F.col("value") % 50).cast("long"))
    out = eql_search(events, """
        sample
          [ view where value > 100 ] by user_id
          [ error where true ] by uid2
    """)
    return out.select(
        F.array_join("skey", "\x1f").alias("skey"), "id1", "id2"
    )


@register(
    "rollup_search_month",
    oracle="""
    SELECT strftime(date_trunc('month', ts), '%Y-%m') AS bucket,
           event_type,
           CAST(count(*) AS BIGINT) AS doc_count,
           round(sum(value), 2) AS value_sum,
           round(sum(value) / count(value), 6) AS value_avg,
           min(value) AS value_min,
           max(value) AS value_max,
           CAST(count(value) AS BIGINT) AS value_value_count
    FROM events
    WHERE ts IS NOT NULL AND event_type IS NOT NULL
    GROUP BY 1, 2
    """,
    doc="ES rollup (rollup.py): a day-grain rollup job stores "
        "algebraic partials (sum/count/min/max per metric), and "
        "rollup_search answers the MONTH grain from the rollup alone — "
        "coarser buckets are prefixes of the zero-padded day key "
        "(substring, no timestamp parsing), metrics merge exactly "
        "(sum of sums, avg = totals ratio, min of mins). The oracle "
        "aggregates the RAW corpus directly at month grain, proving the "
        "rollup answer exact end-to-end.",
)
def q_rollup_search_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    rolled = rollup_job(
        events, date_field="ts", interval="day",
        terms=["event_type"], metrics=["value"],
    )
    out = rollup_search(
        rolled, job_interval="day", interval="month",
        terms=["event_type"],
        metrics={"value": ["sum", "avg", "min", "max", "value_count"]},
    )
    # value_sum re-rounds at 2 dp on both engines: at ~1e5 magnitude the
    # two-stage (day partials -> month merge) double sum sits close
    # enough to a 6-dp grid boundary to flake the full-precision hash
    # (the es_aggs_parent lesson); the summands carry 2 decimals, so
    # 2 dp loses nothing.
    return out.withColumn("value_sum", F.round("value_sum", 2))


@register(
    "ml_anomaly_score",
    oracle="""
    WITH b AS (
        SELECT event_id, event_type, value,
               CAST(strftime(ts, '%H') AS BIGINT) AS hod
        FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
    ),
    stats AS (
        SELECT event_type, hod,
               median(value) AS med
        FROM b GROUP BY 1, 2
    ),
    dev AS (
        SELECT b.event_type, b.hod, b.event_id, b.value, s.med,
               abs(b.value - s.med) AS ad
        FROM b JOIN stats s USING (event_type, hod)
    ),
    mads AS (
        SELECT event_type, hod, median(ad) AS mad
        FROM dev GROUP BY 1, 2
    )
    SELECT d.event_id,
           round(abs(d.value - d.med) / (m.mad * 1.4826 + 1e-9), 6)
               AS anomaly_score
    FROM dev d JOIN mads m USING (event_type, hod)
    WHERE abs(d.value - d.med) / (m.mad * 1.4826 + 1e-9) > 3.0
    """,
    doc="ES anomaly-detection analogue: the deterministic core "
        "of a seasonal single-metric job — per (event_type, hour-of-day) "
        "bucket compute the median and the MAD, score each event as the "
        "robust z-score |x - med| / (1.4826*MAD + eps), flag > 3. ES's "
        "anomaly severity is a learned monotone transform of this "
        "quantity; the deterministic robust z keeps the result "
        "hash-oracle-checkable. Two exact-median aggregations (the "
        "documented exactness trade) + two co-keyed broadcast-or-hash "
        "joins; per-bucket state is bucket-sized.",
)
def q_ml_anomaly_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .withColumn("hod", F.hour("ts").cast("bigint"))
    )
    stats = events.groupBy("event_type", "hod").agg(
        F.percentile(F.col("value"), 0.5).alias("med")
    )
    dev = events.join(stats, ["event_type", "hod"]).withColumn(
        "ad", F.abs(F.col("value") - F.col("med"))
    )
    mads = dev.groupBy("event_type", "hod").agg(
        F.percentile(F.col("ad"), 0.5).alias("mad")
    )
    scored = dev.join(mads, ["event_type", "hod"]).withColumn(
        "__score",
        F.abs(F.col("value") - F.col("med"))
        / (F.col("mad") * F.lit(1.4826) + F.lit(1e-9)),
    )
    return scored.filter(F.col("__score") > 3.0).select(
        "event_id", F.round("__score", 6).alias("anomaly_score")
    )
