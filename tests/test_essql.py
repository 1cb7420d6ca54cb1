"""ES SQL endpoint: parser coverage, guards, and plan shape."""

from __future__ import annotations

import pytest

from tweets_elastic_spark.plans.essql import es_sql


@pytest.fixture(scope="module")
def t(spark):
    df = spark.createDataFrame(
        [(1, "a", 10.0, "x"), (2, "a", 20.0, None), (3, "b", 30.0, "xy"),
         (4, "b", None, "zz"), (5, None, 50.0, "xyz")],
        "id long, g string, v double, s string",
    )
    return {"t": df}


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_plain_select_where(spark, t):
    got = _rows(es_sql(
        "SELECT id, v FROM t WHERE v > 10 AND g = 'b' ORDER BY id", t))
    assert got == [(3, 30.0)]
    got = _rows(es_sql(
        "SELECT id FROM t WHERE s IS NULL OR v >= 50 ORDER BY id", t))
    assert got == [(2,), (5,)]
    got = _rows(es_sql(
        "SELECT id FROM t WHERE s LIKE 'x%' AND NOT (id = 1) ORDER BY id", t))
    assert got == [(3,), (5,)]
    got = _rows(es_sql(
        "SELECT id FROM t WHERE id NOT IN (1, 2, 3) ORDER BY id", t))
    assert got == [(4,), (5,)]
    got = _rows(es_sql(
        "SELECT id AS doc, v FROM t WHERE v BETWEEN 20 AND 30 ORDER BY doc", t))
    assert got == [(2, 20.0), (3, 30.0)]


def test_group_having_order_limit(spark, t):
    got = _rows(es_sql(
        "SELECT g, COUNT(*) AS n, ROUND(AVG(v), 6) AS m FROM t "
        "WHERE g IS NOT NULL GROUP BY g HAVING n >= 2 ORDER BY g", t))
    assert got == [("a", 2, 15.0), ("b", 2, 30.0)]  # AVG skips NULL
    got = _rows(es_sql(
        "SELECT COUNT(v) AS nv, MIN(v) AS lo FROM t", t))
    assert got == [(4, 10.0)]
    got = _rows(es_sql(
        "SELECT id FROM t ORDER BY v DESC LIMIT 2", t))
    assert got == [(5,), (3,)]


def test_guards(spark, t):
    for bad, msg in [
        ("SELECT id, COUNT(*) AS n FROM t", "needs GROUP BY"),
        ("SELECT COUNT(*) FROM t", "aliased"),
        ("SELECT v FROM t GROUP BY g", "not in GROUP BY"),
        ("SELECT id FROM t HAVING id > 1", "HAVING needs GROUP BY"),
        ("SELECT id FROM nope", "unknown index"),
        ("SELECT id FROM t LIMIT -1", "LIMIT"),
        ("SELECT id FROM t WHERE id ~ 3", "tokenize"),
        ("SELECT id FROM t trailing", "trailing"),
        ("SELECT UPPER(g) AS u FROM t", "unsupported function"),
    ]:
        with pytest.raises(ValueError, match=msg):
            es_sql(bad, t)


def test_plan_pushdown_and_topk(spark, t):
    plan = es_sql(
        "SELECT id FROM t WHERE v > 10 ORDER BY id LIMIT 3", t
    )._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    plan2 = es_sql(
        "SELECT g, SUM(v) AS s FROM t GROUP BY g", t
    )._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan2 or "HashAggregate" in plan2


@pytest.fixture(scope="module")
def docs(spark):
    """A tiny corpus with materialized custom_shingles tokens (words +
    glued bigrams) — 'spark merge' analyzes to three query tokens, so
    operator=or/and genuinely differ."""
    from tweets_elastic_spark.functions.analyzers import materialize_tokens

    df = spark.createDataFrame(
        [(1, "spark spark spark", "en"),
         (2, "spark merge", "en"),
         (3, "merge only here", "en"),
         (4, "nothing relevant", "en"),
         (5, "spark merge", "de")],
        "doc_id long, text string, lang string",
    )
    return materialize_tokens(df, {"text": ["custom_shingles"]})


def _bindings(spark, d):
    from tweets_elastic_spark.plans.search import corpus_bm25_provider

    return dict(
        analyzers={"text": "custom_shingles"},
        tokens_cols={"text": "text__custom_shingles"},
        bm25_stats_for=corpus_bm25_provider(spark, d),
    )


def test_match_keyword_fallback_without_bindings(spark, docs):
    # no analyzer binding → MATCH is keyword equality, SCORE constant 1.0
    got = _rows(es_sql(
        "SELECT doc_id, SCORE() AS s FROM docs "
        "WHERE MATCH(lang, 'de') ORDER BY doc_id", {"docs": docs}))
    assert got == [(5, 1.0)]


def test_match_bm25_score_and_order(spark, docs):
    """MATCH('spark merge') hits every doc sharing a token (1, 2, 3, 5);
    the exact-phrase docs 2 and 5 carry all three query tokens and tie
    for the top BM25 score."""
    q = ("SELECT doc_id, ROUND(SCORE(), 6) AS s FROM docs "
         "WHERE MATCH(text, 'spark merge') ORDER BY SCORE() DESC, doc_id")
    got = _rows(es_sql(q, {"docs": docs}, **_bindings(spark, docs)))
    assert {r[0] for r in got} == {1, 2, 3, 5}
    assert [r[0] for r in got[:2]] == [2, 5] and got[0][1] == got[1][1]
    scores = [r[1] for r in got]
    assert scores == sorted(scores, reverse=True) and scores[-1] > 0
    # hidden __score must not leak into the output schema
    out = es_sql(q, {"docs": docs}, **_bindings(spark, docs))
    assert out.columns == ["doc_id", "s"]


def test_match_options_and_score_guards(spark, docs):
    b = _bindings(spark, docs)
    # operator=and: ALL three query tokens required → exact-phrase docs only
    got = _rows(es_sql(
        "SELECT doc_id FROM docs "
        "WHERE MATCH(text, 'spark merge', 'operator=and') ORDER BY doc_id",
        {"docs": docs}, **b))
    assert got == [(2,), (5,)]
    # minimum_should_match=3 is the same gate here
    got = _rows(es_sql(
        "SELECT doc_id FROM docs WHERE "
        "MATCH(text, 'spark merge', 'minimum_should_match=3') "
        "ORDER BY doc_id", {"docs": docs}, **b))
    assert got == [(2,), (5,)]
    with pytest.raises(ValueError, match="needs at least one MATCH"):
        es_sql("SELECT doc_id, SCORE() AS s FROM docs", {"docs": docs}, **b)
    with pytest.raises(ValueError, match="per-document"):
        es_sql("SELECT lang, SCORE() AS s, COUNT(*) AS n FROM docs "
               "WHERE MATCH(text, 'spark merge') GROUP BY lang",
               {"docs": docs}, **b)
    with pytest.raises(ValueError, match="ORDER BY SCORE"):
        es_sql("SELECT doc_id FROM docs ORDER BY SCORE() DESC",
               {"docs": docs}, **b)
    with pytest.raises(ValueError, match="aliased"):
        es_sql("SELECT SCORE() FROM docs WHERE MATCH(lang, 'en')",
               {"docs": docs}, **b)
    with pytest.raises(ValueError, match="unsupported MATCH keys"):
        es_sql("SELECT doc_id FROM docs "
               "WHERE MATCH(text, 'spark', 'fuzziness=2')",
               {"docs": docs}, **b)
    with pytest.raises(ValueError, match="not a predicate"):
        es_sql("SELECT doc_id FROM docs WHERE SCORE() > 1", {"docs": docs},
               **b)


def test_match_agrees_with_dsl_bm25_nodes(spark, docs):
    """The SQL front-end and the DSL nodes it compiles to must give the
    same scores: compare against a hand-built BM25Match over the same
    corpus stats."""
    from tweets_elastic_spark.functions.analyzers import analyze_text
    from tweets_elastic_spark.plans.search import BM25Match, bm25_stats
    from pyspark.sql import functions as F

    qtok = analyze_text(spark, "spark merge", "custom_shingles")
    stats = bm25_stats(docs, [("text__custom_shingles", 1.0)], qtok)
    node = BM25Match([("text", "text__custom_shingles", 1.0)], "spark merge",
                     analyzer="custom_shingles", stats=stats)
    want = sorted(
        tuple(r) for r in docs
        .filter(node.predicate(spark))
        .select("doc_id", F.round(node.score(spark), 6).alias("s"))
        .collect()
    )
    got = sorted(_rows(es_sql(
        "SELECT doc_id, ROUND(SCORE(), 6) AS s FROM docs "
        "WHERE MATCH(text, 'spark merge')",
        {"docs": docs}, **_bindings(spark, docs))))
    assert got == want and len(got) == 4


def test_count_distinct(spark, t):
    got = _rows(es_sql(
        "SELECT COUNT(DISTINCT g) AS ng, COUNT(g) AS n FROM t", t))
    assert got == [(2, 4)]  # NULL g excluded from both
    got = _rows(es_sql(
        "SELECT g, COUNT(DISTINCT s) AS ns FROM t "
        "WHERE g IS NOT NULL GROUP BY g ORDER BY g", t))
    assert got == [("a", 1), ("b", 2)]
    with pytest.raises(ValueError, match="COUNT only"):
        es_sql("SELECT SUM(DISTINCT v) AS s FROM t", t)


def test_date_part_functions(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 15, 9, 30, 5)),
         (2, dt.datetime(2024, 1, 20, 10, 0, 0)),
         (3, dt.datetime(2024, 3, 2, 23, 59, 59)),
         (4, dt.datetime(2025, 3, 2, 0, 0, 1))],
        "id long, ts timestamp",
    )
    got = _rows(es_sql(
        "SELECT YEAR(ts) AS y, MONTH(ts) AS m, COUNT(*) AS n FROM t "
        "GROUP BY y, m ORDER BY y, m", {"t": df}))
    assert got == [(2024, 1, 2), (2024, 3, 1), (2025, 3, 1)]
    # plain (ungrouped) select + HAVING over the alias
    got = _rows(es_sql(
        "SELECT id, HOUR(ts) AS h FROM t ORDER BY id LIMIT 2", {"t": df}))
    assert got == [(1, 9), (2, 10)]
    got = _rows(es_sql(
        "SELECT YEAR(ts) AS y, COUNT(*) AS n FROM t GROUP BY y "
        "HAVING n >= 3 ORDER BY y", {"t": df}))
    assert got == [(2024, 3)]
    # results are BIGINT (DuckDB's year() width)
    out = es_sql("SELECT YEAR(ts) AS y FROM t", {"t": df})
    assert dict(out.dtypes)["y"] == "bigint"
    with pytest.raises(ValueError, match="argument must be a column"):
        es_sql("SELECT YEAR(1) AS y FROM t", {"t": df})
    # date parts as WHERE predicates (with IN/BETWEEN/comparison forms)
    got = _rows(es_sql(
        "SELECT id FROM t WHERE YEAR(ts) = 2024 AND MONTH(ts) IN (1, 2) "
        "ORDER BY id", {"t": df}))
    assert got == [(1,), (2,)]
    got = _rows(es_sql(
        "SELECT id FROM t WHERE HOUR(ts) BETWEEN 9 AND 11 ORDER BY id",
        {"t": df}))
    assert got == [(1,), (2,)]


def test_essql_differential_vs_duckdb(spark):
    """Property-style differential: randomly composed queries from the
    supported subset must return identical rows from es_sql and from
    DuckDB executing the SAME string (the subset is ANSI-compatible by
    construction). Deterministic seed — reproducible, no flaky CI."""
    import random

    import duckdb

    rnd = random.Random(20260815)
    rows = [
        (i, rnd.choice(["a", "b", "c", None]),
         round(rnd.uniform(0, 100), 2),
         rnd.choice(["xx", "xy", "yz", "zz1", None]))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, g string, v double, s string")
    con = duckdb.connect()
    con.register("t", df.toPandas())

    preds = [
        "v > 50", "v <= 25.5", "id <> 7", "g = 'a'", "g IS NOT NULL",
        "s LIKE 'x%'", "s NOT LIKE '%z'", "id IN (1, 2, 3, 40, 99)",
        "v BETWEEN 10 AND 60", "s IS NULL", "NOT (g = 'b')",
        # r11 string scalar functions — same verbatim-portability contract
        "LENGTH(s) > 2", "LCASE(g) = 'a'", "UCASE(s) LIKE 'X%'",
        "LENGTH(TRIM(s)) = 2", "SUBSTRING(s, 1, 1) = 'x'",
    ]

    def rand_where():
        n = rnd.randint(1, 3)
        parts = [rnd.choice(preds) for _ in range(n)]
        out = parts[0]
        for p in parts[1:]:
            out = f"({out} {rnd.choice(['AND', 'OR'])} {p})"
        return out

    for _ in range(30):
        roll = rnd.random()
        if roll < 0.4:
            q = (f"SELECT g, COUNT(*) AS n, ROUND(SUM(v), 6) AS sv, "
                 f"COUNT(DISTINCT s) AS ns "
                 f"FROM t WHERE {rand_where()} GROUP BY g")
        elif roll < 0.7:
            q = (f"SELECT id, g, v FROM t WHERE {rand_where()} "
                 f"ORDER BY id LIMIT {rnd.randint(1, 50)}")
        else:
            q = (f"SELECT id, CONCAT(g, '-', s) AS tag, "
                 f"SUBSTRING(s, 1, 2) AS s2, LENGTH(s) AS n "
                 f"FROM t WHERE {rand_where()} "
                 f"ORDER BY id LIMIT {rnd.randint(1, 50)}")
        key = lambda t: tuple((x is None, x) for x in t)
        got = sorted((tuple(r) for r in es_sql(q, {"t": df}).collect()),
                     key=key)
        want = sorted((tuple(r) for r in con.sql(q).fetchall()), key=key)
        assert got == want, q


def test_string_scalar_functions(spark, t):
    # select-list aliases + nesting + WHERE usage; NULL s drops at the
    # LENGTH gate (3VL), NULL g passes through UCASE as NULL
    got = _rows(es_sql(
        "SELECT id, UCASE(g) AS ug, LENGTH(TRIM(s)) AS n FROM t "
        "WHERE LENGTH(s) >= 2 ORDER BY id", t))
    assert got == [(3, "B", 2), (4, "B", 2), (5, None, 3)]
    # CONCAT: NULL arguments count as '' (ES / DuckDB NULL-skipping)
    got = _rows(es_sql(
        "SELECT id, CONCAT(g, '-', s) AS tag FROM t ORDER BY id", t))
    assert got == [(1, "a-x"), (2, "a-"), (3, "b-xy"), (4, "b-zz"),
                   (5, "-xyz")]
    # SUBSTRING is 1-based; GROUP BY a string-scalar alias works
    got = _rows(es_sql(
        "SELECT SUBSTRING(s, 1, 1) AS c, COUNT(*) AS n FROM t "
        "WHERE s IS NOT NULL GROUP BY c ORDER BY c", t))
    assert got == [("x", 3), ("z", 1)]
    # LCASE in WHERE rides the scan as an ordinary predicate
    got = _rows(es_sql(
        "SELECT id FROM t WHERE LCASE(g) = 'b' ORDER BY id", t))
    assert got == [(3,), (4,)]
    # LENGTH result is BIGINT (DuckDB's width — driver hash sensitivity)
    out = es_sql("SELECT LENGTH(s) AS n FROM t", t)
    assert dict(out.dtypes)["n"] == "bigint"
    # guards: date fns still refuse literal args; malformed SUBSTRING
    with pytest.raises(ValueError, match="must be a column"):
        es_sql("SELECT LCASE(3) AS x FROM t", t)
    with pytest.raises(ValueError, match="SUBSTRING"):
        es_sql("SELECT SUBSTRING(s, 1) AS x FROM t", t)


def test_histogram_grouping(spark, t):
    # numeric interval: fixed-width floor grid (DOUBLE)
    got = _rows(es_sql(
        "SELECT HISTOGRAM(v, 20) AS b, COUNT(*) AS n FROM t "
        "WHERE v IS NOT NULL GROUP BY b ORDER BY b", t))
    assert got == [(0.0, 1), (20.0, 2), (40.0, 1)]
    # INTERVAL date form: epoch floor grid
    ts = {"e": spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 23:00:00"),
         (3, "2024-01-02 01:00:00")],
        "id long, raw string").selectExpr(
            "id", "CAST(raw AS TIMESTAMP) AS ts")}
    got = _rows(es_sql(
        "SELECT HISTOGRAM(ts, INTERVAL 1 DAY) AS d, COUNT(*) AS n "
        "FROM e GROUP BY d ORDER BY d", ts))
    assert [str(d)[:10] for d, _ in got] == ["2024-01-01", "2024-01-02"]
    assert [n for _, n in got] == [2, 1]
    # calendar INTERVAL beyond 1 refused (the one bucket-grid rule)
    with pytest.raises(ValueError, match="calendar month bucket takes a count of 1"):
        es_sql("SELECT HISTOGRAM(ts, INTERVAL 2 MONTH) AS m, "
               "COUNT(*) AS n FROM e GROUP BY m", ts)
    with pytest.raises(ValueError, match="must be positive"):
        es_sql("SELECT HISTOGRAM(v, 0) AS b, COUNT(*) AS n FROM t "
               "GROUP BY b", t)


def test_query_predicate(spark, t):
    # QUERY('lucene') — field-scoped syntax needs no analyzer bindings
    got = _rows(es_sql(
        "SELECT id FROM t WHERE QUERY('g:a AND s:x*') ORDER BY id", t))
    assert got == [(1,)]
    # participates in SCORE() like MATCH (constant-weight sum)
    got = _rows(es_sql(
        "SELECT id, SCORE() AS sc FROM t WHERE QUERY('g:a OR g:b') "
        "ORDER BY id", t))
    assert [r[1] for r in got] == [1.0, 1.0, 1.0, 1.0]
    with pytest.raises(ValueError, match="QUERY takes a string"):
        es_sql("SELECT id FROM t WHERE QUERY(g)", t)


def test_show_tables_describe(spark, t):
    got = _rows(es_sql("SHOW TABLES", t))
    assert got == [("t", "TABLE")]
    got = _rows(es_sql("DESCRIBE t", t))
    assert ("id", "bigint") in got and ("v", "double") in got
    got2 = _rows(es_sql("SHOW COLUMNS IN t", t))
    assert got == got2
    with pytest.raises(ValueError, match="unknown index"):
        es_sql("DESCRIBE nosuch", t)
