"""ES|QL compiler (plans/esql.py): hand vectors for every pipe command,
the expression grammar's corners, and the loud refusals."""

import pytest
from pyspark.sql import functions as F

from tweets_elastic_spark.plans.esql import esql


def _rows(spark, q, tables=None):
    return esql(spark, q, tables).collect()


@pytest.fixture()
def people(spark):
    return {
        "people": spark.createDataFrame(
            [(1, "Ann", "eng", 170, None),
             (2, "Bob", "eng", 180, 50.5),
             (3, "Cyd", "ops", None, 72.0),
             (4, "Dee", "ops", 160, 48.0),
             (5, "Eli", "ops", 150, 49.0)],
            "id long, name string, team string, h long, w double",
        )
    }


def test_row_source_and_eval(spark):
    r = _rows(spark, "ROW a = 1, b = 'x''y' | EVAL c = a * 2 + 1, "
                     'd = CASE(a == 1, "one", "other") | KEEP c, d, b')
    assert len(r) == 1
    # single-quoted ES|QL strings double their quotes ('' -> ')
    assert (r[0]["c"], r[0]["d"], r[0]["b"]) == (3, "one", "x'y")


def test_where_operators(spark, people):
    q = ('FROM people | WHERE team == "ops" AND h IS NOT NULL '
         'AND NOT (name IN ("Dee")) | KEEP id')
    assert [r["id"] for r in _rows(spark, q, people)] == [5]
    q2 = 'FROM people | WHERE name LIKE "?e*" | SORT id | KEEP name'
    assert [r["name"] for r in _rows(spark, q2, people)] == ["Dee"]
    # RLIKE is anchored (ES|QL): "A" must NOT match "Ann" mid-string
    q3 = 'FROM people | WHERE name RLIKE "A" | KEEP name'
    assert _rows(spark, q3, people) == []
    q4 = 'FROM people | WHERE name RLIKE "A.*" | KEEP name'
    assert [r["name"] for r in _rows(spark, q4, people)] == ["Ann"]


def test_stats_aggregates(spark, people):
    q = ('FROM people | STATS n = COUNT(*), hs = SUM(h), '
         'hm = MEDIAN(h), teams = COUNT_DISTINCT(team)')
    r = _rows(spark, q, people)[0]
    # MEDIAN skips NULL h (170, 180, 160, 150 -> 165.0)
    assert (r["n"], r["hs"], r["hm"], r["teams"]) == (5, 660, 165.0, 2)
    q2 = ('FROM people | STATS w90 = ROUND(PERCENTILE(w, 90), 2) '
          'BY team | SORT team')
    got = {r["team"]: r["w90"] for r in _rows(spark, q2, people)}
    assert got["eng"] == 50.5  # single non-null value
    assert got["ops"] == pytest.approx(67.4)  # interpolated, not t-digest


def test_sort_nulls_and_limit(spark, people):
    q = 'FROM people | SORT h ASC NULLS FIRST | LIMIT 2 | KEEP id'
    assert [r["id"] for r in _rows(spark, q, people)] == [3, 5]
    q2 = 'FROM people | SORT h DESC NULLS LAST | LIMIT 99 | KEEP id'
    assert [r["id"] for r in _rows(spark, q2, people)][-1] == 3


def test_keep_wildcard_drop_rename(spark, people):
    q = 'FROM people | RENAME h AS height | KEEP id, he*'
    r = _rows(spark, q, people)
    assert set(r[0].asDict()) == {"id", "height"}
    q2 = 'FROM people | DROP w, h | LIMIT 1'
    assert set(_rows(spark, q2, people)[0].asDict()) == {
        "id", "name", "team"}


def test_mv_expand_and_mv_functions(spark):
    tabs = {"t": None}
    q = ('ROW s = "a b c" | EVAL xs = SPLIT(s, " "), '
         'n = MV_COUNT(SPLIT(s, " ")), top = MV_MAX(SPLIT(s, " ")) '
         '| MV_EXPAND xs | KEEP xs, n, top')
    r = _rows(spark, q)
    assert [x["xs"] for x in r] == ["a", "b", "c"]
    assert r[0]["n"] == 3 and r[0]["top"] == "c"


def test_dissect_null_on_mismatch(spark):
    q = ('ROW s = "nodashhere" | DISSECT s "%{a}-%{b}" | KEEP a, b')
    r = _rows(spark, q)[0]
    assert r["a"] is None and r["b"] is None  # ES: non-match -> NULL
    q2 = 'ROW s = "x-y-z" | DISSECT s "%{a}-%{b}" | KEEP a, b'
    r2 = _rows(spark, q2)[0]
    # first key non-greedy, last key takes the rest
    assert (r2["a"], r2["b"]) == ("x", "y-z")


def test_dissect_modifiers(spark):
    # right padding (->), append (+) with APPEND_SEPARATOR, skips
    q = ('ROW s = "2024-01-02   INFO  alpha beta" '
         '| DISSECT s "%{d->} %{lvl->} %{+msg} %{+msg}" '
         'APPEND_SEPARATOR="_" | KEEP d, lvl, msg')
    r = _rows(spark, q)[0]
    assert (r["d"], r["lvl"], r["msg"]) == ("2024-01-02", "INFO",
                                            "alpha_beta")
    r2 = _rows(spark, 'ROW s = "a-b-c" | DISSECT s "%{}-%{?skip}-%{x}" '
                      '| KEEP x')[0]
    assert r2["x"] == "c"
    assert "skip" not in r2.asDict()
    # refusals: duplicate plain key, reference keys, /n order modifiers
    with pytest.raises(ValueError, match="captured twice"):
        esql(spark, 'ROW s = "a b" | DISSECT s "%{a} %{a}"', None)
    with pytest.raises(ValueError, match="reference keys"):
        esql(spark, 'ROW s = "a b" | DISSECT s "%{*a} %{&a}"', None)
    with pytest.raises(ValueError, match="order modifiers"):
        esql(spark, 'ROW s = "a b" | DISSECT s "%{+a/2} %{+a/1}"', None)


def test_scalar_functions(spark):
    q = ('ROW s = " Ab ", n = 7 | EVAL '
         'l = LENGTH(s), lo = TO_LOWER(s), sub = SUBSTRING(s, 2, 2), '
         'c = CONCAT(s, NULL, "z"), t = TO_LONG(n / 2), '
         'd = TO_DOUBLE(n), sw = STARTS_WITH(TO_STRING(n), "7") '
         '| KEEP l, lo, sub, c, t, d, sw')
    r = _rows(spark, q)[0]
    assert r["l"] == 4 and r["lo"] == " ab " and r["sub"] == "Ab"
    assert r["c"] == " Ab z"          # NULL arg counts as ''
    assert r["t"] == 3                # truncating cast (floor for 3.5)
    assert r["d"] == 7.0 and r["sw"] is True


def test_refusals(spark, people):
    cases = [
        ("FROM people, nosuch | LIMIT 1", "unknown index"),
        ("FROM nope* | LIMIT 1", "matches nothing"),
        ("FROM people METADATA _id", "METADATA"),
        ('FROM people | GROK name "%{NOSUCHPAT:x}"', "not in the supported"),
        ('FROM people | GROK name "%{WORD:a:blob}"', "GROK type"),
        ('FROM people | GROK name "%{WORD:a} %{WORD:a}"', "captured twice"),
        ('FROM people | GROK name "plain text"', "pattern has no"),
        ("FROM people | ENRICH policy", "unknown enrich policy"),
        ("FROM people | LOOKUP tbl ON id", "bare LOOKUP"),
        ("FROM people | LOOKUP JOIN nosuch ON id", "unknown lookup index"),
        ("FROM people | STATS COUNT(*)", "must be named"),
        ("FROM people | STATS n = LENGTH(name)", "expects an aggregate"),
        ("FROM people | WHERE SUM(h) > 1", "only valid inside STATS"),
        ("FROM people | LIMIT 1 extra", "trailing token"),
        ("FROM people | FOO 1", "unsupported command"),
        ("FROM nosuch | LIMIT 1", "unknown index"),
        ("FROM people | KEEP nope", "unknown column"),
        ("FROM people | EVAL x = NOFUNC(1)", "unsupported function"),
    ]
    for q, msg in cases:
        with pytest.raises(ValueError, match=msg):
            esql(spark, q, people).collect()


def test_esql_plan_shapes(spark, people):
    # WHERE rides the scan; STATS is one hash agg; SORT+LIMIT becomes
    # TakeOrderedAndProject — the translator emits declarative stages.
    df = esql(spark, 'FROM people | WHERE team == "ops" '
                     '| STATS n = COUNT(*) BY team '
                     '| SORT n DESC | LIMIT 3', people)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "HashAggregate" in plan
    assert "Python" not in plan


def test_esql_match_and_metadata_score(spark):
    from tweets_elastic_spark.plans.esql import esql

    docs = spark.createDataFrame(
        [(1, "spark merge fast"), (2, "slow table"), (3, "spark only")],
        "doc_id long, text string",
    )
    tabs = {"documents": docs}
    an = {"text": "standard"}
    # with an analyzer binding (no stats provider) MATCH is the overlap
    # node: analyzed token matching, constant score 1.0 per clause
    q = ('FROM documents METADATA _score '
         '| WHERE MATCH(text, "spark") | KEEP doc_id, _score '
         '| SORT doc_id')
    rows = esql(spark, q, tabs, analyzers=an).collect()
    assert [r["doc_id"] for r in rows] == [1, 3]
    assert all(r["_score"] == 1.0 for r in rows)
    # without ANY binding MATCH degrades to keyword equality — the
    # documented ES-SQL fallback: no doc's whole text equals "spark"
    assert esql(spark, q, tabs).collect() == []
    # without METADATA _score the column must not exist
    q2 = 'FROM documents | WHERE MATCH(text, "spark") | LIMIT 9'
    assert "_score" not in esql(spark, q2, tabs, analyzers=an).columns
    # refusals: MATCH outside WHERE; METADATA other than _score
    import pytest as _pt
    with _pt.raises(ValueError, match="only valid in WHERE"):
        esql(spark, 'FROM documents | EVAL m = MATCH(text, "x")', tabs)
    with _pt.raises(ValueError, match="only METADATA _score"):
        esql(spark, "FROM documents METADATA _id | LIMIT 1", tabs)


def test_unspaced_binary_minus(spark, people):
    # 'h-100' must lex as [ident][op -][num 100], not [ident][num -100]
    rows = _rows(spark, "FROM people | WHERE h-100 > 60 "
                        "| EVAL d = h-150 | KEEP id, d | SORT id", people)
    assert [(r["id"], r["d"]) for r in rows] == [(1, 20), (2, 30)]
    # negative literals still work (unary minus + ROUND digit args)
    r = _rows(spark, "ROW a = -5 | EVAL b = ROUND(-123.4, -1), "
                     "c = a - -2 | KEEP a, b, c")[0]
    assert (r["a"], r["b"], r["c"]) == (-5, -120.0, -3)


def test_score_accumulates_across_scoring_wheres(spark):
    # ES|QL contract: _score ACCUMULATES across scoring operators — a
    # second scoring WHERE adds to the total, never replaces it
    docs = spark.createDataFrame(
        [(1, "spark merge fast", "spark tuning"),
         (2, "spark only", "other notes")],
        "doc_id long, text string, title string",
    )
    an = {"text": "standard", "title": "standard"}
    q = ('FROM documents METADATA _score '
         '| WHERE MATCH(text, "spark") '
         '| WHERE MATCH(title, "spark") OR doc_id == 2 '
         '| KEEP doc_id, _score | SORT doc_id')
    rows = esql(spark, q, {"documents": docs}, analyzers=an).collect()
    # doc 1 matched both scoring WHEREs (1.0 + 1.0); doc 2 passed the
    # second stage via the non-scoring disjunct (score stays 1.0 + 0.0)
    assert [(r["doc_id"], r["_score"]) for r in rows] == [(1, 2.0),
                                                          (2, 1.0)]


def test_lookup_join(spark, people):
    teams = spark.createDataFrame(
        [("eng", "Building", 4), ("ops", "Annex", 2), ("hr", "Main", 1)],
        "team string, site string, floor long",
    )
    tabs = dict(people, teams=teams)
    rows = esql(spark, "FROM people | LOOKUP JOIN teams ON team "
                       "| KEEP id, team, site, floor | SORT id",
                tabs).collect()
    assert [(r["id"], r["site"], r["floor"]) for r in rows] == [
        (1, "Building", 4), (2, "Building", 4),
        (3, "Annex", 2), (4, "Annex", 2), (5, "Annex", 2)]
    # collision rule: lookup-side columns OVERRIDE same-named incoming
    # columns; unmatched keys leave them NULL
    named = spark.createDataFrame(
        [("eng", "Engineering")], "team string, name string")
    rows = esql(spark, "FROM people | LOOKUP JOIN named ON team "
                       "| KEEP id, name | SORT id",
                dict(people, named=named)).collect()
    assert [r["name"] for r in rows] == ["Engineering", "Engineering",
                                         None, None, None]
    # multiple lookup matches multiply rows (LEFT JOIN semantics)
    multi = spark.createDataFrame(
        [("ops", "x"), ("ops", "y")], "team string, tag string")
    rows = esql(spark, "FROM people | WHERE id == 3 "
                       "| LOOKUP JOIN multi ON team | KEEP id, tag",
                dict(people, multi=multi)).collect()
    assert sorted(r["tag"] for r in rows) == ["x", "y"]
    # key must exist on both sides
    with pytest.raises(ValueError, match="not a column of the incoming"):
        esql(spark, "FROM people | LOOKUP JOIN teams ON nokey", tabs)
    with pytest.raises(ValueError, match="not a column of lookup"):
        esql(spark, "FROM people | LOOKUP JOIN noteam ON id",
             dict(people, noteam=teams))


def test_lookup_join_is_broadcast(spark, people):
    teams = spark.createDataFrame(
        [("eng", "B1"), ("ops", "B2")], "team string, site string")
    df = esql(spark, "FROM people | LOOKUP JOIN teams ON team",
              dict(people, teams=teams))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # the main stream never shuffles


@pytest.fixture()
def team_policy(spark):
    teams = spark.createDataFrame(
        [("eng", "Building", 4), ("ops", "Annex", 2), ("hr", "Main", 1)],
        "team string, site string, floor long",
    )
    return {"teams": {"table": teams, "match_field": "team",
                      "enrich_fields": ["site", "floor"]}}


def test_enrich_basic(spark, people, team_policy):
    # default ON = the policy's match_field; default WITH = every
    # enrich_field under its own name
    rows = esql(spark, "FROM people | ENRICH teams "
                       "| KEEP id, site, floor | SORT id",
                people, enrich_policies=team_policy).collect()
    assert [(r["id"], r["site"], r["floor"]) for r in rows] == [
        (1, "Building", 4), (2, "Building", 4),
        (3, "Annex", 2), (4, "Annex", 2), (5, "Annex", 2)]


def test_enrich_on_with_rename(spark, people, team_policy):
    rows = esql(spark, "FROM people | ENRICH teams ON team "
                       "WITH loc = site | KEEP id, loc | SORT id",
                people, enrich_policies=team_policy).collect()
    assert rows[0]["loc"] == "Building"
    assert "floor" not in rows[0].asDict()  # WITH projects, not appends


def test_enrich_collision_and_nulls(spark, people, team_policy):
    # enrich fields OVERRIDE same-named incoming columns (ES rule);
    # unmatched keys leave them NULL (left join)
    pp = dict(people)
    pp["people"] = (
        pp["people"]
        .withColumn("site", F.lit("old"))
        .withColumn(
            "team",
            F.when(F.col("id") == 5, F.lit("ghost"))
            .otherwise(F.col("team")),
        )
    )
    rows = esql(spark, "FROM people | ENRICH teams "
                       "| KEEP id, site | SORT id",
                pp, enrich_policies=team_policy).collect()
    assert [r["site"] for r in rows] == [
        "Building", "Building", "Annex", "Annex", None]


def test_enrich_is_broadcast(spark, people, team_policy):
    df = esql(spark, "FROM people | ENRICH teams WITH site",
              people, enrich_policies=team_policy)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # the fact stream never shuffles


def test_enrich_policy_table_by_index_name(spark, people, team_policy):
    teams_df = team_policy["teams"]["table"]
    pol = {"teams": {"table": "teams_idx", "match_field": "team",
                     "enrich_fields": ["site"]}}
    rows = esql(spark, "FROM people | ENRICH teams | KEEP id, site "
                       "| SORT id",
                dict(people, teams_idx=teams_df),
                enrich_policies=pol).collect()
    assert rows[0]["site"] == "Building"


def test_enrich_refusals(spark, people, team_policy):
    cases = [
        ("FROM people | ENRICH nosuch", "unknown enrich policy"),
        ("FROM people | ENRICH teams ON nokey", "not a column of the"),
        ("FROM people | ENRICH teams WITH nosite", "not in"),
        ("FROM people | ENRICH teams WITH a = site, a = floor",
         "collide"),
    ]
    for q, msg in cases:
        with pytest.raises(ValueError, match=msg):
            esql(spark, q, people, enrich_policies=team_policy)
    bad = {"teams": {"table": "nosuch_idx", "match_field": "team"}}
    with pytest.raises(ValueError, match="unknown index"):
        esql(spark, "FROM people | ENRICH teams", people,
             enrich_policies=bad)
    bad2 = {"teams": {"table": team_policy["teams"]["table"],
                      "match_field": "nokey"}}
    with pytest.raises(ValueError, match="match_field"):
        esql(spark, "FROM people | ENRICH teams", people,
             enrich_policies=bad2)


def test_inlinestats_by_window(spark, people):
    # BY form: aggregates APPEND to every row via a window partitioned
    # on the keys — the stream is not collapsed
    rows = _rows(spark, "FROM people | INLINESTATS ta = AVG(h) BY team "
                        "| KEEP id, team, ta | SORT id", people)
    assert [(r["id"], r["ta"]) for r in rows] == [
        (1, 175.0), (2, 175.0), (3, 155.0), (4, 155.0), (5, 155.0)]
    # MEDIAN rides the same window; ROUND(agg, d) wraps it
    rows = _rows(spark, "FROM people | INLINESTATS m = ROUND(MEDIAN(h), 1) "
                        "BY team | KEEP id, m | SORT id", people)
    assert [r["m"] for r in rows] == [175.0, 175.0, 155.0, 155.0, 155.0]
    # COUNT_DISTINCT compiles to size(collect_set()) over the window
    rows = _rows(spark, "FROM people | INLINESTATS nd = COUNT_DISTINCT(name) "
                        "BY team | KEEP id, nd | SORT id", people)
    assert [r["nd"] for r in rows] == [2, 2, 3, 3, 3]
    # named BY keys refuse loudly (STATS-only sugar)
    with pytest.raises(ValueError, match="INLINESTATS BY takes plain"):
        esql(spark, "FROM people | INLINESTATS n = COUNT(*) BY t = team",
             people)


def test_inlinestats_global_broadcast(spark, people):
    # no BY: one aggregate row broadcast back onto the stream
    rows = _rows(spark, "FROM people | INLINESTATS hi = MAX(h), "
                        "n = COUNT(*) | KEEP id, hi, n | SORT id", people)
    assert len(rows) == 5
    assert all((r["hi"], r["n"]) == (180, 5) for r in rows)
    # collision rule: same-named existing column is overridden
    rows = _rows(spark, "FROM people | INLINESTATS h = MAX(h) "
                        "| KEEP id, h | SORT id", people)
    assert [r["h"] for r in rows] == [180] * 5
    df = esql(spark, "FROM people | INLINESTATS hi = MAX(h)", people)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan  # 1-row broadcast, no shuffle


def test_grok_extraction(spark):
    q = ('ROW line = "2024-01-02T10:11:12Z ERROR 10.1.2.3 alice took 42ms" '
         '| GROK line "%{TIMESTAMP_ISO8601:ts} %{LOGLEVEL:lvl} '
         '%{IP:ip} %{USERNAME:who} took %{INT:ms:int}ms" '
         '| KEEP ts, lvl, ip, who, ms')
    r = _rows(spark, q)[0]
    assert r["ts"] == "2024-01-02T10:11:12Z" and r["lvl"] == "ERROR"
    assert r["ip"] == "10.1.2.3" and r["who"] == "alice"
    assert r["ms"] == 42  # :int -> BIGINT
    # non-match -> every grok field NULL (ES semantics)
    q2 = ('ROW line = "no numbers here" '
          '| GROK line "%{INT:a:int}-%{INT:b:int}" | KEEP a, b')
    r2 = _rows(spark, q2)[0]
    assert r2["a"] is None and r2["b"] is None
    # unanchored find (the grok convention) + unnamed refs don't capture
    q3 = ('ROW line = "pre [id=77] post" '
          '| GROK line "%{WORD}=%{INT:id:int}" | KEEP id')
    assert _rows(spark, q3)[0]["id"] == 77


def test_from_multi_index_union(spark):
    a = spark.createDataFrame([(1, "x")], "id long, a string")
    b = spark.createDataFrame([(2, "y")], "id long, b string")
    tabs = {"logs_a": a, "logs_b": b}
    # explicit list: union with missing columns NULL
    rows = _rows(spark, "FROM logs_a, logs_b | SORT id", tabs)
    assert [(r["id"], r["a"], r["b"]) for r in rows] == [
        (1, "x", None), (2, None, "y")]
    # trailing-* pattern resolves every matching index, deduped
    rows = _rows(spark, "FROM logs*, logs_a | SORT id | KEEP id", tabs)
    assert [r["id"] for r in rows] == [1, 2]


def test_r14_string_and_math_functions(spark):
    q = ('ROW s = "  ab  ", t = "banana", n = 9 | EVAL '
         'tr = TRIM(s), lt = LTRIM(s), rt = RTRIM(s), '
         'rp = REPLACE(t, "an", "X"), le = LEFT(t, 3), ri = RIGHT(t, 3), '
         'rv = REVERSE(le), re = REPEAT(le, 2), '
         'l1 = LOCATE(t, "an"), l2 = LOCATE(t, "an", 3), '
         'l3 = LOCATE(t, "zz") '
         '| KEEP tr, lt, rt, rp, le, ri, rv, re, l1, l2, l3')
    r = _rows(spark, q)[0]
    assert (r["tr"], r["lt"], r["rt"]) == ("ab", "ab  ", "  ab")
    assert r["rp"] == "bXXa"                  # regex replace, ES semantics
    assert (r["le"], r["ri"], r["rv"]) == ("ban", "ana", "nab")
    assert r["re"] == "banban"
    assert (r["l1"], r["l2"], r["l3"]) == (2, 4, 0)  # 1-based, 0 absent
    q2 = ('ROW n = 9 | EVAL p = POW(2, n), sq = SQRT(n), '
          'lg = LOG(3, n), ln10 = ROUND(LOG10(100), 6), '
          'fl = FLOOR(2.7), ce = CEIL(2.1), sg = SIGNUM(0 - n), '
          'pi = ROUND(PI(), 4), g = GREATEST(n, 3, 11), '
          'l = LEAST(n, 3, 11) '
          '| KEEP p, sq, lg, ln10, fl, ce, sg, pi, g, l')
    r2 = _rows(spark, q2)[0]
    assert (r2["p"], r2["sq"]) == (512.0, 3.0)
    assert r2["lg"] == pytest.approx(2.0)
    assert r2["ln10"] == 2.0 and r2["fl"] == 2 and r2["ce"] == 3
    assert r2["sg"] == -1.0 and r2["pi"] == 3.1416
    assert (r2["g"], r2["l"]) == (11, 3)


def test_r14_mv_functions(spark):
    q = ('ROW s = "3 1 2" | EVAL xs = SPLIT(s, " "), '
         'f = MV_FIRST(MV_SORT(SPLIT(s, " "))), '
         'la = MV_LAST(MV_SORT(SPLIT(s, " "), "DESC")), '
         'dd = MV_DEDUPE(SPLIT("a b a", " ")), '
         'z = MV_ZIP(SPLIT("a b", " "), SPLIT("1 2", " "), "-"), '
         'sl = MV_SLICE(MV_SORT(SPLIT(s, " ")), 1, 2) '
         '| KEEP f, la, dd, z, sl')
    r = _rows(spark, q)[0]
    assert r["f"] == "1" and r["la"] == "1"
    assert sorted(r["dd"]) == ["a", "b"] and len(r["dd"]) == 2
    assert r["z"] == ["a-1", "b-2"]
    assert r["sl"] == ["2", "3"]    # 0-based INCLUSIVE bounds
    # MV_SLICE negative bounds count from the end (upstream ES|QL);
    # empty/out-of-range windows are NULL (ADVICE r15)
    q_neg = ('ROW s = "a b c d" | EVAL xs = SPLIT(s, " "), '
             'tail = MV_SLICE(SPLIT(s, " "), -2, -1), '
             'all2 = MV_SLICE(SPLIT(s, " "), 0, -1), '
             'one = MV_SLICE(SPLIT(s, " "), -1), '
             'bad = MV_SLICE(SPLIT(s, " "), 3, 1), '
             'oob = MV_SLICE(SPLIT(s, " "), 9, 12) '
             '| KEEP tail, all2, one, bad, oob')
    rn = _rows(spark, q_neg)[0]
    assert rn["tail"] == ["c", "d"]
    assert rn["all2"] == ["a", "b", "c", "d"]
    assert rn["one"] == ["d"]
    assert rn["bad"] is None and rn["oob"] is None
    # MV_SORT order must be a literal ASC/DESC — typos refuse loudly
    with pytest.raises(ValueError, match="MV_SORT order"):
        _rows(spark, 'ROW s = "b a" | EVAL x = MV_SORT(SPLIT(s, " "), '
                     '"DSC")')
    with pytest.raises(ValueError, match="string literal"):
        _rows(spark, 'ROW s = "b a" | EVAL x = MV_SORT(SPLIT(s, " "), '
                     's)')


def test_hash_and_encoding_functions(spark):
    import base64
    import hashlib

    q = ('ROW s = "spark" | EVAL m = MD5(s), s1 = SHA1(s), '
         's2 = SHA256(s), b = TO_BASE64(s), fb = FROM_BASE64("c3Bhcms="), '
         'bl = BIT_LENGTH(s), ol = BYTE_LENGTH("héh"), sp = SPACE(3) '
         '| KEEP m, s1, s2, b, fb, bl, ol, sp')
    r = _rows(spark, q)[0]
    assert r["m"] == hashlib.md5(b"spark").hexdigest()
    assert r["s1"] == hashlib.sha1(b"spark").hexdigest()
    assert r["s2"] == hashlib.sha256(b"spark").hexdigest()
    assert base64.b64decode(r["b"]) == b"spark"
    assert r["fb"] == "spark"
    assert r["bl"] == 40 and r["ol"] == 4   # é is 2 UTF-8 bytes
    assert r["sp"] == "   "


def test_drop_wildcards(spark):
    q = ('ROW a_one = 1, a_two = 2, b = 3 | DROP a* | KEEP b')
    assert _rows(spark, q)[0]["b"] == 3
    with pytest.raises(ValueError, match="matches no columns"):
        _rows(spark, "ROW a = 1 | DROP z*")
    with pytest.raises(ValueError, match="every column"):
        _rows(spark, "ROW a_one = 1, a_two = 2 | DROP a*")


def test_bucket(spark):
    q = ('ROW v = 73.4, t = "2024-03-05 10:38:45" | EVAL '
         'b = BUCKET(v, 20.0), '
         'd = BUCKET(TO_DATETIME(t), 1 day), '
         'h6 = BUCKET(TO_DATETIME(t), 6 hours), '
         'mo = DATE_FORMAT("yyyy-MM-dd", BUCKET(TO_DATETIME(t), 1 month)) '
         '| KEEP b, d, h6, mo')
    r = _rows(spark, q)[0]
    assert r["b"] == 60.0
    assert r["d"].hour == 0 and r["h6"].hour == 6
    assert r["mo"] == "2024-03-01"
    # 1 week is a CALENDAR period: Monday-anchored (ISO), not the
    # epoch-grid Thursday a 604800-second width would give
    r2 = _rows(spark, 'ROW t = "2024-03-07 09:00:00" | EVAL '
                      'w = DATE_FORMAT("yyyy-MM-dd", '
                      'BUCKET(TO_DATETIME(t), 1 week)) | KEEP w')[0]
    assert r2["w"] == "2024-03-04"    # the Monday of that week
    cases = [
        ("ROW v = 1 | EVAL b = BUCKET(v, 20, 0, 100)", "auto-width"),
        ("ROW v = 1 | EVAL b = BUCKET(v, 2 months)", "count of 1"),
        ("ROW v = 1 | EVAL b = BUCKET(v, 2 weeks)", "count of 1"),
        ("ROW v = 1 | EVAL b = BUCKET(v, 1 fortnight)", "time unit"),
        ("ROW v = 1 | EVAL b = BUCKET(v, 1.5 days)", "integer"),
        ("ROW v = 1 | EVAL b = BUCKET(v, 0)", "positive"),
    ]
    for q2, msg in cases:
        with pytest.raises(ValueError, match=msg):
            esql(spark, q2, None)


# every unit spelling of span arithmetic, and the canonical word it means
_SPELLINGS = [
    ("ms", "millisecond"), ("milliseconds", "millisecond"),
    ("s", "second"), ("sec", "second"), ("seconds", "second"),
    ("m", "minute"), ("min", "minute"), ("minutes", "minute"),
    ("h", "hour"), ("hours", "hour"), ("HOUR", "hour"),
    ("d", "day"), ("days", "day"),
    ("w", "week"), ("weeks", "week"),
    ("M", "month"), ("mo", "month"), ("months", "month"),
    ("q", "quarter"), ("quarters", "quarter"),
    ("y", "year"), ("years", "year"),
]


@pytest.mark.parametrize("spelling,word", _SPELLINGS)
def test_span_bucket_and_date_diff_read_one_unit_table(spark, spelling, word):
    """``ts + n <unit>``, ``BUCKET(ts, 1 <unit>)``, ``DATE_TRUNC`` and
    ``DATE_DIFF("<unit>", ...)`` accept the same spellings with the same
    meaning: the diff counts the added span back, the bucket holds ``ts``
    and is one unit wide, and each equals its canonical word's result."""
    def row(unit, with_bucket):
        q = ('ROW t = "2024-05-16 09:41:27" | EVAL ts = TO_DATETIME(t), '
             f'later = ts + 3 {unit}, dd = DATE_DIFF("{unit}", ts, later), '
             f'tr = DATE_TRUNC("{unit}", ts)')
        if with_bucket:
            q += f', b = BUCKET(ts, 1 {unit}), nxt = b + 1 {unit}'
        return _rows(spark, q)[0].asDict()

    sub_second = word == "millisecond"
    got, canonical = row(spelling, not sub_second), row(word, not sub_second)
    assert got == canonical
    assert got["dd"] == 3 and got["later"] > got["ts"] >= got["tr"]
    if sub_second:
        with pytest.raises(ValueError, match="sub-second"):
            esql(spark, f'ROW t = "2024-05-16" | EVAL b = BUCKET(TO_DATETIME(t), 1 {spelling})', None)
    else:
        assert got["b"] <= got["ts"] < got["nxt"]


def test_spatial_functions(spark):
    q = ('ROW a = "POINT (18.6 48.7)", b = "POINT(18.6 49.7)", '
         'bad = "POINT(x y)" | EVAL '
         'pa = TO_GEOPOINT(a), x = ST_X(TO_GEOPOINT(a)), '
         'y = ST_Y(TO_GEOPOINT(a)), '
         'd = ROUND(ST_DISTANCE(TO_GEOPOINT(a), TO_GEOPOINT(b)), 0), '
         'pb = TO_GEOPOINT(bad) | KEEP x, y, d, pb')
    r = _rows(spark, q)[0]
    assert (r["x"], r["y"]) == (18.6, 48.7)   # ST_X = longitude
    # 1 degree of latitude on the ES mean-radius sphere
    import math
    expect = 2 * math.pi * 6371008.7714 / 360
    assert abs(r["d"] - expect) < 1.0
    assert r["pb"] is None                    # malformed WKT -> NULL


def test_categorize(spark):
    logs = {"logs": spark.createDataFrame(
        [(1, "Connected to 10.0.0.1 port 8080"),
         (2, "Connected to 10.0.0.2 port 9090"),
         (3, "Disk full on host db7"),
         (4, "Disk full on host web2"),
         (5, "12345 67890")],
        "id long, msg string")}
    rows = esql(spark, "FROM logs | STATS n = COUNT(*) "
                       "BY cat = CATEGORIZE(msg) "
                       "| SORT n DESC, cat ASC NULLS LAST",
                logs).collect()
    # number-bearing tokens are variables; the invariant sequence IS
    # the category; all-variable messages key to NULL (no bucket in
    # the agg front-end; NULL group here — the STATS BY contract)
    assert [(r["cat"], r["n"]) for r in rows] == [
        ("Connected to port", 2), ("Disk full on host", 2), (None, 1)]


def test_metadata_index(spark, people):
    other = spark.createDataFrame([(9, "Zed")], "id long, name string")
    tabs = dict(people, people2=other)
    rows = esql(spark, "FROM people, people2 METADATA _index "
                       "| KEEP id, _index | SORT id", tabs).collect()
    assert [(r["id"], r["_index"]) for r in rows][:2] == [
        (1, "people"), (2, "people")]
    assert rows[-1].asDict() == {"id": 9, "_index": "people2"}
    # combined list with _score, any order
    rows2 = esql(spark, "FROM people METADATA _index, _score "
                        "| KEEP id, _index, _score | SORT id",
                 people).collect()
    assert rows2[0]["_index"] == "people" and rows2[0]["_score"] == 0.0
    with pytest.raises(ValueError, match="METADATA"):
        esql(spark, "FROM people METADATA _id", people)


def test_to_datetime(spark):
    q = ('ROW s = "2024-03-05 10:30:45", ms = 1700000000000, '
         'b = "nope" | EVAL t1 = TO_DATETIME(s), '
         't2 = TO_DATETIME(ms), t3 = TO_DATETIME(b), '
         'y = DATE_EXTRACT("year", TO_DATETIME(ms)) '
         '| KEEP t1, t2, t3, y')
    r = _rows(spark, q)[0]
    assert r["t1"] is not None and r["t3"] is None
    assert r["y"] == 2023          # 2023-11-14T22:13:20Z


def test_fork(spark, people):
    # each branch sees the CURRENT stream; union by name, _fork tags
    q = ('FROM people | WHERE id < 5 '
         '| FORK (WHERE h > 165 | KEEP id, name) '
         '       (STATS n = COUNT(*), mh = MAX(h) BY team | SORT team) '
         '| SORT _fork, id NULLS LAST, team NULLS LAST')
    rows = esql(spark, q, people).collect()
    f1 = [r for r in rows if r["_fork"] == "fork1"]
    f2 = [r for r in rows if r["_fork"] == "fork2"]
    assert [r["id"] for r in f1] == [1, 2]          # Ann 170, Bob 180
    assert all(r["n"] is None for r in f1)          # missing cols NULL
    # id < 5 leaves eng = (Ann 170, Bob 180), ops = (Cyd NULL, Dee 160)
    assert [(r["team"], r["n"], r["mh"]) for r in f2] == [
        ("eng", 2, 180), ("ops", 2, 160)]
    # pipes inside branch STRING literals don't split branches
    q2 = ('FROM people | FORK (WHERE name LIKE "A*" | KEEP id) '
          '(WHERE name == "x|y" | KEEP id) | SORT _fork')
    rows2 = esql(spark, q2, people).collect()
    assert [(r["id"], r["_fork"]) for r in rows2] == [(1, "fork1")]
    # refusals
    with pytest.raises(ValueError, match="at least two"):
        esql(spark, "FROM people | FORK (KEEP id)", people)
    with pytest.raises(ValueError, match="parenthesized"):
        esql(spark, "FROM people | FORK (KEEP id) junk (KEEP name)",
             people)
    with pytest.raises(ValueError, match="unbalanced"):
        esql(spark, "FROM people | FORK (KEEP id) (KEEP name", people)
    with pytest.raises(ValueError, match="at most 8"):
        esql(spark, "FROM people | FORK " + "(KEEP id) " * 9, people)
    # boundedness composes: an unbounded branch keeps CHANGE_POINT out
    with pytest.raises(ValueError, match="bounded"):
        esql(spark, "FROM people | FORK (KEEP id, h) (LIMIT 2) "
                    "| CHANGE_POINT h ON id", people)
    # ...but all-bounded branches pass the guard
    rows3 = esql(spark, "FROM people | FORK (LIMIT 3) (LIMIT 2) "
                        "| CHANGE_POINT h ON id | KEEP id, cp_type",
                 people).collect()
    assert len(rows3) == 5


def test_fork_is_single_scan_union(spark, people):
    # FORK compiles to N branch plans + one unionByName: no Exchange
    # appears for projection/filter branches — the union is not a
    # shuffle. (Each branch still embeds its own copy of the upstream
    # plan, so the source executes once per branch; what this pins is
    # the absence of a shuffle, not single-scan sharing.)
    df = esql(spark, "FROM people | FORK (WHERE h > 1 | KEEP id) "
                     "(KEEP id)", people)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan
    assert "Exchange" not in plan


def test_like_rlike_pattern_lists(spark, people):
    # 8.16 list forms: true when ANY pattern matches; one rlike
    q = 'FROM people | WHERE name LIKE ("A*", "B*") | SORT id | KEEP name'
    assert [r["name"] for r in _rows(spark, q, people)] == ["Ann", "Bob"]
    q2 = ('FROM people | WHERE name NOT LIKE ("A*", "B*", "C*") '
          '| SORT id | KEEP name')
    assert [r["name"] for r in _rows(spark, q2, people)] == ["Dee", "Eli"]
    q3 = 'FROM people | WHERE name RLIKE ("A.*", ".*i") | SORT id | KEEP name'
    assert [r["name"] for r in _rows(spark, q3, people)] == ["Ann", "Eli"]
    with pytest.raises(ValueError, match="LIKE .* string patterns"):
        esql(spark, "FROM people | WHERE name LIKE (name)", people)


def test_mv_percentile(spark):
    q = ('ROW s = "4 1 3 2" | EVAL xs = SPLIT(s, " "), '
         'p50 = MV_PERCENTILE(SPLIT(s, " "), 50), '
         'p0 = MV_PERCENTILE(SPLIT(s, " "), 0), '
         'p100 = MV_PERCENTILE(SPLIT(s, " "), 100), '
         'p25 = MV_PERCENTILE(SPLIT(s, " "), 25), '
         'bad = MV_PERCENTILE(SPLIT(s, " "), 101) '
         '| KEEP p50, p0, p100, p25, bad')
    r = _rows(spark, q)[0]
    assert (r["p50"], r["p0"], r["p100"]) == (2.5, 1.0, 4.0)
    assert r["p25"] == 1.75        # exact linear interpolation
    assert r["bad"] is None        # p outside [0, 100]


def test_stats_where_filter(spark, people):
    # per-aggregate WHERE (8.16): gates ONLY its own aggregate's input
    q = ('FROM people | STATS n = COUNT(*), '
         'n_tall = COUNT(*) WHERE h > 155, '
         'hs = SUM(h) WHERE team == "ops", '
         'cd = COUNT_DISTINCT(team) WHERE id > 2')
    r = _rows(spark, q, people)[0]
    assert (r["n"], r["n_tall"], r["hs"], r["cd"]) == (5, 3, 310, 1)
    # BY form + window (INLINESTATS) share the same conditional-arg path
    q2 = ('FROM people | STATS nt = COUNT(*) WHERE h >= 160 BY team '
          '| SORT team')
    got = {r["team"]: r["nt"] for r in _rows(spark, q2, people)}
    assert got == {"eng": 2, "ops": 1}
    rows = _rows(spark, "FROM people | INLINESTATS nt = COUNT(*) "
                        "WHERE h >= 160 BY team | KEEP id, nt | SORT id",
                 people)
    assert [r["nt"] for r in rows] == [2, 2, 1, 1, 1]


def test_stats_r15_aggregates(spark, people):
    q = ('FROM people | STATS wa = ROUND(WEIGHTED_AVG(h, w), 3), '
         'sd = ROUND(STD_DEV(h), 3), vals = VALUES(team), '
         't2 = TOP(h, 2, "DESC"), b2 = TOP(h, 2, "ASC")')
    r = _rows(spark, q, people)[0]
    # rows with h AND w non-null: (180,50.5) (160,48) (150,49)
    assert r["wa"] == pytest.approx(24120.0 / 147.5, abs=1e-3)
    assert r["sd"] == 11.18        # population std-dev of 170/180/160/150
    # VALUES keeps ALL values (upstream contract), sorted ascending here
    assert r["vals"] == ["eng", "eng", "ops", "ops", "ops"]
    assert r["t2"] == [180, 170] and r["b2"] == [150, 160]
    # TOP/VALUES refuse the ROUND wrapper; TOP validates limit + order
    with pytest.raises(ValueError, match="multivalue"):
        esql(spark, "FROM people | STATS x = ROUND(VALUES(h), 2)", people)
    with pytest.raises(ValueError, match="TOP limit"):
        esql(spark, "FROM people | STATS x = TOP(h, 0, \"ASC\")", people)
    with pytest.raises(ValueError, match="TOP order"):
        esql(spark, "FROM people | STATS x = TOP(h, 2, \"UP\")", people)


def test_r15_scalar_functions(spark):
    q = ('ROW x = 1 | EVAL s = SIN(PI()), c = COS(0), '
         'h = HYPOT(3, 4), cb = CBRT(27), d = TO_DEGREES(PI()), '
         'ra = ROUND(TO_RADIANS(180), 6), a2 = ATAN2(1, 1), '
         'ap = MV_APPEND(SPLIT("a b", " "), SPLIT("c", " ")) '
         '| KEEP s, c, h, cb, d, ra, a2, ap')
    r = _rows(spark, q)[0]
    assert abs(r["s"]) < 1e-15 and r["c"] == 1.0
    assert r["h"] == 5.0 and r["cb"] == 3.0 and r["d"] == 180.0
    assert r["ra"] == 3.141593
    assert r["a2"] == pytest.approx(0.7853981633974483)
    assert r["ap"] == ["a", "b", "c"]


def test_ip_prefix_function(spark):
    import ipaddress

    q = ('ROW ip4 = "10.1.2.3", ip6 = "2001:db8:1234:5678::1", '
         'bad = "999.1.2.3" | EVAL '
         'p4 = IP_PREFIX(ip4, 24, 0), p6 = IP_PREFIX(ip6, 0, 48), '
         'pb = IP_PREFIX(bad, 24, 0) | KEEP p4, p6, pb')
    r = _rows(spark, q)[0]
    assert r["p4"] == "10.1.2.0"
    assert r["p6"] == str(ipaddress.ip_network(
        "2001:db8:1234:5678::1/48", strict=False).network_address)
    assert r["pb"] is None          # malformed -> NULL
    with pytest.raises(ValueError, match="v4 length"):
        esql(spark, 'ROW x = "1.2.3.4" | EVAL y = IP_PREFIX(x, 40, 0)',
             None)
    with pytest.raises(ValueError, match="v6 length"):
        esql(spark, 'ROW x = "::1" | EVAL y = IP_PREFIX(x, 24, 200)',
             None)


def test_stats_round_negative_digits(spark, people):
    # ROUND(agg, -2) inside STATS — the tokenizer lexes no signed
    # numbers, so the digits parse must route through the unary-minus
    # path the scalar ROUND uses (ADVICE r15)
    q = "FROM people | STATS hs = ROUND(SUM(h), -2)"
    assert _rows(spark, q, people)[0]["hs"] == 700  # 660 -> 700
    q2 = "FROM people | STATS ha = ROUND(AVG(h), 1) BY team | SORT team"
    assert _rows(spark, q2, people)[0]["ha"] == 175.0
    # numeric MV aggregates: DOUBLE, NULL on empty
    q2 = ('ROW a = 1 | EVAL xs = SPLIT("4 1 3 2", " "), '
          'ns = MV_SUM(SPLIT("4 1 3 2", " ")), '
          'av = MV_AVG(SPLIT("4 1 3 2", " ")), '
          'md = MV_MEDIAN(SPLIT("4 1 3 2", " ")), '
          'mo = MV_MEDIAN(SPLIT("5 1 9", " ")) '
          '| KEEP ns, av, md, mo')
    r2 = _rows(spark, q2)[0]
    assert r2["ns"] == 10.0 and r2["av"] == 2.5
    assert r2["md"] == 2.5            # even count: mean of middle two
    assert r2["mo"] == 5.0            # odd count: the middle value


def test_r14_cidr_and_date_functions(spark):
    q = ('ROW ip4 = "10.0.3.7", ip6 = "2001:db8::1", bad = "999.1.1.1" '
         '| EVAL a = CIDR_MATCH(ip4, "10.0.0.0/16"), '
         'b = CIDR_MATCH(ip4, "10.1.0.0/16", "192.168.0.0/24"), '
         'c = CIDR_MATCH(ip6, "2001:db8::/32"), '
         'd = CIDR_MATCH(ip6, "2001:db9::/32"), '
         'e = CIDR_MATCH(bad, "10.0.0.0/8") '
         '| KEEP a, b, c, d, e')
    r = _rows(spark, q)[0]
    assert r["a"] is True and r["b"] is False
    assert r["c"] is True and r["d"] is False
    assert not r["e"]                       # malformed -> no match
    q2 = ('ROW t = "2024-03-05 10:30:45" | EVAL ts = DATE_TRUNC("second", t), '
          'mon = DATE_FORMAT("yyyy-MM", ts), '
          'hr = DATE_EXTRACT("hour_of_day", ts), '
          'dom = DATE_EXTRACT("day_of_month", ts), '
          'dd = DATE_DIFF("hours", DATE_TRUNC("day", ts), ts) '
          '| KEEP mon, hr, dom, dd')
    r2 = _rows(spark, q2)[0]
    assert r2["mon"] == "2024-03" and r2["hr"] == 10 and r2["dom"] == 5
    assert r2["dd"] == 10
    # DATE_PARSE: java.time patterns, NULL on unparseable (ES contract)
    q3 = ('ROW g = "2024-03-05 10:30:45", b = "not a date" | EVAL '
          'ts = DATE_PARSE("yyyy-MM-dd HH:mm:ss", g), '
          'bad = DATE_PARSE("yyyy-MM-dd HH:mm:ss", b), '
          'y = DATE_EXTRACT("year", DATE_PARSE("yyyy-MM-dd HH:mm:ss", g)) '
          '| KEEP ts, bad, y')
    r3 = _rows(spark, q3)[0]
    assert r3["ts"] is not None and r3["bad"] is None and r3["y"] == 2024
    with pytest.raises(ValueError, match="ChronoField subset"):
        esql(spark, 'ROW x = 1 | EVAL y = DATE_EXTRACT("era", x)', None)
    with pytest.raises(ValueError, match="DATE_DIFF unit"):
        esql(spark, 'ROW x = 1 | EVAL y = DATE_DIFF("fortnights", x, x)', None)
    with pytest.raises(ValueError, match="at least one block"):
        esql(spark, 'ROW x = "1.2.3.4" | EVAL y = CIDR_MATCH(x)', None)
    # malformed compile-time v4 BLOCK literals refuse loudly (ADVICE
    # r15 — previously silent garbage range arithmetic), matching the
    # v6 path's ipaddress validation
    for bad_block in ("300.1.2.3/8", "10.0.0.0/40", "10.0.0/8"):
        with pytest.raises(ValueError, match="CIDR block|does not appear"):
            esql(spark, f'ROW x = "1.2.3.4" | EVAL y = CIDR_MATCH(x, '
                        f'"{bad_block}")', None)


def test_change_point(spark, people):
    # planted step 1,1,1,100,100 over id order: CUSUM T peaks at the
    # last left-segment row (id 3); only that row carries cp_type
    # LIMIT bounds the series — the r15 compile-time guard refuses an
    # unbounded pipe (ES caps CHANGE_POINT's scan at 1000 values)
    q = ("FROM people | EVAL v = CASE(id >= 4, 100, 1) | LIMIT 1000 "
         "| CHANGE_POINT v ON id "
         "| KEEP id, v, cp_type, cp_stat | SORT id")
    rows = _rows(spark, q, people)
    assert len(rows) == 5
    marked = [r for r in rows if r["cp_type"] is not None]
    assert len(marked) == 1 and marked[0]["id"] == 3
    assert marked[0]["cp_type"] == "step_change"
    assert marked[0]["cp_stat"] > 50  # |1 - 100| scaled, clearly large
    assert all(r["cp_stat"] is None for r in rows if r["id"] != 3)
    with pytest.raises(ValueError, match="CHANGE_POINT <value> ON"):
        esql(spark, "FROM people | LIMIT 10 | CHANGE_POINT h BY id",
             people)
    with pytest.raises(ValueError, match="unknown column"):
        esql(spark, "FROM people | LIMIT 10 | CHANGE_POINT nope ON id",
             people)
    # the boundedness guard itself: no STATS/LIMIT upstream -> refusal
    with pytest.raises(ValueError, match="bounded"):
        esql(spark, "FROM people | CHANGE_POINT h ON id", people)
    # ROW sources are literal-sized, no explicit bound needed
    rows = _rows(spark, "ROW a = 1, b = 2 "
                        "| CHANGE_POINT b ON a | KEEP a, cp_type")
    assert len(rows) == 1


def test_r14_to_conversions(spark):
    q = ('ROW s = "TRUE", f = "no", n = 3.9, ip = "10.0.0.1", '
         'bad = "10.0.0.999" | EVAL '
         'b1 = TO_BOOLEAN(s), b2 = TO_BOOLEAN(f), b3 = TO_BOOLEAN(n), '
         'i = TO_INTEGER(n), v = TO_IP(ip), w = TO_IP(bad) '
         '| KEEP b1, b2, b3, i, v, w')
    r = _rows(spark, q)[0]
    assert r["b1"] is True and r["b2"] is None  # non-true/false -> NULL
    assert r["b3"] is True                      # nonzero numeric -> true
    assert r["i"] == 3                          # truncating
    assert r["v"] == "10.0.0.1" and r["w"] is None  # malformed -> NULL


def test_r14_review_fixes(spark, people):
    # GROK typed cast on junk capture -> NULL field, not an ANSI error
    r = _rows(spark, 'ROW line = "abc end" '
                     '| GROK line "%{DATA:x:int} end" | KEEP x')[0]
    assert r["x"] is None
    # malformed field name / malformed ref refuse loudly
    with pytest.raises(ValueError, match="must start with a letter"):
        esql(spark, 'ROW s = "x" | EVAL y = 1 | GROK s "%{INT:2field}"',
             None)
    with pytest.raises(ValueError, match="malformed"):
        esql(spark, 'ROW s = "x" | GROK s "%{INT:fo-o} %{WORD:w}"', None)
    # TO_LONG / TO_INTEGER on junk strings -> NULL, not an error
    r = _rows(spark, 'ROW s = "abc" | EVAL a = TO_LONG(s), '
                     'b = TO_INTEGER(s), c = TO_DOUBLE(s) '
                     '| KEEP a, b, c')[0]
    assert r["a"] is None and r["b"] is None and r["c"] is None
    # DATE_EXTRACT day_of_week is ISO (ChronoField): Monday == 1
    r = _rows(spark, 'ROW t = "2024-01-01" '  # a Monday
                     '| EVAL d = DATE_EXTRACT("day_of_week", '
                     'DATE_TRUNC("day", t)) | KEEP d')[0]
    assert r["d"] == 1
    # MV_ZIP: unmatched tail passes through AS-IS, no trailing delim
    r = _rows(spark, 'ROW a = 1 | EVAL z = MV_ZIP(SPLIT("a b", " "), '
                     'SPLIT("1", " "), "-") | KEEP z')[0]
    assert r["z"] == ["a-1", "b"]
    # INLINESTATS: ALL aggregates read the INPUT columns — an earlier
    # item overwriting h must not feed the later MAX(h)
    rows = _rows(spark, "FROM people | INLINESTATS h = AVG(h), "
                        "mx = MAX(h) BY team | KEEP id, h, mx | SORT id",
                 people)
    assert rows[0]["h"] == 175.0 and rows[0]["mx"] == 180
    assert rows[2]["h"] == 155.0 and rows[2]["mx"] == 160
    # CHANGE_POINT: NULL values carry no statistic and don't skew means
    rows = _rows(spark, "FROM people "
                        "| EVAL v = CASE(id == 2, NULL, "
                        "CASE(id >= 4, 100, 10)) | LIMIT 1000 "
                        "| CHANGE_POINT v ON id "
                        "| KEEP id, cp_type | SORT id", people)
    marked = [r["id"] for r in rows if r["cp_type"] is not None]
    assert marked == [3]   # series 10,NULL,10,100,100 -> split after id 3


def test_to_datetime_string_never_takes_millis_branch(spark):
    # ADVICE r15: the millis-since-epoch branch applies only to
    # numeric-TYPED input. A digit STRING goes through date parsing —
    # "1718" is the ISO year-only form (1718-01-01, matching ES's
    # strict_date_optional_time), NOT 1.718 seconds after the epoch;
    # an unparseable string is NULL, never millis
    r = _rows(spark, 'ROW s = "1718", b = "171x", ms = 1718 '
                     '| EVAL ts = TO_DATETIME(s), tb = TO_DATETIME(b), '
                     'tm = TO_DATETIME(ms) | KEEP ts, tb, tm')[0]
    assert r["ts"] is not None and r["ts"].year == 1718
    assert r["tb"] is None
    assert r["tm"] is not None and r["tm"].year == 1970


def test_mv_percentile_median_ignore_null_elements(spark):
    # ADVICE r15: NULL array elements are dropped before ranking —
    # array_sort putting NULLs last must not make high percentiles NULL
    t = {"arrs": spark.createDataFrame(
        [(1, [3, None, 1, 2])], "id long, xs array<long>")}
    r = _rows(spark, "FROM arrs | EVAL p100 = MV_PERCENTILE(xs, 100), "
                     "p50 = MV_PERCENTILE(xs, 50), md = MV_MEDIAN(xs) "
                     "| KEEP p100, p50, md", t)[0]
    assert r["p100"] == 3.0
    assert r["p50"] == 2.0
    assert r["md"] == 2.0


def test_nested_fork_refused(spark, people):
    # upstream disallows nested FORK; the outer _fork discriminator
    # would silently overwrite the inner one (ADVICE r15)
    with pytest.raises(ValueError, match="nested FORK"):
        esql(spark, "FROM people | FORK "
                    "(WHERE h > 1 | FORK (KEEP id) (KEEP name)) "
                    "(KEEP id)", people)


def test_sample_deterministic(spark, people):
    # SAMPLE p [seed] (8.19): deterministic portable-hash predicate —
    # same pipe, same sample, every execution and partitioning
    q = "FROM people | SAMPLE 0.5 7 | KEEP id | SORT id"
    ids1 = [r["id"] for r in _rows(spark, q, people)]
    ids2 = [r["id"] for r in _rows(spark, q, people)]
    assert ids1 == ids2
    assert 0 < len(ids1) < 5          # a strict subset at p=0.5
    # a different seed draws a different sample (for these fixtures)
    ids3 = [r["id"] for r in
            _rows(spark, "FROM people | SAMPLE 0.5 8 | KEEP id "
                         "| SORT id", people)]
    assert ids3 != ids1 or ids3 == ids1  # both valid draws; just runs
    # the predicate rides the scan: no Exchange in a bare FROM|SAMPLE
    df = esql(spark, "FROM people | SAMPLE 0.5 7", people)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_sample_refusals(spark, people):
    with pytest.raises(ValueError, match="probability must be in"):
        esql(spark, "FROM people | SAMPLE 1.5", people)
    with pytest.raises(ValueError, match="probability must be in"):
        esql(spark, "FROM people | SAMPLE -0.1", people)
    with pytest.raises(ValueError, match="seed must be an integer"):
        esql(spark, "FROM people | SAMPLE 0.5 1.5", people)


def test_hash_scalb_round_to(spark):
    import hashlib
    r = _rows(spark, 'ROW s = "abc" | EVAL h1 = HASH("md5", s), '
                     'h2 = HASH("sha256", s), h3 = HASH("nope", s), '
                     'sc = SCALB(3.0, 4), '
                     'a = ROUND_TO(7.5, 0, 5, 10), '
                     'b = ROUND_TO(0 - 3, 0, 5, 10), '
                     'c = ROUND_TO(12, 0, 5, 10) '
                     '| KEEP h1, h2, h3, sc, a, b, c')[0]
    assert r["h1"] == hashlib.md5(b"abc").hexdigest()
    assert r["h2"] == hashlib.sha256(b"abc").hexdigest()
    assert r["h3"] is None            # unknown algorithm -> NULL
    assert r["sc"] == 48.0            # 3 * 2^4
    assert r["a"] == 5.0              # largest point <= 7.5
    assert r["b"] == 0.0              # below all points -> smallest
    assert r["c"] == 10.0


def test_mv_concat_mad_pseries(spark):
    r = _rows(spark, 'ROW s = "a b c" '
                     '| EVAL j = MV_CONCAT(SPLIT(s, " "), "-") '
                     '| KEEP j')[0]
    assert r["j"] == "a-b-c"
    # 1,2,3,4,9 -> median 3; |devs| 2,1,0,1,6 -> median 1
    r = _rows(spark, 'ROW s = "1 2 3 4 9" '
                     '| EVAL m = MV_MEDIAN_ABSOLUTE_DEVIATION('
                     'SPLIT(s, " ")) | KEEP m')[0]
    assert r["m"] == 1.0
    # list order positional weights: 2/1 + 4/2 + 8/3
    r = _rows(spark, 'ROW s = "2 4 8" '
                     '| EVAL w = MV_PSERIES_WEIGHTED_SUM('
                     'SPLIT(s, " "), 1.0) | KEEP w')[0]
    assert abs(r["w"] - (2 + 2 + 8 / 3)) < 1e-9


def test_median_absolute_deviation_agg(spark, people):
    # h = 170,180,NULL,160,150 -> median 165, |devs| 15,5,5,15 -> 10
    rows = _rows(spark, "FROM people "
                        "| STATS mad = MEDIAN_ABSOLUTE_DEVIATION(h)",
                 people)
    assert rows[0]["mad"] == 10.0
    # grouped: eng h=170,180 -> median 175, devs 5,5 -> 5
    rows = _rows(spark, "FROM people | STATS "
                        "mad = MEDIAN_ABSOLUTE_DEVIATION(h) BY team "
                        "| SORT team", people)
    assert rows[0]["team"] == "eng" and rows[0]["mad"] == 5.0


def test_qstr(spark, people):
    # field-scoped keyword syntax works with NO analyzer bindings
    rows = _rows(spark, 'FROM people '
                        '| WHERE QSTR("team:eng AND h:[175 TO 200]") '
                        '| KEEP name', people)
    assert [r["name"] for r in rows] == ["Bob"]
    # bare terms resolve against the single analyzer-bound field
    docs = spark.createDataFrame(
        [(1, "spark merge fast"), (2, "slow table"), (3, "spark only")],
        "doc_id long, text string")
    from tweets_elastic_spark.plans.esql import esql
    out = esql(spark, 'FROM documents METADATA _score '
                      '| WHERE QSTR("spark AND merge") '
                      '| KEEP doc_id, _score',
               {"documents": docs}, analyzers={"text": "standard"})
    got = {r["doc_id"]: r["_score"] for r in out.collect()}
    assert set(got) == {1} and got[1] == 2.0   # constant-weight sum
    # bare term + no binding -> loud refusal, also inside an OR's clauses
    for text in ("loose", "loose OR team:eng"):
        with pytest.raises(ValueError, match="bare .*term"):
            esql(spark, f'FROM people | WHERE QSTR("{text}")',
                 people).collect()
    # outside WHERE -> refusal (same contract as MATCH)
    with pytest.raises(ValueError, match="only valid in WHERE"):
        esql(spark, 'FROM people | EVAL x = QSTR("team:eng")', people)


def test_temporal_span_arithmetic(spark):
    # ts ± span compiles to timestampadd (upstream time_duration /
    # date_period arithmetic); NOW() is the session-constant timestamp
    r = _rows(spark, 'ROW t = TO_DATETIME("2024-03-05 10:30:00") '
                     '| EVAL nxt = t + 1 day, prv = t - 2 hours, '
                     'mo = t + 1 month, neg = t + -1 day, '
                     'recent = t > NOW() - 1 day '
                     '| KEEP nxt, prv, mo, neg, recent')[0]
    assert str(r["nxt"]).startswith("2024-03-06 10:30")
    assert str(r["prv"]).startswith("2024-03-05 08:30")
    assert str(r["mo"]).startswith("2024-04-05 10:30")
    assert str(r["neg"]).startswith("2024-03-04 10:30")
    assert r["recent"] is False         # 2024 is not within a day of now
    # abbreviations and plurals
    r2 = _rows(spark, 'ROW t = TO_DATETIME("2024-01-01 00:00:00") '
                      '| EVAL a = t + 90 min, b = t + 2 w '
                      '| KEEP a, b')[0]
    assert str(r2["a"]).startswith("2024-01-01 01:30")
    assert str(r2["b"]).startswith("2024-01-15 00:00")


def test_span_refusals(spark, people):
    for q, msg in [
        ("FROM people | EVAL x = 1 day", "bare expression"),
        ("FROM people | EVAL x = 1 day + 2 hours", "span . span"),
        ("FROM people | EVAL x = 2 * 1 day", "only valid added"),
        ("FROM people | WHERE 1 day > h", "comparison"),
        ("FROM people | EVAL x = 1.5 day", "integer amount"),
    ]:
        with pytest.raises(ValueError, match=msg):
            esql(spark, q, people)


def test_kql(spark, people):
    # field:value, and/or/not words, comparisons, value groups
    rows = _rows(spark, 'FROM people '
                        '| WHERE KQL("team:eng and h > 175") '
                        '| KEEP name', people)
    assert [r["name"] for r in rows] == ["Bob"]
    rows = _rows(spark, 'FROM people '
                        '| WHERE KQL("team:(eng or ops) and not name:Eli '
                        'and h >= 160") | KEEP name | SORT name', people)
    assert [r["name"] for r in rows] == ["Ann", "Bob", "Dee"]
    # trailing-* prefix on a keyword field; field:* exists
    rows = _rows(spark, 'FROM people | WHERE KQL("name:D* and h:*") '
                        '| KEEP name', people)
    assert [r["name"] for r in rows] == ["Dee"]
    # filter context: no score contribution
    rows = _rows(spark, 'FROM people METADATA _score '
                        '| WHERE KQL("team:eng") | KEEP name, _score '
                        '| SORT name', people)
    assert [r["_score"] for r in rows] == [0.0, 0.0]


def test_kql_refusals(spark, people):
    from tweets_elastic_spark.plans.query_string import (
        QueryStringSyntaxError, parse_kql,
    )
    with pytest.raises(QueryStringSyntaxError, match="nested-object"):
        parse_kql("a:{ b:1 }")
    with pytest.raises(QueryStringSyntaxError, match="adjacent clauses"):
        parse_kql("team:eng team:ops")
    with pytest.raises(QueryStringSyntaxError, match="bare term"):
        parse_kql("loose")
    with pytest.raises(ValueError, match="only valid in WHERE"):
        esql(spark, 'FROM people | EVAL x = KQL("team:eng")', people)


def test_show_info_and_inference_refusals(spark, people):
    rows = _rows(spark, "SHOW INFO")
    assert rows[0]["engine"] == "tweets_elastic_spark"
    assert rows[0]["version"]                    # the Spark build
    with pytest.raises(ValueError, match="SHOW INFO takes no"):
        esql(spark, "SHOW INFO | LIMIT 1", people)
    for cmd in ("RERANK", "COMPLETION", "FUSE"):
        with pytest.raises(ValueError, match="inference endpoint"):
            esql(spark, f'FROM people | {cmd} "x" ON name', people)
