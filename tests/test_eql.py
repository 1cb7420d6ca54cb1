"""EQL front-end: parser subset, sequence-automaton semantics on
hand-computed vectors, and the no-Python / single-shuffle plan shape."""

from __future__ import annotations

import pytest

from tweets_elastic_spark.plans.eql import eql_search, parse_eql


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts double, user_id long, event_type string, "
              "value double"
    )


SEQ = """sequence by user_id with maxspan=100s
  [ a where true ]
  [ b where true ]
  [ c where true ]"""


def _run(spark, rows, q=SEQ):
    return sorted(
        (r["user_id"], r["id1"], r["id2"], r["id3"])
        for r in eql_search(_df(spark, rows), q).collect()
    )


def test_parse_rejects_unsupported():
    with pytest.raises(ValueError, match="maxspan"):
        parse_eql("sequence by u with maxspan=10fortnights [a where true] [b where true]")
    with pytest.raises(ValueError, match=">= 2 stages"):
        parse_eql("sequence by u [ a where true ]")
    with pytest.raises(ValueError, match="takes \\(field, string\\)"):
        parse_eql("a where startsWith(x)")  # bad arity — loud
    with pytest.raises(ValueError, match="unsupported EQL function"):
        parse_eql("a where indexOf(x, 'y') > 0")
    with pytest.raises(ValueError, match="no case-insensitive"):
        parse_eql("a where length~(x) > 1")
    # IPv6 CIDRs parse since r12; embedded dotted-quad still refuses
    assert parse_eql("a where cidrMatch(ip, '::1/64')").kind == "event"
    with pytest.raises(ValueError, match="CIDR"):
        parse_eql("a where cidrMatch(ip, '::ffff:1.2.3.4/96')")
    with pytest.raises(ValueError, match="CIDR"):
        parse_eql("a where cidrMatch(ip, 'fe80::1%eth0/64')")
    with pytest.raises(ValueError, match="CIDR"):
        parse_eql("a where cidrMatch(ip, 'g::1/64')")
    with pytest.raises(ValueError, match="numeric"):
        parse_eql("a where length(x)")
    with pytest.raises(ValueError, match="unbalanced|end of"):
        parse_eql("a where (x == 1 or y == 2")
    with pytest.raises(ValueError, match="trailing"):
        parse_eql("a where x == 1) or y == 2")
    q = parse_eql('sequence by u with maxspan=2h [a where v >= 3] [any where true]')
    assert q.maxspan_s == 7200.0
    assert q.stages[0].conditions[0].op == ">="
    assert q.stages[1].category == "any"


def test_parse_disjunctions_membership_not():
    from tweets_elastic_spark.plans.eql import BoolOp, InList, NotOp

    # or at the top level (the r10 verdict's most-wanted refusal removal)
    q = parse_eql("a where x == 1 or y == 2")
    (node,) = q.stages[0].conditions
    assert isinstance(node, BoolOp) and node.op == "or"
    assert [(c.field, c.op, c.value) for c in node.children] == \
        [("x", "==", 1), ("y", "==", 2)]
    # precedence: and binds tighter than or
    q = parse_eql("a where x == 1 or y == 2 and z == 3")
    (node,) = q.stages[0].conditions
    assert node.op == "or"
    assert isinstance(node.children[1], BoolOp)
    assert node.children[1].op == "and"
    # parens override precedence; top-level and still flattens to the
    # pre-r11 list shape
    q = parse_eql("a where (x == 1 or y == 2) and z == 3")
    disj, cmp3 = q.stages[0].conditions
    assert isinstance(disj, BoolOp) and disj.op == "or"
    assert (cmp3.field, cmp3.value) == ("z", 3)
    # in / not in
    q = parse_eql("a where lang in ('en', 'de') and not status in (4, 5)")
    inn, notin = q.stages[0].conditions
    assert isinstance(inn, InList) and inn.values == ["en", "de"]
    assert isinstance(notin, NotOp) and notin.child.values == [4, 5]
    q = parse_eql("a where status not in (1, 2)")
    (node,) = q.stages[0].conditions
    assert isinstance(node, NotOp) and node.child.field == "status"
    # keywords inside literals stay literal
    q = parse_eql("a where msg == 'x or y' or v > 2")
    (node,) = q.stages[0].conditions
    assert node.op == "or" and node.children[0].value == "x or y"


def test_or_condition_evaluates(spark):
    rows = [
        (1, 1.0, 1, "err", 95.0),
        (2, 2.0, 1, "err", 10.0),
        (3, 3.0, 1, "warn", 99.0),
        (4, 4.0, 1, "err", None),
    ]
    df = _df(spark, rows)
    got = sorted(
        r["event_id"]
        for r in eql_search(
            df, "err where value > 90 or value < 20").collect()
    )
    assert got == [1, 2]  # NULL value matches neither side (3VL)
    got = sorted(
        r["event_id"]
        for r in eql_search(
            df, "any where event_type in ('warn', 'fatal') or value < 20"
        ).collect()
    )
    assert got == [2, 3]
    got = sorted(
        r["event_id"]
        for r in eql_search(
            df, "err where not (value > 90 or value < 20)").collect()
    )
    assert got == []  # id2's 10.0 fails, NULL stays NULL through not


def test_parse_count_must_be_final_pipe():
    # `count` collapses to one aggregate row; trailing pipes would be
    # silently dropped — parse must refuse (raise-loudly policy)
    with pytest.raises(ValueError, match="final pipe"):
        parse_eql("error where true | count | head 5")
    # count as the last pipe stays legal
    q = parse_eql("error where true | head 5 | count")
    assert q.pipes == [("head", 5), ("count",)]


def test_parse_operators_inside_string_literals():
    # operator / keyword characters inside a quoted literal must not
    # mis-split the comparison around them
    q = parse_eql("a where path > 'a==b'")
    (c,) = q.stages[0].conditions
    assert (c.field, c.op, c.value) == ("path", ">", "a==b")
    q = parse_eql("a where msg == 'x and y' and v >= 2")
    c0, c1 = q.stages[0].conditions
    assert (c0.field, c0.op, c0.value) == ("msg", "==", "x and y")
    assert (c1.field, c1.op, c1.value) == ("v", ">=", 2)
    q = parse_eql('a where note == "see (docs) or else"')
    (c,) = q.stages[0].conditions
    assert c.value == "see (docs) or else"


def test_parse_pipe_char_inside_string_literal():
    # `|` inside a quoted literal is not a pipe boundary
    q = parse_eql("error where msg == 'a|b'")
    (c,) = q.stages[0].conditions
    assert (c.field, c.op, c.value) == ("msg", "==", "a|b")
    assert q.pipes == []
    # and a real pipe after a literal containing `|` still parses
    q = parse_eql("error where msg == 'a|b' | head 3")
    assert q.pipes == [("head", 3)]
    assert q.stages[0].conditions[0].value == "a|b"


def test_parse_whitespace_preserved_inside_string_literal():
    # whitespace normalization must not rewrite the compared value
    q = parse_eql("a  where  msg == 'two  spaces'")
    (c,) = q.stages[0].conditions
    assert c.value == "two  spaces"
    q = parse_eql("a where msg == 'x   and   y'")
    (c,) = q.stages[0].conditions
    assert c.value == "x   and   y"
    q = parse_eql("a where msg == '\ttab  run'")
    (c,) = q.stages[0].conditions
    assert c.value == "\ttab  run"


def test_parse_brackets_inside_sequence_stage_literal():
    # `]` / `[` inside a quoted literal must not truncate or split a stage
    q = parse_eql(
        "sequence by u [a where msg == 'x]y'] [b where tag == '[hi]']"
    )
    assert q.stages[0].conditions[0].value == "x]y"
    assert q.stages[1].conditions[0].value == "[hi]"


def test_parse_backslash_escape_rejected_loudly():
    import pytest
    with pytest.raises(ValueError, match="escapes"):
        parse_eql("a where msg == 'it\\'s'")
    with pytest.raises(ValueError, match="escapes"):
        parse_eql('a where msg == "a\\"b"')
    # other-quote-style embedding works
    q = parse_eql("a where msg == \"it's\"")
    assert q.stages[0].conditions[0].value == "it's"


def test_parse_unterminated_literal_rejected():
    import pytest
    with pytest.raises(ValueError, match="unterminated"):
        parse_eql("a where msg == 'oops")


def test_basic_match_and_order(spark):
    rows = [
        (1, 10.0, 7, "a", 0.0), (2, 20.0, 7, "b", 0.0), (3, 30.0, 7, "c", 0.0),
    ]
    assert _run(spark, rows) == [(7, 1, 2, 3)]
    # out of order never matches
    rows_rev = [
        (1, 30.0, 7, "a", 0.0), (2, 20.0, 7, "b", 0.0), (3, 10.0, 7, "c", 0.0),
    ]
    assert _run(spark, rows_rev) == []


def test_maxspan_bounds_first_to_last(spark):
    # a..c span 101s > maxspan: the c event cannot complete
    rows = [
        (1, 0.0, 7, "a", 0.0), (2, 50.0, 7, "b", 0.0), (3, 101.0, 7, "c", 0.0),
    ]
    assert _run(spark, rows) == []
    # exactly at the bound matches (<=)
    rows_edge = [
        (1, 0.0, 7, "a", 0.0), (2, 50.0, 7, "b", 0.0), (3, 100.0, 7, "c", 0.0),
    ]
    assert _run(spark, rows_edge) == [(7, 1, 2, 3)]


def test_most_recent_start_wins(spark):
    # a second 'a' replaces the pending length-1 prefix
    rows = [
        (1, 0.0, 7, "a", 0.0), (2, 10.0, 7, "a", 0.0),
        (3, 20.0, 7, "b", 0.0), (4, 30.0, 7, "c", 0.0),
    ]
    assert _run(spark, rows) == [(7, 2, 3, 4)]


def test_completion_consumes_no_overlap(spark):
    # after a completed sequence, later c events need a fresh prefix
    rows = [
        (1, 0.0, 7, "a", 0.0), (2, 10.0, 7, "b", 0.0), (3, 20.0, 7, "c", 0.0),
        (4, 30.0, 7, "c", 0.0),
    ]
    assert _run(spark, rows) == [(7, 1, 2, 3)]
    # ...but a surviving shorter prefix may still complete later: the
    # second 'a' (started before completion) survives the emit
    rows2 = [
        (1, 0.0, 7, "a", 0.0), (2, 5.0, 7, "b", 0.0),
        (3, 8.0, 7, "a", 0.0),  # new length-1 prefix
        (4, 10.0, 7, "c", 0.0),  # completes 1-2-4
        (5, 12.0, 7, "b", 0.0), (6, 15.0, 7, "c", 0.0),  # completes 3-5-6
    ]
    assert _run(spark, rows2) == [(7, 1, 2, 4), (7, 3, 5, 6)]


def test_keys_isolated_and_conditions(spark):
    rows = [
        (1, 0.0, 1, "a", 5.0), (2, 10.0, 2, "b", 5.0), (3, 20.0, 1, "c", 5.0),
        (4, 1.0, 2, "a", 99.0), (5, 2.0, 2, "b", 5.0), (6, 3.0, 2, "c", 5.0),
    ]
    # key 1 never sees a 'b'; key 2 completes
    assert _run(spark, rows) == [(2, 4, 5, 6)]
    # stage condition filters: require value > 50 on stage 1
    cond = """sequence by user_id with maxspan=100s
      [ a where value > 50 ] [ b where true ] [ c where true ]"""
    assert _run(spark, rows, cond) == [(2, 4, 5, 6)]
    cond_none = """sequence by user_id with maxspan=100s
      [ a where value > 500 ] [ b where true ] [ c where true ]"""
    assert _run(spark, rows, cond_none) == []


def test_two_stage_and_any_category(spark):
    rows = [
        (1, 0.0, 7, "a", 1.0), (2, 5.0, 7, "x", 2.0), (3, 9.0, 7, "b", 3.0),
    ]
    q = """sequence by user_id with maxspan=50s
      [ a where true ] [ any where value > 1 ]"""
    got = sorted((r["user_id"], r["id1"], r["id2"])
                 for r in eql_search(_df(spark, rows), q).collect())
    # the 'x' event (value 2 > 1) extends immediately — most-recent automaton
    assert got == [(7, 1, 2)]


def test_event_query_order_and_filter(spark):
    rows = [
        (2, 20.0, 7, "err", 95.0), (1, 10.0, 7, "err", 99.0),
        (3, 30.0, 7, "ok", 99.0), (4, 40.0, 7, "err", 5.0),
    ]
    got = [r["event_id"]
           for r in eql_search(_df(spark, rows), "err where value > 90").collect()]
    assert got == [1, 2]


def test_sequence_plan_no_python_one_exchange(spark):
    rows = [(1, 0.0, 7, "a", 0.0), (2, 1.0, 7, "b", 0.0), (3, 2.0, 7, "c", 0.0)]
    plan = eql_search(_df(spark, rows), SEQ)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Exchange") <= 2  # groupBy key (+AQE read)


def test_until_clears_pending(spark):
    q = """sequence by user_id with maxspan=100s
      [ a where true ] [ b where true ] [ c where true ] until [ x where true ]"""
    # x between a and b kills the prefix; later full run matches
    rows = [
        (1, 0.0, 7, "a", 0.0), (2, 5.0, 7, "x", 0.0),
        (3, 10.0, 7, "b", 0.0), (4, 15.0, 7, "c", 0.0),
        (5, 20.0, 7, "a", 0.0), (6, 25.0, 7, "b", 0.0), (7, 30.0, 7, "c", 0.0),
    ]
    assert _run(spark, rows, q) == [(7, 5, 6, 7)]
    # no until event -> behaves like the plain sequence
    rows2 = [(1, 0.0, 7, "a", 0.0), (2, 5.0, 7, "b", 0.0), (3, 9.0, 7, "c", 0.0)]
    assert _run(spark, rows2, q) == [(7, 1, 2, 3)]
    # parser guards
    with pytest.raises(ValueError, match="at most one until"):
        parse_eql("sequence by u [a where true] [b where true] "
                  "until [x where true] until [y where true]")
    with pytest.raises(ValueError, match="malformed"):
        parse_eql("sequence by u [a where true] garbage [b where true]")
    pq = parse_eql(q)
    assert pq.until.category == "x" and len(pq.stages) == 3


def test_composite_by_keys(spark):
    """`sequence by a, b` — sequences never cross a composite-key boundary."""
    df = spark.createDataFrame(
        [  # (id, ts, user, session, type)
            (1, 0.0, 7, "s1", "a"), (2, 1.0, 7, "s2", "b"),
            (3, 2.0, 7, "s1", "b"),
            (4, 0.0, 8, "s1", "a"), (5, 1.0, 8, "s1", "b"),
        ],
        "event_id long, ts double, user_id long, session string, "
        "event_type string",
    )
    q = """sequence by user_id, session with maxspan=50s
      [ a where true ] [ b where true ]"""
    got = sorted(
        (r["user_id"], r["session"], r["id1"], r["id2"])
        for r in eql_search(df, q).collect()
    )
    # user 7: the 'b' in s2 must NOT pair with the 'a' in s1
    assert got == [(7, "s1", 1, 3), (8, "s1", 4, 5)]
    pq = parse_eql(q)
    assert pq.by == ["user_id", "session"]
    with pytest.raises(ValueError, match="join-key"):
        parse_eql("sequence by u, [a where true] [b where true]")


def test_event_pipes(spark):
    rows = [
        (1, 10.0, 7, "e", 1.0), (2, 20.0, 7, "e", 2.0),
        (3, 30.0, 8, "e", 3.0), (4, 40.0, 8, "e", 4.0),
        (5, 50.0, 9, "x", 5.0),
    ]
    ids = lambda df: [r["event_id"] for r in df.collect()]
    assert ids(eql_search(_df(spark, rows), "e where true | head 2")) == [1, 2]
    assert ids(eql_search(_df(spark, rows), "e where true | tail 2")) == [3, 4]
    assert eql_search(_df(spark, rows),
                      "e where true | count").collect()[0]["count"] == 4
    # unique keeps the FIRST event per user in hit order
    assert ids(eql_search(_df(spark, rows),
                          "e where true | unique user_id")) == [1, 3]
    # pipes compose left-to-right
    assert ids(eql_search(_df(spark, rows),
                          "e where true | unique user_id | head 1")) == [1]
    with pytest.raises(ValueError, match="unsupported EQL pipe"):
        parse_eql("e where true | sort value")


def test_sequence_pipes(spark):
    """Pipes over sequence MATCHES in last-event hit order (ES orders
    sequence results by their final event's timestamp)."""
    rows = [
        # three completed a->b sequences for three users, finishing at
        # t=11, 21, 31; user 7 completes a second sequence at t=41
        (1, 10.0, 7, "a", 0.0), (2, 11.0, 7, "b", 0.0),
        (3, 20.0, 8, "a", 0.0), (4, 21.0, 8, "b", 0.0),
        (5, 30.0, 9, "a", 0.0), (6, 31.0, 9, "b", 0.0),
        (7, 40.0, 7, "a", 0.0), (8, 41.0, 7, "b", 0.0),
    ]
    df = _df(spark, rows)
    q = "sequence by user_id [a where true] [b where true]"
    lasts = lambda res: [r["id2"] for r in res.collect()]
    assert lasts(eql_search(df, q + " | head 2")) == [2, 4]
    assert lasts(eql_search(df, q + " | tail 2")) == [6, 8]
    assert eql_search(df, q + " | count").collect()[0]["count"] == 4
    # unique: the FIRST completed sequence per user, hit order
    assert lasts(eql_search(df, q + " | unique user_id")) == [2, 4, 6]
    assert lasts(eql_search(df, q + " | unique user_id | head 1")) == [2]
    pq = parse_eql(q + " | head 3")
    assert pq.kind == "sequence" and pq.pipes == [("head", 3)]
    with pytest.raises(ValueError, match="not a sequence output column"):
        eql_search(df, q + " | unique nope").collect()


def test_hot_key_guard(spark):
    """max_events_per_key fails LOUDLY on a planted hot key (naming it),
    passes untouched when every key is within bound, and rejects bounds
    below the sequence length at plan time."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    hot = [(i, float(i), 7, "a" if i % 2 else "b", 0.0) for i in range(40)]
    cold = [(100, 0.0, 8, "a", 0.0), (101, 1.0, 8, "b", 0.0),
            (102, 2.0, 8, "c", 0.0)]
    df = _df(spark, hot + cold)
    q = "sequence by user_id [a where true] [b where true] [c where true]"
    # within bound: identical results to the unguarded run
    want = sorted(tuple(r) for r in eql_search(df, q).collect())
    got = sorted(tuple(r) for r in
                 eql_search(df, q, max_events_per_key=64).collect())
    assert got == want
    # over bound: the job fails naming the hot key and its count
    with pytest.raises(SparkRuntimeException,
                       match=r"EQL hot key \(7\) has 40"):
        eql_search(df, q, max_events_per_key=16).collect()
    # bound below sequence length: rejected at plan time
    with pytest.raises(ValueError, match="below the sequence length"):
        eql_search(df, q, max_events_per_key=2)


def test_runs_qualifier(spark):
    # [a] with runs=2 [b] == [a][a][b]
    q = """sequence by user_id with maxspan=100s
      [ a where true ] with runs=2 [ b where true ]"""
    pq = parse_eql(q)
    assert [s.category for s in pq.stages] == ["a", "a", "b"]
    rows = [
        (1, 0.0, 7, "a", 0.0), (2, 5.0, 7, "a", 0.0), (3, 9.0, 7, "b", 0.0),
        (4, 0.0, 8, "a", 0.0), (5, 5.0, 8, "b", 0.0),  # only one a: no match
    ]
    got = sorted((r["user_id"], r["id1"], r["id2"], r["id3"])
                 for r in eql_search(_df(spark, rows), q).collect())
    assert got == [(7, 1, 2, 3)]
    # runs before any stage is caught by the head parser (join-key guard)
    with pytest.raises(ValueError, match="join-key"):
        parse_eql("sequence by u with runs=2 [a where true] [b where true]")
    # runs after until is caught by the placement guard
    with pytest.raises(ValueError, match="directly follow"):
        parse_eql("sequence by u [a where true] [b where true] "
                  "until [x where true] with runs=2")
    with pytest.raises(ValueError, match=r"runs must be in"):
        parse_eql("sequence by u [a where true] with runs=99 [b where true]")


def test_eql_sequence_differential_fuzz(spark):
    """Property-style differential: random event streams and random
    sequence queries, the engine's JVM-aggregate automaton vs an
    INDEPENDENT pure-Python reimplementation of the documented
    single-slot semantics (scan in (ts, id) order; an event plays the
    DEEPEST stage it can extend within maxspan, else starts/replaces the
    length-1 prefix; completion consumes; until clears). Deterministic
    seed — reproducible, no flaky CI."""
    import random

    rnd = random.Random(20260815)

    def rand_condition():
        """A random condition over integer-valued ``value`` plus its
        pure-Python evaluator — disjunctions/negations/in-lists included
        (r11: the grammar the parser just gained must agree with an
        independent evaluation, not only parse)."""
        t1, t2 = rnd.randint(10, 60), rnd.randint(40, 90)
        a, b = rnd.randint(0, 100), rnd.randint(0, 100)
        return rnd.choice([
            ("true", lambda v: True),
            (f"value > {t1}", lambda v: v > t1),
            (f"value > {t2} or value < {t1}",
             lambda v: v > t2 or v < t1),
            (f"not (value >= {t1} and value <= {t2})",
             lambda v: not (t1 <= v <= t2)),
            (f"value in ({a}, {b}) or value > {t2}",
             lambda v: v in (a, b) or v > t2),
        ])

    def reference(events, stages, maxspan, until):
        """events: (id, ts, key, cat, val); stages/until: (category,
        value-predicate) pairs."""
        L = len(stages)
        by_key = {}
        for eid, ts, key, cat, val in sorted(
                events, key=lambda e: (e[1], e[0])):
            slots = by_key.setdefault(key, [None] * (L - 1))
            if until is not None and cat == until[0] and until[1](val):
                by_key[key] = [None] * (L - 1)
                continue
            ext = -1
            for j in range(L - 1, 0, -1):
                prev = slots[j - 1]
                if (cat == stages[j][0] and stages[j][1](val)
                        and prev is not None
                        and (maxspan is None or ts - prev[0] <= maxspan)):
                    ext = j
                    break
            if ext == -1 and cat == stages[0][0] and stages[0][1](val):
                ext = 0
            if ext == -1:
                continue
            if ext == 0:
                slots[0] = (ts, [eid])
            elif ext == L - 1:
                fts, ids = slots[L - 2]
                yield (key, fts, ts, *ids, eid)
                slots[L - 2] = None
            else:
                fts, ids = slots[ext - 1]
                slots[ext] = (fts, ids + [eid])
                slots[ext - 1] = None

    for trial in range(8):
        cats = ["a", "b", "c", "d"][: rnd.randint(3, 4)]
        L = rnd.randint(2, 3)
        stages = [(rnd.choice(cats), *rand_condition())
                  for _ in range(L)]  # (cat, src, pred)
        until = rnd.choice([None, (cats[-1], *rand_condition())])
        maxspan = rnd.choice([None, 5.0, 20.0])
        n = 220
        events = [
            (i, float(rnd.randint(0, 60)), rnd.randint(1, 6),
             rnd.choice(cats), float(rnd.randint(0, 100)))
            for i in range(n)
        ]
        q = f"sequence by user_id"
        if maxspan is not None:
            q += f" with maxspan={int(maxspan)}s"
        q += "".join(f" [ {c} where {src} ]" for c, src, _ in stages)
        if until is not None:
            q += f" until [ {until[0]} where {until[1]} ]"
        df = spark.createDataFrame(
            events,
            "event_id long, ts double, user_id long, event_type string, "
            "value double",
        )
        got = sorted(tuple(r) for r in eql_search(df, q).collect())
        want = sorted(reference(
            events, [(c, p) for c, _, p in stages], maxspan,
            (until[0], until[2]) if until is not None else None))
        assert got == want, (trial, q, got[:3], want[:3])


def test_condition_functions(spark):
    """r11 condition functions: parse + evaluate against hand-computed
    rows; the ~ variants fold case on both sides."""
    rows = spark.createDataFrame(
        [
            (1, 1.0, 1, "Checkout-Start", "10.2.3.4"),
            (2, 2.0, 1, "checkout-end", "10.130.0.9"),
            (3, 3.0, 1, "view", "192.168.1.5"),
            (4, 4.0, 1, "err", None),
        ],
        "event_id long, ts double, user_id long, event_type string, "
        "ip string",
    )

    def run(q):
        from tweets_elastic_spark.plans.eql import eql_search

        return sorted(r["event_id"] for r in eql_search(rows, q).collect())

    assert run("any where startsWith(event_type, 'checkout')") == [2]
    assert run("any where startsWith~(event_type, 'CHECKOUT')") == [1, 2]
    assert run("any where endsWith~(event_type, 'END')") == [2]
    assert run("any where stringContains(event_type, 'Check')") == [1]
    assert run("any where stringContains~(event_type, 'CHECK')") == [1, 2]
    assert run("any where wildcard(event_type, '*out*', 'vi?w')") == [1, 2, 3]
    assert run("any where wildcard(event_type, 'check*', 'vi?w')") == [2, 3]
    assert run("any where wildcard~(event_type, 'CHECKOUT-*')") == [1, 2]
    # wildcard metachars beyond * ? stay literal: '.' must not match 'any'
    assert run("any where wildcard(event_type, '...')") == []
    assert run("any where length(event_type) > 8") == [1, 2]
    assert run("any where length(event_type) == 3") == [4]
    # cidrMatch: /10 spans 10.128-10.191; host bits in the literal zero
    assert run("any where cidrMatch(ip, '10.0.0.0/8')") == [1, 2]
    assert run("any where cidrMatch(ip, '10.128.77.1/10')") == [2]
    assert run(
        "any where cidrMatch(ip, '192.168.0.0/16', '10.2.0.0/16')"
    ) == [1, 3]
    # NULL ip matches nothing, functions compose with the grammar
    assert run(
        "any where not cidrMatch(ip, '0.0.0.0/0')"
    ) == []  # NULL stays NULL through not; all real ips match /0
    assert run(
        "any where (startsWith(event_type, 'view') or length(ip) < 9)"
        " and event_type != 'err'"
    ) == [1, 3]


def test_condition_functions_in_sequence(spark):
    from tweets_elastic_spark.plans.eql import eql_search

    rows = spark.createDataFrame(
        [
            (1, 1.0, 7, "login", "10.0.0.1"),
            (2, 2.0, 7, "sudo-su", "10.0.0.1"),
            (3, 3.0, 8, "login", "172.16.0.2"),
            (4, 4.0, 8, "sudo-su", "192.168.0.9"),
        ],
        "event_id long, ts double, user_id long, event_type string, "
        "ip string",
    )
    got = sorted(
        (r["user_id"], r["id1"], r["id2"])
        for r in eql_search(rows, """
            sequence by user_id with maxspan=1h
              [ any where event_type == 'login'
                          and cidrMatch(ip, '10.0.0.0/8') ]
              [ any where startsWith(event_type, 'sudo') ]
        """).collect()
    )
    assert got == [(7, 1, 2)]  # user 8's login is outside the CIDR


def test_per_stage_by_parse_and_validation():
    q = parse_eql("""
        sequence with maxspan=1h
          [ login where true ] by src_ip
          [ exec where true ] by host_ip
        until [ logout where true ] by src_ip
    """)
    assert q.by == [] and q.stages[0].by == ["src_ip"]
    assert q.stages[1].by == ["host_ip"] and q.until.by == ["src_ip"]
    q = parse_eql(
        "sequence by tenant [a where true] by pid, uid "
        "[b where true] by ppid, uid"
    )
    assert q.by == ["tenant"] and q.stages[0].by == ["pid", "uid"]
    with pytest.raises(ValueError, match="EVERY stage"):
        parse_eql("sequence [a where true] by pid [b where true]")
    with pytest.raises(ValueError, match="EVERY stage"):
        parse_eql("sequence [a where true] by pid, uid "
                  "[b where true] by ppid")
    with pytest.raises(ValueError, match="until"):
        parse_eql("sequence [a where true] by pid [b where true] by ppid "
                  "until [c where true]")
    with pytest.raises(ValueError, match="join key"):
        parse_eql("sequence [a where true] [b where true]")
    with pytest.raises(ValueError, match="field names"):
        parse_eql("sequence [a where true] by [b where true] by x")


def test_per_stage_by_equals_global_by(spark):
    """`[s] by user_id` on every stage must produce the same matches as
    `sequence by user_id` — except the key column arrives as the string
    rendering the per-stage join compares on."""
    rows = [
        (1, 1.0, 1, "a", 0.0), (2, 2.0, 1, "b", 0.0),
        (3, 3.0, 2, "a", 0.0), (4, 4.0, 1, "a", 0.0),
        (5, 5.0, 2, "b", 0.0), (6, 6.0, 1, "b", 0.0),
    ]
    df = _df(spark, rows)
    want = sorted(
        (str(r["user_id"]), r["id1"], r["id2"])
        for r in eql_search(
            df, "sequence by user_id [a where true] [b where true]"
        ).collect()
    )
    got = sorted(
        (r["user_id"], r["id1"], r["id2"])
        for r in eql_search(
            df, "sequence [a where true] by user_id "
                "[b where true] by user_id"
        ).collect()
    )
    assert got == want and len(got) == 3


def test_per_stage_by_cross_field_join(spark):
    """Stage 1 keys on user_id, stage 2 on a DIFFERENT column (value as
    long): only pairs whose cross-field values agree correlate."""
    df = spark.createDataFrame(
        [
            (1, 1.0, 7, "login", 0),
            (2, 2.0, 99, "exec", 7),    # exec.value == login.user_id -> join
            (3, 3.0, 8, "login", 0),
            (4, 4.0, 99, "exec", 5),    # 5 matches no login user
            (5, 5.0, 99, "exec", 8),    # joins user 8's login
        ],
        "event_id long, ts double, user_id long, event_type string, "
        "value long",
    )
    got = sorted(
        (r["user_id"], r["id1"], r["id2"])
        for r in eql_search(df, """
            sequence with maxspan=1h
              [ login where true ] by user_id
              [ exec where true ] by value
        """).collect()
    )
    # output key column named after stage 1's field (string rendering)
    assert got == [("7", 1, 2), ("8", 3, 5)]


def test_per_stage_by_null_key_drops(spark):
    df = spark.createDataFrame(
        [(1, 1.0, None, "a", 1), (2, 2.0, 5, "a", 1), (3, 3.0, 99, "b", 5)],
        "event_id long, ts double, user_id long, event_type string, "
        "value long",
    )
    got = sorted(
        (r["user_id"], r["id1"], r["id2"])
        for r in eql_search(df, """
            sequence [ a where true ] by user_id
                     [ b where true ] by value
        """).collect()
    )
    assert got == [("5", 2, 3)]  # the NULL-keyed login never correlates


SAMPLE = """sample by user_id
  [ a where true ]
  [ b where value > 10 ]"""


def test_sample_parse():
    q = parse_eql(SAMPLE)
    assert q.kind == "sample"
    assert q.by == ["user_id"]
    assert len(q.stages) == 2
    assert q.maxspan_s is None and q.until is None and q.pipes == []
    # refusals: pipes, <2 stages, until/runs/per-stage-by, missing key
    with pytest.raises(ValueError, match="no hit order"):
        parse_eql(SAMPLE + "\n| head 5")
    with pytest.raises(ValueError, match=">= 2 stages"):
        parse_eql("sample by u [ a where true ]")
    with pytest.raises(ValueError, match="neither `until`"):
        parse_eql("sample by u [a where true] until [b where true]")
    with pytest.raises(ValueError, match="neither `until`"):
        parse_eql("sample by u [a where true] with runs=2 [b where true]")
    with pytest.raises(ValueError, match="sample head"):
        parse_eql("sample by [a where true] [b where true]")
    # an event CATEGORY named "sample" is still an event query
    assert parse_eql("sample where value > 1").kind == "event"
    # per-stage by (r12): valid on every stage, headless or with a
    # global key; partial / colliding / keyless forms refuse
    q2 = parse_eql("sample [a where true] by u [b where true] by v")
    assert q2.kind == "sample" and q2.by == []
    assert [s.by for s in q2.stages] == [["u"], ["v"]]
    q3 = parse_eql("sample by g [a where true] by u [b where true] by v")
    assert q3.by == ["g"] and [s.by for s in q3.stages] == [["u"], ["v"]]
    with pytest.raises(ValueError, match="EVERY stage"):
        parse_eql("sample by g [a where true] by u [b where true]")
    with pytest.raises(ValueError, match="collides"):
        parse_eql("sample by u [a where true] by u [b where true] by u")
    with pytest.raises(ValueError, match="needs a join key"):
        parse_eql("sample [a where true] [b where true]")


def test_sample_semantics(spark):
    # key 7: both stages match — smallest id per stage wins, and
    # CHRONOLOGY IS IGNORED (the stage-2 event precedes stage 1's).
    # key 8: stage 2 never matches (value <= 10) — dropped.
    # key None: null join key — dropped.
    rows = [
        (5, 10.0, 7, "b", 99.0), (6, 20.0, 7, "a", 0.0),
        (7, 30.0, 7, "a", 0.0), (8, 40.0, 7, "b", 50.0),
        (9, 10.0, 8, "a", 0.0), (10, 20.0, 8, "b", 3.0),
        (11, 10.0, None, "a", 0.0), (12, 20.0, None, "b", 99.0),
    ]
    got = sorted(
        (r["user_id"], r["id1"], r["id2"])
        for r in eql_search(_df(spark, rows), SAMPLE).collect()
    )
    assert got == [(7, 6, 5)]


def test_sample_event_may_serve_two_stages(spark):
    # one event matching both stage filters serves each independently
    q = """sample by user_id
      [ any where value > 10 ]
      [ b where true ]"""
    rows = [(1, 10.0, 7, "b", 50.0)]
    got = [(r["user_id"], r["id1"], r["id2"])
           for r in eql_search(_df(spark, rows), q).collect()]
    assert got == [(7, 1, 1)]


def test_sample_per_stage_by_semantics(spark):
    """r12: each stage keys on its own field; values agree as string
    renderings; an event matching SEVERAL stages with DIFFERENT key
    values fans out and may serve each key independently."""
    q = """sample
      [ any where value > 10 ] by user_id
      [ b where true ] by event_id"""
    rows = [
        # event 7: any-stage key user_id=7; event with event_id=7 and
        # category b closes the pair under key "7"
        (1, 0.0, 7, "a", 50.0),
        (7, 1.0, 99, "b", 0.0),
        # key "3": a b-event with value>10 matches BOTH stages — stage 1
        # contributes key user_id=3, stage 2 key event_id=3: the row
        # fans out to two candidate keys; only "3"=="3" pairs when both
        # stages agree via the same event (event_id=3, user_id=3)
        (3, 2.0, 3, "b", 60.0),
        # no partner under key "42": stage-1-only
        (5, 3.0, 42, "a", 90.0),
    ]
    got = sorted(
        (list(r["skey"]), r["id1"], r["id2"])
        for r in eql_search(_df(spark, rows), q).collect()
    )
    assert got == [(["3"], 3, 3), (["7"], 1, 7)]
    # NULL per-stage key drops that stage's contribution
    q2 = """sample
      [ a where true ] by user_id
      [ b where true ] by user_id"""
    rows2 = [(1, 0.0, None, "a", 0.0), (2, 1.0, 5, "b", 0.0),
             (3, 2.0, 5, "a", 0.0)]
    got2 = [(list(r["skey"]), r["id1"], r["id2"])
            for r in eql_search(_df(spark, rows2), q2).collect()]
    assert got2 == [(["5"], 3, 2)]


def test_sample_plan_no_python_one_exchange(spark):
    rows = [(1, 0.0, 7, "a", 0.0), (2, 1.0, 7, "b", 50.0)]
    plan = (eql_search(_df(spark, rows), SAMPLE)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Python" not in plan and "BatchEvalPython" not in plan
    # one groupBy shuffle with map-side partial_min (+AQE read)
    assert plan.count("Exchange") <= 2
    assert "partial_min" in plan or "partial_agg" in plan.lower()


def test_eql_sample_differential_fuzz(spark):
    """Differential for the r12 `sample` kind: random streams + random
    stage conditions vs an independent pure-Python evaluation of the
    documented semantics (per key, every stage must match >= 1 event;
    smallest event id per stage; chronology ignored). Deterministic
    seed."""
    import random

    rnd = random.Random(20260815 + 12)

    def rand_condition():
        t1, t2 = rnd.randint(10, 60), rnd.randint(40, 90)
        a, b = rnd.randint(0, 100), rnd.randint(0, 100)
        return rnd.choice([
            ("true", lambda v: True),
            (f"value > {t1}", lambda v: v > t1),
            (f"value > {t2} or value < {t1}",
             lambda v: v > t2 or v < t1),
            (f"not (value >= {t1} and value <= {t2})",
             lambda v: not (t1 <= v <= t2)),
            (f"value in ({a}, {b}) or value > {t2}",
             lambda v: v in (a, b) or v > t2),
        ])

    def reference(events, stages):
        by_key = {}
        for eid, ts, key, cat, val in events:
            if key is None:
                continue
            mins = by_key.setdefault(key, [None] * len(stages))
            for j, (c, pred) in enumerate(stages):
                if (c == "any" or c == cat) and pred(val):
                    if mins[j] is None or eid < mins[j]:
                        mins[j] = eid
        for key, mins in by_key.items():
            if all(m is not None for m in mins):
                yield (key, *mins)

    for trial in range(6):
        cats = ["a", "b", "c", "d"][: rnd.randint(3, 4)]
        L = rnd.randint(2, 3)
        stages = [(rnd.choice(cats + ["any"]), *rand_condition())
                  for _ in range(L)]
        n = 200
        events = [
            (i, float(rnd.randint(0, 60)),
             rnd.choice([None] + list(range(1, 7))),
             rnd.choice(cats), float(rnd.randint(0, 100)))
            for i in range(n)
        ]
        q = "sample by user_id" + "".join(
            f" [ {c} where {src} ]" for c, src, _ in stages)
        df = spark.createDataFrame(
            events,
            "event_id long, ts double, user_id long, event_type string, "
            "value double",
        )
        got = sorted(tuple(r) for r in eql_search(df, q).collect())
        want = sorted(reference(events, [(c, p) for c, _, p in stages]))
        assert got == want, (trial, q, got[:3], want[:3])


def test_cidrmatch_ipv6(spark):
    """IPv6 cidrMatch (r12 — formerly a loud refusal): hand vectors for
    '::' expansion, partial-group prefixes, malformed-address NULLs."""
    rows = [
        (1, 1.0, 1, "a", 0.0, "2001:db8::1"),
        (2, 2.0, 1, "a", 0.0, "2001:db8:0:0:0:0:0:2"),     # expanded form
        (3, 3.0, 1, "a", 0.0, "2001:db9::1"),              # outside /32
        (4, 4.0, 1, "a", 0.0, "2001:db8:8000::1"),         # bit 33 set
        (5, 5.0, 1, "a", 0.0, "::"),                       # all-zeros
        (6, 6.0, 1, "a", 0.0, "not-an-ip"),
        (7, 7.0, 1, "a", 0.0, "1:::2"),                    # malformed
        (8, 8.0, 1, "a", 0.0, "1:2::3:4:5:6:7:8"),  # 9 groups: malformed
        (9, 9.0, 1, "a", 0.0, "FE80::A"),                  # uppercase hex
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts double, user_id long, event_type string, "
              "value double, ip string"
    )

    def ids(q):
        return sorted(r["event_id"]
                      for r in eql_search(df, q).collect())

    assert ids("a where cidrMatch(ip, '2001:db8::/32')") == [1, 2, 4]
    # /33: bit 33 (0x8000 in group 3) splits rows 1/2 from row 4
    assert ids("a where cidrMatch(ip, '2001:db8::/33')") == [1, 2]
    assert ids("a where cidrMatch(ip, '::/0')") == [1, 2, 3, 4, 5, 9]
    assert ids("a where cidrMatch(ip, 'fe80::/10')") == [9]
    # exact /128 match through the expanded form
    assert ids("a where cidrMatch(ip, '2001:db8::2/128')") == [2]
    # host bits in the literal are zeroed (ES contract)
    assert ids("a where cidrMatch(ip, '2001:db8::ffff/32')") == [1, 2, 4]
    # multi-pattern OR mixes families
    assert ids("a where cidrMatch(ip, '10.0.0.0/8', '2001:db9::/32')") == [3]


def test_cidrmatch_ipv6_differential_fuzz(spark):
    """Random addresses x random networks vs Python's ipaddress module —
    the engine's group-wise compare must agree exactly. Deterministic
    seed."""
    import ipaddress
    import random

    rnd = random.Random(20260815 + 6)
    addrs = []
    for i in range(60):
        if rnd.random() < 0.5:
            a = ipaddress.IPv6Address(rnd.getrandbits(128))
        else:  # cluster near a common prefix so matches actually occur
            a = ipaddress.IPv6Address(
                (0x20010DB8 << 96) | rnd.getrandbits(64))
        s = a.exploded if rnd.random() < 0.3 else a.compressed
        addrs.append((i, s))
    df = spark.createDataFrame(
        [(i, 1.0, 1, "a", 0.0, s) for i, s in addrs],
        "event_id long, ts double, user_id long, event_type string, "
        "value double, ip string",
    )
    for _ in range(8):
        plen = rnd.choice([0, 1, 10, 16, 32, 33, 48, 63, 64, 96, 127, 128])
        base = ipaddress.IPv6Address(
            (0x20010DB8 << 96) | rnd.getrandbits(64)
            if rnd.random() < 0.6 else rnd.getrandbits(128))
        net = ipaddress.ip_network(f"{base}/{plen}", strict=False)
        got = sorted(
            r["event_id"] for r in eql_search(
                df, f"a where cidrMatch(ip, '{net}')").collect())
        want = sorted(
            i for i, s in addrs
            if ipaddress.IPv6Address(s) in net)
        assert got == want, (str(net), got, want)
