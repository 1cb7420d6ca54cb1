"""Generative fuzz for the from_es_json compiler: random well-formed DSL
trees (bounded depth, every supported leaf/compound family) must compile
without crashing AND analyze against a real schema — predicates and
scores both — so no random composition of supported clauses can produce
an unresolvable or type-broken plan. Malformed shapes must fail with
ValueError (the compiler's loud contract), never an arbitrary crash."""

from __future__ import annotations

import random

import pytest


from tweets_elastic_spark.plans.search import from_es_json


def _leaf(rng: random.Random) -> dict:
    field = rng.choice(["lang", "source"])
    choices = [
        lambda: {"term": {field: rng.choice(["en", "de", "src1"])}},
        lambda: {"terms": {field: ["en", "de"]}},
        lambda: {"match": {"text": {"query": rng.choice(
            ["spark merge", "fast rows", "x"]),
            "operator": rng.choice(["or", "and"])}}},
        lambda: {"match_phrase": {"text": {
            "query": rng.choice(["spark merge", "a b a"]),
            "slop": rng.randint(0, 3)}}},
        lambda: {"range": {"n_chars": {rng.choice(["gt", "gte", "lt"]):
                                       rng.randint(0, 500)}}},
        lambda: {"exists": {"field": rng.choice(["text", "lang"])}},
        lambda: {"prefix": {field: "s"}},
        lambda: {"wildcard": {field: "s*1"}},
        lambda: {"fuzzy": {field: {"value": "sparc", "fuzziness": 1}}},
        lambda: {"ids": {"values": [1, 2, 3]}},
        lambda: {"match_all": {}},
        lambda: {"terms_set": {"tags": {   # multi-valued field, ES's contract
            "terms": ["en", "de"], "minimum_should_match": 1}}},
        lambda: {"multi_match": {"query": "spark", "fields":
                 ["text", "source^2"],
                 "type": rng.choice(["best_fields", "most_fields"])}},
    ]
    return rng.choice(choices)()


def _tree(rng: random.Random, depth: int) -> dict:
    if depth <= 0 or rng.random() < 0.4:
        return _leaf(rng)
    kind = rng.choice(["bool", "dis_max", "constant_score", "boosting",
                       "function_score", "script_score"])
    if kind == "bool":
        body: dict = {}
        for occ in ("must", "filter", "should", "must_not"):
            n = rng.randint(0, 2)
            if n:
                body[occ] = [_tree(rng, depth - 1) for _ in range(n)]
        if not body:
            body["must"] = [_leaf(rng)]
        return {"bool": body}
    if kind == "dis_max":
        return {"dis_max": {"queries": [
            _tree(rng, depth - 1) for _ in range(rng.randint(1, 3))],
            "tie_breaker": rng.choice([0.0, 0.3])}}
    if kind == "constant_score":
        return {"constant_score": {"filter": _tree(rng, depth - 1),
                                   "boost": 2.0}}
    if kind == "boosting":
        return {"boosting": {"positive": _tree(rng, depth - 1),
                             "negative": _leaf(rng),
                             "negative_boost": 0.4}}
    if kind == "function_score":
        return {"function_score": {
            "query": _tree(rng, depth - 1),
            "functions": [{"field_value_factor": {
                "field": "n_chars", "factor": 0.1, "modifier": "log1p",
                "missing": 1.0}}],
        }}
    return {"script_score": {"query": _tree(rng, depth - 1),
                             "script": {"source":
                                        "_score + params.w * doc['n_chars'].value",
                                        "params": {"w": 0.5}}}}


@pytest.mark.parametrize("seed", range(40))
def test_random_supported_trees_compile_and_analyze(spark, seed):
    rng = random.Random(seed)
    df = spark.createDataFrame(
        [(1, "spark merge fast", "en", "src1", 120, ["en", "x"]),
         (2, "other words", "de", "src2", 300, ["de"])],
        "doc_id long, text string, lang string, source string, "
        "n_chars int, tags array<string>",
    )
    dsl = {"query": _tree(rng, 3)}
    q = from_es_json(dsl, analyzers={"text": "standard"})
    pred = q.predicate(spark)
    score = q.score(spark)
    # analysis against the real schema resolves every column/type; an
    # unresolvable or type-broken expression raises here
    plan = df.filter(pred).withColumn("s", score)
    assert len(plan.schema.fields) == 7


@pytest.mark.parametrize("bad", [
    {"query": {"unknown_clause": {"x": 1}}},
    {"query": {"bool": {"shoulds": []}}},
    {"query": {"dis_max": {"queries": []}}},
    {"query": {"multi_match": {"query": "x", "fields": [],
                               }}},
    {"query": {"range": {"n_chars": {"between": 3}}}},
    {"query": {"match": {"text": {"query": "x", "fuzz": 1}}}},
    {"query": {"function_score": {"query": {"match_all": {}},
                                  "functions": [{"mystery": {}}]}}},
    {"query": {"script_score": {"query": {"match_all": {}},
                                "script": {"source": "_score",
                                           "params": {"w": "high"}}}}},
])
def test_malformed_shapes_raise_value_error(bad):
    with pytest.raises(ValueError):
        from_es_json(bad, analyzers={"text": "standard"})
