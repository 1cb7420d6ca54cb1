"""Generative fuzz for the KQL parser: random well-formed KQL strings
(every supported construct, bounded nesting) must parse AND analyze
against a real schema; malformed / unsupported syntax must raise
QueryStringSyntaxError (the loud contract), never an arbitrary crash."""

from __future__ import annotations

import random

import pytest

from tweets_elastic_spark.plans.query_string import (
    QueryStringSyntaxError,
    parse_kql,
)


def _clause(rng: random.Random, depth: int) -> str:
    if depth > 0 and rng.random() < 0.35:
        inner = _bool(rng, depth - 1)
        if rng.random() < 0.3:
            return f"not ({inner})"
        return f"({inner})"
    field = rng.choice(["lang", "source", "text"])
    kind = rng.randrange(6)
    if kind == 0:
        return f"{field}:{rng.choice(['en', 'de', 'src1', 'spark'])}"
    if kind == 1:
        return f'{field}:"{rng.choice(["spark merge", "a b"])}"'
    if kind == 2:
        return f"{field}:{rng.choice(['s', 'src'])}*"
    if kind == 3:
        return f"{field}:*"
    if kind == 4:
        return f"n_chars {rng.choice(['>', '>=', '<', '<='])} " \
               f"{rng.randint(0, 500)}"
    return f"not {field}:{rng.choice(['en', 'x'])}"


def _bool(rng: random.Random, depth: int) -> str:
    parts = [_clause(rng, depth)]
    for _ in range(rng.randrange(3)):
        parts.append(rng.choice(["and", "or"]))
        parts.append(_clause(rng, depth))
    return " ".join(parts)


@pytest.mark.parametrize("seed", range(40))
def test_random_kql_parses_and_analyzes(spark, seed):
    rng = random.Random(seed)
    df = spark.createDataFrame(
        [(1, "spark merge fast", "en", "src1", 120),
         (2, "other words", "de", "src2", 300)],
        "doc_id long, text string, lang string, source string, "
        "n_chars int",
    )
    q = parse_kql(_bool(rng, 2), analyzers={"text": "standard"})
    pred = q.predicate(spark)
    # analysis against the real schema resolves every column/type
    assert df.filter(pred).schema is not None


@pytest.mark.parametrize("bad", [
    "a:{ b:1 }",                 # nested-object syntax
    "lang:en lang:de",           # adjacent clauses, no operator
    "loose",                     # bare term, no default field
    "lang:",                     # field with no value
    "and lang:en",               # dangling leading operator
    "lang:en and",               # dangling trailing operator
    "(lang:en",                  # unbalanced paren
    "n_chars >",                 # comparison with no literal
])
def test_malformed_kql_raises_syntax_error(bad):
    with pytest.raises(QueryStringSyntaxError):
        parse_kql(bad)
