"""Every kind of every key table refuses a key it does not honour: a
``bogus`` key sent to each query clause, aggregation, retriever,
``_rank_eval`` metric, composite source, sort and request envelope
raises ``ValueError`` naming the key and the surface, before any reader
or Spark job sees the request."""

from __future__ import annotations

import importlib

import pytest

from tweets_elastic_spark.plans.aggs import es_aggregate, es_request
from tweets_elastic_spark.plans.api import es_rank_eval
from tweets_elastic_spark.plans.search import es_retriever, from_es_json

# the modules (the package re-exports a function named ``search``)
aggs, api, search = (importlib.import_module(f"tweets_elastic_spark.plans.{m}")
                     for m in ("aggs", "api", "search"))

BOGUS = {"bogus": 1}


def _refused(surface: str):
    return pytest.raises(ValueError, match=rf"unsupported {surface} keys: \['bogus'\]")


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame([(1, "a")], "id long, f string")


@pytest.mark.parametrize("kind", sorted(search._QUERY_KEYS))
def test_query_clause(kind):
    with _refused(kind):
        from_es_json({"query": {kind: BOGUS}})


@pytest.mark.parametrize("kind", sorted(search._FIELD_QUERY_KEYS))
def test_field_query_clause(kind):
    with _refused(kind):
        from_es_json({"query": {kind: {"f": BOGUS}}})


@pytest.mark.parametrize("kind", sorted(aggs._AGG_KEYS))
def test_aggregation(df, kind):
    with _refused(kind):
        es_aggregate(df, {"a": {kind: BOGUS}})
    # and as a sub-aggregation
    with _refused(kind):
        es_aggregate(df, {"t": {"terms": {"field": "f"}, "aggs": {"a": {kind: BOGUS}}}})


@pytest.mark.parametrize("kind", sorted(aggs._COMPOSITE_SOURCE_KEYS))
def test_composite_source(df, kind):
    with _refused(f"composite {kind}"):
        es_aggregate(df, {"c": {"composite": {"sources": [
            {"s": {kind: {"field": "f", **BOGUS}}}]}}})


@pytest.mark.parametrize("kind", sorted(search._RETRIEVER_KEYS))
def test_retriever(df, kind):
    with _refused(f"{kind} retriever"):
        es_retriever(df, {kind: BOGUS}, id_col="id")


@pytest.mark.parametrize("request_", [
    {"query": {"match_all": {}}},
    {"retriever": {"standard": {"query": {"match_all": {}}}}},
], ids=["hits", "retriever"])
def test_envelope(df, request_):
    with _refused("envelope"):
        es_request(df, {**request_, **BOGUS}, tiebreak="id")


def test_sort(df):
    with _refused("sort"):
        es_request(df, {"query": {"match_all": {}},
                        "sort": [{"f": {"order": "asc", **BOGUS}}]})


@pytest.mark.parametrize("kind", sorted(api._RANK_EVAL_KEYS))
def test_rank_eval_metric(df, kind):
    with _refused(kind):
        es_rank_eval(df, {"requests": [{"id": "q", "request": {
            "query": {"match_all": {}}}, "ratings": []}], "metric": {kind: BOGUS}},
            id_col="id")


@pytest.mark.parametrize("kind", sorted(search._FIELD_QUERY_KEYS))
def test_field_query_clause_empty_spec(kind):
    """An empty object spec compiles or raises a ``ValueError`` naming the
    clause and every key of its ``_FIELD_QUERY_REQUIRED`` row, never a bare
    ``KeyError``; a ``span_term`` is also read nested in another span."""
    nodes = [{kind: {"f": {}}}]
    if kind == "span_term":
        nodes.append({"span_first": {"match": nodes[0], "end": 1}})
    for node in nodes:
        try:
            from_es_json({"query": node})
            error = ""
        except ValueError as e:
            error = str(e)
            assert kind in error
        for key in search._FIELD_QUERY_REQUIRED.get(kind, ()):
            assert repr(key) in error
