"""Percolate — Elasticsearch's REVERSE search (the ``percolate`` query):
instead of one query over many stored documents, many STORED queries are
matched against incoming documents. The ES use case is alerting/routing:
users register saved searches; every new document reports which saved
searches it satisfies.

Spark-first shape: stored queries are Query trees (plans/search.py — built
directly or compiled from their ES-JSON artifacts via ``from_es_json``),
and percolation is ONE document scan with one boolean Column per stored
query, folded into an array-of-matched-ids projection that explodes to the
(doc, query) match relation:

    array_compact(array(
        when(pred_q1, 'q1'), when(pred_q2, 'q2'), ...)) -> explode

Every predicate is the same codegen'd expression the forward search path
compiles — zero new matching machinery — and the whole operator is
scan-shaped: no shuffle, no join, no state; matches stream out of the
projection. That also makes it Structured-Streaming-safe as-is (a
stateless select/explode), so the same function percolates a readStream
micro-batch — ES's "alert on new documents" deployment — without a
separate implementation.

Scale design (100 TB corpus, thousands of stored queries):

* Work is (docs x queries) predicate evaluations riding ONE scan —
  embarrassingly parallel, linear in both factors, no data motion, for
  ANY number of stored queries (the match arrays concatenate into a
  single projection; there is no per-batch union, which would re-scan
  the corpus once per batch). ``batch_size`` only bounds each array
  expression's width; an over-wide total projection degrades to Spark's
  interpreted projection, still one scan.
* ES's percolator prunes candidates with a term PRE-index over the stored
  queries (a query matching "spark" can only fire on docs containing
  "spark"). The expression-level analogue available here: wrap a stored
  query as ``Bool(filter=[Match(field, required_terms)], must=[q])`` so
  the cheap ``arrays_overlap`` gate leads the conjunction — sound only
  when the caller KNOWS the terms are required (must/filter positions),
  which is a per-query-semantics judgement, so it is left to the caller
  rather than inferred: a wrong automatic gate would silently drop
  matches for must_not/range/exists shapes.

Reference parity note: the reference workload (src/main.py) has no
percolation — this is part of the beyond-reference ES surface ("what a user
of Elasticsearch runs"), with full SQL oracles like every
other operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tweets_elastic_spark.plans.search import Query, from_es_json


def percolate(
    docs: DataFrame,
    stored: list[tuple[str, Query]],
    *,
    id_col: str = "doc_id",
    out_col: str = "query_id",
    batch_size: int = 64,
) -> DataFrame:
    """Match every document against every stored query in one scan.

    Returns the match relation (id_col, out_col) — one row per (document,
    stored query) pair whose predicate holds. Documents matching nothing
    produce no rows (ES's percolator contract); stored-query ids must be
    unique.
    """
    if not stored:
        raise ValueError("percolate needs at least one stored query")
    ids = [qid for qid, _ in stored]
    if len(set(ids)) != len(ids):
        dupes = sorted({q for q in ids if ids.count(q) > 1})
        raise ValueError(f"duplicate stored-query ids: {dupes}")
    spark = docs.sparkSession

    # One matched-ids array per batch_size stored queries, all arrays
    # concatenated and exploded in a SINGLE projection over a SINGLE scan
    # — never a union of per-batch re-scans (Spark does not dedupe file
    # scans across union branches; 1000 queries must not cost 16 reads of
    # a 100 TB corpus). batch_size only bounds each array expression's
    # width, keeping individual expression trees shallow; if the total
    # projection outgrows whole-stage codegen's method limit Spark falls
    # back to interpreted projection for the operator, which is still one
    # scan.
    arrays = []
    for i in range(0, len(stored), batch_size):
        batch = stored[i:i + batch_size]
        arrays.append(F.array_compact(F.array(*[
            F.when(q.predicate(spark), F.lit(qid))
            for qid, q in batch
        ])))
    hits = arrays[0] if len(arrays) == 1 else F.concat(*arrays)
    return docs.select(F.col(id_col), F.explode(hits).alias(out_col))


def percolate_from_json(
    docs: DataFrame,
    artifacts: dict[str, dict],
    *,
    id_col: str = "doc_id",
    out_col: str = "query_id",
    analyzers: dict[str, str] | None = None,
    tokens_cols: dict[str, str] | None = None,
    nested_paths: frozenset[str] = frozenset(),
    batch_size: int = 64,
) -> DataFrame:
    """Percolate a dict of {query_id: ES-JSON query body} — the wire shape
    a percolator index stores. Each artifact compiles through the same
    ``from_es_json`` front-end as forward search."""
    stored = [
        (qid, from_es_json(
            body, analyzers=analyzers, tokens_cols=tokens_cols,
            nested_paths=nested_paths,
        ))
        for qid, body in artifacts.items()
    ]
    return percolate(
        docs, stored, id_col=id_col, out_col=out_col, batch_size=batch_size
    )
