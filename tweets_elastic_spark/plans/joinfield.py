"""ES parent-join queries (``has_child`` / ``has_parent`` / ``parent_id``)
re-expressed relationally.

ES's join field emulates a parent/child relation INSIDE one index (parents
and children are co-located documents and these queries run a doc-values
join per shard). In a columnar engine the relation is already relational:
parents and children are two tables sharing a key. So the natural Spark
plan IS the semantics — a pre-aggregated child-side filter joined on the
key — and the ES surface maps onto it:

* ``has_child``  → parents having >= min_children (<= max_children)
  children matching a child query; ``score_mode`` folds matching-child
  scores (none|sum|max|min|avg) onto the parent.
* ``has_parent`` → children whose parent matches a parent query;
  ``score=True`` copies the parent's score onto each child (ES's contract).
* ``parent_id``  → children of one parent (a key point-lookup).

Scale shape: the child side aggregates BEFORE the join (map-side partial
count/score fold, one shuffle on the key), so the join carries one row per
qualifying parent key, never the child fan-out. Both joins key on the same
column, so AQE reuses co-partitioning; a dimension-sized parent side
broadcast-joins automatically. ES runs the same join per shard against
doc-values — this is the distributed generalization.

Child queries accept either a compiled :class:`~.search.Query` node or ES
query-DSL JSON (compiled via ``from_es_json``), same as the search surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tweets_elastic_spark.plans.aggs import _metric_cols
from tweets_elastic_spark.plans.search import (
    MatchAll,
    Query,
    from_es_json,
)

__all__ = ["has_child", "has_parent", "parent_id", "children_agg",
           "parent_agg"]

_SCORE_MODES = {
    "none": None, "sum": F.sum, "max": F.max, "min": F.min, "avg": F.avg,
}


def _compile(query, id_field: str) -> Query:
    if query is None:
        return MatchAll()
    if isinstance(query, Query):
        return query
    return from_es_json(query, id_field=id_field)


def has_child(
    parents: DataFrame,
    children: DataFrame,
    *,
    parent_key: str,
    child_key: str,
    query: Query | dict | None = None,
    score_mode: str = "none",
    min_children: int = 1,
    max_children: int | None = None,
    score_col: str = "score",
    id_field: str = "doc_id",
) -> DataFrame:
    """Parents having matching children. With ``score_mode='none'`` this is
    a pure existence/count filter (no score column added); other modes add
    ``score_col`` = the fold of matching-child scores."""
    if score_mode not in _SCORE_MODES:
        raise ValueError(
            f"unsupported has_child score_mode {score_mode!r} "
            f"(one of {sorted(_SCORE_MODES)})"
        )
    if min_children < 1 and max_children is None and score_mode == "none":
        raise ValueError("has_child with min_children<1 and no max/score "
                         "is match_all on the parent side — refuse loudly")
    q = _compile(query, id_field)
    spark = children.sparkSession
    matched = children.filter(q.predicate(spark))
    aggs = [F.count(F.lit(1)).alias("__n_children")]
    fold = _SCORE_MODES[score_mode]
    if fold is not None:
        aggs.append(
            fold(q.score(spark)).cast("double").alias(score_col)
        )
    per_parent = matched.groupBy(F.col(child_key).alias("__ck")).agg(*aggs)
    cond: Column = F.col("__n_children") >= F.lit(min_children)
    if max_children is not None:
        cond = cond & (F.col("__n_children") <= F.lit(max_children))
    per_parent = per_parent.filter(cond)
    joined = parents.join(
        per_parent, on=parents[parent_key] == per_parent["__ck"], how="inner"
    )
    drop = ["__ck", "__n_children"]
    return joined.drop(*drop)


def has_parent(
    children: DataFrame,
    parents: DataFrame,
    *,
    parent_key: str,
    child_key: str,
    query: Query | dict | None = None,
    score: bool = False,
    score_col: str = "score",
    id_field: str = "doc_id",
) -> DataFrame:
    """Children whose parent matches. ``score=False`` (ES's default) is a
    semi join — nothing but the child columns move; ``score=True`` copies
    the matching parent's score onto each child (ES's contract)."""
    q = _compile(query, id_field)
    spark = parents.sparkSession
    matched = parents.filter(q.predicate(spark))
    if not score:
        return children.join(
            matched.select(F.col(parent_key).alias("__pk")),
            on=children[child_key] == F.col("__pk"),
            how="leftsemi",
        )
    keyed = matched.select(
        F.col(parent_key).alias("__pk"),
        q.score(spark).cast("double").alias(score_col),
    )
    return (
        children.join(keyed, on=children[child_key] == F.col("__pk"),
                      how="inner")
        .drop("__pk")
    )


def parent_id(
    children: DataFrame, *, child_key: str, parent: object
) -> DataFrame:
    """ES ``parent_id`` query: the children of one parent — a key
    point-lookup that rides the scan (parquet pushdown)."""
    return children.filter(F.col(child_key) == F.lit(parent))


def children_agg(
    parents: DataFrame,
    children: DataFrame,
    *,
    parent_key: str,
    child_key: str,
    group_by: str,
    aggs: dict,
) -> DataFrame:
    """ES ``children`` aggregation: bucket PARENTS by one of their fields,
    evaluate metric sub-aggs over each bucket's CHILDREN. In the join-field
    index ES hops parent→child per shard; relationally it is one projection
    join — the parent's (key, bucket attribute) pair joins onto the
    children (broadcast when the parent projection is dimension-sized) and
    one groupBy evaluates every metric. ``aggs`` uses the ordinary metric
    DSL ({name: {kind: {field: ...}}}); doc_count counts CHILDREN, ES's
    contract for the children agg."""
    keyed_parents = parents.select(
        F.col(parent_key).alias("__pk"), F.col(group_by)
    ).filter(F.col(group_by).isNotNull())
    joined = children.join(
        keyed_parents, children[child_key] == F.col("__pk"), "inner"
    )
    return joined.groupBy(group_by).agg(
        F.count(F.lit(1)).alias("doc_count"), *_metric_cols(aggs)
    )


def parent_agg(
    parents: DataFrame,
    children: DataFrame,
    *,
    parent_key: str,
    child_key: str,
    group_by: str,
    aggs: dict,
) -> DataFrame:
    """ES ``parent`` aggregation — the children agg's inverse: bucket
    CHILDREN by one of their fields, evaluate metric sub-aggs over each
    bucket's PARENTS. ES's contract counts each parent ONCE per bucket
    no matter how many of its children land there (the per-shard
    child→parent hop dedups on the join field), so the plan dedups the
    (bucket, parent key) pairs BEFORE joining the parent payload: one
    child-side projection + distinct, a join that moves only qualifying
    parent keys (broadcast when dimension-sized), one groupBy.
    ``doc_count`` counts PARENTS; ``aggs`` metrics evaluate over the
    deduped parent rows."""
    pairs = (
        children.select(
            F.col(group_by), F.col(child_key).alias("__pk")
        )
        .filter(F.col(group_by).isNotNull() & F.col("__pk").isNotNull())
        .distinct()
    )
    joined = pairs.join(
        parents, pairs["__pk"] == parents[parent_key], "inner"
    )
    return joined.groupBy(group_by).agg(
        F.count(F.lit(1)).alias("doc_count"), *_metric_cols(aggs)
    )
