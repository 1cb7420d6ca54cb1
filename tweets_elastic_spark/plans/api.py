"""Small ES REST-API surface beyond `_search`: `_count`, `_msearch`,
`_field_caps`, `_termvectors`, `_rank_eval`, `_mget` — the operational
endpoints a reference user calls around their queries. Each is a thin,
declarative wrapper over the existing query/aggs machinery (nothing new
executes; these exist so the MIGRATION map covers the whole client
surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

from tweets_elastic_spark.functions.analyzers import analyze
from tweets_elastic_spark.plans.aggs import es_request
from tweets_elastic_spark.plans.search import (
    check_keys,
    from_es_json,
    search,
)
from tweets_elastic_spark.plans.templates import render_search_template


def es_count(
    df: DataFrame,
    request: dict | None = None,
    **compile_opts,
) -> DataFrame:
    """ES ``_count``: matching-document count for a query (match_all when
    absent). Returns a 1-row (count BIGINT) relation — an aggregate the
    scan feeds directly (count(*) over the pushed-down predicate), never
    a collect. ``compile_opts`` pass through to from_es_json
    (analyzers/tokens_cols/nested_paths)."""
    body = (request or {}).get("query")
    if body is not None:
        q = from_es_json({"query": body}, **compile_opts)
        df = df.filter(q.predicate(df.sparkSession))
    return df.agg(F.count(F.lit(1)).alias("count"))


def es_msearch(
    df: DataFrame,
    requests: list[dict],
    *,
    tiebreak: str | None = None,
    **compile_opts,
) -> list[DataFrame]:
    """ES ``_msearch``: a batch of search requests over one index. Returns
    one result DataFrame per request, in order — each compiled through
    the full es_request envelope (query/sort/size/aggs/...). The batch is
    DECLARATIVE: nothing executes here; callers that want the answers
    concurrently simply trigger the returned frames' actions from
    concurrent driver threads (Spark's scheduler interleaves the jobs —
    the scatter half of ES's msearch fan-out)."""
    if not isinstance(requests, list) or not requests:
        raise ValueError("_msearch needs a non-empty list of requests")
    return [
        es_request(df, r, tiebreak=tiebreak, **compile_opts)
        for r in requests
    ]


def es_msearch_template(
    df: DataFrame,
    entries: list[tuple],
    *,
    tiebreak: str | None = None,
    **compile_opts,
) -> list[DataFrame]:
    """ES ``_msearch/template``: a batch of (template source, params)
    pairs — each rendered through the mustache subset and executed as an
    ordinary msearch entry. Declarative like es_msearch."""
    if not isinstance(entries, list) or not entries:
        raise ValueError("_msearch/template needs a non-empty list of "
                         "(source, params) pairs")
    rendered = [render_search_template(src, params)
                for src, params in entries]
    return es_msearch(df, rendered, tiebreak=tiebreak, **compile_opts)


def es_validate_query(query_dsl: dict, **compile_opts) -> tuple[bool, str]:
    """ES ``_validate/query``: compile-only check. Returns (valid,
    explanation) — the explanation is the compiled Query tree's repr on
    success (ES's rewritten-query explanation analogue) or the compile
    error. Nothing executes; compilation IS the validation in a
    plan-compiled engine."""
    try:
        tree = from_es_json(query_dsl, **compile_opts)
    except (ValueError, KeyError, TypeError) as e:
        return False, str(e)
    return True, repr(tree)


def es_field_caps(df: DataFrame) -> DataFrame:
    """ES ``_field_caps``: per-field capability metadata. Here the index
    schema IS the DataFrame schema, so capabilities derive from the Spark
    type: every field is searchable+aggregatable (columnar storage has no
    unindexed fields — a strictly-stronger capability surface than ES,
    where only indexed/doc_values fields qualify). Nested struct/array
    fields are reported with dotted paths, like ES's response."""
    rows = []

    def walk(prefix: str, dtype) -> None:
        if isinstance(dtype, StructType):
            for f in dtype.fields:
                walk(f"{prefix}.{f.name}" if prefix else f.name, f.dataType)
        elif isinstance(dtype, ArrayType):
            walk(prefix, dtype.elementType)
        else:
            rows.append((prefix, dtype.simpleString(), True, True))

    walk("", df.schema)
    return df.sparkSession.createDataFrame(
        rows, "field string, type string, searchable boolean, "
              "aggregatable boolean",
    )


def es_termvectors(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "standard",
    tokens_col: str | None = None,
    with_positions: bool = True,
) -> DataFrame:
    """ES ``_termvectors``: per-document term statistics — term frequency
    and (optionally) the positions list — the API behind keyword
    extraction and relevance debugging. One explode+groupBy over the
    analyzed tokens (or the MATERIALIZED token column when the index
    already carries it — then the analyzer never re-runs); positions
    aggregate as a sorted int list, ES's response shape flattened to one
    row per (doc, term)."""
    toks = (
        F.col(tokens_col) if tokens_col is not None
        else analyze(F.col(text_col), analyzer)
    )
    pos = df.select(
        F.col(id_col),
        F.posexplode(toks).alias("position", "term"),
    )
    aggs = [F.count(F.lit(1)).alias("term_freq")]
    if with_positions:
        aggs.append(F.array_sort(F.collect_list("position")).alias("positions"))
    return pos.groupBy(id_col, "term").agg(*aggs)


def es_analyze(spark, text: str, *, analyzer: str = "standard") -> DataFrame:
    """ES ``_analyze``: run a named analyzer chain over one text and
    return the token stream — the debugging endpoint behind every
    mapping decision. Response rows are (token, position); character
    start/end offsets are not reported (the composed chains here
    transform the token stream — folding/stemming — without tracking
    source offsets; a documented divergence from ES's response)."""
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(
        F.posexplode(analyze(F.col("text"), analyzer))
        .alias("position", "token")
    ).select("token", F.col("position").cast("int").alias("position"))


def es_terms_enum(
    df: DataFrame,
    field: str,
    *,
    string: str = "",
    size: int = 10,
    case_insensitive: bool = False,
    search_after: str | None = None,
) -> DataFrame:
    """ES ``_terms_enum``: the first ``size`` distinct values of a keyword
    field that start with ``string``, in ascending order — the index
    autocomplete surface. ``search_after`` resumes AFTER a previous
    page's last term (keyset pagination, the same contract as search's
    search_after). Compiles to prefix-filter → distinct → TakeOrdered:
    the filter rides the scan (startswith pushes down), the distinct is
    one hash aggregation over qualifying terms only, and at index scale
    the stored term dictionary answers it without touching documents.
    ``case_insensitive`` lowercases both sides for matching but returns
    the STORED term (ES's behavior)."""
    if size <= 0:
        raise ValueError("_terms_enum size must be > 0")
    c = F.col(field)
    out = df.filter(c.isNotNull())
    if string:
        matchee = F.lower(c) if case_insensitive else c
        needle = string.lower() if case_insensitive else string
        out = out.filter(matchee.startswith(F.lit(needle)))
    if search_after is not None:
        out = out.filter(c > F.lit(search_after))
    return (
        out.select(c.alias("term")).distinct()
        .orderBy(F.col("term").asc())
        .limit(size)
    )


def es_mget(
    df: DataFrame,
    ids: list,
    *,
    id_col: str = "doc_id",
    source: list[str] | None = None,
) -> DataFrame:
    """ES ``_mget``: point lookups for a batch of ids. Response contract
    matches ES: one row per REQUESTED id in request order (``ord``),
    duplicates allowed, missing ids kept with ``found = false`` and NULL
    source fields. ``source`` filters the returned columns (``_source``
    includes).

    Scale shape: ONE corpus scan and two broadcast joins. The hits
    relation (corpus ⋈ broadcast id batch) is at most ids-sized, so it
    broadcasts back as the RIGHT side of the left join that preserves
    every requested id — the build side Spark allows for a left-outer
    join. No anti join, no second scan, no shuffle of corpus rows."""
    if not ids:
        raise ValueError("_mget needs a non-empty ids list")
    spark = df.sparkSession
    req = spark.createDataFrame(
        [(i, v) for i, v in enumerate(ids)], "ord long, _id long"
    )
    cols = source if source is not None else [
        c for c in df.columns if c != id_col
    ]
    missing_in_df = [c for c in cols if c not in df.columns]
    if missing_in_df:
        raise ValueError(f"_mget _source fields not in index: {missing_in_df}")
    right = df.select(F.col(id_col).cast("long").alias("_id"), *cols)
    hits = right.join(
        F.broadcast(req.select("_id").distinct()), "_id"
    ).withColumn("__found", F.lit(True))
    out = req.join(F.broadcast(hits), "_id", "left")
    return out.select(
        "ord", "_id",
        F.coalesce(F.col("__found"), F.lit(False)).alias("found"),
        *cols,
    ).orderBy("ord")


# The keys each _rank_eval metric honours.
_RANK_EVAL_KEYS = {
    "precision": {"k", "relevant_rating_threshold"},
    "recall": {"k", "relevant_rating_threshold"},
    "mean_reciprocal_rank": {"k", "relevant_rating_threshold"},
    "dcg": {"k", "normalize"},
    "expected_reciprocal_rank": {"k", "maximum_relevance"},
}


def es_rank_eval(
    df: DataFrame,
    body: dict,
    *,
    id_col: str = "doc_id",
    **compile_opts,
) -> DataFrame:
    """ES ``_rank_eval``: evaluate ranked search quality against human
    relevance judgments — the API behind search-tuning and (here) the
    retrieval-evaluation stage of a training-data pipeline.

    ``body`` follows ES's request shape::

        {"requests": [{"id": "q1",
                       "request": {"query": {...}},   # any DSL query
                       "ratings": [{"_id": 7, "rating": 2}, ...]}, ...],
         "metric": {"precision": {"k": 10, "relevant_rating_threshold": 1}}}

    Metrics (one per request row, ES's definitions):

    * ``precision``: relevant-retrieved / retrieved within top-k
      (unrated documents count as irrelevant, ES's default).
    * ``recall``: relevant-retrieved / total-relevant-judged.
    * ``mean_reciprocal_rank``: 1/rank of the first relevant hit in
      top-k, 0.0 when none.
    * ``dcg``: Σ (2^rating − 1)/log2(rank+1) over rated hits in top-k;
      ``normalize: true`` divides by the ideal DCG from the judgment
      list (NDCG), 0.0 when no judged document has positive gain.
    * ``expected_reciprocal_rank``: the cascade-model ERR —
      Σ (1/r)·R_r·Π_{i<r}(1−R_i) with R = (2^rating−1)/2^max_relevance;
      unrated hits have R=0 (contribute nothing, survive the cascade),
      so only rated hits fold, in rank order, per request.

    Scale shape: each request's leg is an already-truncated top-k
    (TakeOrderedAndProject through the same ``search`` plan every query
    uses — never an untruncated corpus relation), the rank window then
    runs over k-sized legs, and the judgment list (human-sized by
    construction) broadcasts into the join. Returns one row per request
    (``request_id``, ``metric_score`` rounded at 6 dp) ordered by id;
    the overall ES ``metric_score`` is the caller's avg over the
    relation."""
    requests = body.get("requests")
    if not isinstance(requests, list) or not requests:
        raise ValueError("_rank_eval needs a non-empty 'requests' list")
    (mkind, mbody), = (body.get("metric") or {"precision": {}}).items()
    mbody = mbody or {}
    if mkind not in _RANK_EVAL_KEYS:
        raise ValueError(
            f"unsupported rank_eval metric {mkind!r} "
            f"(supported: {sorted(_RANK_EVAL_KEYS)})"
        )
    check_keys(mbody, _RANK_EVAL_KEYS[mkind], mkind)
    k = int(mbody.get("k", 10))
    threshold = int(mbody.get("relevant_rating_threshold", 1))
    spark = df.sparkSession

    legs = []
    rating_rows = []
    for req in requests:
        rid = req["id"]
        ratings = req.get("ratings", [])
        seen_rated = set()
        for r in ratings:
            # A duplicate (request, _id) rating would fan out the hit join
            # below and double-count DCG gains / relevant-retrieved counts;
            # ES treats the ratings list as a set keyed by _id.
            if r["_id"] in seen_rated:
                raise ValueError(
                    f"duplicate rating for _id {r['_id']!r} in request "
                    f"{rid!r}"
                )
            seen_rated.add(r["_id"])
            rating_rows.append((rid, r["_id"], int(r["rating"])))
        q = from_es_json(req["request"], **compile_opts)
        leg = search(df, q, k=k, tiebreak=id_col).select(
            F.lit(rid).alias("request_id"),
            F.col(id_col).alias("_doc"),
            F.col("score"),
        )
        legs.append(leg)
    hits = legs[0]
    for leg in legs[1:]:
        hits = hits.unionByName(leg)
    w = Window.partitionBy("request_id").orderBy(
        F.col("score").desc(), F.col("_doc").asc()
    )
    hits = hits.withColumn("rank", F.row_number().over(w))
    # the judged-doc column must join against whatever type id_col is
    # (long doc_ids here; string _ids in ES) — derive it from the corpus
    id_type = dict(df.dtypes)[id_col]
    judged = spark.createDataFrame(
        rating_rows or [(None, None, None)],
        f"request_id string, _doc {id_type}, rating int",
    ).filter(F.col("request_id").isNotNull())
    rated_hits = hits.join(
        F.broadcast(judged), ["request_id", "_doc"], "left"
    )
    ids = spark.createDataFrame(
        [(r["id"],) for r in requests], "request_id string"
    )
    if mkind in ("precision", "recall", "mean_reciprocal_rank"):
        rel = F.col("rating") >= threshold
        per = rated_hits.groupBy("request_id").agg(
            F.sum(F.when(rel, 1).otherwise(0)).alias("_rel_ret"),
            F.count(F.lit(1)).alias("_ret"),
            F.min(F.when(rel, F.col("rank"))).alias("_first_rel"),
        )
        if mkind == "precision":
            score = F.col("_rel_ret") / F.col("_ret")
        elif mkind == "recall":
            totals = judged.filter(F.col("rating") >= threshold) \
                .groupBy("request_id") \
                .agg(F.count(F.lit(1)).alias("_rel_total"))
            per = per.join(F.broadcast(totals), "request_id", "left")
            score = F.when(
                F.col("_rel_total") > 0,
                F.col("_rel_ret") / F.col("_rel_total"),
            ).otherwise(F.lit(0.0))
        else:
            score = F.coalesce(1.0 / F.col("_first_rel"), F.lit(0.0))
    elif mkind == "expected_reciprocal_rank":
        # ES ERR (Chapelle et al. 2009 cascade model):
        #   ERR = Σ_r (1/r) · R_r · Π_{i<r}(1 − R_i),
        #   R = (2^rating − 1) / 2^maximum_relevance, unrated R = 0.
        # Unrated ranks contribute 0 and multiply the survival product by
        # 1, so only RATED hits matter — fold them in rank order with one
        # bounded array aggregate per request (legs are k-sized).
        if "maximum_relevance" not in mbody:
            raise ValueError(
                "expected_reciprocal_rank needs 'maximum_relevance'"
            )
        gmax = int(mbody["maximum_relevance"])
        rr = (F.pow(F.lit(2.0), F.col("rating")) - 1.0) / float(2 ** gmax)
        rated = (
            rated_hits.filter(F.col("rating").isNotNull())
            .groupBy("request_id")
            .agg(F.sort_array(F.collect_list(
                F.struct(F.col("rank").alias("rank"), rr.alias("r"))
            )).alias("_steps"))
        )
        fold = F.aggregate(
            F.col("_steps"),
            F.struct(F.lit(0.0).alias("err"), F.lit(1.0).alias("prod")),
            lambda acc, s: F.struct(
                (acc["err"] + s["r"] / s["rank"] * acc["prod"]).alias("err"),
                (acc["prod"] * (1.0 - s["r"])).alias("prod"),
            ),
        )["err"]
        per = rated.select("request_id", fold.alias("_err"))
        score = F.coalesce(F.col("_err"), F.lit(0.0))
    else:
        gain = (F.pow(F.lit(2.0), F.col("rating")) - 1.0) / F.log2(
            F.col("rank") + 1.0
        )
        per = rated_hits.groupBy("request_id").agg(
            F.sum(F.when(F.col("rating").isNotNull(), gain)).alias("_dcg")
        )
        score = F.coalesce(F.col("_dcg"), F.lit(0.0))
        if mbody.get("normalize"):
            iw = Window.partitionBy("request_id").orderBy(
                F.col("rating").desc(), F.col("_doc").asc()
            )
            ideal = (
                judged.withColumn("rank", F.row_number().over(iw))
                .filter(F.col("rank") <= k)
                .groupBy("request_id")
                .agg(F.sum(
                    (F.pow(F.lit(2.0), F.col("rating")) - 1.0)
                    / F.log2(F.col("rank") + 1.0)
                ).alias("_idcg"))
            )
            per = per.join(F.broadcast(ideal), "request_id", "left")
            score = F.when(
                F.col("_idcg") > 0,
                F.coalesce(F.col("_dcg"), F.lit(0.0)) / F.col("_idcg"),
            ).otherwise(F.lit(0.0))
    return (
        ids.join(per, "request_id", "left")
        .select(
            "request_id",
            F.round(F.coalesce(score, F.lit(0.0)), 6).alias("metric_score"),
        )
        .orderBy("request_id")
    )
