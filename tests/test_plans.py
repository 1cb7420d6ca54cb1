"""Physical-plan audits: the properties that make these queries viable at
100 TB, pinned as assertions so a refactor can't silently regress them
(SURVEY §4 — pushdown/pruning/broadcast are Catalyst's job, but only if the
queries stay expressed so Catalyst can do it).

Checked per query shape:
* filter pushdown reaches the parquet scan (``DataFilters`` non-empty);
* column pruning (scans read only referenced columns, not ``*``);
* top-k compiles to ``TakeOrderedAndProject`` (per-partition top-k + merge,
  the Lucene scatter-gather analogue) — never a global Sort;
* small dims join as ``BroadcastHashJoin`` (no shuffle of the big side);
* aggregations are partial+final (map-side combine before the exchange);
* no ``CartesianProduct`` anywhere, including the LSH dedup pair joins.
"""

from __future__ import annotations

import re

import pytest

from tweets_elastic_spark import registry

SF = "/root/testdata/sf0.01"


def plan_of(spark, name: str) -> str:
    df = registry.get(name).fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def scans(plan: str) -> list[str]:
    return [ln for ln in plan.splitlines() if "FileScan parquet" in ln]


def test_keyset_page_pushdown_topk(spark):
    p = plan_of(spark, "keyset_page")
    assert "TakeOrderedAndProject" in p  # ORDER BY + LIMIT never global-sorts
    scan = scans(p)[0]
    assert "o_orderkey" in scan and "(o_orderkey" in scan  # predicate pushed
    # pruned: the scan reads 3 columns, not the 6-column orders schema
    cols = re.search(r"FileScan parquet \[([^\]]*)\]", scan).group(1)
    assert len(cols.split(",")) == 3


def test_topk_orders_take_ordered(spark):
    p = plan_of(spark, "topk_orders")
    assert "TakeOrderedAndProject(limit=10" in p
    assert "Sort " not in p  # no global sort for a top-k


def test_star_join_broadcasts_dim(spark):
    p = plan_of(spark, "star_join_project")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # dim is broadcast, fact never shuffles
    cust_scan = next(s for s in scans(p) if "customer.parquet" in s)
    assert "c_acctbal" in cust_scan and "1000" in cust_scan  # filter pushed


def test_snowflake_dims_broadcast_chain(spark):
    p = plan_of(spark, "snowflake_dim_join")
    assert p.count("BroadcastHashJoin") == 2  # nation AND region broadcast
    assert "partial_count" in p and "partial_sum" in p  # map-side combine


def test_denorm_single_copartitioned_shuffle(spark):
    p = plan_of(spark, "denorm_order_lineitems")
    assert "CartesianProduct" not in p
    # exactly one hash exchange: children aggregate on l_orderkey, then the
    # grouped (small) side broadcasts to the orders scan
    assert len(re.findall(r"Exchange hashpartitioning\(l_orderkey", p)) == 1
    assert "partial_collect_list" in p  # A1 combines map-side
    li_scan = next(s for s in scans(p) if "lineitem.parquet" in s)
    cols = re.search(r"FileScan parquet \[([^\]]*)\]", li_scan).group(1)
    assert len(cols.split(",")) == 3  # 11-column table pruned to 3


def test_pricing_summary_pushdown_partial_agg(spark):
    p = plan_of(spark, "pricing_summary")
    assert "partial_sum" in p
    scan = scans(p)[0]
    assert "l_shipdate" in scan  # timestamp filter pushed to the scan


@pytest.mark.parametrize(
    "name",
    [
        "jaccard_near_dups",
        "minhash_lsh_near_dups",
        "simhash_near_dups",
        "embedding_near_dups",
        "tweet_documents_flat",
        "search_function_score",
        "search_materialized_tokens",
    ],
)
def test_no_cartesian_products(spark, name):
    """Every pair-generating operator joins on a key (shingle, band bucket,
    LSH probe) — an accidental cross join would be quadratic at any scale."""
    p = plan_of(spark, name)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_tweet_documents_broadcasts_dims(spark):
    """Snowflake dims (entities, domains, hashtags) broadcast; the fact side
    shuffles only on the document key."""
    p = plan_of(spark, "tweet_documents_flat")
    assert p.count("BroadcastHashJoin") >= 3
    assert "partial_collect_list" in p  # children combine map-side


def test_ann_topk_is_take_ordered(spark):
    p = plan_of(spark, "ann_cosine_topk")
    assert "TakeOrderedAndProject" in p
    assert "Exchange hashpartitioning" not in p  # single scan, no shuffle


def test_decontaminate_fuzzy_broadcasts_benchmark(spark):
    """The benchmark side (postings + sizes) broadcasts; the corpus is
    never on the build side of a shuffle join against itself."""
    p = plan_of(spark, "decontaminate_fuzzy_survivors")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_ann_ivf_portable_single_scan_filter(spark):
    """Cell assignment + probe filter + rerank: one corpus scan ending in
    TakeOrderedAndProject, no join at all in the single-query plan."""
    p = plan_of(spark, "ann_ivf_portable_topk")
    assert "TakeOrderedAndProject" in p
    assert "Join" not in p


def test_ivfpq_single_scan_take_ordered(spark):
    """IVF-PQ: cell filter + stored-shape ADC + rerank is one corpus scan
    ending in TakeOrderedAndProject — no join anywhere in the plan."""
    p = plan_of(spark, "ann_ivfpq_topk")
    assert "TakeOrderedAndProject" in p
    assert "Join" not in p and "CartesianProduct" not in p


def test_line_dedup_hot_set_broadcasts(spark):
    """line_dedup: the boilerplate set joins back as a BROADCAST anti-join
    (it is boilerplate-sized); the only sort-merge machinery allowed is
    none — reconstruction is a hash aggregation on the preserved doc id."""
    p = plan_of(spark, "line_dedup")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_es_aggs_single_aggregation_no_join(spark):
    """The compiled aggs request is hash aggregation over the filtered scan
    — no join. Exactly two key exchanges: (keys, user_id) then (keys), the
    canonical exact-distinct plan the cardinality metric requires; every
    other metric partially aggregates map-side in the same pass. A third
    exchange, on the day alone, keeps ES's default top 10 terms per day;
    each partition limits its rows to 10 per day before it."""
    p = plan_of(spark, "es_aggs_date_histogram")
    assert "HashAggregate" in p and "Join" not in p
    assert p.count("Exchange hashpartitioning") == 3
    assert "WindowGroupLimit [by_day#" in p and "row_number(), 10, Partial" in p
    assert "partial_count(distinct" in p or "count(distinct" in p


def test_indexed_pq_plan_reads_stored_codes_only(spark):
    """ann_pq_topk_indexed: TakeOrderedAndProject over the stored-code scan;
    no Python stage, no join (codes were encoded at ingest)."""
    p = plan_of(spark, "ann_pq_topk_indexed")
    assert "TakeOrderedAndProject" in p
    assert "ArrowEvalPython" not in p and "Join" not in p


def test_chunk_documents_no_exchange(spark):
    """Chunking is a pure projection: one parquet scan, no KEYED shuffle
    (the only Exchange is fan_out's round-robin parallelism spread for the
    single-file fixture — data-independent, not a plan requirement)."""
    p = plan_of(spark, "chunk_documents")
    assert "hashpartitioning" not in p and "rangepartitioning" not in p
    assert len(scans(p)) == 1


def test_dup_ngram_stats_single_gram_shuffle(spark):
    """The gram-df aggregation and the join back share the gram key: the
    posting list shuffles ONCE on _sh (the join reuses / co-locates with
    the aggregation's partitioning), never a cartesian."""
    p = plan_of(spark, "dup_ngram_stats")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # hashpartitioning on the gram key appears; no repartition on anything
    # wider than (_sh) before the join
    assert "hashpartitioning(_sh" in p


def test_unimax_alloc_broadcasts_and_single_doc_window(spark):
    """The allocation table (language-count-sized) broadcasts to the doc
    stream; the per-language cumulative sum is the only wide exchange."""
    p = plan_of(spark, "unimax_sample")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_dsir_sample_take_ordered_selection(spark):
    """Gumbel-top-k selection compiles to TakeOrderedAndProject — never a
    global sort of the weighted corpus."""
    p = plan_of(spark, "dsir_sample")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_rescore_take_ordered_first_pass(spark):
    """The first-pass window is a top-k (TakeOrderedAndProject), so the
    rescore phase provably runs on window_size rows, not the corpus."""
    p = plan_of(spark, "es_request_rescore")
    assert "TakeOrderedAndProject" in p


# Queries whose plan legitimately contains a BroadcastNestedLoopJoin: every
# entry is a 1-ROW broadcast cross join (scalar totals / water level /
# bucket-list scalars / model constants), never a data-x-data product.
_ONE_ROW_CROSS_JOIN_OK = {
    "dsir_sample",                 # raw/target totals (1 row each)
    "unimax_sample",               # water level scalar
    "es_aggs_moving_pipeline",     # sibling avg_bucket scalar
    "es_aggs_sibling_stats",       # sibling stats/percentiles_bucket scalars
    "es_aggs_extended_stats_bucket",  # sibling extended-stats scalars
    "tfidf_hashed_sparse",         # corpus doc-count scalar (IDF N)
    "lm_perplexity_filter",        # vocab-size scalar
    "search_more_like_this",       # corpus count + selected-term count
    "corpus_profile",              # global totals leg
    "corpus_length_quantiles",     # global quantile leg
    "decontaminate_fuzzy_survivors",  # benchmark-size scalar
    "es_aggs_significant_terms",   # fg/bg totals
    "es_aggs_significant_text",    # fg/bg totals
    "vocab_top_tokens",            # corpus-total scalar
    "es_aggs_change_point",        # 1-row cp_key/cp_stat broadcast
    "es_aggs_frequent_item_sets",  # 1-row support-denominator broadcast
    "es_request_retriever_linear",  # 1-row per-leg min/max (minmax norm)
    "esql_inlinestats",            # global INLINESTATS: 1-row totals broadcast
    # bounded-broadcast designs (not 1-row, but the broadcast side is a
    # small constant — the documented plan, not an accident):
    "ann_multi_query_topk",        # 16-row query batch x one corpus scan
    "ann_ivf_multi_indexed",       # same, through the stored index
    "ann_lsh_multi_indexed",       # same
    "ann_ivf_portable_multi",      # same, portable quantizer
    "embedding_near_dups_exact",   # the INTENTIONAL all-pairs exact
                                   # baseline twin (correctness anchor for
                                   # the LSH variant; never the scale path)
}


def test_no_cartesian_product_in_any_registered_query(spark):
    """Blanket guard: building EVERY registered query's physical plan at
    sf0.01 must yield no CartesianProduct anywhere, and
    BroadcastNestedLoopJoin only in the documented 1-row-scalar cross
    joins. A new operator that accidentally joins without a key fails
    here before it ever reaches the driver."""
    offenders = []
    for name in {**registry.all_queries(), **registry.bench_variants()}:
        try:
            p = plan_of(spark, name)
        except Exception as e:  # index-dependent queries build their index
            offenders.append((name, f"plan build failed: {e!r}"))
            continue
        if "CartesianProduct" in p:
            offenders.append((name, "CartesianProduct"))
        elif "BroadcastNestedLoopJoin" in p and name not in _ONE_ROW_CROSS_JOIN_OK:
            offenders.append((name, "undocumented BroadcastNestedLoopJoin"))
    assert not offenders, offenders


def test_percolate_is_one_scan_no_exchange(spark):
    """Percolation is scan-shaped: all stored-query predicates ride one
    document scan — no shuffle, no join, matches explode out of the
    projection."""
    p = plan_of(spark, "percolate_matches")
    # no data-motion exchange: the only allowed Exchange is fan_out's
    # round-robin repartition (small-scale parallelism helper, not a
    # key shuffle)
    assert "Exchange hashpartitioning" not in p
    assert "Exchange rangepartitioning" not in p
    assert "Join" not in p
    assert len(scans(p)) == 1
    assert "Generate explode" in p


def test_query_string_filter_reaches_scan(spark):
    """The parsed query_string's keyword predicates push to the scan like
    the builder form's."""
    p = plan_of(spark, "search_query_string")
    assert "TakeOrderedAndProject" in p
    scan = scans(p)[0]
    # column pruning: the documents scan reads only what the query needs
    cols = re.search(r"FileScan parquet \[([^\]]*)\]", scan).group(1)
    assert "text" in cols and len(cols.split(",")) <= 5


def test_diversified_sampler_single_diversity_exchange(spark):
    """The per-value cap is a window rank riding ONE exchange on the
    diversity key; the sample truncation is a TakeOrdered, not a global
    sort of the corpus."""
    p = plan_of(spark, "es_aggs_diversified_sampler")
    assert p.count("Exchange hashpartitioning(source") == 1
    assert "CartesianProduct" not in p


def test_terms_set_rides_scan(spark):
    """terms_set is a codegen'd indicator sum over the analyzed tokens —
    no join, no extra exchange below the final projection."""
    p = plan_of(spark, "search_terms_set")
    assert "Join" not in p
    assert len(scans(p)) == 1


def test_pinned_distance_take_ordered(spark):
    p = plan_of(spark, "search_pinned_distance")
    assert "TakeOrderedAndProject" in p
    assert "Join" not in p  # pure CASE arithmetic riding the scan


def test_increment_dedup_is_anti_join_on_fingerprints(spark):
    """The corpus side enters the plan only as the slim fingerprint
    relation via a LeftAnti join — never a full-corpus rescan per batch
    beyond computing those fingerprints."""
    p = plan_of(spark, "dedup_increment_survivors")
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_phrase_slop_scan_local_no_join(spark):
    """The n-term sloppy-phrase window check is pure scan-local HOF
    arithmetic: one parquet scan, no join, no keyed shuffle (the only
    Exchange is fan_out's data-independent round-robin spread)."""
    p = plan_of(spark, "search_phrase_slop")
    assert "Join" not in p
    assert "hashpartitioning" not in p and "rangepartitioning" not in p
    assert len(scans(p)) == 1


def test_composite_missing_single_groupby_take_ordered(spark):
    """missing_bucket composite keeps the one-shuffle shape: the null-aware
    cursor is a row filter below a single groupBy, and the size truncation
    is a TakeOrderedAndProject."""
    p = plan_of(spark, "es_aggs_composite_missing")
    assert "TakeOrderedAndProject" in p
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_sketch_mad_copartitioned_no_cartesian(spark):
    """The two-pass sketch MAD joins medians back on the bucket key: hash
    joins co-partitioned with the groupBys, never a cartesian/nested-loop
    pairing; every aggregate is the partial+final percentile_approx
    summary (objHashAggregate), not a value-buffer collect."""
    p = plan_of(spark, "es_aggs_multi_terms_mad_sketch")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "percentile_approx" in p
    assert "collect_list" not in p


def test_dsl_bm25_scoring_rides_single_scan(spark):
    """search_dsl_bm25's scoring query is one scan with the BM25 arithmetic
    as projection expressions — no join; corpus stats arrive as literals
    (computed by separate bounded agg jobs at compile time)."""
    p = plan_of(spark, "search_dsl_bm25")
    assert "Join" not in p
    assert len(scans(p)) == 1


def test_registry_decorators_bind_their_own_function():
    """A @register decorator separated from its def (e.g. by a later
    insertion between decorator and function) silently binds the NEXT
    function — the registered name then runs the wrong query. Every
    registered entry's function name must embed its registry name."""
    from tweets_elastic_spark import registry

    registry._ensure_loaded()
    mismatches = [
        (n, r.fn.__name__) for n, r in registry._REGISTRY.items()
        if r.fn.__name__.startswith("q_") and n not in r.fn.__name__
    ]
    assert mismatches == []


def test_late_r8_operator_plan_shapes(spark):
    """Plan pins for the late-r8 operators: matrix_stats/geo_line are
    one-exchange groupBy plans, geo_polygon is a pure scan-local filter
    (zero exchanges, IsNotNull pushed to parquet), and none of them
    runs Python in the hot path (the only sanctioned Python is the
    t_test p-value UDF over the reduced bucket relation)."""
    from tweets_elastic_spark import registry

    registry._ensure_loaded()
    sf = "/root/testdata/sf0.001"

    def plan_of(name):
        df = registry._REGISTRY[name].fn(spark, sf)
        return df._jdf.queryExecution().executedPlan().toString()

    for name, max_exchanges in [("es_aggs_matrix_stats", 1),
                                ("es_aggs_geo_line", 1),
                                ("search_geo_polygon", 0)]:
        plan = plan_of(name)
        assert plan.count("Exchange") <= max_exchanges, (name, plan)
        assert "Python" not in plan and "ArrowEval" not in plan, name
    plan = plan_of("search_geo_polygon")
    assert "PushedFilters: [IsNotNull" in plan


def test_r8_s4_operator_plan_shapes(spark):
    """Plan pins for the session-4 wave: the scan-shaped queries stay
    zero/one-exchange, the ES SQL grouped query is one partial/final
    aggregation + TakeOrderedAndProject, has_child aggregates the child
    side BEFORE the join, and nothing runs Python."""
    from tweets_elastic_spark import registry

    registry._ensure_loaded()
    sf = "/root/testdata/sf0.001"

    def plan_of(name):
        df = registry._REGISTRY[name].fn(spark, sf)
        return df._jdf.queryExecution().executedPlan().toString()

    for name, max_exchanges in [
        ("search_geo_shape", 0),       # scan-local envelope compare
        ("es_aggs_geo_bounds", 1),     # one groupBy
        ("es_aggs_ip_range", 2),       # fan_out + groupBy (r12: the
        # validated-parse bucket key is expression-heavy enough that the
        # single-split fixture scan must spread before the partial agg)
        ("es_aggs_categorize_text", 1),
        ("delete_by_query", 0),        # negated filter rides the scan
        ("update_by_query", 0),        # one conditional projection
        ("ingest_pipeline", 0),        # processor chain = projection
        ("eql_event_query", 1),        # global sort only
        ("essql_filter_query", 1),     # TakeOrdered
    ]:
        plan = plan_of(name)
        assert plan.count("Exchange") <= max_exchanges, (name, plan)
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, name

    plan = plan_of("essql_group_query")
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan or "HashAggregate" in plan

    plan = plan_of("search_has_child")
    # the child-side partial aggregation appears before the parent join
    assert plan.index("HashAggregate") < plan.index("SortMergeJoin") \
        if "SortMergeJoin" in plan else "HashAggregate" in plan

    plan = plan_of("eql_sequence_funnel")
    assert "Python" not in plan  # JVM aggregate HOF automaton


def test_driver_prefix_schemas_are_primitive_only(spark):
    """The driver's canonicalizer sorts RAW pandas cells (plain
    ``sort_values``) and cannot factorize list/dict values — an array- or
    struct-typed top-level column in any DRIVER_PRIORITY entry errors the
    whole row before comparison (the r10 ``es_aggs_frequent_item_sets``
    red row). The local harness stringifies cells before sorting, so it
    is NOT a faithful replica for non-primitive outputs; this guard makes
    the divergence unreachable: every prefix entry must project complex
    columns to primitives (array_join / to_json) before returning.

    r12: widened from DRIVER_PRIORITY to the WHOLE registry — every
    entry is a rotation candidate under the COVERAGE.md burn-down
    schedule, so the constraint must hold registry-wide (the last three
    holdouts, es_aggs_top_metrics_multi / es_termvectors /
    es_aggs_geo_line, were projected to primitives this round)."""
    from pyspark.sql import types as T

    registry._ensure_loaded()
    offenders = []
    for name in registry._REGISTRY:
        df = registry.get(name).fn(spark, SF)  # lazy — schema only
        for f in df.schema.fields:
            if isinstance(f.dataType, (T.ArrayType, T.StructType, T.MapType)):
                offenders.append((name, f.name, f.dataType.simpleString()))
    assert not offenders, (
        "registry entries must emit primitive-only top-level "
        f"schemas (driver sort_values cannot sort these): {offenders}"
    )

def test_driver_prefix_rows_are_nontrivial(spark):
    """Every DRIVER_PRIORITY entry must return >= 1 row at sf0.01. A
    0-rows-vs-0-rows driver comparison is vacuously green — it verifies
    request framing, not semantics (the r12 ``search_more_like_this``
    row: the seed's term selection produced an empty selected set at
    the default 25% df cap, so engine and oracle both returned empty
    and the tf·idf scoring was never exercised). This guard makes a
    trivially-green prefix row unreachable: rotating in an entry whose
    seed is empty at sf0.01 fails the suite, forcing a re-seed first
    (COVERAGE.md rotation policy)."""
    from tweets_elastic_spark.registry import DRIVER_PRIORITY

    registry._ensure_loaded()
    empty = []
    for name in DRIVER_PRIORITY:
        df = registry.get(name).fn(spark, SF)
        if df.limit(1).count() == 0:
            empty.append(name)
    assert not empty, (
        "DRIVER_PRIORITY entries must be non-trivial at sf0.01 "
        f"(0-vs-0 driver rows verify nothing): {empty}"
    )
