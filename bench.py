#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints TWO JSON lines — a verbose record first (every headline query's
best-of-3 and first-run time; also written to bench_full_c<cpus>.json), then a
COMPACT final line sized to survive the driver's 2000-char tail capture
(BENCH_r06 lost its per-query dict to that truncation — r6 verdict item 3):

    {"metric": "headline_total_sec", "value": N, "unit": "sec", ...,
     "queries": {name: sec, ...}}   # the round-over-round comparable subset

Each query is materialized fully via the noop sink (measures compute +
shuffle, not Python collection). Session config mirrors production defaults
(AQE on, Arrow on); parallelism comes from SPARK_GRAFT_CPUS.

``--sf 1`` (r7 verdict item 6: one entry point, one JSON format) runs the
scaling decade instead: builds/reuses the derived ``.scaling_sf1`` fixture
(10× sf0.1 — see ensure_sf1) and times SF1_HEADLINE — the headline queries
whose tables exist in that fixture — emitting the same two JSON lines with
``"sf": 1.0``. ``--sf 0.001/0.01/0.1`` select the driver fixtures.
scripts/scaling_bench.py reuses these pieces for the per-decade table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tweets_elastic_spark import registry
from tweets_elastic_spark.session import get_spark

HEADLINE = [
    # relational spine
    "denorm_order_lineitems",
    "tweet_documents_flat",
    "pricing_summary",
    "pricing_rollup_cube",
    "snowflake_dim_join",
    "star_join_project",
    "self_join_pairs",
    "exists_child_hof",
    "topk_orders",
    "latest_order_per_customer",
    "corpus_rollup",
    # windows + time series
    "events_asof_join",
    "clicks_in_error_windows",
    "user_rolling_1h",
    "funnel_conversion",
    "corpus_length_quantiles",
    "events_daily_pivot",
    "events_json_runtime_field",
    "tumbling_window",
    "sliding_window",
    "session_window",
    # search + text
    "search_function_score",
    "search_from_json_dsl",
    "search_dsl_extended",
    "es_aggs_date_histogram",
    "es_aggs_terms_top",
    "es_request_sorted_hits",
    "es_request_search_after",
    "es_aggs_top_hits",
    "es_aggs_filters",
    "search_materialized_tokens",
    "search_bm25",
    "search_bm25_indexed",
    "search_bm25_function_score",
    "search_dsl_fuzzy_ids",
    "search_multi_match",
    "es_aggs_composite",
    "es_aggs_percentiles",
    "es_aggs_significant_terms",
    "es_aggs_pipeline",
    "es_request_collapse",
    "analyze_englando",
    "analyze_ngram",
    "quality_score",
    "lang_id",
    # training-data ops
    "dedup_exact_survivors",
    "dedup_near_survivors",
    "corpus_clean",
    "corpus_split",
    "jaccard_near_dups",
    "minhash_lsh_near_dups",
    "simhash_near_dups",
    "embedding_near_dups",
    "ann_cosine_topk",
    "ann_multi_query_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_lsh_topk_indexed",
    "ann_ivf_topk_indexed",
    "ann_pq_topk_indexed",
    "ann_lsh_multi_indexed",
    "ann_ivf_multi_indexed",
    "ann_ivf_portable_topk",
    "ann_ivf_portable_multi",
    # ann_pq_portable_topk (the expression-form PQ encoder) is NOT timed:
    # it is the pedagogical/oracle-carrying twin of ann_pq_arrow_topk and
    # runs ~7x slower by construction; the three production PQ forms
    # (arrow, indexed, ivfpq) are all timed, and the twin stays
    # equivalence- and oracle-verified in the test suite.
    "ann_pq_arrow_topk",
    "ann_ivfpq_topk",
    "vocab_top_tokens",
    "semdedup_survivors",
    "decontaminate_fuzzy_survivors",
    "model_quality_filter",
    "lm_perplexity_filter",
    "dsir_sample",
    "bpe_token_stats",
    "dup_ngram_stats",
    "unimax_sample",
    "chunk_documents",
    "search_dis_max_boosting",
    "search_script_score",
    "es_aggs_extended_stats",
    "es_aggs_moving_pipeline",
    "es_request_rescore",
    "es_aggs_significant_text",
    "es_aggs_date_range_weighted",
    "search_more_like_this",
    "search_hybrid_rrf",
    "es_request_knn",
    "line_dedup",
    "multimodal_decode",
    "image_near_dups",
    "video_frame_dups",  # r10: real MP4 sample-table frame addressing
    "video_frame_dups_fmp4",  # r11: the moof/traf/trun fragment walk
    # r6 wave 3
    "search_query_string",
    "search_terms_set",
    "percolate_matches",
    "es_aggs_multi_terms_mad",
    "es_aggs_string_stats",
    "es_aggs_rate_serial_diff",
    "es_aggs_diversified_sampler",
    "search_rank_feature_prefix",
    "search_explain_parts",
    "tfidf_hashed_sparse",
    "search_pinned_distance",
    "es_aggs_significant_chi2",
    "es_request_runtime_field",
    "es_termvectors",
    "dedup_increment_survivors",
    # r7
    "search_dsl_bm25",
    "search_phrase_slop",
    "es_aggs_composite_missing",
    "es_aggs_significant_gnd",
    "es_aggs_significant_script",
    "es_aggs_boxplot",
    "es_aggs_top_metrics",
    "es_aggs_rare_terms",
    "es_rank_eval_ndcg",
    "es_aggs_filters_metrics",
    "search_geo_distance",
    "es_aggs_geo_distance",
    # r8
    "search_intervals",
    "es_aggs_top_metrics_multi",
    "span_dedup_rebuild",
    "es_rank_eval_err",
    "search_intervals_all_of",
    "search_geo_bounding_box",
    "es_aggs_geotile_grid",
    "es_aggs_geohash_grid",
    "es_aggs_geo_centroid",
    # r8 late waves: DSL/agg round-out, API surface.
    # image_near_dups_png is EXCLUDED from the headline for the same
    # reason image_near_dups_jpeg always was: the pure-Python zlib+
    # unfilter codec is correctness-grade (both stay oracle-gated in
    # CORRECTNESS/parity runs), and at headline scale the Python decode
    # dominates the timing, drowning the Spark-plan signal the headline
    # exists to track. Production swaps libpng/PIL behind the same
    # mapInPandas seam (functions/png.decode_png_auto, gated + equality-
    # pytested); the PPM-based image_near_dups stays IN the headline as
    # the representative multimodal row (its decode is a NumPy
    # reinterpret, so it times the plan, not the codec).
    "search_wrapper_script",
    "es_aggs_matrix_stats",
    "es_aggs_t_test",
    "es_aggs_normalize",
    "es_aggs_moving_percentiles",
    "es_aggs_variable_width_histogram",
    "es_aggs_geo_line",
    "search_intervals_prefix",
    "es_mget",
    "search_sparse_vector",
    "search_geo_polygon",
    "es_aggs_random_sampler",
    "es_aggs_scripted_metric",
    # r8 session-4 wave: EQL, parent-join, BM25F, templates, ES SQL,
    # ip_range/geo_bounds/categorize_text/change_point/frequent_item_sets
    "eql_sequence_funnel",
    "eql_event_query",
    "search_has_child",
    "search_has_parent",
    "search_combined_fields",
    "search_template",
    "es_aggs_geo_bounds",
    "es_aggs_cumulative_cardinality",
    "es_aggs_ip_range",
    "es_aggs_categorize_text",
    "es_aggs_change_point",
    "es_aggs_frequent_item_sets",
    "essql_group_query",
    "essql_filter_query",
    "eql_sequence_until",
    "eql_event_pipes",
    "search_geo_shape",
    "search_terms_lookup",
    "search_cross_fields",
    "delete_by_query",
    "update_by_query",
    "ingest_pipeline",
    "rollup_search_month",
    "es_aggs_children",
    "dedup_near_best_survivors",
    "ann_cosine_topk_mrl",
    "ann_mrl_rerank_topk",
    "ml_anomaly_score",
    # r10 wave: ES-SQL full-text/date-parts, mustache lists, sequence
    # pipes, agg round-out, terms_enum, fingerprint analyzer, C4 +
    # Gopher-quality curation (video_frame_dups rides the multimodal
    # block above)
    "essql_match_query",
    "essql_date_parts",
    "essql_string_functions",
    "es_request_highlight_fragments",
    "msearch_template_list",
    "eql_sequence_pipes",
    # r11: disjunctive stage conditions (or / not / in / parens), the
    # condition functions (startsWith~/wildcard/cidrMatch/length), and
    # per-stage join keys (cross-field sequence correlation)
    "eql_sequence_disjunction",
    "eql_event_functions",
    "eql_sequence_by_stage",
    "es_aggs_ip_prefix",
    "es_aggs_extended_stats_bucket",
    "es_aggs_reverse_nested",
    "es_aggs_parent",
    "es_terms_enum",
    "analyze_fingerprint",
    "c4_line_filter",
    "gopher_quality_filter",
    # r12: the unordered EQL sample kind (one conditional-min groupBy)
    "eql_sample",
    # r12: IPv6 ip_prefix/ip_range (group-wise mask/compare, scan+groupBy)
    "es_aggs_ip_prefix_v6",
    "es_aggs_ip_range_v6",
    # r12: adjacency_matrix with a nested bucket sub (tag-explode +
    # one two-key hash aggregation)
    "es_aggs_adjacency_nested_terms",
    # r12: unordered all_of (permutation-OR positional chains, scan-local)
    "search_intervals_all_of_unordered",
    # r12: sample per-stage keys (candidate-key fan-out + one groupBy)
    "eql_sample_by_stage",
    # r12: span_not negative proximity (scan-local window HOF)
    "search_span_not",
    # r12: WARC/CommonCrawl ingestion (gzip members + framing + HTTP
    # parse in mapInPandas; extracted fields only ever shuffle)
    "warc_extract_text",
    # r12: URL gate + domain-blocklist anti-join (scan-riding rules +
    # suffix-chain broadcast join)
    "url_filter_survivors",
    # r12: the end-to-end crawl->corpus composition (WARC -> gates ->
    # blocklist -> dedup)
    "crawl_corpus_pipeline",
    # r12: span containment (anchor chain + containment EXISTS)
    "search_span_containing",
    # r12 final session: the last two ES agg kinds (dimension-tuple
    # series buckets; per-bucket model inference) and the 8.14+
    # retriever tree (rrf / linear fusion over standard+knn legs)
    "es_aggs_time_series",
    "es_aggs_inference",
    "es_request_retriever_rrf",
    "es_request_retriever_linear",
    "es_request_retriever_rerank",
    # r13: span_multi positional patterns; jusText-lite main-content
    # extraction (the WARC->curation bridge stage).
    # ann_ivf_recall_profile is NOT timed: it is the k-means IVF's
    # correctness-contract row (runs IVF + exact + two verify joins);
    # the production shape stays timed as ann_ivf_topk.
    "search_span_multi",
    "html_main_text",
    "crawl_main_text_pipeline",
    "script_profile",
    "robots_gate_survivors",
    # r13 late: the ES|QL front-end rows
    "esql_stats_by",
    "esql_eval_dissect",
    "esql_mv_expand_stats",
    "esql_percentiles",
    "esql_match_score",
    # r14: ES 8.18 LOOKUP JOIN (broadcast-enrich compile) + 8.16
    # INLINESTATS (window-aggregate compile) + GROK (pattern-library
    # extraction, one compiled regex riding the scan)
    "esql_lookup_join",
    "esql_inlinestats",
    "esql_grok",
    "esql_cidr_dates",
    "esql_change_point",
    # r15: ENRICH (policy-store broadcast enrich), the 8.16
    # per-aggregate WHERE + aggregate widening, and FORK (8.19
    # branch-the-pipe — two plans over one scan + unionByName)
    "esql_enrich",
    "esql_stats_where",
    "esql_fork",
    "esql_bucket_stats",
    # r16: SAMPLE (8.19 — deterministic portable-hash sampling, a pure
    # scan-riding predicate feeding one hash aggregation), QSTR
    # (Lucene query-string syntax in WHERE), and the exact-MAD +
    # ROUND_TO STATS row
    "esql_sample_stats",
    "esql_qstr_score",
    "esql_mad_round_to",
    # r16: temporal-span arithmetic window (sargable timestamp range)
    # + the KQL filter-context front-end
    "esql_span_window",
    "esql_kql_filter",
    # r16: ES-SQL HISTOGRAM grouping function
    "essql_histogram",
]

# The final compact JSON line must fit the driver's 2000-char tail capture;
# 105 queries don't. This subset is what lands in that line's "queries"
# dict: the r5/r6 round-over-round comparable set plus one representative
# per family added since. EVERYTHING in HEADLINE is still timed — the full
# per-query dict goes to the full file and the verbose first stdout line.
COMPARE_SUBSET = [
    # the r5-comparable core (52 names, unchanged since BENCH_r05)
    "denorm_order_lineitems", "tweet_documents_flat", "pricing_summary",
    "snowflake_dim_join", "star_join_project", "self_join_pairs",
    "exists_child_hof", "topk_orders", "latest_order_per_customer",
    "corpus_rollup", "events_asof_join", "clicks_in_error_windows",
    "user_rolling_1h", "funnel_conversion", "corpus_length_quantiles",
    "events_daily_pivot", "tumbling_window", "sliding_window",
    "session_window", "search_function_score", "search_materialized_tokens",
    "search_bm25", "search_bm25_indexed", "search_bm25_function_score",
    "analyze_englando", "analyze_ngram", "quality_score", "lang_id",
    "dedup_exact_survivors", "dedup_near_survivors", "corpus_clean",
    "corpus_split", "jaccard_near_dups", "minhash_lsh_near_dups",
    "simhash_near_dups", "embedding_near_dups", "ann_cosine_topk",
    "ann_multi_query_topk", "ann_lsh_topk", "ann_ivf_topk",
    "ann_lsh_topk_indexed", "ann_ivf_topk_indexed", "ann_lsh_multi_indexed",
    "ann_ivf_multi_indexed", "ann_ivf_portable_topk",
    "ann_ivf_portable_multi", "ann_pq_arrow_topk", "vocab_top_tokens",
    "semdedup_survivors", "decontaminate_fuzzy_survivors",
    "model_quality_filter", "multimodal_decode",
    # post-r5 family representatives
    "search_dsl_bm25", "lm_perplexity_filter", "dsir_sample",
    "dup_ngram_stats", "line_dedup", "image_near_dups",
    "search_query_string", "es_aggs_multi_terms_mad",
    "dedup_increment_survivors",
]


# The sf1 fixture holds documents / lineitem / embeddings / events /
# orders and (v5) the conversations star dims customer / part / nation
# (ensure_sf1 derives them all from sf0.1); these are the headline
# queries that read nothing else. The near-dup family — the four slowest
# bench rows, r7 verdict item 1 — is all here; v5 adds the flagship
# denormalization itself.
SF1_HEADLINE = [
    "tweet_documents_flat", "snowflake_dim_join", "es_aggs_date_histogram",
    "pricing_summary", "quality_score", "lang_id", "dup_ngram_stats",
    "search_bm25", "search_query_string", "es_aggs_multi_terms_mad",
    "percolate_matches", "tfidf_hashed_sparse", "chunk_documents",
    "dsir_sample", "dedup_exact_survivors", "minhash_lsh_near_dups",
    "jaccard_near_dups", "dedup_near_survivors", "corpus_clean",
    "semdedup_survivors", "ann_cosine_topk", "ann_ivfpq_topk",
    "simhash_near_dups", "embedding_near_dups", "span_dedup_rebuild",
    "es_aggs_matrix_stats", "eql_sequence_funnel", "es_aggs_ip_range",
    "es_aggs_frequent_item_sets", "es_aggs_cumulative_cardinality",
    "rollup_search_month", "ingest_pipeline", "eql_event_pipes",
    "search_has_child", "es_aggs_children", "essql_group_query",
    # r10 rows (documents/events only — all scan-shaped or one-shuffle):
    "c4_line_filter", "gopher_quality_filter", "analyze_fingerprint",
    "es_aggs_ip_prefix", "eql_sequence_pipes", "essql_date_parts",
    # r11 rows: documents (in-plan MP4 fixtures), part, events
    "video_frame_dups", "es_terms_enum", "eql_sequence_disjunction",
    "eql_event_functions", "eql_sequence_by_stage",
    # r12 rows (the r11 verdict's SCALING stragglers + the new sample
    # kind): highlight fragment windows + ES-SQL string scalars are
    # scan-shaped over documents; until/sample ride the events key shuffle
    "es_request_highlight_fragments", "essql_string_functions",
    "eql_sequence_until", "eql_sample",
    # r12 second wave: IPv6 group parse/mask, adjacency tag-explode,
    # per-stage sample fan-out (events); permutation intervals (documents)
    "es_aggs_ip_prefix_v6", "es_aggs_ip_range_v6",
    "es_aggs_adjacency_nested_terms", "eql_sample_by_stage",
    "search_intervals_all_of_unordered", "search_span_not",
    "warc_extract_text",
    # r12 final session: new agg kinds + the crawl composition + the
    # retriever tree (all measured at sf1 in SCALING.md's final-session
    # tables)
    "es_aggs_time_series", "es_aggs_inference", "crawl_corpus_pipeline",
    "es_rank_eval_ndcg", "es_request_retriever_rrf",
    "es_request_retriever_linear", "es_request_retriever_rerank",
    # r14: the new ES|QL commands (documents/events + the v5
    # customer/nation star are all in the fixture)
    "esql_lookup_join", "esql_inlinestats", "esql_grok",
    "esql_cidr_dates", "esql_change_point",
    # r16 (r15 verdict task 4): fourth-decade cells for the heaviest
    # r15 ES|QL shapes — the two-key BUCKET grid and FORK — plus the
    # per-aggregate-WHERE STATS and the new SAMPLE row. All read
    # events/documents, which the fixture has; esql_enrich stays out
    # (reads supplier, absent from the derived sf1 star — documented
    # fixture-absence, SCALING.md).
    "esql_stats_where", "esql_fork", "esql_bucket_stats",
    "esql_sample_stats",
    # r16 second wave: KQL filter (documents), exact-MAD + ROUND_TO
    # grid (events), span-window (events), QSTR scoring (documents),
    # ES-SQL HISTOGRAM (events)
    "esql_kql_filter", "esql_mad_round_to", "esql_span_window",
    "esql_qstr_score", "essql_histogram",
]

SF1_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       ".scaling_sf1")


def ensure_sf1(spark) -> str:
    """Build (once) the derived sf1 fixture: 10× sf0.1, gitignored.

    Shape-preserving growth — each copy is structurally identical to the
    sf0.1 corpus but DISJOINT from the other copies, so per-item statistics
    (shingle document frequency, near-dup cluster sizes, cell populations)
    stay fixture-sized while totals grow 10×. That is what a 10× real
    corpus does; naive identical copies would instead multiply every
    document frequency by 10 and grow pair-generator work 100×/decade
    (a dup-density artifact, not corpus growth — the v1 fixture had this
    for the near-dup family, which is why it only carried scan-local rows).

    Per-table recipes: documents/embeddings/events in
    ``_build_docs_emb_events``; the conversations star
    (lineitem/orders/customer/part + fixed nation/region) inline below,
    every foreign key shifted in lockstep so each copy is a disjoint,
    structurally identical star.
    """
    from pyspark.sql import functions as F

    # v3: + events; v4: + orders; v5: + customer/part/nation (the
    # conversations star) with l_partkey/o_custkey shifted in lockstep
    marker = os.path.join(SF1_DIR, "_READY_v5")
    if os.path.exists(marker):
        return SF1_DIR
    src = "/root/testdata/sf0.1"
    # documents/embeddings/events are byte-identical between v4 and v5
    # (v5 only reshapes lineitem/orders and adds the star dims) — reuse
    # them if a v4 fixture is already on disk
    prior = os.path.join(SF1_DIR, "_READY_v4")
    have_v4 = os.path.exists(prior)

    if not have_v4:
        _build_docs_emb_events(spark, src)

    # The conversations star (v5): lineitem/orders/customer/part grow as
    # key-shifted copies with EVERY foreign key shifted in lockstep, so
    # each copy is a disjoint, structurally identical star — per-parent
    # child counts, per-dim fan-in, and snowflake depth are exactly
    # preserved while totals grow 10× (the same shape-preserving rule as
    # documents). nation stays fixed (a 25-row broadcast dim keyed via
    # l_suppkey % 25 — real deployments don't scale it either).
    # Known edge: the reference's parent refs point at o_orderkey+1/+2,
    # so the 1-2 highest keys of copy i can reference the lowest keys of
    # copy i+1 — ≤2 spurious-but-valid cross-copy links per boundary out
    # of 150k parents, noise for timing purposes.
    li = spark.read.parquet(os.path.join(src, "lineitem.parquet"))
    pt = spark.read.parquet(os.path.join(src, "part.parquet"))
    cu = spark.read.parquet(os.path.join(src, "customer.parquet"))
    od_keys = spark.read.parquet(os.path.join(src, "orders.parquet"))
    # span over BOTH key domains: an order with no lineitems (legal, even
    # if TPC-H never generates one) must not make shifted o_orderkey
    # copies collide and silently break the lockstep-star invariant
    lspan = max(
        li.agg(F.max("l_orderkey")).head()[0],
        od_keys.agg(F.max("o_orderkey")).head()[0],
    ) + 1
    pspan = pt.agg(F.max("p_partkey")).head()[0] + 1
    cspan = cu.agg(F.max("c_custkey")).head()[0] + 1
    parts = [
        li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * lspan))
        .withColumn("l_partkey", F.col("l_partkey") + F.lit(i * pspan))
        for i in range(10)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    (out.repartition(32).write.mode("overwrite")
        .parquet(os.path.join(SF1_DIR, "lineitem.parquet")))

    # orders: o_orderkey in lockstep with l_orderkey, o_custkey in
    # lockstep with c_custkey
    od = spark.read.parquet(os.path.join(src, "orders.parquet"))
    parts = [
        od.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * lspan))
        .withColumn("o_custkey", F.col("o_custkey") + F.lit(i * cspan))
        for i in range(10)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    (out.repartition(32).write.mode("overwrite")
        .parquet(os.path.join(SF1_DIR, "orders.parquet")))

    parts = [
        cu.withColumn("c_custkey", F.col("c_custkey") + F.lit(i * cspan))
        for i in range(10)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    (out.repartition(32).write.mode("overwrite")
        .parquet(os.path.join(SF1_DIR, "customer.parquet")))

    parts = [
        pt.withColumn("p_partkey", F.col("p_partkey") + F.lit(i * pspan))
        for i in range(10)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    (out.repartition(32).write.mode("overwrite")
        .parquet(os.path.join(SF1_DIR, "part.parquet")))

    for dim in ("nation", "region"):
        (spark.read.parquet(os.path.join(src, f"{dim}.parquet"))
            .write.mode("overwrite")
            .parquet(os.path.join(SF1_DIR, f"{dim}.parquet")))

    if os.path.exists(prior):
        os.remove(prior)
    open(marker, "w").close()
    return SF1_DIR


def _build_docs_emb_events(spark, src: str) -> None:
    """The v4-era tables (unchanged by v5): documents, embeddings, events.

    * documents: copy 0 raw; copies 1-9 append an alphanumeric copy tag to
      every token (bijective per-copy vocabulary rename — within-copy
      shingle/Jaccard structure is EXACTLY preserved, cross-copy shingle
      sets are disjoint), doc_id shifted, n_chars recomputed.
    * embeddings: copy 0 raw; copies 1-9 circularly rotate each vector by
      i positions (an orthogonal transform — within-copy geometry exactly
      preserved, cross-copy cosines scrambled), vec_id shifted.
    * events: user_id AND event_id shifted per copy — keys stay disjoint,
      so per-key event density (what bounds EQL sequence state and the
      recursive-oracle depth) is exactly preserved while totals grow 10×.
    """
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(src, "documents.parquet"))
    span = docs.agg(F.max("doc_id")).head()[0] + 1
    parts = [docs]
    for i in range(1, 10):
        renamed = F.regexp_replace(F.col("text"), "([a-zA-Z0-9]+)",
                                   f"$1zz{i}")
        parts.append(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * span))
            .withColumn("text", renamed)
            .withColumn("n_chars", F.length("text"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    (out.repartition(32).write.mode("overwrite")
        .parquet(os.path.join(SF1_DIR, "documents.parquet")))

    emb = spark.read.parquet(os.path.join(src, "embeddings.parquet"))
    vspan = emb.agg(F.max("vec_id")).head()[0] + 1
    dim = len(emb.head()["embedding"])
    parts = [emb]
    for i in range(1, 10):
        rotated = F.concat(
            F.slice(F.col("embedding"), i + 1, dim - i),
            F.slice(F.col("embedding"), 1, i),
        )
        parts.append(
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * vspan))
            .withColumn("embedding", rotated)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    (out.repartition(32).write.mode("overwrite")
        .parquet(os.path.join(SF1_DIR, "embeddings.parquet")))

    ev = spark.read.parquet(os.path.join(src, "events.parquet"))
    uspan = ev.agg(F.max("user_id")).head()[0] + 1
    espan = ev.agg(F.max("event_id")).head()[0] + 1
    parts = [
        ev.withColumn("user_id", F.col("user_id") + F.lit(i * uspan))
        .withColumn("event_id", F.col("event_id") + F.lit(i * espan))
        for i in range(10)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    (out.repartition(32).write.mode("overwrite")
        .parquet(os.path.join(SF1_DIR, "events.parquet")))


# A probe this many times the fastest marks a degraded pass or run.
STALL_RATIO = 1.5


def stall_flags(calibration_per_pass: list[float]) -> tuple[list[bool], bool]:
    """Which timed passes ran on a degraded box, and whether the whole run
    did.

    ``calibration_per_pass`` holds the probe before every pass plus one
    after the last. A pass's window is the larger of its two bracketing
    probes (a stall inside the pass raises at least the closing one); the
    pass is degraded when its window exceeds STALL_RATIO × the run's
    FASTEST window — the run median would itself be a degraded value once
    two of three passes are hit. The run is flagged when the slowest probe
    exceeds STALL_RATIO × the fastest."""
    windows = [max(a, b) for a, b in zip(calibration_per_pass, calibration_per_pass[1:])]
    floor = min(windows)
    degraded = [w > STALL_RATIO * floor for w in windows]
    run_flag = max(calibration_per_pass) > STALL_RATIO * min(calibration_per_pass)
    return degraded, run_flag


def materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf", type=float, default=None,
                    help="fixture scale: 0.001/0.01/0.1 (driver fixtures) "
                         "or 1 (derived .scaling_sf1). Default: "
                         "$SPARK_GRAFT_SF_DIR or sf0.1.")
    args = ap.parse_args()

    # 32g heap for the bench JVM (box carries 128 GiB; the default 8g is
    # sized for the test suite's small fixtures): 200 headline queries ×
    # best-of-3 accumulate localCheckpoint blocks and broadcasts faster
    # than the async ContextCleaner reclaims them, and an 8g storage
    # region under that churn evicts/spills checkpoint blocks INTO the
    # timed runs — measured r12 as 2× spikes on whichever family ran
    # while the region was full (corpus_clean 5.1↔10.3 s across
    # same-code sessions). Honoring an explicit SPARK_GRAFT_DRIVER_MEM.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    if args.sf is not None and args.sf >= 1:
        sf_dir, sf = ensure_sf1(spark), 1.0
        headline = SF1_HEADLINE
        build_index = False  # no *_indexed entries in SF1_HEADLINE
    elif args.sf is not None:
        sf_dir, sf = f"/root/testdata/sf{args.sf:g}", args.sf
        headline = HEADLINE
        build_index = True
    else:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        sf = float(
            os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
        headline = HEADLINE
        build_index = True

    # registry entries + the bench-only production variants (xxhash64
    # minhash/simhash, k-means/sidecar IVF): outside the driver contract
    # since r13, but they ARE the production fast paths, so the bench
    # keeps timing them (COVERAGE.md "rows-only class closed").
    queries = {**registry.all_queries(), **registry.bench_variants()}
    # Warm EVERY headline query once at sf0.001 before its timed sf0.1 run
    # (this includes analyze_englando, which also primes the Python-UDF
    # worker pool + Arrow serializers) — so per-query times measure
    # steady-state compute (scan + shuffle + expression evaluation), not
    # one-time plan-construction/codegen-compile/broadcast-setup costs.
    # Those are constant per query shape, not per byte: at production scale
    # they are amortized over the corpus; at sf0.1 they would otherwise
    # dominate the biggest plans (the flagship pays ~9 s of driver-side
    # plan build + codegen compile against ~3 s of actual compute).
    warm_dir = "/root/testdata/sf0.001"
    for name in headline:
        materialize(queries[name](spark, warm_dir))
    # Build the materialized index up front: ingest-time cost, amortized
    # across the query workload (the *_indexed entries then measure pure
    # query-time scans — the number that matters for a served index). The
    # build itself is timed and reported separately as index_build_sec.
    index_build_sec = 0.0
    if build_index:
        from tweets_elastic_spark.indexing import ensure_index, index_dir_for
        import shutil
        shutil.rmtree(index_dir_for(sf_dir), ignore_errors=True)
        t0 = time.perf_counter()
        ensure_index(spark, sf_dir)
        index_build_sec = round(time.perf_counter() - t0, 3)

    # Best-of-3 per query (r11, was best-of-2): the box carries exogenous
    # background load, and the r10 review's same-session A/Bs showed
    # single-sample spread up to 1.5× — three committed numbers carried
    # phantom per-query "regressions" on untouched code. The min of three
    # runs is the noise-robust estimator for compute+shuffle cost; all
    # runs are full materializations at sf0.1. The FIRST run is also
    # recorded separately (queries_first_run / first_run_total_sec) so
    # round-over-round comparisons against pre-r5 single-sample numbers
    # stay apples-to-apples and the warm-vs-first gap stays visible.
    # Settle the JVM between the warmup sweep + index build and the
    # timed runs: ~200 warmed plans leave broadcast blocks and garbage
    # whose ASYNCHRONOUS cleanup otherwise lands inside the first timed
    # queries (measured r12: flagship 5.4-9.0 s right after the warmup
    # sweep vs 3.3-4.8 s after this settle, 2.3 s in a fresh session).
    # clearCache drops cached blocks, the explicit full GC reclaims them
    # synchronously, and the sleep lets the ContextCleaner drain its
    # reference queue before the clock starts.
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    time.sleep(3.0)

    # Calibration anchor (r12): the shared box's throughput drifts
    # 10-50% intra-day (documented since r8), which has repeatedly made
    # round-over-round totals incomparable and spawned phantom
    # regressions. This fixed, data-independent JVM workload (hash +
    # aggregate over spark.range — no I/O, no Python) is timed best-of-3
    # alongside every record; dividing two rounds' headline totals by
    # their calibration ratio removes the box term. ~1s of added wall.
    def calibrate() -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            spark.range(0, 100_000_000, 1, 32).selectExpr(
                "sum(xxhash64(id) % 100000) AS h").collect()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    calibration_sec = calibrate()

    # r17 (r16 verdict task 1 — the stall-poisoned-artifact fix): ONE
    # calibration probe at run start cannot see a stall that hits later
    # (the r16 driver run recorded 126-144 s spreads mid-run against a
    # clean 0.096 start probe, and PERF manufactured 38 phantom
    # regressions from it). The same fixed probe now brackets EVERY
    # timed pass — calibration_per_pass = [before pass 0, before pass 1,
    # before pass 2, after pass 2] — and each query records which pass
    # its best-of-3 min came from. A query is STALL-FLAGGED when its
    # min's pass is degraded (stall_flags): its "best" number was taken
    # while the box was measurably degraded and must not be read as a
    # plan property. Additions only: "queries",
    # "calibration_sec" and every pre-r17 field keep their exact
    # meaning and methodology.
    calibration_per_pass: list[float] = [calibration_sec]

    # r14 (r13 verdict task 6 — the migrating-stall chase): r13's spread
    # column proved a wandering ~30-40s stall event whose victims differ
    # per run on identical code. With the old 3-CONSECUTIVE-samples-per-
    # query loop, one stall lands on all three samples of whichever
    # query is running, so even the best-of-3 min carries it. Sampling
    # is now THREE FULL PASSES over the headline list — pass 0 in
    # canonical order (so queries_first_run keeps its chronology and
    # stays comparable to earlier rounds), passes 1-2 in deterministic
    # shuffles, with a GC+settle between passes. A stall localized in
    # time now hits DIFFERENT queries in each pass, and each query's
    # min dodges it; the spread column still records the event.
    import random

    samples: dict[str, list[float]] = {n: [] for n in headline}
    rng = random.Random(14)
    for p in range(3):
        order = list(headline)
        if p > 0:
            rng.shuffle(order)
            spark.sparkContext._jvm.System.gc()
            time.sleep(2.0)
            calibration_per_pass.append(calibrate())
        for name in order:
            t0 = time.perf_counter()
            materialize(queries[name](spark, sf_dir))
            samples[name].append(time.perf_counter() - t0)
    calibration_per_pass.append(calibrate())

    degraded_pass, run_stall_flagged = stall_flags(calibration_per_pass)

    times: dict[str, float] = {}
    first_run: dict[str, float] = {}
    spread: dict[str, float] = {}
    min_pass: dict[str, int] = {}
    stall_flagged: list[str] = []
    for name in headline:
        s = samples[name]
        first_run[name] = round(s[0], 3)
        times[name] = round(min(s), 3)
        # r13 (r12 verdict task 5): per-query SPREAD committed to the
        # artifact, so tail-variance rows (same code, 3-8x swings — GC/
        # eviction noise on the shared box) are visible IN the record
        # instead of surfacing as phantom regressions when two rounds'
        # minima land on different sides of the noise.
        spread[name] = round(max(s) - min(s), 3)
        min_pass[name] = min(range(3), key=lambda p: s[p])
        if degraded_pass[min_pass[name]]:
            stall_flagged.append(name)

    total = round(sum(times.values()), 3)
    full = {
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "queries_first_run": first_run,
        "queries_spread": spread,
        "first_run_total_sec": round(sum(first_run.values()), 3),
        "index_build_sec": index_build_sec,
        "calibration_sec": calibration_sec,
        "calibration_per_pass": calibration_per_pass,
        "queries_min_pass": min_pass,
        "queries_stall_flagged": stall_flagged,
        "run_stall_flagged": run_stall_flagged,
        "warmup": "per-query sf0.001 pass, then best-of-3 timed sf0.1 runs "
                  "taken as THREE FULL PASSES (pass 0 canonical order, "
                  "passes 1-2 shuffled, GC+settle between — a time-local "
                  "stall can no longer poison all three samples of one "
                  "query); queries_first_run is pass 0 (each query's "
                  "chronologically first sf0.1 run)",
        "sf": sf,
    }
    # one file per scale and core count, so a control run at another
    # scale or core count never overwrites this one
    cpus = spark.sparkContext.defaultParallelism
    full_name = (f"bench_full_c{cpus}.json" if sf == 0.1
                 else f"bench_full_sf{sf:g}_c{cpus}.json")
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           full_name), "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps(full))
    # Final line LAST and compact: the driver keeps only the trailing
    # ~2000 chars of stdout, so this is the line BENCH_r{N}.json parses.
    subset = [n for n in COMPARE_SUBSET if n in times]
    compact = {
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(times),
        "first_run_total_sec": full["first_run_total_sec"],
        "index_build_sec": index_build_sec,
        "calibration_sec": calibration_sec,
        # per-pass probe brackets + how many queries' minima landed in a
        # degraded pass (stall_flags) — stall-vs-plan is decidable from
        # this line alone; names in the full file
        "calibration_per_pass": calibration_per_pass,
        "n_stall_flagged": len(stall_flagged),
        "run_stall_flagged": run_stall_flagged,
        "full": full_name,
        # r16 (r15 verdict task 6): the top-3 per-query spreads IN the
        # compact tail, so the driver artifact itself shows
        # stall-vs-plan at a glance (a large spread = an exogenous
        # shared-box stall hit some samples of that query; the min
        # dodged it) without opening the full file
        "queries_spread_top3": {
            n: spread[n]
            for n in sorted(spread, key=spread.get, reverse=True)[:3]
        },
        "queries_other_total_sec": round(
            sum(v for n, v in times.items() if n not in subset), 3),
        "queries": {n: times[n] for n in subset},
    }
    line = json.dumps(compact, separators=(",", ":"))
    # r17 (r16 verdict task 6): shed the LOWEST-information field first.
    # The r16-build addition of queries_spread_top3 silently pushed a
    # compare-subset query off this line, which PERF then reported as
    # "dropped from bench". Spread entries go before any subset query.
    while len(line) > 1950 and compact["queries_spread_top3"]:
        worst = min(compact["queries_spread_top3"],
                    key=compact["queries_spread_top3"].get)
        del compact["queries_spread_top3"][worst]
        line = json.dumps(compact, separators=(",", ":"))
    while len(line) > 1950 and compact["queries"]:
        # defensive: never emit an unparseable (truncated) final line —
        # drop trailing subset entries into the "other" bucket instead
        dropped = subset.pop()
        compact["queries_other_total_sec"] = round(
            compact["queries_other_total_sec"] + compact["queries"].pop(dropped), 3)
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
