#!/usr/bin/env python
"""SCALING.md measurement harness: per-decade times of registry queries.

bench.py owns the machinery (``ensure_sf1``, which derives the sf1
fixture, and the sf1-capable query list ``SF1_HEADLINE``);
``python bench.py --sf 1`` runs the full headline harness at sf1. This
script produces the per-decade TABLE: each query is warmed once at
its first scale, then timed best-of-2 (noop-materialized) at every
scale, one JSON row per query.

Usage:
    python scripts/scaling_bench.py                  # the SCALING.md table
    python scripts/scaling_bench.py --names esql_fork,esql_grok \\
        --scales sf0.001,sf0.01,sf0.1,sf1

Without ``--scales`` every query runs at sf0.001/sf0.01/sf0.1, plus sf1
when it is in ``SF1_HEADLINE``; with ``--scales`` every named query runs
at exactly the scales given. Set ``SPARK_GRAFT_DRIVER_MEM`` (e.g. 32g)
for sf1 rows on a large box.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF1_DIR, SF1_HEADLINE, ensure_sf1, materialize  # noqa: E402
from tweets_elastic_spark import registry  # noqa: E402
from tweets_elastic_spark.indexing import ensure_index  # noqa: E402
from tweets_elastic_spark.session import get_spark  # noqa: E402

ROWS = [
    "tweet_documents_flat", "pricing_summary", "search_bm25",
    "es_aggs_date_histogram", "dedup_exact_survivors",
    "minhash_lsh_near_dups", "ann_cosine_topk", "ann_ivfpq_topk",
    "dsir_sample", "quality_score", "chunk_documents", "dup_ngram_stats",
    "percolate_matches", "search_query_string", "tfidf_hashed_sparse",
    "es_aggs_multi_terms_mad",
    # the near-dup family: the four slowest bench rows
    "jaccard_near_dups", "dedup_near_survivors", "corpus_clean",
    "semdedup_survivors",
    "es_aggs_matrix_stats",
    "video_frame_dups", "es_terms_enum", "eql_sequence_disjunction",
    "eql_event_functions", "eql_sequence_by_stage",
    "es_request_highlight_fragments", "essql_string_functions",
    "eql_sequence_until", "eql_sample",
    "es_aggs_ip_prefix_v6", "es_aggs_ip_range_v6",
    "es_aggs_adjacency_nested_terms", "eql_sample_by_stage",
    "search_intervals_all_of_unordered", "search_span_not",
    "warc_extract_text",
    "es_aggs_time_series", "es_aggs_inference", "crawl_corpus_pipeline",
    "es_request_retriever_rrf", "es_request_retriever_linear",
    "es_request_retriever_rerank",
    "search_span_multi", "html_main_text", "crawl_main_text_pipeline",
    "ann_ivf_recall_profile", "script_profile", "robots_gate_survivors",
    "esql_mv_expand_stats",
]
TESTDATA = {s: f"/root/testdata/{s}" for s in ("sf0.001", "sf0.01", "sf0.1")}
SCALES = [*TESTDATA, "sf1"]


def timed(fn, spark, sf_dir: str) -> float:
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        materialize(fn(spark, sf_dir))
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _csv(text: str) -> list[str]:
    return [x for x in text.split(",") if x]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--names", type=_csv, default=ROWS,
                    help="comma-separated registry/bench-variant names "
                         "(default: the SCALING.md table)")
    ap.add_argument("--scales", type=_csv, default=None,
                    help=f"comma-separated subset of {','.join(SCALES)} "
                         "(default: the three testdata decades, plus sf1 "
                         "for SF1_HEADLINE queries)")
    args = ap.parse_args()
    bad = set(args.scales or []) - set(SCALES)
    if bad:
        ap.error(f"unknown scales {sorted(bad)}; choose from {SCALES}")
    qs = {**registry.all_queries(), **registry.bench_variants()}
    missing = [n for n in args.names if n not in qs]
    if missing:
        ap.error(f"unknown query names {missing}")
    plan = {
        n: args.scales or [s for s in SCALES if s != "sf1" or n in SF1_HEADLINE]
        for n in args.names
    }
    spark = get_spark(app_name="scaling")
    spark.sparkContext.setLogLevel("ERROR")
    used = {s for scales in plan.values() for s in scales}
    for s, d in TESTDATA.items():
        if s in used:
            ensure_index(spark, d)
    dirs = {**TESTDATA, "sf1": ensure_sf1(spark) if "sf1" in used else SF1_DIR}
    for name, scales in plan.items():
        fn = qs[name]
        materialize(fn(spark, dirs[scales[0]]))  # warm: codegen/broadcast constants
        row = {"query": name}
        for s in scales:
            row[s] = timed(fn, spark, dirs[s])
        print(json.dumps(row), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
