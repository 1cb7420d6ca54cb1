"""Index-at-ingest: the written index round-trips the inline analysis, and
every *_indexed query plan is pure JVM (no Python eval nodes) — the
demonstrated 100 TB story of SURVEY §2.8 / Lucene index-time analysis."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from tweets_elastic_spark import indexing, registry
from tweets_elastic_spark.operators import similarity as S
from tweets_elastic_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def index_dir(spark):
    return indexing.ensure_index(spark, SF)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ensure_index_builds_once(spark, index_dir):
    meta = os.path.join(index_dir, "index_meta.json")
    mtime = os.path.getmtime(meta)
    again = indexing.ensure_index(spark, SF)
    assert again == index_dir
    assert os.path.getmtime(meta) == mtime  # reused, not rebuilt


def test_stored_tokens_equal_inline_analysis(spark, index_dir):
    """The persisted token column is byte-identical to analyzing the raw
    text inline — the index faithfully materializes the analyzer."""
    from tweets_elastic_spark.functions.analyzers import analyze

    stored = indexing.read_indexed_documents(spark, index_dir).select(
        "doc_id", F.col("text__custom_shingles").alias("stored")
    )
    inline = load_table(spark, SF, "documents").select(
        "doc_id", analyze("text", "custom_shingles").alias("inline")
    )
    diff = (
        stored.join(inline, "doc_id")
        .filter(F.col("stored") != F.col("inline"))
        .count()
    )
    assert diff == 0


def test_stored_signatures_equal_inline(spark, index_dir):
    """Persisted LSH signatures and IVF cells match recomputation from the
    raw vectors with the same planes/centroids."""
    emb = load_table(spark, SF, "embeddings")
    meta = indexing.read_index_meta(index_dir)
    centroids = np.asarray(meta["centroids"], dtype=np.float64)
    recomputed = indexing.enrich_embeddings(emb, centroids)
    stored = indexing.read_indexed_embeddings(spark, index_dir)
    cols = list(indexing.SIG_COLS) + ["ivf_cell"]
    a = {r["vec_id"]: tuple(r[c] for c in cols)
         for r in stored.select("vec_id", *cols).collect()}
    b = {r["vec_id"]: tuple(r[c] for c in cols)
         for r in recomputed.select("vec_id", *cols).collect()}
    assert a == b


def test_term_dictionary_matches_aggregation_stats(spark, index_dir):
    """The ingest-time term dictionary + sidecar stats return exactly what
    the full-scan aggregation (bm25_stats) would, including df=0 for
    unknown tokens."""
    from tweets_elastic_spark.plans.search import bm25_stats

    docs = indexing.read_indexed_documents(spark, index_dir)
    qtokens = ["spark", "merge", "sparkmerge", "zzz-not-a-token"]
    scan = bm25_stats(docs, [("text__custom_shingles", 1.0)], qtokens)
    lookup = indexing.bm25_stats_from_index(
        spark, index_dir, "text__custom_shingles", qtokens
    )
    assert lookup.n_docs == scan.n_docs
    assert abs(lookup.avgdl - scan.avgdl) < 1e-9
    assert lookup.df == scan.df
    assert lookup.df["zzz-not-a-token"] == 0.0


@pytest.mark.parametrize(
    "qname",
    [
        "search_bm25_indexed",
        "search_bm25_function_score",
        "ann_lsh_topk_indexed",
        "ann_ivf_topk_indexed",
        "ann_lsh_multi_indexed",
        "ann_ivf_multi_indexed",
    ],
)
def test_indexed_query_plans_have_no_python(spark, index_dir, qname):
    """The whole point of the index: query-time corpus plans are pure JVM —
    no ArrowEvalPython / BatchEvalPython / MapInPandas stages anywhere."""
    df = registry.get(qname).fn(spark, SF)
    plan = _executed_plan(df)
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "PythonUDF"):
        assert marker not in plan, f"{qname} plan contains {marker}"


def test_indexed_lsh_equals_inline_lsh(spark, index_dir):
    """Stored-signature candidate filter (Hamming <= 2 over sig columns)
    selects the same candidates as the inline probe union — identical
    top-k, scores and all."""
    emb_raw = load_table(spark, SF, "embeddings")
    emb_idx = indexing.read_indexed_embeddings(spark, index_dir)
    qvec = [float(x) for x in emb_raw.filter("vec_id = 0").head()["embedding"]]
    inline = S.ann_lsh_topk(emb_raw, qvec, k=10).collect()
    indexed = S.ann_lsh_topk_indexed(
        emb_idx, qvec, k=10, sig_cols=indexing.SIG_COLS
    ).collect()
    assert [(r["vec_id"], r["score"]) for r in inline] == [
        (r["vec_id"], r["score"]) for r in indexed
    ]


def test_indexed_ivf_equals_inline_ivf(spark, index_dir):
    """Sidecar centroids == a fresh bounded training run (deterministic),
    so the indexed query returns exactly the inline result."""
    emb_raw = load_table(spark, SF, "embeddings")
    emb_idx = indexing.read_indexed_embeddings(spark, index_dir)
    centroids = np.asarray(
        indexing.read_index_meta(index_dir)["centroids"], dtype=np.float64
    )
    qvec = [float(x) for x in emb_raw.filter("vec_id = 0").head()["embedding"]]
    inline = S.ann_ivf_topk(emb_raw, qvec, k=10, n_cells=16, nprobe=6).collect()
    indexed = S.ann_ivf_topk_indexed(
        emb_idx, centroids, qvec, k=10, nprobe=6
    ).collect()
    assert [(r["vec_id"], r["score"]) for r in inline] == [
        (r["vec_id"], r["score"]) for r in indexed
    ]


def test_multi_query_matches_single_query_per_id(spark, index_dir):
    """The batched scan gives each query exactly what the single-query
    indexed variant would (same candidates, same rerank, same tiebreak)."""
    emb_idx = indexing.read_indexed_embeddings(spark, index_dir)
    queries = emb_idx.filter(F.col("vec_id") < 3)
    multi = S.ann_lsh_topk_multi(
        emb_idx, queries, k=5, sig_cols=indexing.SIG_COLS
    ).collect()
    by_q: dict[int, list] = {}
    for r in multi:
        by_q.setdefault(r["q_id"], []).append((r["vec_id"], r["score"]))
    for qid in (0, 1, 2):
        qvec = [
            float(x)
            for x in emb_idx.filter(f"vec_id = {qid}").head()["embedding"]
        ]
        single = S.ann_lsh_topk_indexed(
            emb_idx, qvec, k=5, sig_cols=indexing.SIG_COLS
        ).collect()
        assert by_q[qid] == [(r["vec_id"], r["score"]) for r in single]


def test_ivf_multi_matches_single_query_per_id(spark, index_dir):
    """The in-plan probe-cell computation (array_sort over literal-centroid
    distances) picks exactly the cells the driver-side argsort picks, so
    the batched scan returns what the single-query variant would."""
    emb_idx = indexing.read_indexed_embeddings(spark, index_dir)
    centroids = np.asarray(
        indexing.read_index_meta(index_dir)["centroids"], dtype=np.float64
    )
    queries = emb_idx.filter(F.col("vec_id") < 3)
    multi = S.ann_ivf_topk_multi(
        emb_idx, centroids, queries, k=5, nprobe=6
    ).collect()
    by_q: dict[int, list] = {}
    for r in multi:
        by_q.setdefault(r["q_id"], []).append((r["vec_id"], r["score"]))
    for qid in (0, 1, 2):
        qvec = [
            float(x)
            for x in emb_idx.filter(f"vec_id = {qid}").head()["embedding"]
        ]
        single = S.ann_ivf_topk_indexed(
            emb_idx, centroids, qvec, k=5, nprobe=6
        ).collect()
        assert by_q[qid] == [(r["vec_id"], r["score"]) for r in single]


def test_ivf_cell_filter_pushes_down(spark, index_dir):
    """The isin(ivf_cell) candidate filter reaches the parquet scan as a
    pushed filter — the index prunes I/O, not just rows."""
    emb_idx = indexing.read_indexed_embeddings(spark, index_dir)
    plan = _executed_plan(emb_idx.filter(F.col("ivf_cell").isin([1, 2])))
    assert "PushedFilters" in plan and "ivf_cell" in plan.split("PushedFilters")[1][:200]


def test_multi_analyzer_spec_keeps_all_corpus_stats(spark, tmp_path):
    """A spec with several (col, analyzer) pairings must keep corpus stats
    for every token column (regression: per-tok_col overwrite into the
    shared segment dir used to clobber siblings)."""
    docs = load_table(spark, SF, "documents")
    out = indexing.build_text_index(
        spark, docs, str(tmp_path / "multi"),
        {"text": ["custom_shingles", "keyword_lowercase"]},
    )
    for tok_col in ("text__custom_shingles", "text__keyword_lowercase"):
        stats = indexing.bm25_stats_from_index(spark, out, tok_col, ["spark"])
        assert stats.n_docs > 0 and stats.avgdl > 0
    with pytest.raises(ValueError, match="no corpus stats"):
        indexing.bm25_stats_from_index(spark, out, "text__typo", ["spark"])


def test_bm25_stats_lookup_is_one_job_and_provider_follows_segments(
    spark, tmp_path, spark_jobs
):
    """On a two-segment index the statistics lookup is one shuffle-free job
    and equals the aggregation over the stored documents. The provider's
    memo follows the segment set: a repeated call on an unchanged index runs
    no job, and the same text after an increment sees the new segment."""
    from tweets_elastic_spark.functions.analyzers import analyze_text
    from tweets_elastic_spark.plans.search import bm25_stats
    from tweets_elastic_spark.sources.incremental import WatermarkStore

    docs = load_table(spark, SF, "documents")
    emb = load_table(spark, SF, "embeddings")
    src_half, src_full = str(tmp_path / "half"), str(tmp_path / "full")
    for out, pred in ((src_half, "<= 249"), (src_full, ">= 0")):
        docs.filter(f"doc_id {pred}").write.parquet(os.path.join(out, "documents.parquet"))
        emb.filter(f"vec_id {pred}").write.parquet(os.path.join(out, "embeddings.parquet"))
    idx = indexing.build_index(spark, src_half, str(tmp_path / "idx"))
    tok_col, text = "text__custom_shingles", "spark merge"
    provider = indexing.index_bm25_provider(spark, idx)
    before = provider(((tok_col, 1.0),), "custom_shingles", text)
    with spark_jobs() as jobs:
        assert provider(((tok_col, 1.0),), "custom_shingles", text) is before
    assert jobs[0] == 0

    store = WatermarkStore(str(tmp_path / "wm.json"))
    assert indexing.index_increment(spark, src_full, idx, store) == 250
    qtokens = analyze_text(spark, text, "custom_shingles")
    with spark_jobs() as jobs:
        direct = indexing.bm25_stats_from_index(spark, idx, tok_col, qtokens)
    assert jobs[0] == 1
    scan = bm25_stats(indexing.read_indexed_documents(spark, idx), [(tok_col, 1.0)],
                      qtokens)
    assert (direct.n_docs, direct.df) == (scan.n_docs, scan.df)
    assert abs(direct.avgdl - scan.avgdl) < 1e-9

    after = provider(((tok_col, 1.0),), "custom_shingles", text)
    assert after.n_docs == 2 * before.n_docs == 500.0
    assert (after.n_docs, after.avgdl, after.df) == (direct.n_docs, direct.avgdl, direct.df)


def test_request_envelopes_score_like_from_es_json(spark, index_dir):
    """BM25 ``match`` and ``multi_match`` requests shaped like the search
    benchmark's, and a ``standard`` retriever around the ``match``, return
    the same ids and scores through ``es_request``, ``es_msearch`` and
    ``from_es_json`` + ``search``: the envelopes hand the index provider to
    every query they compile."""
    from tweets_elastic_spark.plans.aggs import es_request
    from tweets_elastic_spark.plans.api import es_msearch
    from tweets_elastic_spark.plans.search import from_es_json, search

    docs = indexing.read_indexed_documents(spark, index_dir)
    bindings = dict(
        analyzers={"text": "custom_shingles"},
        tokens_cols={"text": "text__custom_shingles"},
        id_field="doc_id",
        bm25_stats_for=indexing.index_bm25_provider(spark, index_dir),
    )
    match = {"bool": {
        "should": [{"match": {"text": {"query": "spark merge"}}}],
        "filter": [{"term": {"lang": "en"}},
                   {"match": {"text": "spark merge"}}]}}
    multi = {"multi_match": {"query": "spark merge", "fields": ["text^2"],
                             "type": "most_fields"}}
    queries = [match, multi, match]
    requests = [
        {"query": match, "size": 10},
        {"query": multi, "size": 10},
        {"retriever": {"standard": {"query": match}}, "size": 10},
    ]

    def rows(df):
        return [(r["doc_id"], round(r["score"], 6))
                for r in df.select("doc_id", "score").collect()]

    want = [rows(search(docs, from_es_json({"query": q}, **bindings),
                        k=10, tiebreak="doc_id")) for q in queries]
    # BM25 scores vary by document; overlap legs would score a constant
    assert all(len({s for _, s in w}) > 1 for w in want)
    assert [rows(es_request(docs, r, tiebreak="doc_id", **bindings))
            for r in requests] == want
    assert [rows(df) for df in es_msearch(docs, requests, tiebreak="doc_id",
                                          **bindings)] == want


def test_index_provider_serves_one_column(spark, index_dir):
    """The index stores one term dictionary per token column, so the
    provider prices one column; the union document frequency a
    several-field combined_fields / cross_fields needs is refused at
    compile time. A weighted single column scales the mean length."""
    from tweets_elastic_spark.plans.search import from_es_json

    provider = indexing.index_bm25_provider(spark, index_dir)
    bindings = dict(
        analyzers={"text": "custom_shingles", "title": "custom_shingles"},
        tokens_cols={"text": "text__custom_shingles",
                     "title": "title__custom_shingles"},
        bm25_stats_for=provider,
    )
    for dsl in (
        {"combined_fields": {"query": "spark merge",
                             "fields": ["text", "title"]}},
        {"multi_match": {"query": "spark merge", "fields": ["text", "title"],
                         "type": "cross_fields"}},
    ):
        with pytest.raises(ValueError, match="union document frequency"):
            from_es_json(dsl, **bindings)
    col = "text__custom_shingles"
    one = provider(((col, 1.0),), "custom_shingles", "spark merge")
    two = provider(((col, 2.0),), "custom_shingles", "spark merge")
    assert (two.n_docs, two.df) == (one.n_docs, one.df)
    assert two.avgdl == 2 * one.avgdl


def test_fuzzy_expand_is_one_job_over_segments(spark, tmp_path, spark_jobs):
    """The dictionary walk reads with the fixed schema (no inference job)
    and dedupes a token held by several segments in the driver (no
    shuffle)."""
    idx = str(tmp_path / "idx")
    for seg, rows in (("base", [("spark", 3), ("spork", 1), ("merge", 2)]),
                      ("wm_9", [("spark", 1), ("sparc", 1)])):
        spark.createDataFrame(rows, "token string, df long").write.parquet(
            f"{idx}/token_stats__text__std/segment={seg}")
    with spark_jobs() as jobs:
        got = indexing.fuzzy_expand(spark, idx, "text__std", "sparx", fuzziness=1)
    assert got == ["sparc", "spark"]
    assert jobs[0] == 1


def test_embeddings_only_increment_advances(spark, tmp_path):
    """An arrival with new embeddings but no new documents still indexes
    the vectors and advances the vec watermark (streams are independent)."""
    from tweets_elastic_spark.sources.incremental import WatermarkStore

    sf = "/root/testdata/sf0.01"
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    src = str(tmp_path / "src")
    docs.filter("doc_id <= 100").write.parquet(os.path.join(src, "documents.parquet"))
    emb.write.parquet(os.path.join(src, "embeddings.parquet"))

    idx = indexing.build_index(spark, src, str(tmp_path / "idx"))
    store = WatermarkStore(str(tmp_path / "wm.json"))
    store.set("index.doc_id", 100)
    store.set("index.vec_id", 250)  # embeddings 251.. not yet indexed
    # no new documents; embeddings must still land
    assert indexing.index_increment(spark, src, idx, store) == 0
    assert store.get("index.vec_id") == 499
    total = indexing.read_indexed_embeddings(spark, idx).count()
    assert total == emb.count() + emb.filter("vec_id > 250").count()


def test_rebuild_clears_stale_increment_segments(spark, tmp_path):
    """build_index into a directory that previously received increments
    must not leave the old wm_* segments behind (readers scan the whole
    parent dir)."""
    from tweets_elastic_spark.sources.incremental import WatermarkStore

    sf = "/root/testdata/sf0.01"
    src = str(tmp_path / "src")
    load_table(spark, sf, "documents").filter("doc_id <= 250").write.parquet(
        os.path.join(src, "documents.parquet")
    )
    load_table(spark, sf, "embeddings").filter("vec_id <= 250").write.parquet(
        os.path.join(src, "embeddings.parquet")
    )
    idx = indexing.build_index(spark, src, str(tmp_path / "idx"))
    store = WatermarkStore(str(tmp_path / "wm.json"))
    store.set("index.doc_id", 100)
    store.set("index.vec_id", 100)
    indexing.index_increment(spark, src, idx, store)  # creates wm_* segments
    n_docs_with_dups = indexing.read_indexed_documents(spark, idx).count()
    assert n_docs_with_dups > 251  # 101..250 duplicated across segments

    indexing.build_index(spark, src, idx)  # full rebuild
    assert indexing.read_indexed_documents(spark, idx).count() == 251
    assert indexing.read_indexed_embeddings(spark, idx).count() == 251


def test_reference_flow_etl_index_search(spark, tmp_path):
    """The reference's whole main() retold on one wire: star tables →
    denormalized tweet documents (J1-J9) → index-time analysis of
    ``content`` (Lucene multi-field) → the showcase query shape
    (function_score: weighted nested-match should + range/exists filters,
    elastic_queries.json:1-46) WITH BM25 relevance over the stored token
    column — and the search plan touches no Python."""
    from tweets_elastic_spark.functions.analyzers import analyze_text
    from tweets_elastic_spark.operators.denormalize import build_tweet_documents
    from tweets_elastic_spark.plans.search import (
        BM25Match,
        Bool,
        Exists,
        FunctionScore,
        Match,
        Nested,
        Range,
        search,
    )
    from tweets_elastic_spark.sources.fixtures import make_tweets_tables

    tables = make_tweets_tables(spark, n_conversations=60)
    docs = build_tweet_documents(tables)
    idx = indexing.build_text_index(
        spark, docs, str(tmp_path / "twidx"), {"content": ["custom_shingles"]}
    )
    d = indexing.read_indexed_documents(spark, idx)

    qtokens = analyze_text(spark, "tweet number", "custom_shingles")
    stats = indexing.bm25_stats_from_index(
        spark, idx, "content__custom_shingles", qtokens
    )
    match = BM25Match(
        [("content", "content__custom_shingles", 1.0)], "tweet number",
        analyzer="custom_shingles", stats=stats,
    )
    query = FunctionScore(
        Bool(
            should=[
                (match, 2.0),
                (
                    Nested(
                        "context_annotations",
                        Match("domain.name", "Person", analyzer=None),
                    ),
                    5.0,
                ),
            ],
            filter=[
                Range("author.following_count", gt=100),
                Nested("links", Exists("url")),
                match,
            ],
        )
    )
    hits = search(d, query, k=10, tiebreak="id")
    plan = _executed_plan(hits)
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan
    rows = hits.collect()
    assert rows, "the showcase query must match fixture documents"
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert r["author"]["following_count"] > 100
        assert any(l["url"] is not None for l in r["links"])


def test_segmented_increment_equals_monolithic_index(spark, tmp_path):
    """Lucene's segment story end-to-end: base build over half the corpus,
    one appended increment segment for the rest — aggregated stats and
    BM25 results are IDENTICAL to a monolithic full build; nothing in the
    base segment was rewritten."""
    from tweets_elastic_spark.functions.analyzers import analyze_text
    from tweets_elastic_spark.plans.search import BM25Match, Bool, FunctionScore, Term, search
    from tweets_elastic_spark.sources.incremental import WatermarkStore

    sf = "/root/testdata/sf0.01"
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    src_half = str(tmp_path / "src_half")
    src_full = str(tmp_path / "src_full")
    for out, pred in ((src_half, "doc_id <= 250"), (src_full, "true")):
        docs.filter(pred.replace("doc_id", "doc_id")).write.parquet(
            os.path.join(out, "documents.parquet")
        )
        emb.filter(pred.replace("doc_id", "vec_id")).write.parquet(
            os.path.join(out, "embeddings.parquet")
        )

    idx_mono = indexing.build_index(spark, src_full, str(tmp_path / "idx_mono"))
    idx_seg = indexing.build_index(spark, src_half, str(tmp_path / "idx_seg"))
    base_files = set()
    for root, _, files in os.walk(os.path.join(idx_seg, "documents_indexed", "segment=base")):
        base_files |= {os.path.join(root, f) for f in files}
    base_mtimes = {f: os.path.getmtime(f) for f in base_files}

    store = WatermarkStore(str(tmp_path / "wm.json"))
    store.set("index.doc_id", 250)
    store.set("index.vec_id", 250)
    n_rest = docs.filter("doc_id > 250").count()
    assert indexing.index_increment(spark, src_full, idx_seg, store) == n_rest
    assert indexing.index_increment(spark, src_full, idx_seg, store) == 0  # caught up
    # base segment untouched by the append
    assert {f: os.path.getmtime(f) for f in base_files} == base_mtimes

    qtokens = analyze_text(spark, "spark merge", "custom_shingles")
    s_mono = indexing.bm25_stats_from_index(
        spark, idx_mono, "text__custom_shingles", qtokens
    )
    s_seg = indexing.bm25_stats_from_index(
        spark, idx_seg, "text__custom_shingles", qtokens
    )
    assert (s_mono.n_docs, s_mono.avgdl, s_mono.df) == (
        s_seg.n_docs, s_seg.avgdl, s_seg.df,
    )

    def bm25_results(idx):
        d = indexing.read_indexed_documents(spark, idx)
        stats = indexing.bm25_stats_from_index(
            spark, idx, "text__custom_shingles", qtokens
        )
        match = BM25Match(
            [("text", "text__custom_shingles", 1.0)], "spark merge",
            analyzer="custom_shingles", stats=stats,
        )
        q = FunctionScore(Bool(should=[(match, 1.0)], filter=[Term("lang", "en"), match]))
        out = search(d, q, k=None).select("doc_id", F.round("score", 6).alias("s"))
        return sorted((r["doc_id"], r["s"]) for r in out.collect())

    assert bm25_results(idx_mono) == bm25_results(idx_seg)

    # embeddings: all rows present; signatures (seed-fixed, centroid-free)
    # agree across layouts for every id
    e_mono = indexing.read_indexed_embeddings(spark, idx_mono)
    e_seg = indexing.read_indexed_embeddings(spark, idx_seg)
    a = {r["vec_id"]: tuple(r[c] for c in indexing.SIG_COLS)
         for r in e_mono.select("vec_id", *indexing.SIG_COLS).collect()}
    b = {r["vec_id"]: tuple(r[c] for c in indexing.SIG_COLS)
         for r in e_seg.select("vec_id", *indexing.SIG_COLS).collect()}
    assert a == b


def test_stored_pq_codes_round_trip_encoder(spark):
    """The pq_codes column written at ingest equals a fresh Arrow-GEMM
    encoding of the raw vectors under the sidecar codebooks — the stored
    index faithfully round-trips the encoder (and an increment segment
    carries codes too, via the same assertion over ALL segments)."""
    import numpy as np
    from pyspark.sql import functions as F

    from tweets_elastic_spark.indexing import (
        ensure_index, pq_books_from_seeds, read_index_meta,
        read_indexed_embeddings,
    )
    from tweets_elastic_spark.operators.similarity import pq_codes_batched
    from tweets_elastic_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.01"
    idx = ensure_index(spark, sf)
    meta = read_index_meta(idx)
    books = pq_books_from_seeds(
        np.asarray(meta["pq_seeds"], dtype=np.float64), int(meta["pq"]["m"])
    )
    stored = {
        r["vec_id"]: list(r["pq_codes"])
        for r in read_indexed_embeddings(spark, idx).select("vec_id", "pq_codes").collect()
    }
    fresh = {
        r["vec_id"]: list(r["c"])
        for r in load_table(spark, sf, "embeddings")
        .select("vec_id", pq_codes_batched(F.col("embedding"), books).alias("c"))
        .collect()
    }
    assert stored == fresh and len(stored) > 0


def test_indexed_pq_query_plan_has_no_python(spark):
    """The query-time plan over stored codes must contain no Python UDF
    stage — encoding happened at ingest."""
    from tweets_elastic_spark import registry

    df = registry.get("ann_pq_topk_indexed").fn(spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_suggest_phrase_corrects_multiword_typos(spark, tmp_path):
    """Did-you-mean: per-token dictionary candidates ranked by the bigram
    LM minus an edit prior — the corpus-frequent phrase wins over the
    verbatim typo and over corrections that form no known bigram."""
    import os

    rows = [(i, "spark streaming merge pipeline runs nightly") for i in range(30)]
    rows += [(100 + i, "sparks fly in the dark park") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    emb = spark.createDataFrame(
        [(i, [float(i % 7)] * 64) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    src = str(tmp_path / "src")
    docs.write.parquet(os.path.join(src, "documents.parquet"))
    emb.write.parquet(os.path.join(src, "embeddings.parquet"))
    idx = indexing.build_index(spark, src, str(tmp_path / "idx"))

    out = indexing.suggest_phrase(
        spark, idx, "text__custom_shingles", "spark stremaing",
        docs, max_edits=2, per_term=4, size=3,
    ).collect()
    assert out[0]["suggestion"] == "spark streaming"
    assert out[0]["n_edits"] >= 1
    assert out[0]["score"] > out[-1]["score"] or len(out) == 1
    # single-token input is the term suggester's job
    import pytest as _pytest
    with _pytest.raises(ValueError, match=">= 2 tokens"):
        indexing.suggest_phrase(
            spark, idx, "text__custom_shingles", "spark", docs
        )
    # out-of-vocabulary token survives as its own candidate
    out2 = indexing.suggest_phrase(
        spark, idx, "text__custom_shingles", "zzzqqqxxx streaming",
        docs, max_edits=1, per_term=3, size=5,
    ).collect()
    assert any(r["suggestion"].startswith("zzzqqqxxx ") for r in out2)


def test_compaction_merges_segments_without_reanalysis(spark, tmp_path):
    """Base + increment + compaction == monolithic: one segment remains,
    aggregated stats and BM25 results unchanged, the sidecar's watermark
    seeds survive so a fresh store appends nothing, and re-compacting is
    a no-op."""
    from tweets_elastic_spark.functions.analyzers import analyze_text
    from tweets_elastic_spark.plans.search import BM25Match, search
    from tweets_elastic_spark.sources.incremental import WatermarkStore

    sf = "/root/testdata/sf0.01"
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    src_half = str(tmp_path / "src_half")
    src_full = str(tmp_path / "src_full")
    for out, dpred, epred in (
        (src_half, "doc_id <= 250", "vec_id <= 250"),
        (src_full, "true", "true"),
    ):
        docs.filter(dpred).write.parquet(os.path.join(out, "documents.parquet"))
        emb.filter(epred).write.parquet(os.path.join(out, "embeddings.parquet"))

    idx_mono = indexing.build_index(spark, src_full, str(tmp_path / "im"))
    idx = indexing.build_index(spark, src_half, str(tmp_path / "ic"))
    store = WatermarkStore(str(tmp_path / "wm.json"))
    indexing.index_increment(spark, src_full, idx, store)
    seg_dir = os.path.join(idx, "documents_indexed")
    assert len([d for d in os.listdir(seg_dir) if d.startswith("segment=")]) == 2

    assert indexing.compact_index_segments(spark, idx) == 2
    assert [d for d in os.listdir(seg_dir) if d.startswith("segment=")] == \
        ["segment=base"]
    assert indexing.compact_index_segments(spark, idx) == 1  # no-op

    qtokens = analyze_text(spark, "spark merge", "custom_shingles")
    s_a = indexing.bm25_stats_from_index(
        spark, idx, "text__custom_shingles", qtokens
    )
    s_b = indexing.bm25_stats_from_index(
        spark, idx_mono, "text__custom_shingles", qtokens
    )
    assert (s_a.n_docs, s_a.avgdl, s_a.df) == (s_b.n_docs, s_b.avgdl, s_b.df)

    def results(i):
        d = indexing.read_indexed_documents(spark, i)
        stats = indexing.bm25_stats_from_index(
            spark, i, "text__custom_shingles", qtokens
        )
        m = BM25Match([("text", "text__custom_shingles", 1.0)], "spark merge",
                      analyzer="custom_shingles", stats=stats)
        out = search(d, m, k=None).select(
            "doc_id", F.round("score", 6).alias("s")
        )
        return sorted((r["doc_id"], r["s"]) for r in out.collect())

    assert results(idx) == results(idx_mono)

    # a FRESH watermark store resumes from the compacted sidecar seeds
    store2 = WatermarkStore(str(tmp_path / "wm2.json"))
    assert indexing.index_increment(spark, src_full, idx, store2) == 0


def test_compaction_crash_recovery(spark, tmp_path):
    """Simulated crashes in both windows of the compaction protocol:
    before the READY marker (partial tmp trees are discarded, live index
    untouched) and mid-swap after the marker (the re-run FINISHES the
    swap, including the sidecar watermark seeds)."""
    import json as _json
    import shutil

    from tweets_elastic_spark.sources.incremental import WatermarkStore

    sf = "/root/testdata/sf0.01"
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    src = str(tmp_path / "src")
    docs.write.parquet(os.path.join(src, "documents.parquet"))
    emb.write.parquet(os.path.join(src, "embeddings.parquet"))
    src_half = str(tmp_path / "src_half")
    docs.filter("doc_id <= 250").write.parquet(
        os.path.join(src_half, "documents.parquet"))
    emb.filter("vec_id <= 250").write.parquet(
        os.path.join(src_half, "embeddings.parquet"))

    idx = indexing.build_index(spark, src_half, str(tmp_path / "idx"))
    store = WatermarkStore(str(tmp_path / "wm.json"))
    indexing.index_increment(spark, src, idx, store)

    # crash window 1: a stray partial __compacting dir, no marker
    junk = os.path.join(idx, "corpus_stats__compacting")
    os.makedirs(junk)
    with open(os.path.join(junk, "partial"), "w") as f:
        f.write("incomplete")
    assert indexing.compact_index_segments(spark, idx) == 2  # merged fine
    assert not os.path.exists(junk)

    # rebuild a 2-segment index for crash window 2
    idx2 = indexing.build_index(spark, src_half, str(tmp_path / "idx2"))
    store2 = WatermarkStore(str(tmp_path / "wm2.json"))
    indexing.index_increment(spark, src, idx2, store2)
    # run compaction, then REWIND to a mid-swap state: restore one live
    # tree's pre-swap content into __compacting, delete the live tree,
    # and recreate the marker — exactly what a kill between rename calls
    # leaves behind
    meta_before = indexing.read_index_meta(idx2)
    assert indexing.compact_index_segments(spark, idx2) == 2
    live = os.path.join(idx2, "corpus_stats")
    dst = live + "__compacting"
    shutil.move(live, dst)
    with open(os.path.join(idx2, "_COMPACTION_READY"), "w") as f:
        _json.dump({"trees": ["corpus_stats"],
                    "meta": indexing.read_index_meta(idx2)}, f)
    # the index is now broken (live tree missing) — entry recovery heals it
    assert indexing.compact_index_segments(spark, idx2) == 1
    assert os.path.isdir(live) and not os.path.exists(dst)
    assert not os.path.exists(os.path.join(idx2, "_COMPACTION_READY"))
    # watermark seeds advanced past the merged stream (no re-indexing)
    store3 = WatermarkStore(str(tmp_path / "wm3.json"))
    assert indexing.index_increment(spark, src, idx2, store3) == 0
    assert indexing.read_index_meta(idx2)["base_max_doc_id"] >= \
        meta_before["base_max_doc_id"]


def test_index_lifecycle_end_to_end(spark, tmp_path):
    """The whole served-index story in one flow: ETL denormalizes the
    star tables into documents -> base index build -> a query day (BM25 +
    term suggest) -> two batch increments -> compaction -> the same
    queries, with results identical to a monolithic index over
    everything. Every stage is covered piecewise elsewhere; this pins that
    the stages COMPOSE."""
    from tweets_elastic_spark.functions.analyzers import analyze_text
    from tweets_elastic_spark.plans.search import BM25Match, search
    from tweets_elastic_spark.sources.catalog import load_table
    from tweets_elastic_spark.sources.incremental import WatermarkStore

    sf = "/root/testdata/sf0.01"
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")

    def mk_src(path, dpred, epred):
        docs.filter(dpred).write.parquet(os.path.join(path, "documents.parquet"))
        emb.filter(epred).write.parquet(os.path.join(path, "embeddings.parquet"))
        return path

    src_full = mk_src(str(tmp_path / "s_full"), "true", "true")
    src_a = mk_src(str(tmp_path / "s_a"), "doc_id <= 150", "vec_id <= 150")
    src_b = mk_src(str(tmp_path / "s_b"), "doc_id <= 300", "vec_id <= 300")

    idx = indexing.build_index(spark, src_a, str(tmp_path / "idx"))
    idx_mono = indexing.build_index(spark, src_full, str(tmp_path / "mono"))

    qtokens = analyze_text(spark, "spark merge", "custom_shingles")

    def bm25(i):
        d = indexing.read_indexed_documents(spark, i)
        stats = indexing.bm25_stats_from_index(
            spark, i, "text__custom_shingles", qtokens)
        m = BM25Match([("text", "text__custom_shingles", 1.0)], "spark merge",
                      analyzer="custom_shingles", stats=stats)
        out = search(d, m, k=None).select(
            "doc_id", F.round("score", 6).alias("s"))
        return sorted((r["doc_id"], r["s"]) for r in out.collect())

    assert bm25(idx)  # the young index already serves queries

    # two batch increments: docs 151..300, then the rest
    store = WatermarkStore(str(tmp_path / "wm.json"))
    assert indexing.index_increment(spark, src_b, idx, store) == 150
    assert indexing.index_increment(spark, src_full, idx, store) == \
        docs.filter("doc_id > 300").count()

    seg_dir = os.path.join(idx, "documents_indexed")
    n_segs = len([d for d in os.listdir(seg_dir) if d.startswith("segment=")])
    assert n_segs == 3  # base + two increments

    # multi-segment index answers identically to the monolithic build
    assert bm25(idx) == bm25(idx_mono)
    sug = indexing.suggest_terms(spark, idx, "text__custom_shingles",
                                 "sparc", max_edits=2, size=3).collect()
    sug_mono = indexing.suggest_terms(spark, idx_mono, "text__custom_shingles",
                                      "sparc", max_edits=2, size=3).collect()
    assert [tuple(r) for r in sug] == [tuple(r) for r in sug_mono]

    # compaction collapses the segments without changing a single answer
    assert indexing.compact_index_segments(spark, idx) == n_segs
    assert bm25(idx) == bm25(idx_mono)
    assert [tuple(r) for r in indexing.suggest_terms(
        spark, idx, "text__custom_shingles", "sparc",
        max_edits=2, size=3).collect()] == [tuple(r) for r in sug_mono]


def test_suggest_completion_fuzzy_prefix(spark, sf_dir=None):
    """Fuzzy completion: a typo'd PREFIX still completes; exact mode is
    sargable and returns weight-ranked candidates."""
    from tweets_elastic_spark.indexing import (
        ensure_index,
        suggest_completion,
    )

    sf = "/root/testdata/sf0.001"
    idx = ensure_index(spark, sf)
    exact = suggest_completion(spark, idx, "text__custom_shingles", "spark",
                               size=10).collect()
    assert exact and all(r["suggestion"].startswith("spark") for r in exact)
    # weights descend (ties broken by suggestion asc)
    ws = [r["weight"] for r in exact]
    assert ws == sorted(ws, reverse=True)
    # 'spqrk' is 1 edit from the 'spark' prefix
    fuzzy = {r["suggestion"]
             for r in suggest_completion(spark, idx, "text__custom_shingles",
                                         "spqrk", size=10,
                                         fuzzy_edits=1).collect()}
    assert any(s.startswith("spark") for s in fuzzy)
    none = suggest_completion(spark, idx, "text__custom_shingles", "spqrk",
                              size=10).collect()
    assert none == []
    # deletion typo: 'sprk' omits a letter — the matching candidate
    # prefix ('spark', 5 chars) is LONGER than the typed text
    fuzzy_del = {r["suggestion"]
                 for r in suggest_completion(spark, idx,
                                             "text__custom_shingles",
                                             "sprk", size=10,
                                             fuzzy_edits=1).collect()}
    assert any(s.startswith("spark") for s in fuzzy_del)


def test_index_stats_reports_counts_and_segments(spark):
    from tweets_elastic_spark.indexing import ensure_index, index_stats
    from tweets_elastic_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    idx = ensure_index(spark, sf)
    stats = index_stats(spark, idx)
    n_docs = load_table(spark, sf, "documents").count()
    assert stats["datasets"]["documents_indexed"]["rows"] == n_docs
    for name, d in stats["datasets"].items():
        assert d["segments"] >= 1 and d["bytes"] > 0, name
    assert "token_stats__text__custom_shingles" in stats["datasets"]
