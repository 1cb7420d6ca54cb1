"""Queries over the MATERIALIZED index (indexing.build_index) — the
demonstrated form of the "analyze once at ingest, scan stored columns at
query time" plan every inline variant's docstring points to.

Each entry calls ``ensure_index`` (build-once per fixture, a real parquet
write → read-back), then runs a query whose corpus-side plan contains no
analyzer UDFs and no signature computation — only stored-column JVM
predicates. Oracles recompute the same tokens/signatures from the RAW
tables with the same deterministic definitions, so the driver's gate also
proves the stored columns faithfully round-trip the inline analysis.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tweets_elastic_spark.functions.analyzers import analyze_text
from tweets_elastic_spark.indexing import (
    SIG_COLS,
    bm25_stats_from_index,
    ensure_index,
    fuzzy_expand,
    pq_books_from_seeds,
    read_index_meta,
    read_indexed_documents,
    read_indexed_embeddings,
    suggest_completion,
    suggest_phrase,
    suggest_terms,
)
from tweets_elastic_spark.operators import similarity as S
from tweets_elastic_spark.plans.search import (
    BM25Match,
    Bool,
    FunctionScore,
    Range,
    Term,
    search,
)
from tweets_elastic_spark.queries.dedup_q import _LSH_ORACLE, _PQ_ORACLE, _rh_sig_sql
from tweets_elastic_spark.queries.search_q import (
    _BM25_DF_SQL,
    _BM25_ORACLE,
    _BM25_SCORE_SQL,
    _TOKENS_CTE,
)
from tweets_elastic_spark.registry import bench_variant, register
from tweets_elastic_spark.sources.catalog import load_table


def _query_vec(emb: DataFrame, vec_id: int = 0) -> list[float]:
    return [float(x) for x in emb.filter(f"vec_id = {vec_id}").head()["embedding"]]


@register(
    "search_bm25_indexed",
    oracle=_BM25_ORACLE,
    doc="search_bm25 over the WRITTEN index: tokens come from the stored "
        "text__custom_shingles column (one analyzer pass at ingest, never "
        "at query time), corpus stats from the sidecar + a pushdown lookup "
        "of the ingest-time term dictionary — so the whole query is ONE "
        "corpus scan of pure JVM expressions, no Python anywhere. The "
        "oracle recomputes tokens AND stats from raw text, so a green row "
        "also proves the stored columns round-trip the inline analysis.",
)
def q_search_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = ensure_index(spark, sf_dir)
    docs = read_indexed_documents(spark, idx)
    qtokens = analyze_text(spark, "spark merge", "custom_shingles")
    stats = bm25_stats_from_index(spark, idx, "text__custom_shingles", qtokens)
    match = BM25Match(
        [("text", "text__custom_shingles", 1.0)], "spark merge",
        analyzer="custom_shingles", stats=stats,
    )
    query = FunctionScore(
        Bool(should=[(match, 1.0)], filter=[Term("lang", "en"), match])
    )
    return search(docs, query, k=None).select(
        "doc_id", "lang", F.round("score", 6).alias("score")
    )


@register(
    "search_bm25_function_score",
    oracle=_TOKENS_CTE + f""",
    stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               avg(CAST(len(tokens) AS DOUBLE)) AS avgdl
        FROM toks
    ),
    dfs AS (SELECT {_BM25_DF_SQL} FROM toks)
    SELECT doc_id, lang, n_chars,
           round(2.0 * ({_BM25_SCORE_SQL}), 6) AS score
    FROM toks, stats s, dfs d
    WHERE lang = 'en' AND n_chars > 300
      AND list_has_any(tokens, ['spark', 'merge', 'sparkmerge'])
    ORDER BY round(2.0 * ({_BM25_SCORE_SQL}), 6) DESC, doc_id ASC
    LIMIT 25
    """,
    doc="The full ES semantics in one plan: function_score(bool(should="
        "[BM25 match, weight 2], filter=[term lang, range n_chars, match])) "
        "+ top-k — the reference query shape with real relevance scoring, "
        "over the written index. Ordering uses the 6-decimal-rounded score "
        "on BOTH sides so cross-engine float noise cannot reorder the "
        "cutoff; ties break by doc_id.",
)
def q_search_bm25_function_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = ensure_index(spark, sf_dir)
    docs = read_indexed_documents(spark, idx)
    qtokens = analyze_text(spark, "spark merge", "custom_shingles")
    stats = bm25_stats_from_index(spark, idx, "text__custom_shingles", qtokens)
    match = BM25Match(
        [("text", "text__custom_shingles", 1.0)], "spark merge",
        analyzer="custom_shingles", stats=stats,
    )
    query = FunctionScore(
        Bool(
            should=[(match, 2.0)],
            filter=[Term("lang", "en"), Range("n_chars", gt=300), match],
        )
    )
    scored = search(docs, query, k=None).withColumn(
        "score", F.round("score", 6)
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(25)
        .select("doc_id", "lang", "n_chars", "score")
    )


@register(
    "ann_lsh_topk_indexed",
    oracle=_LSH_ORACLE,
    doc="LSH ANN over the written index: the candidate filter is "
        "bit_count(stored_sig XOR query_sig) <= 2 over the four persisted "
        "signature longs — no signature computation in the corpus plan. "
        "Same oracle as the inline variant (identical candidate set by "
        "construction), which also pins stored == recomputed signatures.",
)
def q_ann_lsh_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_indexed_embeddings(spark, ensure_index(spark, sf_dir))
    qvec = _query_vec(emb)
    return S.ann_lsh_topk_indexed(emb, qvec, k=10, sig_cols=SIG_COLS)


@bench_variant(
    "ann_ivf_topk_indexed",
    doc="PRODUCTION IVF-through-the-index (bench-only): probe "
        "cells come from the sidecar centroids, which no static SQL can "
        "reach — stored==recomputed cells and single-vs-indexed "
        "equivalence are pinned in tests/test_indexing.py, and the "
        "k-means IVF contract holds a driver row via "
        "ann_ivf_recall_profile; the corpus plan is a pure "
        "isin(ivf_cell) filter over the stored cell id + exact rerank.",
)
def q_ann_ivf_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = ensure_index(spark, sf_dir)
    emb = read_indexed_embeddings(spark, idx)
    centroids = np.asarray(read_index_meta(idx)["centroids"], dtype=np.float64)
    qvec = _query_vec(emb)
    return S.ann_ivf_topk_indexed(emb, centroids, qvec, k=10, nprobe=6)


# Batched-ANN oracle: per-query signatures and the Hamming filter inlined
# with the same literal planes, ranked per query.
_LSH_TABLE_SEEDS = [7 + 101 * t for t in range(4)]
_LSH_MULTI_ORACLE = (
    "WITH qraw AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv\n"
    "              FROM embeddings WHERE vec_id < 5),\n"
    "q AS (\n    SELECT q_id, qv,\n"
    + ",\n".join(
        f"        {_rh_sig_sql('qv', n_bits=6, seed=seed)} AS q{t}"
        for t, seed in enumerate(_LSH_TABLE_SEEDS)
    )
    + "\n    FROM qraw\n),\n"
    "s AS (\n    SELECT vec_id, embedding::DOUBLE[] AS v,\n"
    + ",\n".join(
        f"        {_rh_sig_sql('embedding::DOUBLE[]', n_bits=6, seed=seed)} AS s{t}"
        for t, seed in enumerate(_LSH_TABLE_SEEDS)
    )
    + "\n    FROM embeddings\n),\n"
    "cand AS (\n"
    "    SELECT q.q_id, s.vec_id, list_cosine_similarity(s.v, q.qv) AS cos\n"
    "    FROM s JOIN q ON ("
    + "\n        OR ".join(
        f"bit_count(xor(s.s{t}::BIGINT, q.q{t}::BIGINT)) <= 2"
        for t in range(4)
    )
    + ")\n),\n"
    "ranked AS (\n"
    "    SELECT q_id, vec_id, cos,\n"
    "           row_number() OVER (PARTITION BY q_id\n"
    "                              ORDER BY cos DESC, vec_id ASC) AS rn\n"
    "    FROM cand\n)\n"
    "SELECT q_id, vec_id, round(cos, 6) AS score FROM ranked WHERE rn <= 3"
)


@register(
    "ann_lsh_multi_indexed",
    oracle=_LSH_MULTI_ORACLE,
    doc="Batched ANN THROUGH the index: 5 query vectors served in ONE "
        "corpus scan — broadcast query signatures, Hamming-<=2 candidate "
        "join against the stored signature columns, exact-cosine scoring "
        "of candidates only, per-query ranking window. The indexed answer "
        "to cosine_topk_multi: same broadcast-batch shape, but the LSH "
        "filter prunes (doc, query) pairs before any cosine is computed.",
)
def q_ann_lsh_multi_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_indexed_embeddings(spark, ensure_index(spark, sf_dir))
    queries = emb.filter(F.col("vec_id") < 5)
    # queries come from the indexed corpus, so even THEIR signatures are
    # stored — the whole plan computes zero signatures
    return S.ann_lsh_topk_multi(
        emb, queries, k=3, sig_cols=SIG_COLS, query_sig_cols=SIG_COLS
    )


@bench_variant(
    "ann_ivf_multi_indexed",
    doc="PRODUCTION batched IVF through the index (bench-only; "
        "see ann_ivf_topk_indexed): per-query probe cells computed "
        "inside the plan (literal-centroid distances + array_sort on the "
        "broadcast query side), array_contains(probes, stored_cell) "
        "candidate join, one corpus scan, per-query ranking window. "
        "Equivalence with the single-query indexed variant is pinned in "
        "tests (same probes, same rerank).",
)
def q_ann_ivf_multi_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = ensure_index(spark, sf_dir)
    emb = read_indexed_embeddings(spark, idx)
    centroids = np.asarray(read_index_meta(idx)["centroids"], dtype=np.float64)
    queries = emb.filter(F.col("vec_id") < 5)
    return S.ann_ivf_topk_multi(emb, centroids, queries, k=3, nprobe=6)


@register(
    "ann_pq_topk_indexed",
    oracle=_PQ_ORACLE,
    doc="PQ ANN over the WRITTEN index: the Arrow-GEMM encoder ran once at "
        "ingest (indexing.enrich_embeddings stores the m-byte pq_codes "
        "column), and the query plan is m array lookups per row over the "
        "stored codes + a 50-vector exact rerank — no encoding, no Python. "
        "Codebooks come from the sidecar's portable seed sample, so the "
        "oracle recomputes codes from the RAW tables and the driver's gate "
        "proves the stored codes faithfully round-trip the encoder.",
)
def q_ann_pq_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = ensure_index(spark, sf_dir)
    emb = read_indexed_embeddings(spark, idx)
    meta = read_index_meta(idx)
    books = pq_books_from_seeds(
        np.asarray(meta["pq_seeds"], dtype=np.float64), int(meta["pq"]["m"])
    )
    qvec = _query_vec(emb)
    return S.ann_pq_topk_indexed(emb, books, qvec, k=10, rerank=50)


@register(
    "search_match_fuzzy_indexed",
    oracle=_TOKENS_CTE + """
    SELECT doc_id, lang FROM toks
    WHERE len(list_filter(tokens, x -> levenshtein(x, 'sparc') <= 1)) > 0
       OR len(list_filter(tokens, x -> levenshtein(x, 'merg') <= 1)) > 0
    """,
    doc="Fuzzy match over the WRITTEN index, Lucene's actual plan: each "
        "typo'd query term ('sparc', 'merg') intersects its Levenshtein "
        "ball with the BOUNDED stored term dictionary once driver-side "
        "(length-pruned pushdown + built-in levenshtein — "
        "indexing.fuzzy_expand), and the corpus scan then matches the "
        "expansion EXACTLY via arrays_overlap on the stored token column: "
        "no per-row edit-distance loop anywhere near the data. The oracle "
        "recomputes true per-token fuzzy semantics from RAW text, so a "
        "green row proves dictionary expansion is semantically identical "
        "to the inline HOF form (search_match_fuzzy).",
)
def q_search_match_fuzzy_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = ensure_index(spark, sf_dir)
    docs = read_indexed_documents(spark, idx)
    expanded = sorted(
        set(fuzzy_expand(spark, idx, "text__custom_shingles", "sparc"))
        | set(fuzzy_expand(spark, idx, "text__custom_shingles", "merg"))
    )
    if not expanded:
        return docs.select("doc_id", "lang").limit(0)
    return docs.filter(
        F.arrays_overlap(
            F.col("text__custom_shingles"),
            F.array(*[F.lit(t) for t in expanded]),
        )
    ).select("doc_id", "lang")


@register(
    "es_suggest_terms",
    oracle=_TOKENS_CTE + """,
    vocab AS (
        SELECT tok AS suggestion, CAST(count(*) AS BIGINT) AS df
        FROM (SELECT DISTINCT doc_id, unnest(tokens) AS tok FROM toks)
        GROUP BY 1
    )
    SELECT suggestion, df,
           CAST(levenshtein(suggestion, 'sparc') AS INT) AS distance
    FROM vocab
    WHERE levenshtein(suggestion, 'sparc') <= 2
    ORDER BY distance ASC, df DESC, suggestion ASC
    LIMIT 5
    """,
    doc="ES term suggester (the suggest block): spell-correction "
        "candidates for the typo 'sparc' from the WRITTEN term dictionary, "
        "ranked edit-distance-first then document-frequency (ES's term-"
        "suggester sort) — the whole computation runs on the bounded "
        "vocabulary relation, never the corpus. The oracle rebuilds the "
        "vocabulary + df from RAW text (distinct doc x token), so a green "
        "row also re-proves the stored per-segment df statistics.",
)
def q_es_suggest_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = ensure_index(spark, sf_dir)
    return suggest_terms(spark, idx, "text__custom_shingles", "sparc",
                         max_edits=2, size=5)


@register(
    "es_suggest_phrase",
    # Full SQL replay: the
    # Laplace bigram arithmetic in indexing.suggest_phrase is plain
    # smoothed counting, so DuckDB re-derives the candidate lists from
    # raw text (same dictionary rebuild as the es_suggest_terms oracle,
    # incl. the verbatim-token fallback when no distance-0 candidate
    # exists), crosses them into phrases, and scores each with the same
    # ln((c12+1)/(c1+v)) + Σ ln((c1+1)/(t+v)) − 0.5·edits formula over
    # bigram/history counts rebuilt from the standard token stream.
    oracle="""
    WITH std AS (
        SELECT doc_id,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9'']+'),
                             x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    ),
    shingled AS (
        SELECT doc_id,
               list_concat(
                 t,
                 CASE WHEN len(t) >= 2
                      THEN list_transform(range(1, len(t)),
                                          i -> t[i] || t[i+1])
                      ELSE [] END) AS tokens
        FROM std
    ),
    vocab AS (
        SELECT tok AS suggestion, CAST(count(*) AS BIGINT) AS df
        FROM (SELECT DISTINCT doc_id, unnest(tokens) AS tok FROM shingled)
        GROUP BY 1
    ),
    cand1 AS (
        SELECT suggestion, levenshtein(suggestion, 'sparc') AS d
        FROM vocab WHERE levenshtein(suggestion, 'sparc') <= 2
        ORDER BY d ASC, df DESC, suggestion ASC LIMIT 3
    ),
    cand1f AS (
        SELECT suggestion, d FROM cand1
        UNION ALL
        SELECT 'sparc', 0
        WHERE NOT EXISTS (SELECT 1 FROM cand1 WHERE d = 0)
    ),
    cand2 AS (
        SELECT suggestion, levenshtein(suggestion, 'mrege') AS d
        FROM vocab WHERE levenshtein(suggestion, 'mrege') <= 2
        ORDER BY d ASC, df DESC, suggestion ASC LIMIT 3
    ),
    cand2f AS (
        SELECT suggestion, d FROM cand2
        UNION ALL
        SELECT 'mrege', 0
        WHERE NOT EXISTS (SELECT 1 FROM cand2 WHERE d = 0)
    ),
    big AS (
        SELECT p.w1 AS w1, p.w2 AS w2
        FROM (
            SELECT unnest(CASE WHEN len(t) >= 2
                               THEN list_transform(
                                 range(1, len(t)),
                                 i -> struct_pack(w1 := t[i], w2 := t[i+1]))
                               ELSE [] END) AS p
            FROM std
        )
    ),
    c12 AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c12
            FROM big GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(count(*) AS DOUBLE) AS c1
           FROM big GROUP BY 1),
    vtot AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
             FROM (SELECT unnest(t) AS tok FROM std)),
    ttot AS (SELECT CAST(sum(c1) AS DOUBLE) AS t FROM c1),
    phrases AS (
        SELECT a.suggestion AS w1, a.d AS d1, b.suggestion AS w2, b.d AS d2
        FROM cand1f a CROSS JOIN cand2f b
    ),
    scored AS (
        SELECT p.w1 || ' ' || p.w2 AS suggestion,
               round(
                 ln((coalesce(b.c12, 0) + 1.0)
                    / (coalesce(h1.c1, 0) + v.v))
                 + (ln((coalesce(h1.c1, 0) + 1.0) / (tt.t + v.v))
                    + ln((coalesce(h2.c1, 0) + 1.0) / (tt.t + v.v)))
                 - 0.5 * (p.d1 + p.d2), 6) AS score,
               CAST(p.d1 + p.d2 AS INT) AS n_edits
        FROM phrases p
        LEFT JOIN c12 b ON b.w1 = p.w1 AND b.w2 = p.w2
        LEFT JOIN c1 h1 ON h1.w1 = p.w1
        LEFT JOIN c1 h2 ON h2.w1 = p.w2
        CROSS JOIN vtot v CROSS JOIN ttot tt
    )
    SELECT suggestion, score, n_edits FROM scored
    ORDER BY score DESC, suggestion ASC
    LIMIT 5
    """,
    doc="ES phrase suggester (did-you-mean): per-token spell candidates "
        "from the WRITTEN term dictionary, candidate phrases reranked by "
        "the corpus bigram LM minus an edit prior — the portable twin of "
        "ES's shingle-field LM rescoring. 'sparc mrege' corrects to the "
        "corpus-frequent 'spark merge'; the whole computation touches the "
        "bounded vocabulary + a capped candidate product, the corpus only "
        "to fit the LM. The oracle replays ALL of it in SQL: "
        "dictionary + df rebuilt from raw text, verbatim-fallback "
        "candidate lists, phrase cross product, and the Laplace bigram "
        "score over counts rebuilt from the standard token stream.",
)
def q_es_suggest_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = ensure_index(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    return suggest_phrase(
        spark, idx, "text__custom_shingles", "sparc mrege", docs,
        max_edits=2, per_term=3, size=5,
    )


@register(
    "es_suggest_completion",
    oracle=_TOKENS_CTE + """,
    vocab AS (
        SELECT tok AS suggestion, CAST(count(*) AS BIGINT) AS weight
        FROM (SELECT DISTINCT doc_id, unnest(tokens) AS tok FROM toks)
        GROUP BY 1
    )
    SELECT suggestion, weight
    FROM vocab
    WHERE suggestion LIKE 'sp%'
    ORDER BY weight DESC, suggestion ASC
    LIMIT 5
    """,
    doc="ES completion suggester (search-as-you-type): prefix candidates "
        "from the WRITTEN term dictionary ranked by document-frequency "
        "weight — the popularity signal ES's index-time FST carries; the "
        "prefix compiles to a sargable LIKE the dictionary scan prunes "
        "on. Vocabulary-bounded, never corpus-bounded; the oracle "
        "rebuilds vocabulary + df from raw text, re-proving the stored "
        "term stats.",
)
def q_es_suggest_completion(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = ensure_index(spark, sf_dir)
    return suggest_completion(spark, idx, "text__custom_shingles", "sp",
                              size=5)
