"""Similarity search over embedding columns.

Every search here is one pipeline: **candidates → exact rerank**.

* **Exact baseline** — ``cosine_topk`` scores every row: one codegen'd
  dot/norm pass, then ``TakeOrderedAndProject`` (per-partition top-k +
  driver merge, no global sort). It is also the rerank step of every ANN
  entry point, so all of them return the same (id, score) contract.
* **Candidates** come from one of three quantizers, each step of which is
  defined once below and composed by the public entry points:

  - IVF cells (k-means or the portable md5-seed sample): keep the rows
    whose cell is among the ``nprobe`` cells nearest the query
    (``_in_probed_cells``), then cosine rerank.
  - PQ codes: rank rows by asymmetric distance from per-subspace lookup
    tables and cosine-rerank the best ``rerank`` (``_adc_rerank``);
    IVF-PQ applies the cell filter first.
  - Random-hyperplane LSH signatures: keep the rows within Hamming
    distance ``probe_bits`` of the query's signature in any table
    (``_within_hamming``), then cosine rerank.

  Cell ids and codes are argmins of the translation-free distance
  ‖c‖² − 2·x·c, either as pure-JVM ``array_sort`` expressions
  (``_nearest``, mirrored term-for-term by the DuckDB oracles) or as an
  Arrow-batched GEMM (``_gemm_codes``, the ingest-time encoder).
* **Batched** variants (``*_multi``) broadcast a query DataFrame against
  the corpus, filter (doc, query) pairs with the same candidate rule and
  take a per-query top-k with a ranking window (``_rerank_per_query``).

Hyperplanes and quantizer samples are deterministic (fixed NumPy seeds,
md5 order) and embedded as literal arrays, so every executor, run and
oracle agrees on them. Every expression that embeds them — signatures,
``_nearest`` argmins, the literal-query cosine, ADC lookup tables — is
rendered as SQL text and parsed by ONE ``F.expr`` call, never assembled
from Column calls: the tree is the same, but building it node by node cost
the driver ~7k Py4J round trips per ``ann_lsh_topk`` and ~4.5k per 16-seed
``portable_cell_col`` (~120 and 3 parsed), the largest cost of a curation
pass at 600-document batches (see functions/vectors.py). Stored
signature/cell/code columns (indexing.build_index) make the ``*_indexed``
variants pure JVM filters over written columns.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType
from pyspark.sql.window import Window

from tweets_elastic_spark.functions.vectors import (
    col_sql, cosine, dot, dot_sql, double_sql, norm, vec_sql,
)


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector."""
    score = cosine(col_sql(vec_col), vec_sql(query_vec))
    return (
        embeddings.select(F.col(id_col), F.round(score, 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _query_side(
    queries: DataFrame, id_col: str, vec_col: str, **extra: Column
) -> DataFrame:
    """The broadcast (q_id, _qv, *extra) side of a batched search."""
    return F.broadcast(queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("_qv"),
        *[c.alias(n) for n, c in extra.items()],
    ))


def _rerank_per_query(pairs: DataFrame, k: int, id_col: str, vec_col: str) -> DataFrame:
    """Exact-cosine top-k per q_id over candidate (doc, query) pairs.

    Projects to (q_id, id, cosine) BEFORE the ranking window, so the window
    shuffle moves 3 scalars per pair instead of two d-dim vectors."""
    scored = pairs.select(
        "q_id", id_col, cosine(col_sql(vec_col), "_qv").alias("_cos")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("_cos").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("q_id", id_col, F.round("_cos", 6).alias("score"))
    )


def cosine_topk_multi(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Batched top-k: many query vectors against the corpus in ONE job.

    The single-query variant needs the query vector on the driver; here the
    query set is a DataFrame, broadcast against the corpus (small × big
    nested loop is the right plan: every (query, doc) pair must be scored).
    The corpus is scanned once regardless of query count.

    Returns (q_id, {id_col}, score) with ≤ k rows per q_id.
    """
    pairs = embeddings.select(F.col(id_col), F.col(vec_col)).crossJoin(
        _query_side(queries, query_id_col, query_vec_col)
    )
    return _rerank_per_query(pairs, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# Quantizer steps: distances and argmins, each defined once
# ---------------------------------------------------------------------------

def _sq_dists(C: np.ndarray, q: np.ndarray) -> np.ndarray:
    """‖c‖² − 2·q·c for every row c of C: the squared distance to q minus
    the constant ‖q‖² (the translation-free form every engine computes)."""
    return (C * C).sum(axis=1) - 2.0 * (C @ q)


def _nearest_rows(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Index of the nearest row of C for every row of X as one GEMM:
    argmin ‖x−c‖² = argmin ‖c‖² − 2·x·c (‖x‖² constant per row). O(n·k)
    memory, unlike the (n, k, d) broadcast form."""
    return ((C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T)).argmin(axis=1)


def _gemm_codes(vecs: pd.Series, books: np.ndarray) -> np.ndarray:
    """(n, m) int32 codes of an Arrow batch against (m, k, dsub) codebooks:
    one (n × dsub)·(dsub × k) GEMM + argmin per subspace, vectorized NumPy,
    never per-row Python. The body of both Arrow encoders."""
    m, _, dsub = books.shape
    codes = np.empty((len(vecs), m), dtype=np.int32)
    if len(vecs):
        M = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        for s in range(m):
            codes[:, s] = _nearest_rows(M[:, s * dsub:(s + 1) * dsub], books[s])
    return codes


def _nearest(x: str, C: np.ndarray, n: int) -> str:
    """SQL for the ``n`` rows of C nearest the array expression ``x`` as
    (d, i) structs, nearest first — a pure JVM expression: per-row
    (‖c‖² − 2·x·c, index) structs, ``array_sort`` (lexicographic:
    distance, then index as the tiebreak), slice. The oracles mirror it
    term-for-term with list_dot_product."""
    C = np.asarray(C, dtype=np.float64)
    c_sq = (C * C).sum(axis=1)
    structs = ", ".join(
        f"struct({double_sql(c_sq[j])} - {dot_sql(x, vec_sql(C[j]))} * 2.0D AS d, "
        f"{j} AS i)"
        for j in range(len(C))
    )
    return f"slice(array_sort(array({structs})), 1, {n})"


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + probe nearest cells
# ---------------------------------------------------------------------------

def kmeans_centroids(
    mat: np.ndarray, k: int, seed: int = 7, iters: int = 20
) -> np.ndarray:
    """Deterministic Lloyd k-means on a (driver-side) training matrix.

    At corpus scale the trainer sees a SAMPLE (a few 100k vectors is ample
    for a coarse quantizer) — the full corpus never reaches the driver;
    only the k×d centroid matrix does, and it ships back as a broadcast-
    sized literal. Fixed seed + fixed iteration count ⇒ identical
    centroids every run."""
    rng = np.random.RandomState(seed)
    mat = np.asarray(mat, dtype=np.float64)
    centers = mat[rng.choice(len(mat), size=min(k, len(mat)), replace=False)].copy()
    for _ in range(iters):
        assign = _nearest_rows(mat, centers)
        sums = np.zeros_like(centers)
        np.add.at(sums, assign, mat)
        counts = np.bincount(assign, minlength=len(centers)).astype(np.float64)
        nonempty = counts > 0
        centers[nonempty] = sums[nonempty] / counts[nonempty, None]
    return centers


def ivf_cell_col(vec_col: Column, centroids: np.ndarray) -> Column:
    """Nearest-centroid assignment as an Arrow-batched GEMM + argmin per
    batch. In production this column is materialized at ingest (like the
    LSH signatures)."""
    books = np.asarray(centroids, dtype=np.float64)[None]

    @F.pandas_udf(IntegerType())
    def _assign(vecs: pd.Series) -> pd.Series:
        return pd.Series(_gemm_codes(vecs, books)[:, 0])

    return _assign(vec_col)


def train_quantizer(
    embeddings: DataFrame,
    n_cells: int = 16,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_limit: int | None = 4096,
) -> np.ndarray:
    """Train the IVF coarse quantizer on a BOUNDED deterministic sample:
    rows ordered by ``xxhash64(id)`` (a seed-free pseudo-random shuffle
    every executor agrees on), capped at ``train_limit`` via
    ``TakeOrderedAndProject`` — so at most train_limit·d floats ever reach
    the driver no matter the corpus size. A few thousand vectors is ample
    for a coarse quantizer; ``train_limit=None`` (full-corpus training) is
    an explicit test-scale opt-in, never the default."""
    train_df = embeddings.select(F.col(id_col), F.col(vec_col))
    if train_limit is not None:
        train_df = (
            train_df.orderBy(F.xxhash64(F.col(id_col)).asc(), F.col(id_col).asc())
            .limit(train_limit)
        )
    train = np.stack(
        [np.asarray(r[vec_col], dtype=np.float64) for r in train_df.collect()]
    )
    return kmeans_centroids(train, n_cells, seed)


def ivf_probe_cells(
    centroids: np.ndarray, query_vec: list[float], nprobe: int
) -> list[int]:
    """The ``nprobe`` cell ids nearest the query — k×d driver math.

    Distances use the translation-free form ‖c‖² − 2·q·c (NOT the expanded
    Σ(c−q)²): the portable-IVF oracles compute exactly this form in SQL,
    and the two expansions round differently — a near-tie at the nprobe
    boundary could otherwise order differently per engine and flip the
    probe set. Stable argsort breaks exact ties by cell id, matching the
    oracles' ORDER BY (d, sid)."""
    d2 = _sq_dists(
        np.asarray(centroids, dtype=np.float64),
        np.asarray(query_vec, dtype=np.float64),
    )
    return [int(c) for c in d2.argsort(kind="stable")[:nprobe]]


def _in_probed_cells(
    df: DataFrame, cell: Column, centroids: np.ndarray,
    query_vec: list[float], nprobe: int,
) -> DataFrame:
    """The rows whose ``cell`` is one of the ``nprobe`` cells nearest the
    query — the one place a cell filter feeds a rerank. Over a stored cell
    column the ``isin`` pushes down to the parquet scan."""
    probes = ivf_probe_cells(centroids, query_vec, nprobe)
    return df.withColumn("_cell", cell).filter(F.col("_cell").isin(probes))


def ann_ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_limit: int | None = 4096,
) -> DataFrame:
    """IVF ANN: k-means cells + probe the ``nprobe`` cells nearest the
    query + exact rerank. Probed fraction ≈ nprobe/n_cells of the corpus
    (cells are balanced on isotropic data); raise n_cells with corpus
    size (√n is the usual rule) to keep it small.

    Quantizer training is bounded (see ``train_quantizer``); the cell
    column is computed inline here so the operator is self-contained —
    ``ann_ivf_topk_indexed`` is the production shape over a cell column
    materialized at ingest (indexing.build_index)."""
    centroids = train_quantizer(
        embeddings, n_cells, seed, id_col, vec_col, train_limit
    )
    cell = ivf_cell_col(F.col(vec_col), centroids)
    candidates = _in_probed_cells(embeddings, cell, centroids, query_vec, nprobe)
    return cosine_topk(candidates, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def ann_ivf_topk_indexed(
    emb_indexed: DataFrame,
    centroids: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """IVF ANN over a MATERIALIZED cell column (indexing.build_index): the
    query-time plan is ``filter(cell IN probes)`` + exact rerank — pure JVM
    expressions over stored columns, no Python, no training job. This is
    the 100 TB shape: assignment cost was paid once at ingest."""
    candidates = _in_probed_cells(
        emb_indexed, F.col(cell_col), centroids, query_vec, nprobe
    )
    return cosine_topk(candidates, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def ann_ivf_topk_multi(
    emb_indexed: DataFrame,
    centroids: np.ndarray,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """Batched IVF ANN through the index: a query workload in ONE corpus
    scan. Each query's probe set (its ``nprobe`` nearest cells) is computed
    INSIDE the plan on the broadcast query side (``_nearest`` over literal
    centroids), so there is no per-query driver round-trip. The join
    condition is ``array_contains(probes, cell)`` against the STORED cell
    column, evaluated in a broadcast nested-loop; candidates are reranked
    per query. The IVF sibling of ``ann_lsh_topk_multi``."""
    probes = F.expr(
        f"transform({_nearest(col_sql(query_vec_col), centroids, nprobe)}, s -> s.i)"
    )
    q = _query_side(queries, query_id_col, query_vec_col, _probes=probes)
    pairs = emb_indexed.join(q, F.array_contains(F.col("_probes"), F.col(cell_col)))
    return _rerank_per_query(pairs, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# Portable IVF: a seed-sampled coarse quantizer both engines can compute.
#
# The k-means quantizer above is the production path, but its centroids are
# driver-side NumPy state no static SQL oracle can see — which is why the
# ann_ivf_* entries register rows-only. This family swaps Lloyd iterations
# for the zero-iteration special case: centroids ARE the first `n_seeds`
# vectors in md5(id) order (a deterministic pseudo-random sample every
# engine agrees on — the same portable-hash move as the minhash/simhash
# twins). Cell assignment and probe selection are then pure argmin-distance
# expressions, fully reproducible in DuckDB, so this variant carries a REAL
# value-hash oracle. Recall is one Lloyd step behind k-means; the plan shape
# (cell filter → exact rerank) is identical.
# ---------------------------------------------------------------------------

def portable_seed_centroids(
    embeddings: DataFrame,
    n_seeds: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """The `n_seeds` vectors first in md5(id)-hex order (ties by id) — a
    bounded deterministic sample: at most n_seeds·d floats reach the driver
    via TakeOrderedAndProject, never the corpus."""
    rows = (
        embeddings.select(F.col(id_col), F.col(vec_col))
        .orderBy(
            F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
        )
        .limit(n_seeds)
        .collect()
    )
    return np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])


def portable_cell_col(vec: str, centroids: np.ndarray) -> Column:
    """Nearest-seed cell id of the array expression ``vec`` (e.g.
    ``col_sql("embedding")``) as a PURE JVM expression (no Python): slot 0
    of ``_nearest``."""
    return F.expr(f"{_nearest(vec, centroids, 1)}[0].i")


def ann_ivf_portable_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_seeds: int = 16,
    nprobe: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN with the portable seed quantizer: assign every vector to its
    nearest seed cell (JVM argmin expressions), probe the `nprobe` cells
    nearest the query, exact-cosine rerank. Same scale shape as
    ann_ivf_topk (probed fraction ≈ nprobe/n_seeds, cell column
    materializable at ingest) but every step is SQL-expressible, so the
    registered query carries a full DuckDB oracle."""
    seeds = portable_seed_centroids(embeddings, n_seeds, id_col, vec_col)
    cell = portable_cell_col(col_sql(vec_col), seeds)
    candidates = _in_probed_cells(embeddings, cell, seeds, query_vec, nprobe)
    return cosine_topk(candidates, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def ann_ivf_portable_multi(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_seeds: int = 16,
    nprobe: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Batched ANN through the portable seed quantizer: the corpus gets its
    cell column (JVM argmin over seed literals), each broadcast query gets
    its probe set in-plan, one corpus scan serves the whole batch — the
    ann_ivf_topk_multi machinery with every step SQL-reproducible, so the
    batched IVF shape carries a full oracle too."""
    C = portable_seed_centroids(embeddings, n_seeds, id_col, vec_col)
    emb_cells = embeddings.withColumn(
        "_pcell", portable_cell_col(col_sql(vec_col), C)
    )
    return ann_ivf_topk_multi(
        emb_cells,
        C,
        queries,
        k=k,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        cell_col="_pcell",
    )


# ---------------------------------------------------------------------------
# PQ (product quantization): m subspace codes, asymmetric-distance ranking
# ---------------------------------------------------------------------------

def pq_books_from_seeds(seeds: np.ndarray, m: int = 8) -> np.ndarray:
    """(m, k, dsub) codebooks: codebook s = the s-th of m subspace slices of
    the seed sample — the one derivation shared by the ann_pq_* entry
    points, the index build and the DuckDB oracles."""
    seeds = np.asarray(seeds, dtype=np.float64)
    dim = seeds.shape[1]
    if dim % m:
        raise ValueError(
            f"PQ requires dim divisible by m: dim={dim}, m={m} would "
            f"silently drop the trailing {dim % m} dimensions from "
            "encoding and ADC ranking"
        )
    dsub = dim // m
    return np.stack([seeds[:, s * dsub:(s + 1) * dsub] for s in range(m)])


def pq_code_sql(vec: str, codebook: np.ndarray, sub: int, dsub: int) -> str:
    """Per-subspace PQ code of the array expression ``vec``, as SQL text:
    ``_nearest`` codeword of its slice [sub·dsub, (sub+1)·dsub) — the same
    argmin expression as portable_cell_col, so the oracle mirrors it
    term-for-term."""
    return f"{_nearest(f'slice({vec}, {sub * dsub + 1}, {dsub})', codebook, 1)}[0].i"


def pq_codes_batched(vec_col: Column, codebooks: np.ndarray) -> Column:
    """All m PQ codes in ONE Arrow-batched pandas UDF — the production
    encoder (the expression form evaluates m·k interpreted array-aggregates
    per row; this is one vectorized NumPy pass). Same distance form and
    argmin tiebreak as pq_code_sql; f64 GEMM vs the left-fold sum can
    differ only within ~1e-15, far below any real codeword gap, so codes
    agree (equivalence-pinned in pytest and by sharing the portable
    oracle)."""
    books = np.asarray(codebooks, dtype=np.float64)

    @F.pandas_udf(ArrayType(IntegerType()))
    def _enc(vecs: pd.Series) -> pd.Series:
        return pd.Series(list(_gemm_codes(vecs, books)), dtype=object)

    return _enc(vec_col)


def _adc_rerank(
    df: DataFrame, books: np.ndarray, query_vec: list[float],
    codes: Column | None, k: int, rerank: int, id_col: str, vec_col: str,
) -> DataFrame:
    """Rank ``df`` by asymmetric distance, exact-cosine rerank the best
    ``rerank``.

    ADC score = Σ_s (‖c‖² − 2·q_s·c) at the row's codeword of subspace s
    (the constant Σ‖q_s‖² dropped): one lookup per subspace into a
    query-side table, summed as a left fold in subspace order on both
    engines. ``codes`` is the row's code array (stored or Arrow-encoded);
    ``None`` encodes inline with pq_code_sql expressions."""
    books = np.asarray(books, dtype=np.float64)
    m, _, dsub = books.shape
    q = np.asarray(query_vec, dtype=np.float64)
    if len(q) != m * dsub:
        raise ValueError(
            f"query dim {len(q)} != m*dsub = {m}*{dsub} of the codebooks "
            "(PQ requires dim divisible by m)"
        )
    if codes is not None:
        df = df.select(F.col(id_col), F.col(vec_col), codes.alias("_codes"))

    def code(s: int) -> str:
        if codes is None:
            return pq_code_sql(col_sql(vec_col), books[s], s, dsub)
        return f"element_at(_codes, {s + 1})"

    adc = F.expr(" + ".join(
        f"element_at({vec_sql(_sq_dists(books[s], q[s * dsub:(s + 1) * dsub]))}, "
        f"{code(s)} + 1)"
        for s in range(m)
    ))
    cand = (
        df.select(F.col(id_col), F.col(vec_col), adc.alias("_adc"))
        .orderBy(F.col("_adc").asc(), F.col(id_col).asc())
        .limit(rerank)
    )
    return cosine_topk(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def ann_pq_portable_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    rerank: int = 50,
    n_seeds: int = 16,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011, TPAMI): split vectors
    into ``m`` subspaces, encode each slice as its nearest codeword id,
    rank by asymmetric distance, exact-cosine rerank of the top ``rerank``.

    Portable flavor: the codebooks are subspace slices of the SAME
    md5-ordered seed sample the portable IVF uses — deterministic and
    SQL-reproducible, so encoding, ADC ranking and rerank all carry a full
    DuckDB oracle.

    At scale: codes are m small ints per vector, materialized at ingest
    (the 64-dim float vector becomes m bytes of index data — PQ's whole
    point); query time is m table lookups per row riding the scan, no
    vector arithmetic until the rerank of ``rerank`` candidates."""
    seeds = portable_seed_centroids(embeddings, n_seeds, id_col, vec_col)
    books = pq_books_from_seeds(seeds, m)
    return _adc_rerank(embeddings, books, query_vec, None, k, rerank, id_col, vec_col)


def ann_pq_arrow_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    rerank: int = 50,
    n_seeds: int = 16,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ann_pq_portable_topk's production encoder: codes from the Arrow-
    batched GEMM UDF instead of per-codeword expressions, ADC + rerank
    unchanged. Identical results (shares the portable oracle)."""
    seeds = portable_seed_centroids(embeddings, n_seeds, id_col, vec_col)
    books = pq_books_from_seeds(seeds, m)
    codes = pq_codes_batched(F.col(vec_col), books)
    return _adc_rerank(embeddings, books, query_vec, codes, k, rerank, id_col, vec_col)


def ann_pq_topk_indexed(
    embeddings: DataFrame,
    books: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """PQ ANN over the WRITTEN index: ranks stored m-byte codes with ADC
    lookup tables built driver-side from the sidecar codebooks — zero
    encoding work in the query plan (the Arrow-GEMM encoder ran once at
    ingest, indexing.enrich_embeddings). The corpus scan reads id + codes
    (+ vector only for the ``rerank`` survivors): per-query cost is m
    array lookups per row, the PQ deployment shape at any scale."""
    return _adc_rerank(
        embeddings, books, query_vec, F.col(codes_col), k, rerank, id_col, vec_col
    )


def ann_ivfpq_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    rerank: int = 50,
    n_seeds: int = 16,
    nprobe: int = 6,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ — the composition production ANN systems actually deploy
    (FAISS's IVFPQ index; Jégou et al. 2011 §V): coarse cells prune the
    corpus to ≈ nprobe/n_seeds of its rows, PQ asymmetric distance ranks
    ONLY the survivors from their m-byte codes, and the exact-cosine
    rerank touches just ``rerank`` full vectors.

    Both pruning structures are ingest-materializable columns (cell id +
    code array), so at 100 TB a query reads nprobe/n_seeds of the rows ×
    m bytes each, plus ``rerank`` full vectors: the only entry point where
    BOTH the row count AND the bytes-per-row shrink. Cells and codebooks
    come from the same portable seeds, so the full pipeline carries a
    DuckDB oracle like its two parents."""
    seeds = portable_seed_centroids(embeddings, n_seeds, id_col, vec_col)
    books = pq_books_from_seeds(seeds, m)
    survivors = _in_probed_cells(
        embeddings, portable_cell_col(col_sql(vec_col), seeds), seeds, query_vec, nprobe
    )
    codes = pq_codes_batched(F.col(vec_col), books)
    return _adc_rerank(survivors, books, query_vec, codes, k, rerank, id_col, vec_col)


# ---------------------------------------------------------------------------
# SemDeDup: the portable quantizer as a pairing partitioner
# ---------------------------------------------------------------------------

def derived_n_seeds(n_rows: int, target_cell: int = 1024, floor: int = 16) -> int:
    """Quantizer cell count ∝ corpus size: ``max(floor, n // target_cell)``
    keeps the expected cell population ≈ target_cell as data grows, so the
    within-cell pairing cost Σn_c² ≈ n·target_cell stays LINEAR in n instead
    of quadratic at a fixed cell count."""
    return max(floor, n_rows // target_cell)


def semdedup_survivors(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_seeds: int | None = None,
    max_cell_size: int | None = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cell: int = 1024,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    partition the corpus into quantizer cells, compare pairs only WITHIN a
    cell, and drop every vector that has a smaller-id neighbor with cosine
    ≥ threshold in its cell (min-id representative survives). Cross-cell
    duplicates are missed by design — that is the approximation that makes
    semantic dedup tractable: within-cell pairing costs Σ(n_c²) ≈ n²/k for
    balanced cells. One equi-shuffle on the cell id; the portable seed
    quantizer keeps every step (sampling, assignment, pairing, anti-join)
    oracle-reproducible.

    Two scale guards (both enforced, not advisory):

    * ``n_seeds=None`` (the default) derives the cell count from the corpus:
      ``max(16, n // target_cell)``, so Σn_c² ≈ n·target_cell grows linearly
      with the corpus instead of quadratically at a fixed k. One bounded
      driver-side ``count()`` — the same justified-scalar pattern as
      corpus_clean's max_df cap. The oracle-backed registry query mirrors
      the derivation with a scalar-subquery LIMIT, so the SQL stays
      mechanical without pinning the quantizer.
    * ``max_cell_size`` caps the members any one cell contributes to
      pairing (rank by id within cell — deterministic and
      oracle-expressible). A pathological cell — every vector identical,
      a degenerate quantizer — now costs at most cap² pairs instead of
      n_c². Vectors beyond the cap are kept as survivors (bounded
      under-dedup on the tail of a skewed cell, never unbounded work);
      ``None`` disables the cap."""
    if n_seeds is None:
        n_seeds = derived_n_seeds(embeddings.count(), target_cell)
    centroids = portable_seed_centroids(embeddings, n_seeds, id_col, vec_col)
    # Cell assignment: the pure-JVM per-seed expression is oracle-exact
    # (term-for-term mirrorable in SQL) but its size grows with n_seeds —
    # at a corpus-derived seed count the expression tree (k structs × d-dim
    # dot products) outgrows what codegen evaluates efficiently. Above 32
    # seeds switch to the Arrow-GEMM assignment (same ‖c‖²−2x·c distance
    # and first-min-index tiebreak); f64 GEMM vs the expression's left-fold
    # sum differ only ~1e-15, far below any real centroid gap (the same
    # argument — and pytest pinning — as pq_codes_batched vs pq_code_sql).
    # Gate/oracle scales stay on the exact expression path: 16 seeds at
    # every test sf.
    if n_seeds > 32:
        assign_col = ivf_cell_col(F.col(vec_col), centroids)
    else:
        assign_col = portable_cell_col(col_sql(vec_col), centroids)
    # Precompute each vector's norm ON ITS SIDE of the join: the pair
    # predicate then evaluates ONE array-aggregate (the dot product) per
    # pair instead of three — n norm computations instead of n²/k. The
    # value is bit-identical to cosine(): dot / (sqrt(dot(a,a)) ·
    # sqrt(dot(b,b))), same operand order.
    # Materialize (id, vec, cell, norm) ONCE: both join sides would
    # otherwise re-evaluate the 16-way argmin-distance expression per row.
    # localCheckpoint (eager, lineage-truncating) is the test-scale stand-in
    # for the production move — the cell column written at ingest next to
    # the embeddings (indexing.build_index materializes exactly this for
    # the k-means quantizer). The checkpoint blocks live until the returned
    # DataFrame is garbage-collected (ContextCleaner frees them with the
    # RDD); callers that invoke this repeatedly in one session drop their
    # reference between calls, which is the lifecycle bench and the
    # oracle sweep follow.
    cells = embeddings.select(
        F.col(id_col), F.col(vec_col),
        assign_col.alias("_cell"),
        norm(col_sql(vec_col)).alias("_nrm"),
    )
    if max_cell_size is not None:
        # Rank within cell by id and pair only the first `cap` members: the
        # window rides the same cell-key shuffle the join needs, so the cap
        # costs a sort, not an extra exchange.
        w = Window.partitionBy("_cell").orderBy(F.col(id_col))
        cells = (
            cells.withColumn("_crk", F.row_number().over(w))
            .filter(F.col("_crk") <= max_cell_size)
            .drop("_crk")
        )
    # Checkpoint AFTER the cap so the 16-way argmin projection AND the rank
    # window each execute exactly once — both join sides then read the
    # materialized blocks instead of replaying the lineage per side.
    cells = cells.localCheckpoint()
    a = cells.alias("a")
    b = cells.alias("b")
    pair_cos = dot(col_sql(f"a.{vec_col}"), col_sql(f"b.{vec_col}")) / (
        F.col("a._nrm") * F.col("b._nrm")
    )
    dropped = (
        a.join(
            b,
            (F.col("a._cell") == F.col("b._cell"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(pair_cos >= threshold)
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
    )
    return embeddings.select(id_col).join(dropped, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Random-hyperplane LSH: multi-table signatures + Hamming candidate filter
# ---------------------------------------------------------------------------

def lsh_tables(
    dim: int, n_bits: int = 6, n_tables: int = 4, seed: int = 7
) -> list[np.ndarray]:
    """The L independent (n_bits, dim) hyperplane sets shared by every LSH
    entry point, the embedding near-dup join AND the DuckDB oracles — table
    t draws from seed + 101·t, one schedule so signatures agree everywhere."""
    return [
        np.random.RandomState(seed + 101 * t).randn(n_bits, dim)
        for t in range(n_tables)
    ]


def query_lsh_signatures(
    query_vec: list[float], n_bits: int = 6, n_tables: int = 4, seed: int = 7
) -> list[int]:
    """Per-table signature of one query vector — driver-side NumPy over the
    same planes the corpus columns use."""
    q = np.asarray(query_vec, dtype=np.float64)
    sigs = []
    for planes in lsh_tables(len(query_vec), n_bits, n_tables, seed):
        sig = 0
        for i, h in enumerate(planes):
            if float(np.dot(q, h)) > 0:
                sig |= 1 << i
        sigs.append(sig)
    return sigs


def _rh_signature_sql(vec: str, planes: np.ndarray) -> str:
    sig = "CAST(0 AS BIGINT)"
    for i, h in enumerate(planes):
        sig = (
            f"({sig} | shiftleft(CASE WHEN {dot_sql(vec, vec_sql(h))} > 0 "
            f"THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END, {i}))"
        )
    return sig


def rh_signature_col(vec: str, planes: np.ndarray) -> Column:
    """Signed-projection LSH signature of the array expression ``vec`` as a
    long: bit i = [v·h_i > 0]."""
    return F.expr(_rh_signature_sql(vec, planes))


def _within_hamming(sigs: list[str], q_sigs: list, probe_bits: int) -> str:
    """SQL OR over tables of ``bit_count(sig XOR q_sig) <= probe_bits``:
    the rows whose signature is within Hamming distance ``probe_bits`` of
    the query's in ANY table. ``sigs`` and ``q_sigs`` are SQL fragments
    or literal ints. Parenthesized as a left fold: the parser would
    rebalance a bare ``a OR b OR c OR d`` chain into a different tree."""
    return reduce(lambda acc, t: f"({acc} OR {t})", [
        f"(bit_count({s} ^ {q}) <= {probe_bits})" for s, q in zip(sigs, q_sigs)
    ])


def ann_lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_bits: int = 6,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_bits: int = 2,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate top-k: multi-table LSH + multiprobe, then exact rerank.

    The classic recall lever is L INDEPENDENT hash tables (different
    hyperplane seeds): a true neighbor is missed only if it misses in
    every table — recall = 1-(1-r)^L for per-table recall r. ``probe_bits``
    additionally admits every bucket within that Hamming distance of the
    query's signature in each table (0 → exact bucket; 1 → +n_bits flips;
    2 → +C(n_bits,2) double flips; …). Probed corpus fraction ≈
    L · Σ C(n,i)/2ⁿ (small-corpus regime; at production sizes raise
    n_bits with L so each table has far more buckets than docs and the
    fraction collapses). Measured on the fixture corpus (uniform random
    embeddings — the hardest case, neighbors barely closer than
    non-neighbors): min recall@10 = 0.9 across probed query points at the
    defaults, vs 0.1-0.5 for the single-table variant.

    The candidate filter is ONE scan with the Hamming filter over the L
    signature expressions — all JVM. In production the signature columns
    are materialized once at ingest (indexing.enrich_embeddings) and
    ``ann_lsh_topk_indexed`` applies the same filter to them; here they
    are computed inline so the operator is self-contained.
    """
    sigs = [
        _rh_signature_sql(col_sql(vec_col), planes)
        for planes in lsh_tables(len(query_vec), n_bits, n_tables, seed)
    ]
    q_sigs = query_lsh_signatures(query_vec, n_bits, n_tables, seed)
    candidates = embeddings.filter(_within_hamming(sigs, q_sigs, probe_bits))
    return cosine_topk(candidates, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def ann_lsh_topk_indexed(
    emb_indexed: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_bits: int = 6,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_bits: int = 2,
    sig_cols: tuple[str, ...] = ("sig0", "sig1", "sig2", "sig3"),
) -> DataFrame:
    """LSH ANN over MATERIALIZED signature columns (indexing.build_index):
    no per-row signature computation at query time — the Hamming filter
    runs over stored longs, then exact rerank. Query-side signatures are
    k·d driver math."""
    sigs = [col_sql(c) for c in sig_cols]
    q_sigs = query_lsh_signatures(query_vec, n_bits, len(sig_cols), seed)
    candidates = emb_indexed.filter(_within_hamming(sigs, q_sigs, probe_bits))
    return cosine_topk(candidates, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def ann_lsh_topk_multi(
    emb_indexed: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_bits: int = 6,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    probe_bits: int = 2,
    sig_cols: tuple[str, ...] | None = ("sig0", "sig1", "sig2", "sig3"),
    dim: int | None = None,
    query_sig_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Batched ANN THROUGH the LSH index: a query workload served in one
    corpus scan. The query set (small) gets its per-table signatures and is
    broadcast; the join condition is the same Hamming filter as the
    single-query variants, evaluated per (doc, query) inside a broadcast
    nested-loop join — so the corpus is scanned ONCE for the whole batch
    and the index filter drops the non-candidate (doc, query) pairs before
    any cosine is computed (compare ``cosine_topk_multi``).

    ``sig_cols=None`` computes the corpus signatures inline (self-contained
    test shape); the registered query passes the stored index columns.
    ``query_sig_cols`` names signature columns already present on the
    query set (e.g. queries drawn from the indexed corpus itself) — then
    NO signature is computed anywhere in the plan; without it the query
    side gets the hyperplane expressions inline (a per-batch cost
    proportional to the small query set, not the corpus)."""
    if sig_cols is None or query_sig_cols is None:
        # dim derived from the data unless given — a wrong default would
        # silently truncate/extend the hyperplanes and corrupt signatures
        d = dim or len(queries.select(query_vec_col).head()[0])
        tables = lsh_tables(d, n_bits, len(sig_cols) if sig_cols else 4, seed)
    corpus = emb_indexed
    if sig_cols is None:
        sig_cols = tuple(f"_sig{t}" for t in range(len(tables)))
        corpus = corpus.withColumns({
            c: rh_signature_col(col_sql(vec_col), p) for c, p in zip(sig_cols, tables)
        })
    if query_sig_cols is None:
        q_sigs = [rh_signature_col(col_sql(query_vec_col), p) for p in tables]
    else:
        q_sigs = [F.col(c) for c in query_sig_cols]
    q = _query_side(queries, query_id_col, query_vec_col,
                    **{f"_qsig{t}": s for t, s in enumerate(q_sigs)})
    cond = F.expr(_within_hamming(
        [col_sql(c) for c in sig_cols],
        [f"_qsig{t}" for t in range(len(q_sigs))],
        probe_bits,
    ))
    return _rerank_per_query(corpus.join(q, cond), k, id_col, vec_col)
