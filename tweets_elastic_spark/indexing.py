"""Index-at-ingest: analyze once, scan stored columns at query time.

The reference never analyzes at query time: every text field is analyzed
ONCE when a document is indexed (Lucene multi-fields,
/root/reference/src/config/mapping.json:23-54), and queries run against the
stored token streams and doc values. This module is that story for the
Spark engine, demonstrated end-to-end rather than asserted in docstrings:

* ``enrich_documents`` — adds the analyzer token columns (the multi-field
  analogue, ``materialize_tokens``);
* ``enrich_embeddings`` — adds the L LSH signature columns and the IVF
  cell id (quantizer trained on a bounded sample, ``train_quantizer``);
* ``build_index`` — writes both enriched datasets as id-keyed parquet
  segments plus a JSON sidecar carrying the quantizer centroids and index
  parameters;
* ``index_increment`` — appends NEW documents/embeddings as a further
  segment with its own statistics (Lucene's segment model): nothing
  existing is rewritten, and stat lookups aggregate across segments;
* ``ensure_index`` — build-once-per-fixture cache used by the registered
  ``*_indexed`` queries, so the driver's correctness gate exercises a real
  write → read-back cycle every round.

At 100 TB this is the ingest job: analysis/signature/assignment cost is
paid once per document (one extra projection inside the ingest pipeline's
existing scan), and every query afterwards is a scan of stored columns
with pure JVM predicates — ``arrays_overlap`` for matches, ``bit_count``
over signature longs for LSH, ``isin`` over the cell id for IVF (these
push down to the parquet reader) — no Python UDF in any query-time plan.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import math
import os
import shutil

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from tweets_elastic_spark.functions.analyzers import analyze_text, materialize_tokens
from tweets_elastic_spark.functions.vectors import col_sql
from tweets_elastic_spark.operators.lm import fit_bigram_lm
from tweets_elastic_spark.operators.similarity import (
    ivf_cell_col,
    lsh_tables,
    portable_seed_centroids,
    pq_books_from_seeds,
    pq_codes_batched,
    rh_signature_col,
    train_quantizer,
)
from tweets_elastic_spark.plans.search import Bm25Stats, Fuzzy, _like_escape
from tweets_elastic_spark.sources.catalog import fan_out, load_table

# Bump to invalidate previously-built fixture indexes on disk.
INDEX_FORMAT_VERSION = 5

# One parameter set shared by the ingest job, every *_indexed query, and
# the DuckDB oracles (which inline the same fixed-seed hyperplanes).
DOC_TOKEN_SPEC = {"text": ["custom_shingles"]}
LSH_N_BITS = 6
LSH_N_TABLES = 4
LSH_SEED = 7
SIG_COLS = tuple(f"sig{t}" for t in range(LSH_N_TABLES))
IVF_N_CELLS = 16
IVF_TRAIN_LIMIT = 4096
# PQ index parameters: m subspaces, codebooks = subspace slices of the
# portable (md5-ordered) seed sample — the same quantizer family the
# portable-IVF/PQ queries use, so every stored code is SQL-reproducible
# and the indexed PQ query keeps a full DuckDB oracle.
PQ_M = 8
PQ_N_SEEDS = 16

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_INDEX_ROOT = os.path.join(_REPO_ROOT, ".index_cache")


def enrich_documents(docs: DataFrame, spec: dict | None = None) -> DataFrame:
    """Index-time text analysis: one ``{col}__{analyzer}`` token column per
    requested pairing — the only place the analyzer UDF pipeline runs."""
    return materialize_tokens(docs, spec or DOC_TOKEN_SPEC)


def enrich_embeddings(
    emb: DataFrame,
    centroids: np.ndarray,
    n_bits: int = LSH_N_BITS,
    n_tables: int = LSH_N_TABLES,
    seed: int = LSH_SEED,
    vec_col: str = "embedding",
    pq_books: np.ndarray | None = None,
) -> DataFrame:
    """Adds sig0..sig{L-1} (per-table LSH signatures), ivf_cell, and — when
    codebooks are supplied — the m-byte ``pq_codes`` array, all in the same
    projection, one pass over the vectors. PQ encoding runs the Arrow-GEMM
    UDF HERE, at ingest — the one place the Python cost belongs; every
    query afterwards reads the stored codes."""
    dim = len(np.asarray(centroids)[0])
    out = emb
    for t, planes in enumerate(lsh_tables(dim, n_bits, n_tables, seed)):
        out = out.withColumn(f"sig{t}", rh_signature_col(col_sql(vec_col), planes))
    out = out.withColumn("ivf_cell", ivf_cell_col(F.col(vec_col), centroids))
    if pq_books is not None:
        out = out.withColumn(
            "pq_codes", pq_codes_batched(F.col(vec_col), pq_books)
        )
    return out


def build_index(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    ivf_train_limit: int | None = IVF_TRAIN_LIMIT,
) -> str:
    """The ingest job: scan the raw corpus tables, enrich, write back as
    id-keyed parquet datasets + a centroid/params sidecar. The sidecar is
    written LAST, so a half-built index (crash mid-write) is never treated
    as valid by ``ensure_index``.

    Layout is SEGMENTED (Lucene's segment model): the base build writes
    everything under ``segment=base``; ``index_increment`` appends further
    segments without touching existing ones. Statistics are per-segment
    and aggregated at lookup, so an increment never recomputes or rewrites
    global stats."""
    # A rebuild must not inherit stale increment segments from a previous
    # life of this directory (older format version, or a different corpus
    # that hashed here) — readers scan the whole parent dir.
    shutil.rmtree(out_dir, ignore_errors=True)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = train_quantizer(
        emb, IVF_N_CELLS, LSH_SEED, train_limit=ivf_train_limit
    )
    pq_seeds = portable_seed_centroids(emb, PQ_N_SEEDS)
    pq_books = pq_books_from_seeds(pq_seeds, PQ_M)
    max_doc_id = _write_doc_segment(spark, out_dir, docs, "base", id_col="doc_id")
    max_vec_id = _write_emb_segment(
        spark, out_dir, emb, centroids, "base", id_col="vec_id", pq_books=pq_books
    )
    meta = {
        "version": INDEX_FORMAT_VERSION,
        "sf_dir": os.path.abspath(sf_dir),
        "doc_token_spec": DOC_TOKEN_SPEC,
        "lsh": {"n_bits": LSH_N_BITS, "n_tables": LSH_N_TABLES, "seed": LSH_SEED},
        "ivf": {"n_cells": IVF_N_CELLS, "train_limit": ivf_train_limit},
        "centroids": [[float(x) for x in c] for c in centroids],
        "pq": {"m": PQ_M, "n_seeds": PQ_N_SEEDS},
        "pq_seeds": [[float(x) for x in s] for s in pq_seeds],
        # Watermark seeds: what the base segment already covers. Riding the
        # segment writes via observe(), they let index_increment against a
        # FRESH store start from the right place instead of re-indexing the
        # whole corpus into a duplicate wm_-1 segment (which would silently
        # double every document and its term statistics).
        "base_max_doc_id": max_doc_id,
        "base_max_vec_id": max_vec_id,
    }
    with open(os.path.join(out_dir, "index_meta.json"), "w") as f:
        json.dump(meta, f)
    return out_dir


def _write_doc_segment(
    spark: SparkSession,
    out_dir: str,
    docs: DataFrame,
    segment: str,
    spec: dict | None = None,
    id_col: str | None = None,
) -> int | None:
    """Write one DOCUMENT index segment: enriched rows plus the segment's
    own term dictionary and corpus stats. Segments are disjoint id ranges
    (watermark-gated); re-indexing existing ids means rebuild — same
    contract as Lucene segments without tombstones.

    No id-dedup shuffle: enrichment is a per-row projection over sources
    whose ids are already unique (the ETL sink enforced overwrite-by-id)."""
    seg = f"segment={segment}"
    spec = spec or DOC_TOKEN_SPEC
    tok_cols = [f"{c}__{a}" for c, ans in spec.items() for a in ans]
    # Corpus stats (n_docs, total token length per tok_col) RIDE the
    # segment write via observe() — no separate aggregation scan.
    obs = Observation()
    enriched = enrich_documents(docs, spec).observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.size(F.col(tc))).alias(f"dl_{i}") for i, tc in enumerate(tok_cols)],
        *([F.max(F.col(id_col)).alias("mx")] if id_col else []),
    )
    enriched.write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents_indexed", seg)
    )
    metrics = obs.get
    # Term dictionary (Lucene's per-segment statistics, computed at index
    # time from the JUST-WRITTEN segment — a cheap columnar re-read, not a
    # re-analysis). BM25 query-time stats then become a pushdown-filtered
    # lookup + tiny aggregation instead of a corpus scan. The corpus_stats
    # rows for EVERY tok_col land in one write (a per-tok_col overwrite
    # into the shared segment dir would clobber its siblings).
    indexed = spark.read.parquet(os.path.join(out_dir, "documents_indexed", seg))
    for tok_col in tok_cols:
        (
            indexed.select(
                F.explode(F.array_distinct(F.col(tok_col))).alias("token")
            )
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("df"))
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"token_stats__{tok_col}", seg))
        )
    # JVM-side literal rows, NOT createDataFrame: a Python-list DataFrame
    # executes through a Python-RDD scan whose worker round-trip costs
    # seconds per write — range(1).select(lit…) stays a LocalTableScan.
    stats_df = None
    for i, tc in enumerate(tok_cols):
        row_df = spark.range(1).select(
            F.lit(tc).alias("tok_col"),
            F.lit(int(metrics["n"])).cast("long").alias("n_docs"),
            F.lit(int(metrics[f"dl_{i}"] or 0)).cast("long").alias("total_dl"),
        )
        stats_df = row_df if stats_df is None else stats_df.unionAll(row_df)
    stats_df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "corpus_stats", seg)
    )
    mx = metrics.get("mx") if id_col else None
    return int(mx) if mx is not None else None


def _write_emb_segment(
    spark: SparkSession,
    out_dir: str,
    emb: DataFrame,
    centroids: np.ndarray,
    segment: str,
    id_col: str | None = None,
    pq_books: np.ndarray | None = None,
) -> int | None:
    """Write one EMBEDDING index segment: stored LSH signatures + IVF cell
    assignments + PQ codes against the fixed base-build structure."""
    seg = f"segment={segment}"
    enriched = enrich_embeddings(fan_out(emb), centroids, pq_books=pq_books)
    obs = None
    if id_col:
        obs = Observation()
        enriched = enriched.observe(obs, F.max(F.col(id_col)).alias("mx"))
    enriched.write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings_indexed", seg)
    )
    if obs is None:
        return None
    mx = obs.get["mx"]
    return int(mx) if mx is not None else None


def build_text_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    spec: dict | None = None,
) -> str:
    """Text-only index over an ARBITRARY document DataFrame — e.g. the
    tweet documents the ETL sink produced (the reference's actual flow:
    denormalize → index → search). Same segmented layout and statistics
    as the fixture index, minus embeddings; query BM25 over it with
    ``bm25_stats_from_index`` + a ``BM25Match`` on the stored token
    column."""
    _write_doc_segment(spark, out_dir, docs, "base", spec)
    return out_dir


def index_increment(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    store,
) -> int:
    """Incremental index maintenance: enrich ONLY the documents/embeddings
    past the watermark and append them as a new segment — existing
    segments and their statistics are never touched; query-time stats
    aggregate across segments (``bm25_stats_from_index``). The quantizer
    and hyperplanes stay fixed from the base build (standard IVF/LSH
    practice: assign new vectors to the existing structure; retrain is a
    rebuild). The document and embedding streams advance INDEPENDENT
    watermarks, each set right after its own segment lands — an
    embeddings-only arrival is indexed even when no document arrived, and
    a crash between the two writes replays only the stream that didn't
    commit, into its own deterministic ``wm_*`` segment name (the
    ingest_wm pattern, sources/incremental.py).

    Returns documents indexed; 0 means the DOCUMENT stream is caught up
    (the embedding stream may still have advanced — check the store)."""
    meta = read_index_meta(index_dir)
    centroids = np.asarray(meta["centroids"], dtype=np.float64)
    # PQ codebooks stay fixed from the base build, like the quantizer.
    pq_books = (
        pq_books_from_seeds(
            np.asarray(meta["pq_seeds"], dtype=np.float64),
            int(meta.get("pq", {}).get("m", PQ_M)),
        )
        if meta.get("pq_seeds")
        else None
    )
    n_docs = 0

    # A fresh store (no watermark yet) starts from what the base build
    # already covers — recorded in the sidecar — otherwise the whole corpus
    # would be re-indexed into a duplicate wm_-1 segment on top of
    # segment=base, doubling every document and its term statistics.
    doc_wm = store.get("index.doc_id")
    if doc_wm < 0:
        doc_wm = int(meta.get("base_max_doc_id") or -1)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") > doc_wm)
    if not docs.isEmpty():
        obs = Observation()
        docs = docs.observe(
            obs, F.count(F.lit(1)).alias("n"), F.max("doc_id").alias("mx")
        )
        _write_doc_segment(spark, index_dir, fan_out(docs), f"wm_{doc_wm}")
        metrics = obs.get
        store.set("index.doc_id", int(metrics["mx"]))
        n_docs = int(metrics["n"])

    vec_wm = store.get("index.vec_id")
    if vec_wm < 0:
        vec_wm = int(meta.get("base_max_vec_id") or -1)
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") > vec_wm)
    if not emb.isEmpty():
        obs_e = Observation()
        emb = emb.observe(obs_e, F.max("vec_id").alias("mx"))
        _write_emb_segment(
            spark, index_dir, emb, centroids, f"wm_{vec_wm}", pq_books=pq_books
        )
        store.set("index.vec_id", int(obs_e.get["mx"]))
    return n_docs


def index_dir_for(sf_dir: str, root: str | None = None) -> str:
    """Cache directory for a fixture's index: basename for readability
    plus an abspath hash so distinct roots with the same leaf name (two
    'sf0.01' dirs) can never share — and thrash-rebuild — one cache."""
    ap = os.path.abspath(sf_dir).rstrip("/")
    tag = hashlib.md5(ap.encode()).hexdigest()[:8]
    return os.path.join(root or DEFAULT_INDEX_ROOT, f"{os.path.basename(ap)}-{tag}")


def ensure_index(spark: SparkSession, sf_dir: str, root: str | None = None) -> str:
    """Idempotent build-or-reuse: the registered ``*_indexed`` queries call
    this, so the first query against a fixture pays the (amortizable)
    ingest cost and every later one reads the stored columns."""
    out = index_dir_for(sf_dir, root)
    meta_path = os.path.join(out, "index_meta.json")
    if os.path.exists(meta_path):
        try:
            with open(meta_path) as f:
                meta = json.load(f)
            if (
                meta.get("version") == INDEX_FORMAT_VERSION
                and meta.get("sf_dir") == os.path.abspath(sf_dir)
            ):
                return out
        except (json.JSONDecodeError, OSError):
            pass
    return build_index(spark, sf_dir, out)


def read_index_meta(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "index_meta.json")) as f:
        return json.load(f)


def index_stats(spark: SparkSession, index_dir: str) -> dict:
    """ES ``_stats`` / ``_cat/indices`` analogue: operational metadata for
    a written index — document/embedding counts, per-dataset segment
    counts and on-disk bytes, term-dictionary sizes, and the meta
    version. Counts come from parquet FOOTERS (metadata-only, no data
    scan); bytes from the file system. The operational read an operator
    runs before deciding to compact (compact_index_segments) or reindex."""
    meta = read_index_meta(index_dir)
    out: dict = {
        "version": meta.get("version"),
        "sf_dir": meta.get("sf_dir"),
        "datasets": {},
    }
    for name in sorted(os.listdir(index_dir)):
        path = os.path.join(index_dir, name)
        if not os.path.isdir(path):
            continue
        files = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        ]
        rows = 0
        for f in files:
            rows += pq.ParquetFile(f).metadata.num_rows
        out["datasets"][name] = {
            "rows": rows,
            "segments": len(files),
            "bytes": sum(os.path.getsize(f) for f in files),
        }
    return out


# Fixed schemas of the statistics datasets: reading with them skips the
# footer-reading schema-inference job a schemaless parquet read launches.
_STATS_SCHEMAS = {
    "corpus_stats": "tok_col string, n_docs bigint, total_dl bigint",
    "token_stats": "token string, df bigint",
}


def read_stats(spark: SparkSession, index_dir: str, dataset: str) -> DataFrame:
    """One statistics dataset of an index — ``corpus_stats`` or a term
    dictionary ``token_stats__<tok_col>`` — with its fixed schema. Reads the
    segmented layout (``segment=*`` subdirectories, one per segment) and a
    flat directory of parquet files alike."""
    schema = _STATS_SCHEMAS[dataset.split("__")[0]]
    return spark.read.schema(schema).parquet(os.path.join(index_dir, dataset))


def bm25_stats_from_index(
    spark: SparkSession,
    index_dir: str,
    tok_col: str,
    query_tokens: list[str],
):
    """BM25 corpus statistics from the index, Lucene-style: per-SEGMENT
    rows summed at lookup. One Spark job, no shuffle: a union of this
    token column's ``corpus_stats`` rows (n_docs, total_dl per segment)
    and the term-dictionary rows of the query tokens (a pushdown-filtered
    lookup), collected and summed in the driver, as Lucene's coordinating
    node sums per-segment statistics. At most segments × (query tokens +
    1) rows come back, never the corpus, so an appended segment is
    reflected immediately without rewriting anything. Tokens absent from
    the dictionary get df=0 (same as the aggregation path: nothing
    contains them)."""
    terms_dir = f"token_stats__{tok_col}"
    rows = []
    if os.path.isdir(os.path.join(index_dir, terms_dir)):
        # A corpus row has a null token and its segment's n_docs and
        # total_dl; a term row has its token and that segment's df in n.
        corpus = (
            read_stats(spark, index_dir, "corpus_stats")
            .filter(F.col("tok_col") == tok_col)
            .select(F.lit(None).cast("string").alias("token"),
                    F.col("n_docs").alias("n"), "total_dl")
        )
        terms = (
            read_stats(spark, index_dir, terms_dir)
            .filter(F.col("token").isin(list(query_tokens)))
            .select("token", F.col("df").alias("n"),
                    F.lit(None).cast("bigint").alias("total_dl"))
        )
        rows = corpus.unionByName(terms).collect()
    segments = [r for r in rows if r["token"] is None]
    if not segments:
        raise ValueError(
            f"no corpus stats for token column {tok_col!r} in index "
            f"{index_dir!r} — was it in the build's token spec?"
        )
    n_docs = float(sum(r["n"] for r in segments))
    df = {t: 0.0 for t in query_tokens}
    for r in rows:
        if r["token"] is not None:
            df[r["token"]] += r["n"]
    return Bm25Stats(
        n_docs=n_docs, avgdl=sum(r["total_dl"] for r in segments) / n_docs, df=df
    )


def _stats_segments(index_dir: str) -> tuple:
    """The index's current statistics segments, each with its mtime: an
    appended segment, a compaction or a rebuild changes the tuple."""
    with os.scandir(os.path.join(index_dir, "corpus_stats")) as it:
        return tuple(sorted((e.name, e.stat().st_mtime_ns) for e in it))


def index_bm25_provider(spark: SparkSession, index_dir: str):
    """A ``bm25_stats_for`` provider for ``plans.search.from_es_json``
    backed by the materialized index: ``bm25_stats_from_index`` over the
    query text's analysis — no corpus scan, the 100 TB path (a served
    query touches segments' statistics, never the documents, to price its
    terms). Called as ``(columns, analyzer, text)``, it serves ONE
    ``(tokens_col, weight)`` column (a weight scales the mean length the
    way it scales every document's): the index stores a term dictionary
    per column, so the union document frequency several columns of a
    ``combined_fields`` need is not there — that request raises
    ``ValueError``. Memoized per (column, analyzer, text) and the index's
    current segment set, so a tree reusing the same match clause in
    scoring and filter context looks up once, and a lookup after an
    increment or a compaction sees the new statistics."""
    cache: dict[tuple, object] = {}

    def provider(columns, analyzer: str, text: str):
        if len(columns) != 1:
            raise ValueError(
                "index_bm25_provider serves one token column, got "
                f"{[c for c, _ in columns]}: the index stores per-column "
                "term dictionaries, so the union document frequency "
                "combined_fields needs is not there (use "
                "plans.search.corpus_bm25_provider)"
            )
        (tokens_col, weight), = columns
        key = (tokens_col, weight, analyzer, text, _stats_segments(index_dir))
        if key not in cache:
            stats = bm25_stats_from_index(
                spark, index_dir, tokens_col,
                analyze_text(spark, text, analyzer),
            )
            stats.avgdl *= weight
            cache[key] = stats
        return cache[key]

    return provider


def read_indexed_documents(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(index_dir, "documents_indexed"))


def read_indexed_embeddings(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(index_dir, "embeddings_indexed"))


def fuzzy_expand(
    spark: SparkSession,
    index_dir: str,
    tok_col: str,
    term: str,
    fuzziness: object = "AUTO",
) -> list[str]:
    """Expand a fuzzy query term against the stored term dictionary —
    Lucene's fuzzy machinery re-expressed: instead of testing every FIELD
    token per row (the inline ``Match(fuzziness=...)`` HOF), intersect the
    Levenshtein ball with the BOUNDED vocabulary once, driver-side, and
    match the expansion exactly. The dictionary scan is pruned first by
    token length (|len(tok) − len(term)| ≤ d pushes down; edit distance
    can't be smaller than the length gap), then filtered by the built-in
    levenshtein. Returns the matching vocabulary terms (a handful), which
    the caller turns into a plain arrays_overlap — at 100 TB the per-row
    work is an exact token lookup, not an edit-distance loop."""
    d = Fuzzy("_", term, fuzziness=fuzziness).max_edits()
    if d == 0:
        return [term]
    rows = (
        read_stats(spark, index_dir, f"token_stats__{tok_col}")
        .select("token")
        .filter(
            (F.abs(F.length("token") - F.lit(len(term))) <= d)
            & (F.levenshtein(F.col("token"), F.lit(term)) <= d)
        )
        .collect()
    )
    # a token recurs once per segment holding it: dedupe in the driver,
    # no shuffle
    return sorted({r["token"] for r in rows})


def suggest_terms(
    spark: SparkSession,
    index_dir: str,
    tok_col: str,
    term: str,
    max_edits: int = 2,
    size: int = 5,
) -> DataFrame:
    """ES term suggester (the ``suggest`` block of a search request):
    spell-correction candidates for ``term`` from the stored term
    dictionary, ranked the way ES ranks them — edit distance first, then
    document frequency, then the term itself. The whole computation runs
    on the BOUNDED vocabulary (segments aggregated, length-gap pruning
    pushed below the edit distance), never on the corpus: the same
    dictionary walk fuzzy_expand does, with df carried along for ranking.
    Returns (suggestion, df, distance)."""
    vocab = (
        read_stats(spark, index_dir, f"token_stats__{tok_col}")
        .groupBy("token")
        .agg(F.sum("df").alias("df"))
    )
    return (
        vocab.filter(
            (F.abs(F.length("token") - F.lit(len(term))) <= max_edits)
            & (F.levenshtein(F.col("token"), F.lit(term)) <= max_edits)
        )
        .select(
            F.col("token").alias("suggestion"),
            F.col("df"),
            F.levenshtein(F.col("token"), F.lit(term)).cast("int").alias("distance"),
        )
        .orderBy(
            F.col("distance").asc(), F.col("df").desc(),
            F.col("suggestion").asc(),
        )
        .limit(size)
    )


def suggest_completion(
    spark: SparkSession,
    index_dir: str,
    tok_col: str,
    prefix: str,
    *,
    size: int = 5,
    fuzzy_edits: int = 0,
) -> DataFrame:
    """ES completion suggester: search-as-you-type — prefix-matched
    suggestions ranked by weight. ES serves this from an in-memory FST
    built at index time with per-entry weights; the analogue here is the
    WRITTEN term dictionary (the bounded vocabulary relation, segments
    aggregated) with document frequency as the weight — exactly the
    popularity signal an FST built from the corpus would carry. The
    prefix predicate compiles to a sargable ``LIKE 'p%'`` the dictionary
    scan prunes on; with ``fuzzy_edits`` (ES's fuzzy completion) the
    PREFIX of each candidate — not the whole term — may sit within that
    edit distance of the typed input, so 'spqr' still completes to
    'spark...'. Cost shape: vocabulary-bounded, never corpus-bounded.
    Returns (suggestion, weight), weight desc / suggestion asc."""
    vocab = (
        read_stats(spark, index_dir, f"token_stats__{tok_col}")
        .groupBy("token")
        .agg(F.sum("df").alias("weight"))
    )
    if fuzzy_edits == 0:
        pred = F.col("token").like(_like_escape(prefix) + "%")
    else:
        # "some PREFIX of the candidate is within fuzzy_edits of the
        # input": a matching candidate prefix can be SHORTER or LONGER
        # than the typed text (deletion/insertion typos — 'sprk' is one
        # edit from the 5-char prefix 'spark'), so test every slice
        # length in len(prefix) ± fuzzy_edits and take the best. 2e+1
        # cheap expressions on the bounded vocabulary, not a scan cost.
        lo = max(1, len(prefix) - fuzzy_edits)
        hi = len(prefix) + fuzzy_edits
        dists = [
            F.levenshtein(
                F.substring(F.col("token"), 1, L), F.lit(prefix)
            )
            for L in range(lo, hi + 1)
        ]
        best = dists[0] if len(dists) == 1 else F.least(*dists)
        pred = (F.length("token") >= lo) & (best <= fuzzy_edits)
    return (
        vocab.filter(pred)
        .select(F.col("token").alias("suggestion"), "weight")
        .orderBy(F.col("weight").desc(), F.col("suggestion").asc())
        .limit(size)
    )


def suggest_phrase(
    spark: SparkSession,
    index_dir: str,
    tok_col: str,
    text: str,
    ref_docs: DataFrame,
    *,
    max_edits: int = 1,
    per_term: int = 3,
    size: int = 3,
    edit_penalty: float = 0.5,
    max_candidates: int = 64,
) -> DataFrame:
    """ES phrase suggester (did-you-mean over multi-word input): candidate
    corrections per token from the STORED term dictionary (the term
    suggester's dictionary walk), candidate phrases scored by a bigram
    language model fitted on ``ref_docs`` (operators/lm.py — ES scores
    candidates with a Lucene shingle-field LM; the Laplace bigram is the
    portable twin) minus an edit-distance prior:

        score(phrase) =   Σ ln P̂(w_i | w_{i−1})      (bigram transitions)
                        + Σ ln P̂(w_i)                (unigram likelihood)
                        − edit_penalty · edits       (correction prior)

    The unigram term is what makes an out-of-vocabulary verbatim input
    LOSE to an in-vocabulary correction (both see the same smoothed-zero
    transition, but the OOV token's own likelihood is the Laplace floor —
    ES's candidate generator encodes the same signal as term frequency).

    Cost shape: the dictionary intersect runs per token on the BOUNDED
    vocabulary; candidate enumeration is driver-side over ≤ per_term^len
    (capped at ``max_candidates``) phrases; LM probabilities for the
    candidates' bigrams come from ONE semi-joined lookup against the
    vocabulary-sized count tables — the corpus is touched only to fit the
    LM (which a production deployment trains once and persists).

    Returns (suggestion, score, n_edits), best first, deterministic."""
    tokens = analyze_text(spark, text, "standard")
    if len(tokens) < 2:
        raise ValueError(
            f"phrase suggester needs >= 2 tokens, got {tokens!r} "
            "(use suggest_terms for single terms)"
        )
    per_token: list[list[tuple[str, int]]] = []
    for t in tokens:
        cands = suggest_terms(
            spark, index_dir, tok_col, t, max_edits=max_edits, size=per_term
        ).collect()
        opts = [(r["suggestion"], int(r["distance"])) for r in cands]
        if not any(d == 0 for _, d in opts):
            # keep the verbatim token as a candidate even when it's out of
            # vocabulary (ES's confidence behavior: the input itself
            # competes)
            opts.append((t, 0))
        per_token.append(opts)

    phrases = list(itertools.islice(
        itertools.product(*per_token), max_candidates
    ))

    c12, c1, vocab = fit_bigram_lm(ref_docs)
    needed_pairs = {
        (a[0], b[0]) for ph in phrases for a, b in zip(ph, ph[1:])
    }
    pair_rows = spark.createDataFrame(
        sorted(needed_pairs), "w1 string, w2 string"
    )
    looked = (
        pair_rows.join(c12, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(vocab)
        .collect()
    )
    v = float(looked[0]["v"]) if looked else 1.0
    logp = {
        (r["w1"], r["w2"]): math.log(
            ((r["c12"] or 0) + 1.0) / ((r["c1"] or 0) + v)
        )
        for r in looked
    }
    needed_words = sorted({w for ph in phrases for w, _ in ph})
    word_rows = spark.createDataFrame(
        [(w,) for w in needed_words], "w1 string"
    ).join(c1, ["w1"], "left").collect()
    total_row = c1.agg(F.sum("c1").alias("t")).head()
    t = float(total_row["t"] or 0)
    uni = {
        r["w1"]: math.log(((r["c1"] or 0) + 1.0) / (t + v))
        for r in word_rows
    }
    scored = []
    for ph in phrases:
        words = [w for w, _ in ph]
        edits = sum(d for _, d in ph)
        s = sum(logp[(a, b)] for a, b in zip(words, words[1:]))
        s += sum(uni[w] for w in words)
        s -= edit_penalty * edits
        scored.append((" ".join(words), round(s, 6), edits))
    scored.sort(key=lambda x: (-x[1], x[0]))
    return spark.createDataFrame(
        scored[:size], "suggestion string, score double, n_edits int"
    )


def compact_index_segments(spark: SparkSession, index_dir: str) -> int:
    """Merge every index segment into a single ``base`` segment — Lucene's
    merge policy for this engine's segment model. Streaming maintenance
    and frequent increments accumulate many small segments; each adds a
    file-listing + per-segment-stats term to every query, so periodic
    compaction is the standard hygiene.

    No re-analysis anywhere: stored rows are rewritten as-is, the merged
    TERM DICTIONARY is the sum of the per-segment dictionaries (segments
    hold disjoint documents, so document frequencies add), and the merged
    corpus stats are the per-segment sums — vocabulary-sized inputs, never
    a corpus re-scan beyond the columnar rewrite itself.

    Crash safety, a real protocol rather than a hope: every merged tree
    lands under ``<name>__compacting`` first; when ALL trees are fully
    written, a ``_COMPACTION_READY`` marker (listing the trees + the new
    sidecar content) is written; only then do the swaps run, and the
    marker is removed after the sidecar lands. Recovery on entry:
    marker present → every ``__compacting`` tree is complete, so FINISH
    the interrupted swaps and sidecar write; marker absent → any
    ``__compacting`` leftovers are incomplete writes from a crash before
    the marker and are deleted. A crash can therefore never leave a
    missing live tree or a stale watermark seed past a re-run. The
    sidecar's watermark seeds are recomputed from the merged data so a
    fresh WatermarkStore resumes from the right place.

    Returns the number of segments merged (1 = already compact, no-op)."""
    marker_path = os.path.join(index_dir, "_COMPACTION_READY")

    def finish_swaps(tree_names: list[str], meta: dict) -> None:
        for name in tree_names:
            live = os.path.join(index_dir, name)
            dst = os.path.join(index_dir, name + "__compacting")
            if os.path.isdir(dst):
                shutil.rmtree(live, ignore_errors=True)
                os.rename(dst, live)
        with open(os.path.join(index_dir, "index_meta.json"), "w") as f:
            json.dump(meta, f)
        os.remove(marker_path)

    if os.path.exists(marker_path):
        # interrupted AFTER all tmp trees were complete: finish the swap
        with open(marker_path) as f:
            marker = json.load(f)
        finish_swaps(marker["trees"], marker["meta"])
    else:
        for d in os.listdir(index_dir):
            if d.endswith("__compacting"):
                # crash BEFORE the marker: the tmp tree may be partial
                shutil.rmtree(os.path.join(index_dir, d))

    seg_parent = os.path.join(index_dir, "documents_indexed")
    segments = [d for d in os.listdir(seg_parent) if d.startswith("segment=")]
    trees = [
        d for d in os.listdir(index_dir)
        if d == "documents_indexed" or d == "embeddings_indexed"
        or d == "corpus_stats" or d.startswith("token_stats__")
    ]
    if len(segments) <= 1:
        return len(segments)

    new_meta = dict(read_index_meta(index_dir))
    tmp = {}
    for name in trees:
        src = os.path.join(index_dir, name)
        dst = os.path.join(index_dir, name + "__compacting")
        shutil.rmtree(dst, ignore_errors=True)
        out = os.path.join(dst, "segment=base")
        if name in ("documents_indexed", "embeddings_indexed"):
            merged = spark.read.parquet(src).drop("segment")
            merged.write.parquet(out)
            id_col = "doc_id" if name == "documents_indexed" else "vec_id"
            mx = spark.read.parquet(out).agg(F.max(id_col)).head()[0]
            key = ("base_max_doc_id" if name == "documents_indexed"
                   else "base_max_vec_id")
            new_meta[key] = int(mx) if mx is not None else None
        elif name == "corpus_stats":
            (
                read_stats(spark, index_dir, name)
                .groupBy("tok_col")
                .agg(
                    F.sum("n_docs").cast("long").alias("n_docs"),
                    F.sum("total_dl").cast("long").alias("total_dl"),
                )
                .coalesce(1)
                .write.parquet(out)
            )
        else:  # token_stats__<col>: document frequencies add across segments
            (
                read_stats(spark, index_dir, name)
                .groupBy("token")
                .agg(F.sum("df").cast("long").alias("df"))
                .write.parquet(out)
            )
        tmp[name] = dst

    with open(marker_path, "w") as f:
        json.dump({"trees": sorted(tmp), "meta": new_meta}, f)
    finish_swaps(sorted(tmp), new_meta)
    return len(segments)
