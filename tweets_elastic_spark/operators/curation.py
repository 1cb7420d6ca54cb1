"""Corpus-curation operators for training-data pipelines: benchmark
decontamination, deterministic sharding/shuffling, sequence packing, and
domain-mix sampling.

These are the ship-stage ops a pretraining pipeline runs after cleaning and
dedup (operators/dedup.py): strip eval-set contamination, rebalance the
domain mixture, assign a reproducible global shuffle, and pack documents
into fixed token-budget training sequences.

100 TB design notes:
* **Decontamination** joins the corpus posting list against the benchmark
  gram set. Benchmarks are tiny relative to the corpus (a few thousand eval
  documents vs billions of training docs), so the gram set is broadcast —
  the corpus side never shuffles; cost is one scan + map-side semi-join.
* **Sharding / packing** use the portable 60-bit hash for placement, so any
  engine (or a resumed run) reproduces the exact same shards. Per-shard
  windows parallelize across shards — there is no global sort; a window
  over an unpartitioned ORDER BY would serialize on one reducer, which is
  exactly what these operators avoid.
* **Domain mixing** is a scan-local filter (hash-threshold Bernoulli per
  row, weights broadcast as a literal CASE) — zero shuffle, pushes down.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tweets_elastic_spark.functions.analyzers import lower_alnum_tokens, pin_computed
from tweets_elastic_spark.functions.hashing import hash60
from tweets_elastic_spark.functions.robots import make_parse_udf, robots_allowed_col
from tweets_elastic_spark.functions.textstats import token_count
from tweets_elastic_spark.operators.dedup import (
    _shingle_posting_list,
    _tokens_projection,
)

# ---------------------------------------------------------------------------
# Benchmark decontamination (the GPT-3-style n-gram overlap filter: a
# training document sharing any k-gram with an eval benchmark is flagged)
# ---------------------------------------------------------------------------

def benchmark_grams(
    benchmark: DataFrame, k: int = 13, text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinct k-grams of the benchmark set — the (small) broadcast side."""
    return (
        _shingle_posting_list(benchmark, text_col, id_col, k, None)
        .select(F.col("_sh").alias("_gram"))
        .distinct()
    )


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per contaminated corpus doc: how many of its distinct
    k-grams appear in the benchmark, plus the lexicographically-first such
    gram (deterministic evidence sample).

    The corpus posting list is inner-joined against the broadcast benchmark
    gram set and re-aggregated by doc — one corpus scan, one local
    aggregation; no corpus-side shuffle beyond the per-doc groupBy."""
    grams = F.broadcast(benchmark_grams(benchmark, k, text_col, id_col))
    posts = _shingle_posting_list(corpus, text_col, id_col, k, None)
    return (
        posts.join(grams, posts["_sh"] == grams["_gram"])
        .groupBy(F.col("_id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_shared_grams"),
            F.min("_sh").alias("sample_gram"),
        )
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus rows sharing NO k-gram with the benchmark (broadcast
    anti-join against the contaminated-id set)."""
    bad = contamination_report(corpus, benchmark, k, text_col, id_col).select(
        id_col
    )
    return corpus.join(bad, id_col, "left_anti")


def decontaminate_fuzzy(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-match decontamination: drop corpus docs whose k-word-shingle
    Jaccard against ANY benchmark doc reaches ``threshold`` — the fuzzy
    complement of ``decontaminate`` (exact long-gram overlap misses
    lightly paraphrased eval leakage; GPT-4-report-style pipelines run
    both). Same inverted-index shape as jaccard_pairs but asymmetric: the
    (small) benchmark posting list is broadcast, candidate pairs exist
    only where a shingle is shared, and only (corpus × benchmark) pairs
    are scored — the corpus never self-joins, so cost is bounded by
    benchmark size × shared-shingle fan-out, not corpus²."""
    # NOT checkpointed (measured): the corpus postings are consumed
    # twice (size agg + intersection join), but materializing the fat
    # (id, shingle-string) rows costs MORE than replaying the cheap
    # tokenize→shingle lineage — measured 1.30 s → 2.12 s with a
    # localCheckpoint here. jaccard_pairs checkpoints because its three
    # consumers read 8-byte hashed keys; these postings stay strings
    # (the oracle joins on strings).
    c_posts = _shingle_posting_list(corpus, text_col, id_col, k, None)
    b_posts = _shingle_posting_list(benchmark, text_col, id_col, k, None)
    c_sz = c_posts.groupBy("_id").agg(F.count(F.lit(1)).alias("_csz"))
    b_sz = b_posts.groupBy("_id").agg(F.count(F.lit(1)).alias("_bsz"))
    inter = (
        c_posts.join(
            F.broadcast(b_posts.select(F.col("_id").alias("_bid"), "_sh")),
            "_sh",
        )
        .groupBy("_id", "_bid")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    contaminated = (
        inter.join(c_sz, "_id")
        .join(F.broadcast(b_sz.select(F.col("_id").alias("_bid"), "_bsz")), "_bid")
        .filter(
            F.col("_inter") / (F.col("_csz") + F.col("_bsz") - F.col("_inter"))
            >= threshold
        )
        .select(F.col("_id").alias(id_col))
        .distinct()
    )
    return corpus.join(contaminated, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Deterministic shuffle + sharding
# ---------------------------------------------------------------------------

def shuffle_key(id_col: Column, seed: int = 0) -> Column:
    """Portable deterministic shuffle key: hash60 of ``seed:id``. Stable
    across engines, runs, and partitionings — the reproducible 'random'
    order every training run needs."""
    return hash60(F.concat(F.lit(f"{seed}:"), id_col.cast("string")))


def assign_shards(
    df: DataFrame,
    n_shards: int = 1024,
    seed: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """+ (shard, pos): shard = shuffle-hash mod n_shards; pos = the doc's
    0-based position in the shard's deterministic shuffle order.

    The row_number window partitions BY SHARD — shards process in parallel
    (one reducer per shard), never a global single-reducer sort. Ties are
    impossible: the hash is keyed on the unique id, and id breaks any
    residual tie deterministically."""
    key = shuffle_key(F.col(id_col), seed)
    w = Window.partitionBy("shard").orderBy("_skey", id_col)
    return (
        df.withColumn("_skey", key)
        .withColumn("shard", (F.col("_skey") % n_shards).cast("int"))
        .withColumn("pos", F.row_number().over(w).cast("long") - 1)
        .drop("_skey")
    )


# ---------------------------------------------------------------------------
# Sequence packing: concatenate-and-chunk into fixed token budgets
# ---------------------------------------------------------------------------

def pack_sequences(
    df: DataFrame,
    budget: int = 2048,
    n_shards: int = 1024,
    seed: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign every doc its place in fixed-``budget`` training sequences:
    (shard, seq_id, offset, n_tokens) — the concatenate-then-chunk packing
    pretraining uses (documents are laid out in the shard's deterministic
    shuffle order; a doc starting at global token offset T goes to sequence
    T // budget at offset T % budget, spilling into the next sequence when
    it straddles the boundary).

    Per-shard exclusive-prefix-sum window — parallel across shards; no
    global ordering anywhere."""
    key = shuffle_key(F.col(id_col), seed)
    w = Window.partitionBy("shard").orderBy("_skey", id_col)
    cum_excl = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("long"),
    )
    return (
        df.select(
            F.col(id_col),
            key.alias("_skey"),
            token_count(F.col(text_col)).alias("n_tokens"),
        )
        .withColumn("shard", (F.col("_skey") % n_shards).cast("int"))
        .withColumn("seq_id", (cum_excl / budget).cast("long"))
        .withColumn("offset", (cum_excl % budget).cast("long"))
        .drop("_skey")
    )


# ---------------------------------------------------------------------------
# Domain-mix sampling
# ---------------------------------------------------------------------------

def domain_mix_sample(
    df: DataFrame,
    weights: dict[str, float],
    domain_col: str = "source",
    default_weight: float = 0.0,
    seed: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic Bernoulli downsampling with a per-domain keep rate:
    keep a row iff its hash fraction < weights[domain] (``default_weight``
    for unlisted domains). hash fraction = shuffle-hash mod 1e6 / 1e6 —
    uniform, reproducible, independent of partitioning; the same row is
    kept or dropped in every engine and every run.

    Pure scan-local filter (the weight table is a literal CASE expression,
    not a join) — zero shuffle at any scale."""
    frac = (shuffle_key(F.col(id_col), seed) % 1_000_000) / 1_000_000.0
    rate: Column = F.lit(float(default_weight))
    for dom, wgt in sorted(weights.items()):
        rate = F.when(F.col(domain_col) == dom, F.lit(float(wgt))).otherwise(rate)
    return df.filter(frac < rate)


# ---------------------------------------------------------------------------
# Line-level dedup (RefinedWeb / Falcon boilerplate removal)
# ---------------------------------------------------------------------------

def line_dedup(
    docs: DataFrame,
    max_df: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """RefinedWeb-style line-wise deduplication (Penedo et al. 2023,
    arXiv:2306.01116 §3.3): split each document into lines, drop EVERY copy
    of any non-empty line that occurs in more than ``max_df`` distinct
    documents (navigation chrome, cookie banners, repeated headers — the
    within-page boilerplate document-level dedup can't see), and rebuild
    each document from its surviving lines in original order. Lines match
    under exact-dedup normalization (lowercase, whitespace collapsed) —
    byte-different renderings of the same boilerplate still count.

    Returns (id, text_kept, n_kept, n_dropped) for every input document
    (text_kept = '' when nothing survives — the caller's min-length gate
    owns the removal decision).

    Scale shape: lines shuffle ONCE on their md5 (fixed-width key) for the
    document-frequency count; the count table is boilerplate-sized (only
    lines with df > max_df matter) and BROADCASTs back as an anti-join
    predicate; reconstruction groups on the id the explode preserved. No
    sort is global: line order rides the posexplode index through an
    in-group array_sort."""
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn(
        "_lnorm",
        F.lower(F.trim(F.regexp_replace(F.col("line"), r"\s+", " "))),
    ).withColumn("_lkey", F.md5(F.col("_lnorm")))
    hot = (
        lines.filter(F.col("_lnorm") != "")
        .groupBy("_lkey")
        .agg(F.countDistinct(F.col(id_col)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("_lkey")
    )
    kept = lines.join(F.broadcast(hot), "_lkey", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text_kept"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    # per-doc line totals are array-local: size(split(text)) equals the
    # exploded count(*) row-for-row (posexplode emits no rows for a NULL
    # text, hence the matching isNotNull gate) — this spares the third
    # explode + groupBy pass over the corpus (guide §2.4)
    totals = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), "\n")).cast("long").alias("_n_total"),
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("text_kept", F.lit("")).alias("text_kept"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("_n_total") - F.coalesce("n_kept", F.lit(0))).alias("n_dropped"),
        )
    )


def c4_line_filter(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 5,
    min_lines: int = 3,
    bad_words: list[str] | None = None,
) -> DataFrame:
    """C4-style heuristic cleaning (Raffel et al. 2020, arXiv:1910.10683
    §2.2 — the classic pretraining line filter):

    * keep only lines that end in terminal punctuation (``. ! ? "``),
      carry at least ``min_words`` whitespace words, and do not contain
      the word "javascript" (case-insensitive) — the cookie-banner rule;
    * drop the whole page when it contains "lorem ipsum" (any case) or a
      curly brace ``{`` (code), or when fewer than ``min_lines`` lines
      survive (C4 counts sentences; this engine counts kept lines — a
      documented approximation, no sentence splitter in the chain);
    * drop the whole page when it contains any word from ``bad_words``
      (C4's bad-words page rule): whole-word, case-insensitive —
      all words fold into ONE compiled alternation regex so the gate is
      a single scan-local ``rlike``. The canonical blocklist ("List of
      Dirty, Naughty, Obscene..." — the public artifact C4 used) is NOT
      shipped; callers pass their own list. ``None`` (default) disables
      the gate.

    Returns (id, text, n_lines_kept) for surviving pages, text rebuilt
    from the kept lines in order.

    Scale shape: every rule is a scan-local JVM expression over the
    line array (split → filter HOF → array_join) — NO shuffle, the
    filter literally rides the scan; at 100 TB this is the cheapest
    possible pass (one read, one write). The kept-lines array is pinned
    to ONE evaluation site (pin_computed — Catalyst does not CSE,
    so the unpinned form ran the split+line-gate HOF up to 3× per row:
    rebuild projection, size projection, and the pushed min_lines
    filter)."""
    line_ok = lambda l: (
        F.size(
            F.filter(F.split(F.trim(l), r"\s+"), lambda w: w != F.lit(""))
        ) >= min_words
    ) & F.trim(l).rlike(r'[.!?"]$') & ~F.lower(l).contains("javascript")
    kept = F.filter(F.split(F.col(text_col), "\n"), line_ok)
    page_ok = (
        F.col(text_col).isNotNull()
        & ~F.lower(F.col(text_col)).contains("lorem ipsum")
        & ~F.col(text_col).contains("{")
    )
    if bad_words:
        pattern = (
            r"(?i)\b(" + "|".join(re.escape(w) for w in bad_words) + r")\b"
        )
        page_ok = page_ok & ~F.col(text_col).rlike(pattern)

    return (
        docs.filter(page_ok)
        .select(F.col(id_col), pin_computed(kept).alias("_kept"))
        .select(
            F.col(id_col),
            F.array_join("_kept", "\n").alias(text_col),
            F.size("_kept").alias("n_lines_kept"),
        )
        .filter(F.col("n_lines_kept") >= min_lines)
    )


def dup_ngram_stats(
    corpus: DataFrame,
    k: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Intra-corpus duplicated-text measurement (the doc-level decision of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better": text spans repeated across a corpus are memorization fuel):
    for every document, the fraction of its DISTINCT k-grams whose
    document frequency in the corpus is >= 2 — i.e. spans shared with at
    least one other document.

    One plan: the (id, gram) posting list (scan-local shingling), a gram-
    keyed df aggregation (map-side combine; output is distinct-gram-
    sized), a same-key join back (the aggregation's partitioning is
    reusable — one logical shuffle on the gram key), and a per-doc
    re-aggregation. No pairwise work anywhere: cost is linear in posting
    count, unlike the O(df**2) pair generators — this is the operator to
    run FIRST at 100 TB to size the dedup problem.

    Returns (id, n_grams, n_dup, dup_frac). Docs shorter than k words
    contribute their whole text as one gram (word_shingles_from_tokens's
    short-doc contract), so every doc appears in the output.
    """
    # Postings key on the portable 60-bit gram hash and materialize once
    # (the jaccard_pairs treatment): a 13-gram is a ~90-char string,
    # so hashing shrinks both shuffles ~10×, and the df aggregation + the
    # join-back would otherwise each replay the tokenize→shingle lineage.
    # The oracle hashes identically (hash60_sql), so a 2⁻⁶⁰ collision
    # would merge the same grams in both engines.
    posts = _shingle_posting_list(corpus, text_col, id_col, k, None).select(
        "_id", hash60(F.col("_sh")).alias("_sh")
    ).localCheckpoint()
    df_counts = posts.groupBy("_sh").agg(
        F.countDistinct("_id").alias("_df")
    )
    return (
        posts.join(df_counts, "_sh")
        .groupBy(F.col("_id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("_df") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("n_dup") / F.col("n_grams").cast("double"), 6),
        )
    )


def span_dedup(
    corpus: DataFrame,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicated-SPAN removal — the substring-level member of
    the dedup family (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better": remove every repeated substring of ≥ k
    tokens, keeping one occurrence), expressed over rolling k-token
    windows instead of a suffix array:

    * every k-token window hashes portably (hash60 of the space-joined
      lowercased tokens); a window value occurring ≥ 2 times anywhere in
      the corpus (other docs OR a repeat within the same doc) is a
      duplicated span;
    * the globally-minimal occurrence — lexicographic (doc_id, start) —
      is the KEEPER and keeps its tokens; every other occurrence marks
      its token range [start, start+k) for removal (overlapping marks
      union, so a duplicated run longer than k is removed wholesale);
    * each doc rebuilds from its surviving tokens.

    Returns (id, n_tokens, n_dup_tokens, clean_text) with clean_text the
    space-joined surviving lowercased tokens — every doc appears, clean
    docs with n_dup_tokens = 0. Fully deterministic and SQL-expressible,
    so the registry query carries a REAL oracle.

    100 TB shape: windows ≈ one posting per token position, keyed by the
    8-byte hash (one shuffle); the duplicate-occurrence table shuffles
    back by doc id (second shuffle, ids only); the rebuild is scan-local
    HOFs. Linear in corpus tokens — the same cost class as
    dup_ngram_stats, not the pair generators. The token projection
    materializes once (localCheckpoint), shared by window generation and
    rebuild."""
    toks = _tokens_projection(corpus, text_col, id_col).localCheckpoint()
    n = F.size("_toks")
    win_structs = F.when(n >= k, F.transform(
        F.sequence(F.lit(0), n - k),
        lambda s: F.struct(
            s.alias("s"),
            hash60(
                F.array_join(F.slice(F.col("_toks"), s + 1, k), " ")
            ).alias("h"),
        ),
    )).otherwise(F.array().cast("array<struct<s:int,h:long>>"))
    windows = toks.select(
        "_id", F.explode(win_structs).alias("w")
    ).select("_id", F.col("w.s").alias("_s"), F.col("w.h").alias("_h"))
    # occurrence count + keeper as WINDOW functions riding one hash
    # exchange: the groupBy+join shape evaluated the `windows`
    # projection TWICE (aggregation build + join probe side), and that
    # projection is the operator's CPU core (an md5 per token position);
    # the window form evaluates it once and drops the join outright
    w_h = Window.partitionBy("_h")
    dup_starts = (
        windows
        .select(
            "*",
            F.count(F.lit(1)).over(w_h).alias("_cnt"),
            F.min(F.struct(F.col("_id").alias("d"), F.col("_s").alias("s")))
            .over(w_h).alias("_keep"),
        )
        .filter(
            (F.col("_cnt") >= 2)
            & ~((F.col("_id") == F.col("_keep.d"))
                & (F.col("_s") == F.col("_keep.s")))
        )
        .groupBy("_id")
        .agg(F.sort_array(F.collect_set("_s")).alias("_dup"))
    )
    rebuilt = toks.join(dup_starts, "_id", "left").withColumn(
        "_dup", F.coalesce("_dup", F.array().cast("array<int>"))
    )

    def kept(ts: Column) -> Column:
        dup = F.col("_dup")
        return F.array_compact(F.transform(
            ts,
            lambda x, i: F.when(
                ~F.exists(dup, lambda s: (s <= i) & (i < s + F.lit(k))),
                x,
            ),
        ))

    # the kept array lands in its OWN projection so the two consumers
    # below don't each replay the per-token coverage scan (Catalyst
    # inlines rather than CSEs; CollapseProject keeps a multiply-
    # referenced expensive expression in place)
    kept_once = rebuilt.select(
        "_id", F.size("_toks").cast("long").alias("n_tokens"),
        kept(F.col("_toks")).alias("_kept"),
    )
    return kept_once.select(
        F.col("_id").alias(id_col),
        "n_tokens",
        (F.col("n_tokens") - F.size("_kept")).cast("long")
        .alias("n_dup_tokens"),
        F.array_join("_kept", " ").alias("clean_text"),
    )


def chunk_documents(
    docs: DataFrame,
    max_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into token-bounded chunks with overlap — the
    chunking stage of RAG / context-window-bounded training pipelines.
    Chunk i covers tokens [i·stride, i·stride + max_tokens), stride =
    max_tokens − overlap; the last chunk is the remainder (never empty,
    never duplicated: a doc shorter than max_tokens is exactly one chunk).

    Pure higher-order-function projection — tokenize once per row,
    boundaries via ``sequence``, slices via ``slice`` — so chunking rides
    the scan with zero shuffle and zero Python at any corpus size.

    Returns (id, chunk_id, chunk_text, n_tok)."""
    if overlap < 0 or overlap >= max_tokens:
        raise ValueError(
            f"need 0 <= overlap < max_tokens, got overlap={overlap}, "
            f"max_tokens={max_tokens}"
        )

    stride = max_tokens - overlap
    base = docs.select(
        F.col(id_col), lower_alnum_tokens(F.col(text_col)).alias("_t")
    )
    n = F.size("_t")
    # number of chunks: ceil(max(n - overlap, 1) / stride) — the last
    # window that still starts inside the doc
    n_chunks = F.when(
        n <= max_tokens, F.lit(1)
    ).otherwise(F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int"))
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(F.col("_t"), i * stride + 1, max_tokens),
    )
    return (
        base.filter(n > 0)
        .select(
            id_col,
            F.posexplode(chunks).alias("chunk_id", "_c"),
        )
        .select(
            id_col,
            "chunk_id",
            F.array_join("_c", " ").alias("chunk_text"),
            F.size("_c").alias("n_tok"),
        )
    )


def url_parts(url: Column) -> Column:
    """URL → struct(scheme, host, path, query) — pure-regex split, no
    UDF. Host lowercases and drops a leading ``www.``; missing pieces
    come back as empty strings (the regexp_extract no-match value)."""
    scheme = F.lower(
        F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.regexp_replace(
        F.lower(F.regexp_extract(
            url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]+)", 1)),
        r"^www\.", "")
    path = F.regexp_extract(
        url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(url, r"\?([^#]*)", 1)
    return F.struct(scheme.alias("scheme"), host.alias("host"),
                    path.alias("path"), query.alias("query"))


def url_quality_filter(
    docs: DataFrame,
    *,
    url_col: str = "url",
    blocked_fragments: list[str] | None = None,
    max_path_depth: int = 8,
    max_url_len: int = 2048,
    max_query_len: int = 256,
) -> DataFrame:
    """URL-level page gating (the FIRST filter real crawl pipelines
    apply — RefinedWeb §3.1 / C4 run URL rules before ever reading the
    page body). Keeps rows whose URL passes ALL of:

    * scheme is http/https;
    * host is a hostname, not an IPv4 literal, and carries no explicit
      port (crawl-trap heuristics);
    * path depth (non-empty ``/`` segments) <= ``max_path_depth``,
      total length <= ``max_url_len``, query string <= ``max_query_len``;
    * the URL contains no ``blocked_fragments`` substring
      (case-insensitive; the fragments fold into ONE alternation rlike
      — a wired parameter like c4_line_filter's bad_words, no list is
      shipped).

    Adds the parsed ``host`` column for downstream grouping/blocklist
    joins. Every rule is a scan-local expression — the gate rides the
    scan, no shuffle, the cheapest possible 100 TB pass."""
    u = F.col(url_col)
    p = url_parts(u)
    depth = F.size(F.filter(F.split(p["path"], "/"),
                            lambda s: s != F.lit("")))
    ok = (
        u.isNotNull()
        & p["scheme"].isin("http", "https")
        & (p["host"] != F.lit(""))
        & ~p["host"].rlike(r"^\d{1,3}(\.\d{1,3}){3}$")
        & ~u.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*:\d")
        & (depth <= max_path_depth)
        & (F.length(u) <= max_url_len)
        & (F.length(p["query"]) <= max_query_len)
    )
    if blocked_fragments:
        pat = "(?i)(" + "|".join(
            re.escape(w) for w in blocked_fragments) + ")"
        ok = ok & ~u.rlike(pat)
    return docs.filter(ok).withColumn("host", url_parts(u)["host"])


def url_blocklist_filter(
    docs: DataFrame, blocklist: DataFrame, *,
    host_col: str = "host", id_col: str = "doc_id",
) -> DataFrame:
    """Drop rows whose host matches a blocklisted domain OR any parent
    of it ('ads.x.spam.com' is blocked by 'spam.com'). Scale shape: the
    host explodes into its <= ~6 domain-suffix chain entries
    ('a.b.com' → a.b.com, b.com, com), one broadcast equi-join against
    the (UT1-sized) blocklist collects the HIT IDS — 8-byte keys, never
    the page payload — and one left_anti join on ``id_col`` removes
    them. Never a string-suffix theta join (which would plan as a
    nested loop). ``blocklist`` must carry a ``domain`` column."""
    labels = F.split(F.col(host_col), r"\.")
    n = F.size(labels)
    chain = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(labels, i, n - i + 1), "."),
    )
    hit_ids = (
        docs.select(id_col, F.explode(chain).alias("__sfx"))
        .join(F.broadcast(blocklist.select(
            F.col("domain").alias("__sfx"))), "__sfx")
        .select(id_col).distinct()
    )
    return docs.join(hit_ids, id_col, "left_anti")


def robots_gate(
    docs: DataFrame,
    robots: DataFrame,
    *,
    url_col: str = "url",
    agent: str = "*",
    host_col: str = "host",
    txt_col: str = "robots_txt",
) -> DataFrame:
    """RFC 9309 robots.txt gate — the crawl-politeness filter next
    to url_quality_filter / url_blocklist_filter: keep pages whose path
    the host's robots.txt allows for ``agent``.

    Scale shape: ``robots`` is the per-HOST relation (hosts-sized —
    millions of rows at 100 TB corpus scale, not billions). Each body
    parses ONCE in an Arrow-batched pandas UDF over that small relation
    (group selection + wildcard-to-regex compilation,
    functions/robots.py:parse_robots), then the compiled rule arrays
    BROADCAST-join onto the page scan by host, and the allow/disallow
    decision is one scan-local expression per page (HOF rlike filter +
    array_max longest-match pick, robots_allowed_col) — the page stream
    is never shuffled. Hosts missing from ``robots`` (or with a NULL
    body) are allowed, per spec. Adds ``robots_allowed`` before
    filtering so callers can audit; returns allowed rows."""
    _parse = make_parse_udf(agent)
    rules = robots.select(
        F.col(host_col).alias("__rhost"),
        _parse(F.col(txt_col)).alias("__rules"),
    )
    p = url_parts(F.col(url_col))
    base = F.when(p["path"] == F.lit(""), F.lit("/")).otherwise(p["path"])
    # REP matching (the Google reference parser RFC 9309 formalizes)
    # matches against path PLUS query — rules like 'Disallow: /*?session='
    # must fire, so the query component cannot be dropped here
    joined = docs.withColumn("__phost", p["host"]).withColumn(
        "__ppath",
        F.when(p["query"] == F.lit(""), base)
        .otherwise(F.concat(base, F.lit("?"), p["query"])),
    ).join(
        F.broadcast(rules),
        F.col("__phost") == F.col("__rhost"),
        "left",
    )
    out = joined.withColumn(
        "robots_allowed",
        robots_allowed_col(F.col("__ppath"), F.col("__rules")),
    )
    return (
        out.filter(F.col("robots_allowed"))
        .drop("__rhost", "__rules", "__phost", "__ppath")
    )
