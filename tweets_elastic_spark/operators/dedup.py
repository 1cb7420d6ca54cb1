"""Deduplication operators for training-data pipelines (north-star block).

Five dedup families, all shuffle-architected for 100 TB:

* **Exact** — fingerprint (md5 of normalized text) groupBy. One shuffle on
  the fingerprint; keeper = min id (deterministic).
* **N-gram Jaccard** — the *inverted-index* pair algorithm, NOT a cross
  join: explode distinct shingles, self-join on the shingle (only docs
  sharing a shingle ever meet), count shared shingles per pair, compute
  jaccard = inter / (|A|+|B|-inter). With a document-frequency cap on
  shingles (drop shingles present in > max_df docs) the join's fan-out is
  bounded — the classic skew guard at corpus scale.
* **MinHash + LSH** — shingle→minhash signatures (universal hashing over
  xxhash64), banded into buckets; only same-bucket docs become candidates;
  candidates verified with exact jaccard. Sub-quadratic: cost scales with
  bucket collisions, not pairs.
* **SimHash** — 64-bit weighted-token fingerprint; near-dups = signatures
  within Hamming distance k, found by banding (pigeonhole: distance ≤ 3
  ⇒ at least one of 4 16-bit chunks equal).
* **Embedding cosine** — near-dup pairs above a cosine threshold; exact
  (within LSH buckets at scale — see operators/similarity.py).

Every deterministic choice (hash seeds, keeper selection, tie order) is
fixed so reruns and oracle comparisons are stable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from tweets_elastic_spark.functions.hashing import hash60
from tweets_elastic_spark.functions.textstats import (
    fingerprint_md5,
    normalized_text,
    simple_tokens,
)
from tweets_elastic_spark.functions.vectors import col_sql, cosine, dot, norm
from tweets_elastic_spark.operators.similarity import lsh_tables, rh_signature_col
from tweets_elastic_spark.sources.catalog import fan_out

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per duplicated fingerprint: keeper id, group size."""
    fp = F.md5(normalized_text(F.col(text_col)))
    return (
        df.select(F.col(id_col), fp.alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keeper_id"))
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the min-id row per fingerprint (deterministic keeper)."""
    fp = F.md5(normalized_text(F.col(text_col))).alias("_fp")
    ranked = df.withColumn("_fp", fp)
    keepers = ranked.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return ranked.join(keepers, [id_col, "_fp"], "left_semi").drop("_fp")


# ---------------------------------------------------------------------------
# Near-dup CLUSTERING: pairs → connected components → one keeper per cluster
# (the step a training-data pipeline actually ships: pairwise similarity is
# an intermediate; dedup drops all-but-one per transitive duplicate group)
# ---------------------------------------------------------------------------

# Iteration count of the most recent connected_components call: the
# Spark path's loop rounds (including the final no-change confirmation
# round), 0 when the driver path labelled the graph. perfbench reads it.
CC_LAST_ROUNDS: int = 0

# Most edges the driver path labels; a larger graph takes the Spark path.
# Driver memory: the probe holds 16 B per edge as two Arrow-backed int64
# columns; the Python heap (tracemalloc) peaks at ~330 B per edge when
# every edge brings two new nodes (10**6 isolated pairs: 313 MB) and at
# ~110 B on dup groups (10**6 edges of 8-node cliques: 107 MB).
# Measured on a 4-core box, 2g driver, cliques of 8 built by a shuffle
# join, label + count, driver vs Spark path (one round): 10**4 edges
# 0.29 vs 0.98 s, 10**5 0.54 vs 1.42 s, 3*10**5 0.91 vs 1.64 s, 10**6
# 2.42 vs 2.73 s. Above the bound the probe costs the Spark path 0.84 s
# at 2*10**6 edges (0.29 s for the 1-row probe a bound of 0 still pays).
_DRIVER_CC_MAX_EDGES = 1_000_000


def _union_find_labels(edges) -> dict:
    """Min-id label of every node in ``edges`` (an iterable of id pairs):
    union-find with path halving, the smaller root winning every union,
    so each root is the minimum of its set."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {x: find(x) for x in parent}


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, cluster_id) for every id in ``pairs``; cluster_id = the MIN id
    reachable through the pair graph (deterministic canonical label). Both
    columns have the type of the pair columns and are nullable. A null
    ``id_a`` or ``id_b`` raises when the edges are read.

    Two paths, with the same labels by construction:

    * **Driver path**, when the graph has at most ``_DRIVER_CC_MAX_EDGES``
      edges: one action reads up to bound + 1 edges into pandas through
      Arrow, union-find labels them in the driver, and the labels come
      back as one ``createDataFrame`` from pandas. Near-dup graphs are
      dup groups, not social graphs: a batch's graph is tens of pairs,
      where the Spark path's cost is its jobs, not its rows. An empty
      graph always takes this path, even with a bound of 0. At the bound
      the driver peaks near 0.3 GB of Python heap in the worst case; the
      memory and timing figures are beside ``_DRIVER_CC_MAX_EDGES``.
    * **Spark path**, for a larger graph: min-label propagation as
      DataFrame ops. The edges are ``localCheckpoint``ed, so Catalyst does
      not re-analyze the pair generator's lineage inside every round.
      The first labels fuse the identity labelling with the first hop
      (label₀ = min(id, min neighbor id)), one aggregation. Each round
      then hops labels across the edges and rebinds them through the
      round's INPUT labels by **pointer doubling**: l(x) ← min(l'(x),
      l(l'(x))), one join of the hopped labels against the checkpointed
      previous labels (chasing through the hopped relation itself would
      compute the hop subtree twice per round, since join outputs are not
      Exchange nodes that ReuseExchange could share). Every label is
      itself a node id, so the lookup always hits; labels only decrease,
      so least() keeps monotonicity. A label's distance to its component
      min roughly doubles per round, so rounds are O(log d) in the
      component diameter d, and each round costs one checkpoint and one
      convergence count. The fixpoint: the component min m has l(m) = m
      always, and every other label descends to it.

    On the Spark path the probe action stops at bound + 1 rows, but the
    shuffle stages under an uncached pair lineage run in full, and the
    edge ``localCheckpoint`` then computes that lineage a second time. No
    caller in the package checkpoints its pairs, so a graph above the
    bound pays its candidate generation twice; a caller with such a graph
    can checkpoint the pairs first.

    ``CC_LAST_ROUNDS`` (module global) records the Spark path's round
    count of the most recent call, 0 for the driver path; it plays no part
    in the result."""
    global CC_LAST_ROUNDS
    if max_iter < 1:
        raise ValueError(f"connected_components needs max_iter >= 1, got {max_iter}")
    null_id = F.col(id_a).isNull() | F.col(id_b).isNull()
    edges = pairs.select(
        F.when(
            null_id,
            F.raise_error(F.lit(f"connected_components: null id in {id_a}/{id_b}")),
        ).otherwise(F.col(id_a)).alias("a"),
        F.col(id_b).alias("b"),
    )
    id_type = edges.schema["a"].dataType
    head = edges.limit(_DRIVER_CC_MAX_EDGES + 1).toPandas()
    if len(head) <= _DRIVER_CC_MAX_EDGES:
        CC_LAST_ROUNDS = 0
        labels = _union_find_labels(zip(head["a"].tolist(), head["b"].tolist()))
        schema = StructType([
            StructField("id", id_type, True),
            StructField("cluster_id", id_type, True),
        ])
        return pairs.sparkSession.createDataFrame(
            pd.DataFrame({
                "id": list(labels.keys()),
                "cluster_id": list(labels.values()),
            }),
            schema,
        )
    del head  # the probe rows would stay pinned through every round
    edges = edges.unionAll(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()
    labels = (
        edges.groupBy(F.col("a").alias("id"))
        .agg(F.min("b").alias("_nbr"))
        .select("id", F.least(F.col("id"), F.col("_nbr")).alias("label"))
        .localCheckpoint()
    )
    converged = False
    for rounds in range(1, max_iter + 1):
        nbr_min = (
            edges.join(labels, edges["b"] == labels["id"])
            .groupBy(edges["a"].alias("id"))
            .agg(F.min("label").alias("_nbr"))
        )
        hopped = labels.join(nbr_min, "id", "left").select(
            "id",
            F.col("label").alias("_old"),
            F.least("label", F.coalesce("_nbr", "label")).alias("label"),
        )
        # pointer doubling: chase the hopped label one more step through
        # the checkpointed PREVIOUS labels (l(l'(x))) — a slim two-long
        # join per node against an already-materialized RDD, no replay of
        # the hop subtree. l(y) ≤ y, so the chased label can only improve
        # on the hopped one (least() is belt-and-braces).
        lookup = labels.select(
            F.col("id").alias("_pid"), F.col("label").alias("_plabel")
        )
        joined = hopped.join(
            lookup, hopped["label"] == lookup["_pid"], "left"
        ).select(
            "id",
            "_old",
            F.least("label", F.coalesce("_plabel", "label")).alias("label"),
        )
        joined = joined.localCheckpoint()  # truncate lineage, one pass
        changed = joined.filter(F.col("label") < F.col("_old")).limit(1).count()
        labels = joined.drop("_old")
        if changed == 0:
            converged = True
            break
    CC_LAST_ROUNDS = rounds
    if not converged:
        # silently returning intermediate labels would mislabel components
        # (and fail the recursive-CTE oracle with no hint why)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds — "
            "a component has a longer diameter than expected; raise max_iter"
        )
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def dedup_near_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Corpus minus non-canonical near-dup cluster members: every doc in a
    cluster except its min-id representative is dropped (transitive — A~B,
    B~C drops B AND C even if A~C was never scored). Docs outside any pair
    pass through untouched. One anti-join against the (small) set of
    dropped ids."""
    comp = connected_components(pairs, id_a, id_b)
    dropped = comp.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(dropped, id_col, "left_anti")


def dedup_near_best_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Quality-aware keeper policy: per near-dup cluster keep the member
    with the HIGHEST ``quality_col`` (ties break to the min id), drop the
    rest — the curation refinement real pipelines ship (keep the longest /
    best-scored variant of a duplicated page rather than an arbitrary
    min-id). Same connected components as ``dedup_near_survivors``; the
    keeper pick is one window rank over the cluster-membership relation
    (cluster-sized, never corpus-sized — only docs that appear in a pair
    enter the window). Untouched docs pass through."""
    comp = connected_components(pairs, id_a, id_b)
    members = comp.join(
        docs.select(F.col(id_col).alias("id"), F.col(quality_col)),
        "id",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(quality_col).desc(), F.col("id").asc()
    )
    dropped = (
        members.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select(F.col("id").alias(id_col))
    )
    return docs.join(dropped, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Word-shingle machinery shared by Jaccard / MinHash
# ---------------------------------------------------------------------------

def word_shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Distinct k-word shingles (space-joined) from a token-array column.

    Built by zipping k position-shifted copies of the token array — the
    token arrays appear only as DIRECT arguments of ``slice``/``zip_with``,
    never inside a lambda body. The naive form
    ``transform(sequence(1, n-k+1), i -> array_join(slice(toks, i, k)))``
    re-evaluates the whole tokenization expression for EVERY shingle
    position (Catalyst inlines outer expressions into HOF lambdas without
    CSE), turning shingling O(tokens²) per doc — measured 20× slower at
    sf0.1.

    Pass ``toks`` as a COLUMN REFERENCE from its own projection (see
    ``_tokens_projection``), not an inline expression: this expression
    still references its input ~6 times (size, k slices, fallback join),
    and only an attribute makes those references free."""
    n = F.size(toks)
    # acc[i] = toks[i] ' ' toks[i+1] ... ' ' toks[i+j]; positions past
    # n-j get NULL (zip_with pads the shorter shifted side) and stay NULL.
    acc = toks
    for j in range(1, k):
        shifted = F.slice(toks, j + 1, F.greatest(n - j, F.lit(0)))
        acc = F.zip_with(
            acc,
            shifted,
            lambda a, b: F.when(
                a.isNotNull() & b.isNotNull(), F.concat(a, F.lit(" "), b)
            ),
        )
    shingled = F.when(
        n >= k,
        F.filter(acc, lambda s: s.isNotNull()),
    ).otherwise(
        # shorter than k words: the whole text is one shingle
        F.when(n > 0, F.array(F.array_join(toks, " "))).otherwise(
            F.array().cast("array<string>")
        )
    )
    return F.array_distinct(shingled)


def _tokens_projection(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """(_id, _toks) with lowercased tokens in their OWN projection.

    Downstream shingle/signature expressions reference the token array many
    times; keeping tokenization in a separate Project node means Catalyst's
    CollapseProject refuses to inline it (expensive expression, multiple
    references) and it executes once per row. ``fan_out`` spreads the
    CPU-heavy stages across all cores — the tokenize projection sits
    ABOVE the exchange: below it, the regex tokenization ran at the
    raw scan's parallelism (one task on a one-row-group fixture file),
    and the exchange carried token arrays where raw text is smaller."""
    return fan_out(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    ).select(
        "_id",
        F.transform(simple_tokens(F.col("_text")), F.lower).alias("_toks"),
    )


def _shingle_posting_list(
    df: DataFrame, text_col: str, id_col: str, k: int, max_df: int | None
) -> DataFrame:
    """(id, shingle) postings, optionally dropping high-document-frequency
    shingles (skew guard: a stopword-ish shingle would otherwise join
    O(df²) pairs)."""
    posts = _tokens_projection(df, text_col, id_col).select(
        "_id",
        F.explode(word_shingles_from_tokens(F.col("_toks"), k)).alias("_sh"),
    )
    if max_df is not None:
        hot = posts.groupBy("_sh").agg(F.count(F.lit(1)).alias("_df")).filter(
            F.col("_df") > max_df
        )
        posts = posts.join(F.broadcast(hot), "_sh", "left_anti")
    return posts


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs via the grouped inverted index.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    Cost: Σ_shingle df² instead of |docs|² — sub-quadratic on real corpora;
    cap pathological shingles with ``max_df`` at scale.
    """
    # Postings carry the PORTABLE 60-bit hash of the shingle, not the
    # string: every downstream shuffle/group key is then 8 bytes
    # instead of a ~25-char phrase — measured 13.8 s → ~8 s at the sf1
    # scaling fixture. The oracle hashes identically (hash60_sql), so a
    # hash collision — ~2⁻⁶⁰ per distinct-shingle pair — would merge the
    # same postings in BOTH engines and the value-hash gate stays exact.
    # Materialize postings once (localCheckpoint, bounded: two longs per
    # posting): three consumers (grouped index, sizes, pair explode) would
    # otherwise each replay the tokenize→shingle lineage, the dominant
    # scan cost.
    posts = _tokens_projection(df, text_col, id_col).select(
        "_id",
        F.explode(word_shingles_from_tokens(F.col("_toks"), k)).alias("_shs"),
    ).select("_id", hash60(F.col("_shs")).alias("_sh")).localCheckpoint()
    # ONE aggregation builds the inverted index AND applies the df cap
    # (size filter on the grouped posting list — no separate hot-shingle
    # aggregation + anti-join pass). Sorting the ids makes pair order
    # (id_a < id_b) a property of the array, not a join condition.
    groups = posts.groupBy("_sh").agg(
        F.sort_array(F.collect_list("_id")).alias("_ids")
    )
    if max_df is not None:
        groups = groups.filter(F.size("_ids") <= max_df)
    # per-doc posting counts AFTER the cap (the jaccard denominator
    # counts only sub-cap shingles — both engines agree)
    sizes = (
        groups.select(F.explode("_ids").alias("_id"))
        .groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    )
    # pair generation as an array HOF over each posting list — C(df, 2)
    # structs in place of the former self-join's shuffle+merge machinery
    ids = F.col("_ids")
    n = F.size(ids)
    pair_structs = F.flatten(F.transform(
        ids,
        lambda x, i: F.transform(
            F.slice(ids, i + 2, F.greatest(n - i - 1, F.lit(0))),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
        ),
    ))
    inter = (
        groups.select(F.explode(pair_structs).alias("_p"))
        .groupBy(F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    sz_a = sizes.select(F.col("_id").alias("id_a"), F.col("_sz").alias("_sz_a"))
    sz_b = sizes.select(F.col("_id").alias("id_b"), F.col("_sz").alias("_sz_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.col("_inter") / (F.col("_sz_a") + F.col("_sz_b") - F.col("_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# Mersenne-31 keeps a·x + b under 2^62 (no ANSI long overflow in the JVM):
# a, x < 2^31 → product < 2^62; 31-bit hash space is ample for minhash.
_MERSENNE = (1 << 31) - 1


def _hash_params(num: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for universal hashing h(x) = (a·x+b) mod p.
    Derived from a fixed LCG so every run/partition agrees."""
    params = []
    state = seed
    for _ in range(num):
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        a = (state % (_MERSENNE - 1)) + 1
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        b = state % _MERSENNE
        params.append((a, b))
    return params


def _make_minhash_udf(num_hashes: int, seed: int):
    params = _hash_params(num_hashes, seed)

    a_vec = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    b_vec = np.array([b for _, b in params], dtype=np.int64)[:, None]

    @F.pandas_udf(ArrayType(LongType()))
    def _minhash(hash_lists: pd.Series) -> pd.Series:
        def reduce_one(hs):
            if hs is None or len(hs) == 0:
                return [int(_MERSENNE)] * num_hashes
            x = (np.asarray(hs, dtype=np.int64) % _MERSENNE)[None, :]
            rehashed = (a_vec * x + b_vec) % _MERSENNE  # (num_hashes, n)
            return [int(v) for v in rehashed.min(axis=1)]

        return hash_lists.map(reduce_one)

    return _minhash


def minhash_signature(
    shingles: Column,
    num_hashes: int = 64,
    seed: int = 42,
    base_hash=None,
) -> Column:
    """array<long> of ``num_hashes`` min-hash values over the shingle set.

    Base hash = xxhash64 (JVM-side, codegen); the (a·x+b) mod p rehash +
    min-reduction runs as ONE vectorized Arrow batch op. A pure-SQL variant
    (64 array transforms per row) exploded Catalyst's expression tree —
    every downstream reference re-inlined all 64 transforms, turning the
    banding join quadratic in expression size.

    ``base_hash`` swaps the per-shingle hash (e.g. ``hashing.hash60`` for
    the cross-engine portable variant whose DuckDB oracle reproduces the
    signatures bit-for-bit); the default stays xxhash64."""
    h = base_hash or F.xxhash64
    base = F.transform(shingles, lambda s: h(s))
    return _make_minhash_udf(num_hashes, seed)(base)


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    base_hash=None,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing at least one LSH band bucket.

    bands=16 over 64 hashes → rows-per-band r=4; collision probability
    1-(1-j⁴)¹⁶ — the usual S-curve centered near j≈0.5. Returns distinct
    (id_a, id_b) with id_a < id_b plus the estimated jaccard from signature
    agreement (verify with jaccard_pairs for the exact value).
    """
    rows_per_band = num_hashes // bands
    sig = _tokens_projection(df, text_col, id_col).select(
        "_id",
        minhash_signature(
            word_shingles_from_tokens(F.col("_toks"), k), num_hashes, seed,
            base_hash=base_hash,
        ).alias("_sig"),
    )
    # The signature table is referenced four times below (two band-join
    # sides + two re-attachments); materialize it ONCE (localCheckpoint,
    # bounded: id + num_hashes longs per doc). Recompute beats .persist()
    # at sf0.1 but loses at the sf1 decade, where four tokenize→shingle→minhash replays dominate
    # (10.4 s → 6.5 s); checkpoint blocks free with the RDD, the same
    # lifecycle note as semdedup's cells. At production scale signatures
    # are materialized alongside the corpus at ingest, making this moot.
    sig = sig.localCheckpoint()

    # band bucket: xxhash64 directly over the band's signature slots (plus a
    # band tag so buckets never collide across bands) — no string building.
    # Only (id, band, bucket) enters the pair join: the 64-long signature
    # payloads stay OUT of the shuffle and the pair dedup compares slim
    # (id_a, id_b) rows, not wide array rows.
    # One parsed expression: assembled from Column calls, the band structs
    # cost ~1.5k Py4J round trips per call (see functions/vectors.py).
    band_keys = ", ".join(
        f"struct({i} AS band, xxhash64({i}, "
        + ", ".join(
            f"element_at(_sig, {i * rows_per_band + j + 1})"
            for j in range(rows_per_band)
        )
        + ") AS bucket)"
        for i in range(bands)
    )
    banded = sig.select(
        "_id", F.expr(f"explode(array({band_keys})) AS bb")
    ).select("_id", "bb.band", "bb.bucket")

    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # Re-attach the two signatures once per SURVIVING pair (candidate count,
    # not candidate×band count) to estimate jaccard from slot agreement.
    sig_a = sig.select(F.col("_id").alias("id_a"), F.col("_sig").alias("_sig_a"))
    sig_b = sig.select(F.col("_id").alias("id_b"), F.col("_sig").alias("_sig_b"))
    est = F.size(
        F.filter(
            F.zip_with("_sig_a", "_sig_b", lambda x, y: x == y),
            lambda eq: eq,
        )
    ) / F.lit(num_hashes)
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select("id_a", "id_b", F.round(est, 6).alias("est_jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

@F.pandas_udf(LongType())
def _simhash_from_hashes(hash_lists: "pd.Series") -> "pd.Series":
    """Reduce a list of 64-bit token hashes to one SimHash signature.

    Token hashing stays JVM-side (xxhash64 inside a codegen'd transform);
    only the 64-way bit-vote reduction runs here, fully vectorized in NumPy
    over the Arrow batch (a 64-term SQL aggregate per row was ~100× slower
    in whole-stage codegen — expression-tree blowup)."""
    def reduce_one(hs):
        if hs is None or len(hs) == 0:
            return 0
        h = np.asarray(hs, dtype=np.int64).view(np.uint64)
        bits = (h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
        votes = (bits.astype(np.int64) * 2 - 1).sum(axis=0)
        sig = np.uint64(0)
        for j in np.nonzero(votes > 0)[0]:
            sig |= np.uint64(1) << np.uint64(j)
        return int(sig.view(np.int64))

    return hash_lists.map(reduce_one)


def simhash64(c: Column, base_hash=None) -> Column:
    """64-bit SimHash over lowercased tokens: bit j of the signature is the
    sign of Σ_token (±1 per token's hash bit j). Duplicate tokens vote
    multiple times (multiset weighting).

    With ``base_hash=hashing.hash60`` the token hashes carry only 60
    entropy bits, so signature bits 60-63 are always 0 (every token votes
    −1 there) — a 60-bit SimHash that DuckDB reproduces exactly."""
    h = base_hash or F.xxhash64
    toks = F.transform(simple_tokens(c), F.lower)
    hashes = F.transform(toks, lambda t: h(t))
    return _simhash_from_hashes(hashes)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 3,
    base_hash=None,
) -> DataFrame:
    """Near-dup pairs by SimHash banding: distance ≤ 3 over 4 chunks of 16
    bits ⇒ pigeonhole guarantees one identical chunk; join per chunk, then
    verify the exact Hamming distance."""
    sig = fan_out(df).select(
        F.col(id_col).alias("_id"),
        simhash64(F.col(text_col), base_hash=base_hash).alias("_sig"),
    )
    return hamming_band_pairs(sig, max_distance=max_distance)


def hamming_band_pairs(
    sig: DataFrame, max_distance: int = 3
) -> DataFrame:
    """Near-dup pairs over ANY precomputed 64-bit sketch relation
    (columns ``_id``, ``_sig``) by pigeonhole banding: distance <= 3 over
    4 chunks of 16 bits guarantees one identical chunk; join per chunk,
    verify exact Hamming. Shared by SimHash text dedup and the perceptual
    image-hash dedup (functions/multimodal.image_dhash).

    The sketch relation materializes ONCE (localCheckpoint, bounded:
    two longs per doc): both band-join sides would otherwise replay the
    caller's signature lineage — for SimHash that is the whole
    tokenize + 60-bit-vote expression, the dominant scan cost (measured
    11.1 s → ~5 s at the sf1 scaling fixture). Idempotent for callers
    that already checkpointed."""
    sig = sig.localCheckpoint()
    chunks = sig.select(
        "_id",
        "_sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("chunk"),
                    F.shiftright("_sig", i * 16).bitwiseAND(F.lit(0xFFFF)).alias("val"),
                )
                for i in range(4)
            ])
        ).alias("cc"),
    ).select("_id", "_sig", "cc.chunk", "cc.val")
    a = chunks.alias("a")
    b = chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            hamming64(F.col("a._sig"), F.col("b._sig")).alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

def embedding_near_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    bucket_by: Column | None = None,
) -> DataFrame:
    """Pairs with cosine ≥ threshold. Exact within buckets: pass
    ``bucket_by`` (e.g. an LSH signature or a label) to bound the join
    fan-out at scale; None compares all pairs (test scale only).

    Each side is L2-normalized BEFORE the join (O(n·d) once), so the O(n²)
    pair stage is a single dot product instead of dot + two norms — 3× less
    work exactly where the cost is quadratic."""
    # The norm must be its OWN column in its OWN projection: placing
    # norm(vec) inside the transform lambda would inline the O(d) fold per
    # ELEMENT (the no-CSE HOF trap, see word_shingles_from_tokens), making
    # normalization O(d²) per row. As a separate Project node `_norm` is an
    # attribute the lambda reads for free. Computed ABOVE the fan_out
    # exchange so the O(n·d) norm pass runs at full parallelism, not
    # at the single-split scan's.
    pre_cols = [F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")]
    if bucket_by is not None:
        pre_cols.append(bucket_by.alias("_bk"))
    pre = fan_out(df.select(*pre_cols)).select(
        "*", norm("_v").alias("_norm")
    )
    cols = [
        "_id",
        F.transform(
            F.col("_v"), lambda x: x.cast("double") / F.col("_norm")
        ).alias("_vn"),
    ]
    if bucket_by is not None:
        cols.append(F.col("_bk"))
    base = pre.select(*cols)
    a = base.alias("a")
    b = base.alias("b")
    cond = F.col("a._id") < F.col("b._id")
    if bucket_by is not None:
        cond = cond & (F.col("a._bk") == F.col("b._bk"))
    return (
        a.join(b, cond)
        .withColumn("cos", dot("a._vn", "b._vn"))
        .filter(F.col("cos") >= threshold)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.round("cos", 6).alias("cos"),
        )
    )


def embedding_near_pairs_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_bits: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Scale path for embedding near-dup: random-hyperplane LSH bucketing.

    Each vector gets an ``n_bits`` signed-projection signature (fixed-seed
    hyperplanes, operators/similarity.py) and is exploded into its own
    bucket plus every 1-bit-flip neighbor bucket; candidates are pairs
    sharing any probe bucket — exactly the pairs whose signatures are
    within Hamming distance 2 (sig_a ^ flip_i == sig_b ^ flip_j ⇒
    sig_a ^ sig_b ∈ {0, e_i, e_i|e_j}). Candidates are verified with the
    exact cosine. Fully deterministic, so a SQL oracle can mirror it with
    literal hyperplanes + ``bit_count(xor(sig_a, sig_b)) <= 2``.

    Cost: |pairs| scales with bucket occupancy (2^n_bits buckets ×
    (n_bits+1) probes), not |docs|²; the probe join carries only
    (id, bucket) and vectors are re-attached once per surviving pair.
    Recall vs the exact variant is the S-curve P[hamming ≤ 2] — ≈0.96 for
    true near-dups (cos ≥ 0.95) at n_bits=8; raise n_bits for precision,
    lower for recall.
    """
    # dim from the data: element count is fixed per dataset
    first = df.select(vec_col).head()
    if first is None:  # empty corpus → no pairs
        return df.sparkSession.createDataFrame(
            [], f"id_a {dict(df.dtypes)[id_col]}, id_b {dict(df.dtypes)[id_col]}, cos double"
        )
    dim = len(first[0])
    planes = lsh_tables(dim, n_bits, 1, seed)[0]
    df = fan_out(df)
    sig_df = df.select(
        F.col(id_col).alias("_id"),
        rh_signature_col(col_sql(vec_col), planes).alias("_sig"),
    )
    probes = sig_df.select(
        "_id",
        F.explode(
            F.array(
                F.col("_sig"),
                *[F.col("_sig").bitwiseXOR(F.lit(1 << i)) for i in range(n_bits)],
            )
        ).alias("_bk"),
    )
    a = probes.alias("a")
    b = probes.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._bk") == F.col("b._bk")) & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    # AQE would coalesce the small candidate shuffle to one partition and
    # serialize the (CPU-heavy) cosine verification — keep it fanned out.
    return (
        fan_out(cand).join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", cosine("_va", "_vb"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


# ---------------------------------------------------------------------------
# Incremental dedup against a STORED corpus — the continuous-ingest shape:
# a new batch must not re-add documents the corpus already holds. At 100 TB
# the corpus is never re-scanned per batch; each increment anti-joins a
# slim relation of the corpus's ``fingerprint_md5`` values.
# ---------------------------------------------------------------------------

def dedup_increment_exact(
    new_df: DataFrame,
    fingerprints: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Survivors of a new batch against the stored fingerprint relation:
    first exact-dedup WITHIN the increment (min-id keeper — a batch can
    carry internal dups), then drop everything whose fingerprint the
    corpus already holds (left_anti on the slim fp store — one shuffle on
    the 128-bit key, the corpus data itself is never touched)."""
    # compute the fingerprint ONCE and reuse it for both steps (the
    # within-batch keeper selection and the corpus anti-join) — not
    # dedup_exact + a second fingerprint projection
    fped = new_df.withColumn("fp", fingerprint_md5(F.col(text_col)))
    keepers = fped.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return (
        fped.join(keepers, [id_col, "fp"], "left_semi")
        .join(fingerprints.select("fp"), "fp", "left_anti")
        .drop("fp")
    )
