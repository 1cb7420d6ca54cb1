"""Dedup + similarity-search queries over documents/embeddings (the
north-star training-data-pipeline block). Exact variants carry full SQL
oracles; the portable-hash LSH twins carry full oracles too (cross-engine
md5-prefix base hash); the xxhash64/k-means production fast paths register
as BENCH VARIANTS (timed by bench.py, outside the driver contract) and are
equivalence/recall-tested against their oracled siblings in
tests/test_dedup_similarity.py. The k-means IVF approximation contract
additionally holds a driver row via ann_ivf_recall_profile."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tweets_elastic_spark.functions import textstats as T
from tweets_elastic_spark.functions.hashing import HASH60_BITS, hash60, hash60_sql
from tweets_elastic_spark.functions.textstats import fingerprint_md5
from tweets_elastic_spark.functions.vectors import cosine, vec_sql
from tweets_elastic_spark.operators import dedup as D
from tweets_elastic_spark.operators import similarity as S
from tweets_elastic_spark.operators.dedup import dedup_increment_exact
from tweets_elastic_spark.registry import bench_variant, register
from tweets_elastic_spark.sources.catalog import load_table

# The documents corpus has no exact duplicates, so exact-dedup queries run
# on corpus ∪ re-keyed corpus (ids + 10000) — every doc duplicated once.
_DOUBLED = """
    WITH u AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000 AS doc_id, text FROM documents
    )
"""

_FP = "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))"


def _doubled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.unionAll(
        docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    )


@register(
    "dedup_exact_groups",
    oracle=_DOUBLED + f"""
    SELECT {_FP} AS fp, count(*) AS n_dups, min(doc_id) AS keeper_id
    FROM u GROUP BY 1 HAVING count(*) > 1
    """,
    doc="Exact duplicate groups by normalized-text fingerprint (hash groupBy).",
)
def q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dup_groups(_doubled_docs(spark, sf_dir))


@register(
    "dedup_exact_survivors",
    oracle=_DOUBLED + """
    SELECT min(doc_id) AS doc_id FROM u
    GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
    """,
    doc="Exact dedup keeping the min-id row per fingerprint.",
)
def q_dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_exact(_doubled_docs(spark, sf_dir)).select("doc_id")


# Document-frequency cap for the jaccard inverted-index join: shingles in
# more than max(5, 1% of corpus) docs are dropped from BOTH sides before
# pairing — the skew guard that bounds the hot-shingle fan-out (Σ df² would
# otherwise be unbounded on a skewed corpus). Mirrored exactly in the oracle
# (the greatest(5, count//100) expression inside _j_ctes).

# Shared CTE body (toks → shingles → df-capped postings → sizes →
# intersections), parametrized by the source relation so the corpus_clean
# pipeline can run it over a pre-filtered corpus: jaccard_near_dups appends
# the pair select; the clustering/survivor oracles extend it with a
# recursive reachability CTE.
def _j_ctes(src: str = "documents") -> str:
    # postings key on hash60(shingle), mirroring the engine: the
    # Spark side shuffles 8-byte hashed keys instead of phrase strings,
    # and because both engines hash identically, even a collision (2⁻⁶⁰
    # per shingle pair) would merge the same postings on both sides.
    return f"""toks AS (
        SELECT doc_id,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x <> ''),
                 x -> lower(x)) AS t
        FROM {src}
    ),
    sh AS (
        SELECT doc_id, ('0x' || substr(md5(shs), 1, 15))::BIGINT AS sh
        FROM (
            SELECT doc_id, unnest(list_distinct(
                CASE WHEN len(t) >= 3
                     THEN list_transform(range(1, len(t) - 1),
                                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                     WHEN len(t) > 0 THEN [array_to_string(t, ' ')]
                     ELSE [] END)) AS shs
            FROM toks
        )
    ),
    shf AS (
        SELECT s.doc_id, s.sh
        FROM sh s
        JOIN (SELECT sh, count(*) AS df FROM sh GROUP BY sh) d ON s.sh = d.sh
        WHERE d.df <= greatest(5, (SELECT count(*) FROM {src}) // 100)
    ),
    sz AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )"""


_J_CTES = _j_ctes()

_J_PAIRS_SELECT = """
    SELECT id_a, id_b,
           round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
    FROM inter
    JOIN sz sa ON id_a = sa.doc_id
    JOIN sz sb ON id_b = sb.doc_id
    WHERE inter / (sa.sz + sb.sz - inter) >= 0.5
"""


@register(
    "jaccard_near_dups",
    oracle="WITH " + _J_CTES + _J_PAIRS_SELECT,
    doc="Exact 3-word-shingle Jaccard near-dup pairs via inverted-index join "
        "with the document-frequency skew guard engaged (max_df = max(5, 1%) "
        "of corpus) — the 100 TB-safe configuration; oracle mirrors the cap.",
)
def q_jaccard_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    return D.jaccard_pairs(docs, k=3, threshold=0.5, max_df=max(5, n_docs // 100))


# Transitive reachability over the pair graph, recursively in SQL — the
# oracle twin of connected_components' min-label propagation.
def _j_reach(src: str = "documents") -> str:
    return (
        _j_ctes(src) + ",\n"
        "    pairs AS (" + _J_PAIRS_SELECT + "),\n"
        """    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION ALL
        SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
        UNION
        SELECT e.a, r.b FROM edges e JOIN reach r ON e.b = r.a
    )"""
    )


_J_REACH_CTES = "WITH RECURSIVE " + _j_reach()


@register(
    "dedup_near_clusters",
    oracle=_J_REACH_CTES + """
    SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
    """,
    doc="Near-dup pairs promoted to CLUSTERS: connected components over the "
        "jaccard>=0.5 pair graph via min-label propagation (one shuffle per "
        "round, O(cluster diameter) rounds, lineage-checkpointed) — "
        "cluster_id is the min reachable doc_id; the oracle recomputes the "
        "same components with a recursive reachability CTE.",
)
def q_dedup_near_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    pairs = D.jaccard_pairs(docs, k=3, threshold=0.5, max_df=max(5, n_docs // 100))
    return D.connected_components(pairs).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )


@register(
    "dedup_near_survivors",
    oracle=_J_REACH_CTES + """
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT a FROM reach GROUP BY a HAVING min(b) < a)
    """,
    doc="The dedup step a training pipeline ships: drop every near-dup "
        "cluster member except the min-id representative (transitive — "
        "A~B, B~C drops B and C even though A~C was never scored); "
        "untouched docs pass through. One anti-join against the dropped set.",
)
def q_dedup_near_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    pairs = D.jaccard_pairs(docs, k=3, threshold=0.5, max_df=max(5, n_docs // 100))
    return D.dedup_near_survivors(docs, pairs).select("doc_id")


@bench_variant(
    "minhash_lsh_near_dups",
    doc="PRODUCTION fast path (bench-only): the identical "
        "MinHash(64)+LSH(16 bands) algorithm as the full-oracle "
        "minhash_lsh_near_dups_portable entry, base hash swapped to "
        "xxhash64 (JVM codegen, ~3x md5 throughput) — which exists only "
        "in Spark, so a value oracle is impossible BY CONSTRUCTION, not "
        "by omission. Equivalence with the portable twin is pinned in "
        "tests/test_dedup_similarity.py; bench times THIS entry.",
)
def q_minhash_lsh_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_candidates(docs).filter(F.col("est_jaccard") >= 0.4)


@bench_variant(
    "simhash_near_dups",
    doc="PRODUCTION fast path (bench-only; see "
        "minhash_lsh_near_dups): SimHash-64 Hamming<=3 banding on "
        "xxhash64; the full-oracle twin is simhash_near_dups_portable.",
)
def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_near_pairs(docs, max_distance=3)


# ---------------------------------------------------------------------------
# Portable-hash twins: the SAME MinHash-LSH / SimHash banding algorithms,
# base hash swapped from xxhash64 to the cross-engine 60-bit md5-prefix
# hash (functions/hashing.py) — every signature bit is then reproducible in
# DuckDB, so these carry REAL value-hash oracles (the literal-hyperplane
# technique of embedding_near_dups applied to the last two rows-only dedup
# families). Production keeps the xxhash64 entries (JVM codegen, ~3× the
# hash throughput of md5); these twins are the correctness proof that the
# banding/bucketing/verify machinery is engine-exact.
# ---------------------------------------------------------------------------

_TOK_SH_CTES = """toks AS (
        SELECT doc_id,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id, list_distinct(
            CASE WHEN len(t) >= 3
                 THEN list_transform(range(1, len(t) - 1),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                 WHEN len(t) > 0 THEN [array_to_string(t, ' ')]
                 ELSE [] END) AS shs
        FROM toks
    )"""


def _minhash_portable_oracle(
    num_hashes: int = 64, bands: int = 16, seed: int = 42, threshold: float = 0.4
) -> str:
    params = D._hash_params(num_hashes, seed)
    p = D._MERSENNE
    r = num_hashes // bands
    slots = ",\n            ".join(
        f"CASE WHEN len(hs) = 0 THEN {p} "
        f"ELSE list_min(list_transform(hs, h -> ({a} * h + {b}) % {p})) END"
        for a, b in params
    )
    band_keys = ",\n            ".join(
        f"'{i}:' || " + " || ',' || ".join(
            f"sig[{i * r + j + 1}]::VARCHAR" for j in range(r)
        )
        for i in range(bands)
    )
    return f"""
    WITH {_TOK_SH_CTES},
    hx AS (
        SELECT doc_id,
               list_transform(shs, s -> {hash60_sql('s')} % {p}) AS hs
        FROM sh
    ),
    sig AS (
        SELECT doc_id, [
            {slots}
        ] AS sig
        FROM hx
    ),
    banded AS (
        SELECT doc_id, unnest([
            {band_keys}
        ]) AS bk
        FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b ON a.bk = b.bk AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           round(len(list_filter(range(1, {num_hashes + 1}),
                                 i -> sa.sig[i] = sb.sig[i])) / {num_hashes}.0,
                 6) AS est_jaccard
    FROM cand
    JOIN sig sa ON cand.id_a = sa.doc_id
    JOIN sig sb ON cand.id_b = sb.doc_id
    WHERE len(list_filter(range(1, {num_hashes + 1}),
                          i -> sa.sig[i] = sb.sig[i])) / {num_hashes}.0 >= {threshold}
    """


@register(
    "minhash_lsh_near_dups_portable",
    oracle=_minhash_portable_oracle(),
    doc="MinHash(64)+LSH(16 bands) on the portable 60-bit md5-prefix hash — "
        "bit-identical in Spark and DuckDB, so the banding candidate join, "
        "the (a·x+b) mod p signature math, and the slot-agreement jaccard "
        "estimate are all value-hash verified (the xxhash64 entry is the "
        "production fast path; this twin is its engine-exact proof).",
)
def q_minhash_lsh_near_dups_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_candidates(docs, base_hash=hash60).filter(
        F.col("est_jaccard") >= 0.4
    )


def _simhash_portable_oracle(max_distance: int = 3) -> str:
    # bit j of the signature = sign of the multiset vote Σ ±1 over token
    # hashes; bits 60-63 are structurally 0 (60-bit hash), matching the
    # Spark UDF fed with hash60 values.
    bit_terms = "\n          + ".join(
        f"CASE WHEN list_sum(list_transform(hs, h -> ((h >> {j}) & 1) * 2 - 1)) > 0 "
        f"THEN {1 << j} ELSE 0 END"
        for j in range(HASH60_BITS)
    )
    chunk_structs = ", ".join(
        f"{{'c': {i}, 'v': (sig >> {i * 16}) & 65535}}" for i in range(4)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id,
               list_transform(
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x <> ''),
                 x -> lower(x)) AS t
        FROM documents
    ),
    hx AS (
        SELECT doc_id, list_transform(t, s -> {hash60_sql('s')}) AS hs
        FROM toks
    ),
    sig AS (
        SELECT doc_id,
            ({bit_terms}) AS sig
        FROM hx
    ),
    cx AS (
        SELECT doc_id, sig, unnest([{chunk_structs}]) AS cc
        FROM sig
    ),
    chunks AS (SELECT doc_id, sig, cc.c AS c, cc.v AS v FROM cx)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sig, b.sig)) AS distance
    FROM chunks a JOIN chunks b
      ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= {max_distance}
    """


@register(
    "simhash_near_dups_portable",
    oracle=_simhash_portable_oracle(),
    doc="SimHash near-dup pairs (Hamming ≤ 3, 16-bit-chunk pigeonhole "
        "banding) on the portable 60-bit hash — the full signature "
        "bit-vote, chunk join, and exact Hamming verify value-hash checked "
        "against DuckDB (the xxhash64 entry is the production fast path).",
)
def q_simhash_near_dups_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_near_pairs(docs, max_distance=3, base_hash=hash60)


def _rh_sig_sql(vec_expr: str, n_bits: int = 12, dim: int = 64, seed: int = 7) -> str:
    """Random-hyperplane signature as a SQL expression with LITERAL planes —
    the exact doubles Spark's rh_signature_col uses (fixed NumPy seed), so
    DuckDB and Spark compute bit-identical signatures."""
    planes = S.lsh_tables(dim, n_bits, 1, seed)[0]
    terms = []
    for i, h in enumerate(planes):
        arr = "[" + ", ".join(repr(float(x)) for x in h) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec_expr}, {arr}) > 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


@register(
    "embedding_near_dups",
    oracle=f"""
    -- ::DOUBLE[] casts force f64 math; bare FLOAT[] would make DuckDB
    -- compute the cosine in f32, which drifts from Spark at the 6th decimal.
    -- The LSH bucketing is mirrored exactly: candidate pairs are signatures
    -- within Hamming distance 2 (== the Spark side's self+1-bit-flip probe
    -- union), then verified with the exact cosine.
    WITH s AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               {_rh_sig_sql('embedding::DOUBLE[]')} AS sig
        FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cos
    FROM s a JOIN s b
      ON a.vec_id < b.vec_id
     AND bit_count(xor(a.sig::BIGINT, b.sig::BIGINT)) <= 2
    WHERE list_cosine_similarity(a.v, b.v) >= 0.45
    """,
    doc="Embedding near-dup pairs via random-hyperplane LSH bucketing + "
        "1-bit-flip probes + exact-cosine verify — the 100 TB path (no "
        "all-pairs join); the oracle mirrors the bucketing with literal "
        "hyperplanes. embedding_near_dups_exact is the exhaustive baseline.",
)
def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return D.embedding_near_pairs_lsh(emb, threshold=0.45, n_bits=12, seed=7)


@register(
    "embedding_near_dups_exact",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
    """,
    doc="Exhaustive-pairs cosine near-dup — the exactness/recall baseline "
        "for embedding_near_dups. O(n²) by definition: correctness gate and "
        "small-scale use only; the registered scale path is the LSH variant.",
)
def q_embedding_near_dups_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return D.embedding_near_pairs(emb, threshold=0.45)


@register(
    "ann_cosine_topk",
    oracle="""
    SELECT vec_id,
           round(list_cosine_similarity(
               embedding::DOUBLE[],
               (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]), 6) AS score
    FROM embeddings
    ORDER BY list_cosine_similarity(
        embedding::DOUBLE[],
        (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]) DESC,
        vec_id ASC
    LIMIT 10
    """,
    doc="Brute-force cosine top-k to a query vector (ANN exactness baseline).",
)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    return S.cosine_topk(emb, qvec, k=10)


@register(
    "ann_multi_query_topk",
    oracle="""
    WITH q AS (
        SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
        SELECT q.q_id, e.vec_id,
               list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS cos,
               row_number() OVER (
                   PARTITION BY q.q_id
                   ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC,
                            e.vec_id ASC
               ) AS rn
        FROM embeddings e CROSS JOIN q
    )
    SELECT q_id, vec_id, round(cos, 6) AS score
    FROM scored WHERE rn <= 3
    """,
    doc="Batched similarity search: 5 query vectors × corpus in one job — "
        "broadcast queries, score, per-query ranking window. No per-query "
        "driver round-trip (the single-query .head() pattern batched away).",
)
def q_ann_multi_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return S.cosine_topk_multi(emb, queries, k=3)


@bench_variant(
    "ann_ivf_topk",
    doc="PRODUCTION k-means IVF top-k (bench-only): the "
        "iterative quantizer training is not SQL-expressible, so the "
        "hard signal moved to ann_ivf_recall_profile (contract oracle "
        "over THIS exact plan); the portable seed-quantizer family "
        "(ann_ivf_portable_topk etc.) carries the full value oracles.",
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    return S.ann_ivf_topk(emb, qvec, k=10, n_cells=16, nprobe=6)


@register(
    "ann_ivf_recall_profile",
    oracle="""
    SELECT CAST(10 AS BIGINT) AS n_results,
           TRUE AS recall_floor_ok,
           TRUE AS rerank_exact_ok
    """,
    doc="CONTRACT oracle for the k-means IVF family (closing the "
        "rows-only class the approx_distinct_profile way): the quantizer "
        "is iterative (not SQL-expressible), so the driver verifies the "
        "approximation CONTRACT instead of values — (1) the IVF top-10 "
        "returns exactly 10 rows, (2) recall vs the exact top-10 is >= "
        "0.5 (measured 0.7/0.7/0.9 at sf0.001/0.01/0.1 — the uniform "
        "fixture is IVF's worst case; the bound is a floor with margin, "
        "deterministic data), (3) every IVF score EQUALS the exact "
        "cosine for its id (the rerank is exact by design — a probe-side "
        "bug that returned stale or approximated scores fails this). "
        "The exact side is the same machinery ann_cosine_topk value-"
        "oracles; recall/rerank comparisons run in-plan (two leg-sized "
        "joins), nothing driver-side. IVF ITSELF (production shape) "
        "stays timed by bench as the ann_ivf_topk bench variant.",
)
def q_ann_ivf_recall_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    ivf = S.ann_ivf_topk(emb, qvec, k=10, n_cells=16, nprobe=6).select(
        "vec_id", F.col("score").alias("ivf_score")
    )
    exact = S.cosine_topk(emb, qvec, k=10).select(
        "vec_id", F.col("score").alias("exact_score")
    )
    # full exact-cosine relation for the rerank-exactness check (the
    # top-10 join alone would miss IVF hits outside the exact top-10)
    allcos = emb.select(
        "vec_id",
        F.round(cosine("embedding", vec_sql(qvec)), 6)
        .alias("true_score"),
    )
    joined = (
        ivf.join(exact, "vec_id", "left")
        .join(allcos, "vec_id", "left")
    )
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_results"),
        (F.count("exact_score") >= F.lit(5)).alias("recall_floor_ok"),
        (F.max(F.abs(F.col("ivf_score") - F.col("true_score")))
         < F.lit(1e-9)).alias("rerank_exact_ok"),
    )


# ---------------------------------------------------------------------------
# Portable IVF family: seed-sampled quantizer (centroids = first n_seeds
# vectors in md5(id) order) instead of driver-side k-means — every step is
# SQL-expressible, so unlike the ann_ivf_* entries these carry REAL oracles.
# Shared CTE body: seeds (deterministic sample), q (query vector), assign
# (argmin-distance cell per vector, tiebreak by seed rank).
# ---------------------------------------------------------------------------

_IVFP_SEEDS = 16
# Per-cell pairing cap for semdedup (cap² bounds a degenerate cell's work).
# 4096 is a no-op at fixture scale (~100 vectors/cell) but pins the guard in
# both engines so fixture growth can't silently diverge them.
_SEMDEDUP_CELL_CAP = 4096

_IVFP_CTES = f"""seeds AS (
        SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS sid,
               sv
        FROM (
            SELECT vec_id, embedding::DOUBLE[] AS sv FROM embeddings
            ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {_IVFP_SEEDS}
        )
    ),
    assign AS (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS v, s.sid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_dot_product(s.sv, s.sv)
                            - 2 * list_dot_product(e.embedding::DOUBLE[], s.sv),
                            s.sid
               ) AS rn
        FROM embeddings e CROSS JOIN seeds s
    ),
    cells AS (SELECT vec_id, v, sid AS cell FROM assign WHERE rn = 1)"""


@register(
    "ann_ivf_portable_topk",
    oracle="WITH " + _IVFP_CTES + """,
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    probes AS (
        SELECT s.sid FROM seeds s, q
        ORDER BY list_dot_product(s.sv, s.sv) - 2 * list_dot_product(q.qv, s.sv),
                 s.sid
        LIMIT 6
    )
    SELECT c.vec_id, round(list_cosine_similarity(c.v, q.qv), 6) AS score
    FROM cells c, q
    WHERE c.cell IN (SELECT sid FROM probes)
    ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.vec_id ASC
    LIMIT 10
    """,
    doc="IVF ANN with the PORTABLE seed quantizer: centroids are the first "
        "16 vectors in md5(id) order (deterministic sample both engines "
        "agree on), cell assignment is a pure JVM argmin-distance "
        "expression, probe the 6 cells nearest the query, exact-cosine "
        "rerank. Same plan shape as the k-means entry (ann_ivf_topk — the "
        "production quantizer, rows-only because its centroids are trainer "
        "state) but fully value-hash verified against DuckDB.",
)
def q_ann_ivf_portable_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    return S.ann_ivf_portable_topk(
        emb, qvec, k=10, n_seeds=_IVFP_SEEDS, nprobe=6
    )


@register(
    "ann_ivf_portable_multi",
    oracle="WITH " + _IVFP_CTES + """,
    q AS (
        SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 5
    ),
    probes AS (
        SELECT q_id, sid FROM (
            SELECT q.q_id, s.sid,
                   row_number() OVER (
                       PARTITION BY q.q_id
                       ORDER BY list_dot_product(s.sv, s.sv)
                                - 2 * list_dot_product(q.qv, s.sv),
                                s.sid
                   ) AS rn
            FROM q CROSS JOIN seeds s
        ) WHERE rn <= 6
    ),
    scored AS (
        SELECT q.q_id, c.vec_id,
               list_cosine_similarity(c.v, q.qv) AS cos,
               row_number() OVER (
                   PARTITION BY q.q_id
                   ORDER BY list_cosine_similarity(c.v, q.qv) DESC,
                            c.vec_id ASC
               ) AS rn
        FROM cells c
        JOIN probes p ON c.cell = p.sid
        JOIN q ON q.q_id = p.q_id
    )
    SELECT q_id, vec_id, round(cos, 6) AS score FROM scored WHERE rn <= 3
    """,
    doc="Batched IVF ANN on the portable seed quantizer: 5 query vectors "
        "served in ONE corpus scan — per-query probe sets computed in-plan "
        "on the broadcast query side, candidates filtered on the cell "
        "column, exact-cosine rerank per query. The batched-IVF plan shape "
        "(ann_ivf_topk_multi) with a full value-hash oracle.",
)
def q_ann_ivf_portable_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return S.ann_ivf_portable_multi(
        emb, queries, k=3, n_seeds=_IVFP_SEEDS, nprobe=6
    )


_PQ_M, _PQ_DSUB = 8, 8  # 8 subspaces × 8 dims over the 64-dim fixtures


_PQ_ORACLE = f"""
    WITH seeds AS (
        SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS sid,
               sv
        FROM (
            SELECT vec_id, embedding::DOUBLE[] AS sv FROM embeddings
            ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {_IVFP_SEEDS}
        )
    ),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    sub AS (FROM range({_PQ_M}) t(s)),
    pairs AS (
        SELECT e.vec_id, sub.s, sd.sid,
               list_dot_product(
                   list_slice(sd.sv, sub.s*{_PQ_DSUB}+1, sub.s*{_PQ_DSUB}+{_PQ_DSUB}),
                   list_slice(sd.sv, sub.s*{_PQ_DSUB}+1, sub.s*{_PQ_DSUB}+{_PQ_DSUB}))
             - 2 * list_dot_product(
                   list_slice(e.embedding::DOUBLE[], sub.s*{_PQ_DSUB}+1, sub.s*{_PQ_DSUB}+{_PQ_DSUB}),
                   list_slice(sd.sv, sub.s*{_PQ_DSUB}+1, sub.s*{_PQ_DSUB}+{_PQ_DSUB})) AS d
        FROM embeddings e CROSS JOIN sub CROSS JOIN seeds sd
    ),
    codes AS (
        SELECT vec_id, s, sid AS code FROM (
            SELECT vec_id, s, sid,
                   row_number() OVER (PARTITION BY vec_id, s ORDER BY d, sid) AS rn
            FROM pairs
        ) WHERE rn = 1
    ),
    qd AS (
        SELECT sub.s, sd.sid,
               list_dot_product(
                   list_slice(sd.sv, sub.s*{_PQ_DSUB}+1, sub.s*{_PQ_DSUB}+{_PQ_DSUB}),
                   list_slice(sd.sv, sub.s*{_PQ_DSUB}+1, sub.s*{_PQ_DSUB}+{_PQ_DSUB}))
             - 2 * list_dot_product(
                   list_slice(q.qv, sub.s*{_PQ_DSUB}+1, sub.s*{_PQ_DSUB}+{_PQ_DSUB}),
                   list_slice(sd.sv, sub.s*{_PQ_DSUB}+1, sub.s*{_PQ_DSUB}+{_PQ_DSUB})) AS qdist
        FROM sub CROSS JOIN seeds sd CROSS JOIN q
    ),
    adc AS (
        SELECT c.vec_id, sum(qd.qdist ORDER BY c.s) AS dist
        FROM codes c JOIN qd ON c.s = qd.s AND c.code = qd.sid
        GROUP BY c.vec_id
    ),
    cand AS (SELECT vec_id FROM adc ORDER BY dist ASC, vec_id ASC LIMIT 50)
    SELECT e.vec_id, round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS score
    FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN q
    ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC, e.vec_id ASC
    LIMIT 10
    """


@register(
    "ann_pq_portable_topk",
    oracle=_PQ_ORACLE,
    doc="Product-quantization ANN (the third classic index family next to "
        "LSH and IVF): vectors split into 8 subspaces, each slice encoded "
        "as its nearest codeword (codebooks = slices of the portable "
        "md5-ordered seed sample), candidates ranked by asymmetric "
        "distance (per-subspace lookup, left-fold sum), exact-cosine "
        "rerank of the top 50. At ingest the 64-dim vector becomes 8 "
        "small ints of index data; fully value-hash verified.",
)
def q_ann_pq_portable_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    return S.ann_pq_portable_topk(
        emb, qvec, k=10, rerank=50, n_seeds=_IVFP_SEEDS, m=_PQ_M
    )


@register(
    "ann_pq_arrow_topk",
    oracle=_PQ_ORACLE,
    doc="PQ ANN with the PRODUCTION encoder: all 8 subspace codes from one "
        "Arrow-batched GEMM UDF per batch (the expression encoder runs 128 "
        "interpreted array-aggregates per row), ADC + rerank unchanged — "
        "same codebooks, same results, same oracle as ann_pq_portable_topk "
        "(the minhash fast-path/portable-twin pattern applied to PQ).",
)
def q_ann_pq_arrow_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    return S.ann_pq_arrow_topk(
        emb, qvec, k=10, rerank=50, n_seeds=_IVFP_SEEDS, m=_PQ_M
    )


# IVF-PQ oracle: the portable-IVF cell/probe CTEs feeding the PQ
# code/ADC/rerank CTEs — encoding restricted to vectors in probed cells.
_IVFPQ_ORACLE = "WITH " + _IVFP_CTES + f""",
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    probes AS (
        SELECT s.sid FROM seeds s, q
        ORDER BY list_dot_product(s.sv, s.sv) - 2 * list_dot_product(q.qv, s.sv),
                 s.sid
        LIMIT 6
    ),
    surv AS (
        SELECT c.vec_id, c.v FROM cells c JOIN probes p ON c.cell = p.sid
    ),
    sub AS (FROM range({_PQ_M}) t(s)),
    pairs AS (
        SELECT e.vec_id, sub.s, sd.sid,
               list_dot_product(
                   list_slice(sd.sv, sub.s*{_PQ_DSUB}+1, sub.s*{_PQ_DSUB}+{_PQ_DSUB}),
                   list_slice(sd.sv, sub.s*{_PQ_DSUB}+1, sub.s*{_PQ_DSUB}+{_PQ_DSUB}))
             - 2 * list_dot_product(
                   list_slice(e.v, sub.s*{_PQ_DSUB}+1, sub.s*{_PQ_DSUB}+{_PQ_DSUB}),
                   list_slice(sd.sv, sub.s*{_PQ_DSUB}+1, sub.s*{_PQ_DSUB}+{_PQ_DSUB})) AS d
        FROM surv e CROSS JOIN sub CROSS JOIN seeds sd
    ),
    codes AS (
        SELECT vec_id, s, sid AS code FROM (
            SELECT vec_id, s, sid,
                   row_number() OVER (PARTITION BY vec_id, s ORDER BY d, sid) AS rn
            FROM pairs
        ) WHERE rn = 1
    ),
    qd AS (
        SELECT sub.s, sd.sid,
               list_dot_product(
                   list_slice(sd.sv, sub.s*{_PQ_DSUB}+1, sub.s*{_PQ_DSUB}+{_PQ_DSUB}),
                   list_slice(sd.sv, sub.s*{_PQ_DSUB}+1, sub.s*{_PQ_DSUB}+{_PQ_DSUB}))
             - 2 * list_dot_product(
                   list_slice(q.qv, sub.s*{_PQ_DSUB}+1, sub.s*{_PQ_DSUB}+{_PQ_DSUB}),
                   list_slice(sd.sv, sub.s*{_PQ_DSUB}+1, sub.s*{_PQ_DSUB}+{_PQ_DSUB})) AS qdist
        FROM sub CROSS JOIN seeds sd CROSS JOIN q
    ),
    adc AS (
        SELECT c.vec_id, sum(qd.qdist ORDER BY c.s) AS dist
        FROM codes c JOIN qd ON c.s = qd.s AND c.code = qd.sid
        GROUP BY c.vec_id
    ),
    cand AS (SELECT vec_id FROM adc ORDER BY dist ASC, vec_id ASC LIMIT 50)
    SELECT e.vec_id, round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS score
    FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN q
    ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC, e.vec_id ASC
    LIMIT 10
    """


@register(
    "ann_ivfpq_topk",
    oracle=_IVFPQ_ORACLE,
    doc="IVF-PQ (FAISS's production index; Jégou et al. 2011 §V): coarse "
        "cells prune to ~nprobe/n_seeds of the rows, PQ ADC ranks only the "
        "survivors from m-byte codes, exact rerank touches 50 vectors. The "
        "one ANN entry where BOTH the row count AND bytes-per-row shrink — "
        "the 100 TB shape. Cells and codebooks come from the same portable "
        "seed sample, so the composed pipeline keeps a full oracle.",
)
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    return S.ann_ivfpq_topk(
        emb, qvec, k=10, rerank=50, n_seeds=_IVFP_SEEDS, nprobe=6, m=_PQ_M
    )


# semdedup's quantizer derives its cell count from the corpus
# (max(16, n // target_cell), target_cell=128 — fixture-sized expected
# cell population, so Σn_c² stays linear as the corpus grows) instead of
# pinning n_seeds: the oracle mirrors the derivation with a scalar-
# subquery LIMIT. At every driver/test sf the derivation floors at 16,
# so results are identical to the formerly pinned quantizer; the
# difference only engages at scaling-fixture sizes (>16·128 vectors).
_SEMDEDUP_TARGET_CELL = 128
_SEMDEDUP_CTES = _IVFP_CTES.replace(
    f"LIMIT {_IVFP_SEEDS}",
    f"LIMIT (SELECT greatest({_IVFP_SEEDS}, "
    f"count(*)//{_SEMDEDUP_TARGET_CELL}) FROM embeddings)",
)


@register(
    "semdedup_survivors",
    oracle="WITH " + _SEMDEDUP_CTES + f""",
    capped AS (
        SELECT vec_id, v, cell FROM (
            SELECT vec_id, v, cell,
                   row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS crk
            FROM cells
        ) WHERE crk <= {_SEMDEDUP_CELL_CAP}
    ),
    dropped AS (
        SELECT DISTINCT b.vec_id
        FROM capped a JOIN capped b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= 0.4
    )
    SELECT vec_id FROM embeddings
    WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
    """,
    doc="SemDeDup-style semantic dedup (arXiv:2303.09540): embeddings are "
        "partitioned into quantizer cells, cosine pairs are scored only "
        "WITHIN a cell (n²/k work instead of n², the paper's tractability "
        "move — cross-cell dups are missed by design), and every vector "
        "with a smaller-id in-cell neighbor at cosine >= 0.4 is dropped. "
        "One equi-shuffle on the cell id; the portable seed quantizer "
        "makes the whole pipeline oracle-reproducible. Scale guards: the "
        "cell count DERIVES from the corpus (max(16, n/128), mirrored in "
        "the oracle's scalar-subquery LIMIT) so Σn_c² grows linearly, and "
        "a per-cell rank cap bounds a degenerate cell at cap² pairs — the "
        "cap is mirrored in the oracle's ranked-cells CTE.",
)
def q_semdedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.semdedup_survivors(
        emb, threshold=0.4, n_seeds=None, max_cell_size=_SEMDEDUP_CELL_CAP,
        target_cell=_SEMDEDUP_TARGET_CELL,
    )


# ann_lsh_topk is fully deterministic (fixed-seed hyperplanes), so it carries
# a REAL oracle: per-table signatures as literal-plane SQL expressions on
# both the corpus and the query vector, candidate = Hamming(sig, q_sig) <=
# probe_bits in ANY table (the Spark side's filter, term for term),
# exact-cosine rerank.
_LSH_TABLE_SIGS = [
    (f"s{t}", f"q{t}", 7 + 101 * t) for t in range(4)  # seeds mirror ann_lsh_topk
]
_LSH_ORACLE = (
    "WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),\n"
    "s AS (\n    SELECT vec_id, embedding::DOUBLE[] AS v,\n"
    + ",\n".join(
        f"        {_rh_sig_sql('embedding::DOUBLE[]', n_bits=6, seed=seed)} AS {sc}"
        for sc, _, seed in _LSH_TABLE_SIGS
    )
    + "\n    FROM embeddings\n),\n"
    "qs AS (\n    SELECT\n"
    + ",\n".join(
        f"        {_rh_sig_sql('qv', n_bits=6, seed=seed)} AS {qc}"
        for _, qc, seed in _LSH_TABLE_SIGS
    )
    + "\n    FROM q\n)\n"
    "SELECT s.vec_id, round(list_cosine_similarity(s.v, q.qv), 6) AS score\n"
    "FROM s, q, qs\nWHERE "
    + "\n   OR ".join(
        f"bit_count(xor({sc}::BIGINT, {qc}::BIGINT)) <= 2"
        for sc, qc, _ in _LSH_TABLE_SIGS
    )
    + "\nORDER BY list_cosine_similarity(s.v, q.qv) DESC, s.vec_id ASC\nLIMIT 10"
)


@register(
    "ann_lsh_topk",
    oracle=_LSH_ORACLE,
    doc="LSH-bucketed ANN top-k (4 tables of fixed-seed random hyperplanes "
        "+ 2-bit multiprobe + exact-cosine rerank). Deterministic, so the "
        "oracle mirrors it exactly: literal-plane signature SQL per table, "
        "Hamming <= 2 candidate filter, same rerank.",
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    return S.ann_lsh_topk(emb, qvec, k=10)


# ---------------------------------------------------------------------------
# The composed cleanup a training pipeline actually runs (C4-style):
# lang filter → quality/length gates → exact dedup → near-dup clustering
# survivors. Every stage is an operator with its own green oracle; this
# entry proves the COMPOSITION stays engine-exact end-to-end.
# ---------------------------------------------------------------------------

def _corpus_clean_oracle() -> str:
    clean_ctes = f"""clean AS (
        SELECT doc_id, text FROM documents
        WHERE {T.lang_id_oracle_sql('text')} = 'en'
          AND ({T.QUALITY_ORACLE_SQL}) >= 0.35
          AND len(list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x <> '')) >= 10
    ),
    keep AS (
        SELECT min(doc_id) AS doc_id FROM clean
        GROUP BY {T.FINGERPRINT_ORACLE_EXPR}
    ),
    cleanex AS (SELECT c.doc_id, c.text FROM clean c JOIN keep k USING (doc_id))"""
    return (
        "WITH RECURSIVE " + clean_ctes + ",\n    " + _j_reach("cleanex") + """
    SELECT doc_id FROM cleanex
    WHERE doc_id NOT IN (SELECT a FROM reach GROUP BY a HAVING min(b) < a)
    """
    )


@register(
    "corpus_clean",
    oracle=_corpus_clean_oracle(),
    doc="End-to-end corpus cleanup: English-only (stopword-profile lang id) "
        "+ quality >= 0.35 + >= 10 tokens, exact dedup (min-id per "
        "fingerprint), then transitive near-dup survivors over the cleaned "
        "set — four oracle-proven operators composed into ONE plan, still "
        "engine-exact. At 100 TB the scalar gates ride the scan (codegen, "
        "pushdown-friendly), the dedups are the only shuffles.",
)
def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    clean = (
        docs.filter(T.lang_id(F.col("text")) == "en")
        .filter(T.quality_score(F.col("text")) >= 0.35)
        .filter(T.token_count(F.col("text")) >= 10)
        .select("doc_id", "text")
    )
    # Materialize the cleaned corpus ONCE (eager localCheckpoint): three
    # downstream consumers (the max_df count, the pair generator, the
    # survivor anti-join) would otherwise each re-run the lang/quality
    # filters and the dedup shuffle. Checkpoint, not persist: lineage is
    # truncated too, and the blocks die with the DF reference.
    cleanex = D.dedup_exact(clean).localCheckpoint()
    n = cleanex.count()
    pairs = D.jaccard_pairs(cleanex, k=3, threshold=0.5, max_df=max(5, n // 100))
    return D.dedup_near_survivors(cleanex, pairs).select("doc_id")


@register(
    "dedup_increment_survivors",
    oracle=f"""
    WITH corpus AS (
        SELECT {_FP} AS fp FROM documents
    ), inc AS (
        -- re-keyed EXACT copies of corpus docs (all must drop) ...
        SELECT doc_id + 1000000 AS doc_id, lang, {_FP} AS fp
        FROM documents WHERE doc_id % 3 = 0
        UNION ALL
        -- ... fresh texts (suffix changes the fingerprint; survive) ...
        SELECT doc_id + 2000000 AS doc_id, lang,
               md5(lower(trim(regexp_replace(text || ' fresh', '\\s+', ' ',
                                             'g')))) AS fp
        FROM documents WHERE doc_id % 3 = 1
        UNION ALL
        -- ... and a second copy of each fresh text under a HIGHER id
        -- (within-batch dup: the min-id keeper must win)
        SELECT doc_id + 3000000 AS doc_id, lang,
               md5(lower(trim(regexp_replace(text || ' fresh', '\\s+', ' ',
                                             'g')))) AS fp
        FROM documents WHERE doc_id % 3 = 1
    ), inc_dedup AS (
        SELECT * FROM inc
        WHERE doc_id = (SELECT min(i2.doc_id) FROM inc i2
                        WHERE i2.fp = inc.fp)
    )
    SELECT doc_id, lang FROM inc_dedup
    WHERE fp NOT IN (SELECT fp FROM corpus)
    """,
    doc="Incremental exact dedup — the continuous-ingest shape: a new "
        "batch dedups within itself (min-id keeper) then anti-joins the "
        "STORED corpus fingerprint relation (40-byte rows; the corpus "
        "data is never re-scanned per batch — the analyze-once story "
        "applied to dedup). The increment is constructed to exercise "
        "EVERY path: re-keyed corpus copies (all drop at the anti-join), "
        "fresh texts (survive), and doubled fresh texts (the within-"
        "batch keeper drops the higher id). One shuffle on the 128-bit "
        "fingerprint key.",
)
def q_dedup_increment_survivors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    copies = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "lang", "text"
    )
    fresh = docs.filter(F.col("doc_id") % 3 == 1).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "lang",
        F.concat(F.col("text"), F.lit(" fresh")).alias("text"),
    )
    doubled = docs.filter(F.col("doc_id") % 3 == 1).select(
        (F.col("doc_id") + 3000000).alias("doc_id"), "lang",
        F.concat(F.col("text"), F.lit(" fresh")).alias("text"),
    )
    inc = copies.unionByName(fresh).unionByName(doubled)
    fps = docs.select(fingerprint_md5(F.col("text")).alias("fp")).distinct()
    return dedup_increment_exact(inc, fps).select("doc_id", "lang")


@register(
    "dedup_near_best_survivors",
    oracle=_J_REACH_CTES + """,
    comp AS (SELECT a AS doc_id, min(b) AS cid FROM reach GROUP BY a),
    ranked AS (
        SELECT d.doc_id,
               row_number() OVER (PARTITION BY c.cid
                                  ORDER BY d.n_chars DESC, d.doc_id ASC)
                   AS rn
        FROM documents d JOIN comp c ON d.doc_id = c.doc_id
    )
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM ranked WHERE rn > 1)
    """,
    doc="Quality-aware near-dup keeper: per cluster keep the "
        "LONGEST member (n_chars, ties to min id) instead of the "
        "arbitrary min-id — the curation refinement real pipelines ship. "
        "Same connected components; the keeper pick is one window rank "
        "over the cluster-membership relation (cluster-sized, never "
        "corpus-sized). The oracle replays the rank over the recursive "
        "reachability CTE's components.",
)
def q_dedup_near_best_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    pairs = D.jaccard_pairs(docs, k=3, threshold=0.5,
                            max_df=max(5, n_docs // 100))
    return D.dedup_near_best_survivors(docs, pairs, "n_chars").select("doc_id")


@register(
    "ann_cosine_topk_mrl",
    oracle="""
    SELECT vec_id,
           round(list_cosine_similarity(
               (embedding[1:16])::DOUBLE[],
               (SELECT embedding[1:16] FROM embeddings
                WHERE vec_id = 0)::DOUBLE[]), 6) AS score
    FROM embeddings
    ORDER BY list_cosine_similarity(
        (embedding[1:16])::DOUBLE[],
        (SELECT embedding[1:16] FROM embeddings
         WHERE vec_id = 0)::DOUBLE[]) DESC,
        vec_id ASC
    LIMIT 10
    """,
    doc="Matryoshka-truncated retrieval: cosine top-k over the "
        "FIRST 16 dimensions only — the MRL cheap first stage (1/d of "
        "the dot-product work and bytes; cosine renormalizes the "
        "truncation implicitly). Same TakeOrderedAndProject scan shape "
        "as the exact baseline; production reranks the shortlist with "
        "full vectors, exactly the IVF/PQ rerank seam.",
)
def q_ann_cosine_topk_mrl(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    emb16 = emb.select("vec_id",
                       F.slice("embedding", 1, 16).alias("embedding"))
    qvec = [float(x) for x in
            emb.filter("vec_id = 0").head()["embedding"][:16]]
    return S.cosine_topk(emb16, qvec, k=10)


@register(
    "ann_mrl_rerank_topk",
    oracle="""
    WITH q AS (
        SELECT embedding::DOUBLE[] AS full_v,
               (embedding[1:16])::DOUBLE[] AS trunc_v
        FROM embeddings WHERE vec_id = 0
    ),
    shortlist AS (
        SELECT e.vec_id, e.embedding
        FROM embeddings e, q
        ORDER BY list_cosine_similarity((e.embedding[1:16])::DOUBLE[],
                                        q.trunc_v) DESC,
                 e.vec_id ASC
        LIMIT 40
    )
    SELECT s.vec_id,
           round(list_cosine_similarity(s.embedding::DOUBLE[], q.full_v),
                 6) AS score
    FROM shortlist s, q
    ORDER BY list_cosine_similarity(s.embedding::DOUBLE[], q.full_v) DESC,
             s.vec_id ASC
    LIMIT 10
    """,
    doc="The MRL retrieval funnel: a 16-dim truncated first "
        "stage shortlists 4k candidates (TakeOrdered over 1/d-cost "
        "scores), then the FULL vectors rerank the shortlist to top-k — "
        "the two-stage shape every production vector store runs (same "
        "seam as IVF/PQ rerank; shortlist size is the recall knob). The "
        "rerank touches 40 vectors, not the corpus.",
)
def q_ann_mrl_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter("vec_id = 0").head()["embedding"]
    q_full = [float(x) for x in qrow]
    q_trunc = q_full[:16]
    shortlist = (
        emb.select(
            "vec_id", "embedding",
            cosine("slice(embedding, 1, 16)", vec_sql(q_trunc)).alias("__s1"),
        )
        .orderBy(F.col("__s1").desc(), F.col("vec_id").asc())
        .limit(40)
    )
    return (
        shortlist.select(
            "vec_id",
            cosine("embedding", vec_sql(q_full)).alias("__s2"),
        )
        .orderBy(F.col("__s2").desc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", F.round("__s2", 6).alias("score"))
    )
