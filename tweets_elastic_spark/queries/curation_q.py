"""Ship-stage corpus-curation queries: benchmark decontamination, PII
redaction, repetition filtering, deterministic sharding, sequence packing,
and domain-mix sampling — the operations between "cleaned corpus" and
"training shards on disk". Every entry carries a full DuckDB oracle (the
placement/shuffle ops run on the portable 60-bit hash precisely so that an
external engine can reproduce them bit-for-bit).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tweets_elastic_spark.functions import pii as P
from tweets_elastic_spark.functions import textstats as T
from tweets_elastic_spark.functions.analyzers import pin_computed
from tweets_elastic_spark.functions.hashing import hash60_sql
from tweets_elastic_spark.functions.html import html_main_text
from tweets_elastic_spark.operators import curation as C
from tweets_elastic_spark.operators.curation import robots_gate, url_parts
from tweets_elastic_spark.operators.dsir import dsir_sample
from tweets_elastic_spark.operators.sampling import unimax_sample
from tweets_elastic_spark.operators.vectorize import hashed_tfidf_sparse
from tweets_elastic_spark.registry import register
from tweets_elastic_spark.sources.catalog import cluster_by, fan_out, load_table
from tweets_elastic_spark.sources.warc import build_warc, warc_records

# The fixture corpus has no separate eval set, so the benchmark is carved
# deterministically: doc_id < 25 plays the benchmark, the rest the corpus.
_BENCH_MAX_ID = 25
_DECON_K = 4  # 4-word grams: ~9% of the sf0.01 corpus shares one — nontrivial

_TOKS_SQL = (
    "list_transform(list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'),"
    " x -> x <> ''), x -> lower(x))"
)

# distinct k-gram list from the token list `t` (mirrors
# word_shingles_from_tokens: whole text as one gram for short docs)
def _grams_sql(k: int) -> str:
    gram = " || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(k))
    return f"""list_distinct(
        CASE WHEN len(t) >= {k}
             THEN list_transform(range(1, len(t) - {k - 2}), i -> {gram})
             WHEN len(t) > 0 THEN [array_to_string(t, ' ')]
             ELSE [] END)"""


_DECON_CTES = f"""toks AS (
        SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ),
    grams AS (
        SELECT doc_id, unnest({_grams_sql(_DECON_K)}) AS g FROM toks
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < {_BENCH_MAX_ID}),
    hits AS (
        SELECT a.doc_id, count(*) AS n_shared_grams, min(a.g) AS sample_gram
        FROM grams a JOIN bench b ON a.g = b.g
        WHERE a.doc_id >= {_BENCH_MAX_ID}
        GROUP BY a.doc_id
    )"""


def _split_corpus(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < _BENCH_MAX_ID)
    corpus = docs.filter(F.col("doc_id") >= _BENCH_MAX_ID)
    return corpus, bench


@register(
    "decontaminate_report",
    oracle="WITH " + _DECON_CTES + "\n    SELECT doc_id, n_shared_grams, sample_gram FROM hits",
    doc="Benchmark decontamination report: corpus docs sharing any 4-word "
        "gram with the eval set (doc_id < 25), with the shared-gram count "
        "and a deterministic evidence gram. Benchmark grams broadcast; the "
        "corpus side never shuffles beyond its per-doc aggregation.",
)
def q_decontaminate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, bench = _split_corpus(spark, sf_dir)
    return C.contamination_report(corpus, bench, k=_DECON_K)


@register(
    "decontaminate_survivors",
    oracle="WITH " + _DECON_CTES + f"""
    SELECT doc_id FROM documents
    WHERE doc_id >= {_BENCH_MAX_ID}
      AND doc_id NOT IN (SELECT doc_id FROM hits)
    """,
    doc="The decontaminated corpus: training docs with zero benchmark-gram "
        "overlap (GPT-3-style eval-set leakage removal) — broadcast "
        "anti-join, corpus scan stays pushdown-friendly.",
)
def q_decontaminate_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, bench = _split_corpus(spark, sf_dir)
    return C.decontaminate(corpus, bench, k=_DECON_K).select("doc_id")


@register(
    "decontaminate_fuzzy_survivors",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ),
    g AS (
        SELECT doc_id, unnest({_grams_sql(3)}) AS g FROM toks
    ),
    csz AS (SELECT doc_id, count(*) AS sz FROM g WHERE doc_id >= {_BENCH_MAX_ID} GROUP BY doc_id),
    bsz AS (SELECT doc_id, count(*) AS sz FROM g WHERE doc_id < {_BENCH_MAX_ID} GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS cid, b.doc_id AS bid, count(*) AS i
        FROM g a JOIN g b ON a.g = b.g
        WHERE a.doc_id >= {_BENCH_MAX_ID} AND b.doc_id < {_BENCH_MAX_ID}
        GROUP BY 1, 2
    ),
    bad AS (
        SELECT DISTINCT cid FROM inter
        JOIN csz ON cid = csz.doc_id
        JOIN bsz ON bid = bsz.doc_id
        WHERE i / (csz.sz + bsz.sz - i) >= 0.5
    )
    SELECT doc_id FROM documents
    WHERE doc_id >= {_BENCH_MAX_ID} AND doc_id NOT IN (SELECT cid FROM bad)
    """,
    doc="Fuzzy decontamination: corpus docs whose 3-word-shingle Jaccard "
        "against ANY benchmark doc reaches 0.5 are dropped — catches the "
        "paraphrased eval leakage exact long-gram overlap misses (pipelines "
        "run both). Asymmetric inverted-index join: benchmark postings "
        "broadcast, corpus never self-joins.",
)
def q_decontaminate_fuzzy_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, bench = _split_corpus(spark, sf_dir)
    return C.decontaminate_fuzzy(corpus, bench, k=3, threshold=0.5).select("doc_id")


# ---------------------------------------------------------------------------
# PII redaction. The fixture corpus is synthetic word-salad with no real
# PII, so the query PLANTS deterministic identifiers first (email/phone/IP
# derived from doc_id on a doc_id-mod schedule) and then redacts them — both
# engines build the identical augmented text, so the oracle verifies the
# redaction regexes byte-for-byte, including the docs that get no PII.
# ---------------------------------------------------------------------------

def _planted_text_col():
    did = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" call 415-555-"), F.lpad((did % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" from 10."), (did % 256).cast("string"),
                F.lit(".0."), ((did * 7) % 256).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )


_PLANTED_SQL = """text
    || CASE WHEN doc_id % 3 = 0
            THEN ' contact user' || doc_id::VARCHAR || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' call 415-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN ' from 10.' || (doc_id % 256)::VARCHAR || '.0.' || ((doc_id * 7) % 256)::VARCHAR
            ELSE '' END"""

_PII_COUNTS_SQL = P.pii_counts_sql("aug")


@register(
    "pii_redact",
    oracle=f"""
    WITH a AS (SELECT doc_id, {_PLANTED_SQL} AS aug FROM documents)
    SELECT doc_id,
           {P.redact_pii_sql('aug')} AS clean_text,
           {_PII_COUNTS_SQL['n_email']} AS n_email,
           {_PII_COUNTS_SQL['n_phone']} AS n_phone,
           {_PII_COUNTS_SQL['n_ipv4']} AS n_ipv4
    FROM a
    """,
    doc="PII redaction: plant deterministic emails/phones/IPv4s into the "
        "synthetic corpus (doc_id-mod schedule), then scrub them with the "
        "portable-dialect regex chain and count matches per kind. Pure "
        "chained regexp_replace — scan-local codegen, zero shuffle.",
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    aug = fan_out(docs.select("doc_id", _planted_text_col().alias("_aug")))
    counts = P.pii_counts(F.col("_aug"))
    return aug.select(
        "doc_id",
        P.redact_pii(F.col("_aug")).alias("clean_text"),
        counts["n_email"].alias("n_email"),
        counts["n_phone"].alias("n_phone"),
        counts["n_ipv4"].alias("n_ipv4"),
    )


# ---------------------------------------------------------------------------
# Repetition stats + the Gopher-style repetition filter
# ---------------------------------------------------------------------------

_REP = T.repetition_oracle_exprs("t")


@register(
    "repetition_stats",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
    SELECT doc_id,
           {_REP['n_tokens']} AS n_tokens,
           {_REP['dup_token_ratio']} AS dup_token_ratio,
           {_REP['dup_bigram_ratio']} AS dup_bigram_ratio,
           {_REP['top_token_ratio']} AS top_token_ratio
    FROM toks
    """,
    doc="Per-doc repetition profile (Gopher-rules block): duplicate-token, "
        "duplicate-bigram, and top-token-frequency ratios. Token array "
        "built once in its own projection (HOF-lambda CSE trap), then pure "
        "JVM array expressions — scan-local, zero shuffle.",
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = fan_out(
        docs.select(
            "doc_id",
            F.transform(T.simple_tokens(F.col("text")), F.lower).alias("_toks"),
        )
    )
    feats = T.repetition_features(F.col("_toks"))
    return toks.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["dup_token_ratio"].alias("dup_token_ratio"),
        feats["dup_bigram_ratio"].alias("dup_bigram_ratio"),
        feats["top_token_ratio"].alias("top_token_ratio"),
    )


@register(
    "gopher_repetition_filter",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
    SELECT doc_id FROM toks
    WHERE {_REP['n_tokens']} >= 15
      AND {_REP['dup_token_ratio']} <= 0.6
      AND {_REP['dup_bigram_ratio']} <= 0.05
      AND {_REP['top_token_ratio']} <= 0.12
    """,
    doc="The Gopher-style repetition gate: docs passing all repetition "
        "thresholds (>= 15 tokens, dup-token <= 0.6, dup-bigram <= 0.05, "
        "top-token <= 0.12 — tuned to a nontrivial split on this corpus). "
        "Composes with quality_score/lang_id into corpus_clean-style "
        "pipelines; scan-local filter at any scale.",
)
def q_gopher_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = fan_out(
        docs.select(
            "doc_id",
            F.transform(T.simple_tokens(F.col("text")), F.lower).alias("_toks"),
        )
    )
    f = T.repetition_features(F.col("_toks"))
    return (
        toks.filter(
            (f["n_tokens"] >= 15)
            & (f["dup_token_ratio"] <= 0.6)
            & (f["dup_bigram_ratio"] <= 0.05)
            & (f["top_token_ratio"] <= 0.12)
        ).select("doc_id")
    )


# ---------------------------------------------------------------------------
# Deterministic sharding, packing, and domain mixing
# ---------------------------------------------------------------------------

_N_SHARDS = 8
_SHARD_SEED = 1
_SHARD_KEY_SQL = hash60_sql(f"'{_SHARD_SEED}:' || doc_id::VARCHAR")


@register(
    "training_shards",
    oracle=f"""
    WITH s AS (SELECT doc_id, {_SHARD_KEY_SQL} AS k FROM documents)
    SELECT doc_id, (k % {_N_SHARDS})::INT AS shard,
           (row_number() OVER (PARTITION BY k % {_N_SHARDS} ORDER BY k, doc_id) - 1)::BIGINT AS pos
    FROM s
    """,
    doc="Deterministic training shard assignment + within-shard shuffle "
        "position (portable 60-bit hash of seed:id) — the reproducible "
        "global shuffle every training run needs. The position window "
        "partitions BY SHARD, so shards rank in parallel; no global sort.",
)
def q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return C.assign_shards(
        fan_out(docs), n_shards=_N_SHARDS, seed=_SHARD_SEED
    ).select("doc_id", "shard", "pos")


_PACK_BUDGET = 128
_PACK_KEY_SQL = hash60_sql("'0:' || doc_id::VARCHAR")
_TOKCNT_SQL = (
    "len(list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x <> ''))::BIGINT"
)


@register(
    "sequence_pack",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, {_PACK_KEY_SQL} AS k, {_TOKCNT_SQL} AS n_tokens
        FROM documents
    ),
    w AS (
        SELECT doc_id, n_tokens, (k % 4)::INT AS shard,
               coalesce(sum(n_tokens) OVER (
                   PARTITION BY k % 4 ORDER BY k, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum
        FROM s
    )
    SELECT doc_id, n_tokens, shard,
           (cum // {_PACK_BUDGET})::BIGINT AS seq_id,
           (cum % {_PACK_BUDGET})::BIGINT AS offset
    FROM w
    """,
    doc="Sequence packing (concatenate-then-chunk): each doc's place in "
        "fixed-128-token training sequences — shard, sequence id, and token "
        "offset, from a per-shard exclusive prefix sum over the "
        "deterministic shuffle order. Parallel across shards; the window "
        "never sees a global ordering.",
)
def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return C.pack_sequences(
        fan_out(docs), budget=_PACK_BUDGET, n_shards=4, seed=0
    ).select("doc_id", "n_tokens", "shard", "seq_id", "offset")


_MIX_WEIGHTS = {"src0": 1.0, "src1": 0.8, "src2": 0.5, "src3": 0.25}
_MIX_KEY_SQL = hash60_sql("'0:' || doc_id::VARCHAR")


@register(
    "domain_mix_sample",
    oracle=f"""
    SELECT doc_id, source FROM (
        SELECT doc_id, source, ({_MIX_KEY_SQL} % 1000000) / 1000000.0 AS f
        FROM documents
    )
    WHERE f < CASE source
        WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.8
        WHEN 'src2' THEN 0.5 WHEN 'src3' THEN 0.25
        ELSE 0.1 END
    """,
    doc="Domain-mix sampling: per-source Bernoulli keep rates (src0 100% … "
        "src3 25%, everything else 10%) decided by the portable hash "
        "fraction — deterministic, partitioning-independent, reproducible "
        "in any engine. Scan-local filter; the weight table is a literal "
        "CASE, zero shuffle.",
)
def q_domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return C.domain_mix_sample(
        docs, _MIX_WEIGHTS, domain_col="source", default_weight=0.1, seed=0
    ).select("doc_id", "source")


@register(
    "line_dedup",
    oracle="""
    WITH aug AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN 'Subscribe  to our newsletter' || chr(10) || text
                         || chr(10) || 'all rights reserved'
                    ELSE 'subscribe to our newsletter' || chr(10) || text
               END AS text
        FROM documents
    ),
    lines AS (
        SELECT doc_id, p['pos'] AS pos, p['line'] AS line
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(l) + 1),
                                         i -> {'pos': i - 1, 'line': l[i]})) AS p
            FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM aug)
        )
    ),
    norm AS (
        SELECT doc_id, pos, line,
               lower(trim(regexp_replace(line, '\\s+', ' ', 'g'))) AS lnorm
        FROM lines
    ),
    hot AS (
        SELECT md5(lnorm) AS k
        FROM norm WHERE lnorm <> ''
        GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
    ),
    kept AS (
        SELECT n.doc_id, n.pos, n.line FROM norm n
        WHERE md5(n.lnorm) NOT IN (SELECT k FROM hot)
    ),
    reb AS (
        SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_kept,
               CAST(count(*) AS BIGINT) AS n_kept
        FROM kept GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_total
            FROM lines GROUP BY doc_id)
    SELECT t.doc_id, coalesce(r.text_kept, '') AS text_kept,
           coalesce(r.n_kept, 0) AS n_kept,
           t.n_total - coalesce(r.n_kept, 0) AS n_dropped
    FROM tot t LEFT JOIN reb r USING (doc_id)
    """,
    doc="RefinedWeb-style line-wise dedup (arXiv:2306.01116 §3.3): every "
        "copy of a line occurring in >1 distinct docs is dropped and docs "
        "are rebuilt from surviving lines in order — the boilerplate "
        "remover document-level dedup can't see. One fixed-width md5 "
        "shuffle for the line-df count; the hot set broadcasts back as an "
        "anti-join. The corpus has no native line structure, so the query "
        "plants page chrome in-plan (header on every doc, case/whitespace-"
        "varied on a third to exercise normalization, footer on that "
        "third): the operator must strip exactly the chrome and return "
        "every doc's unique body untouched. Order preservation, within-doc "
        "repeats and empty-line structure are pinned in "
        "tests/test_curation.py.",
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # Plant page chrome in-plan (the decontaminate-fixture pattern): a
    # header on every doc — case/whitespace-varied on every third doc to
    # exercise the normalization — plus a footer on that same third.
    # line_dedup must strip exactly the chrome and return each doc's own
    # (unique) body untouched.
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("Subscribe  to our newsletter\n"),
                F.col("text"),
                F.lit("\nall rights reserved"),
            ),
        )
        .otherwise(F.concat(F.lit("subscribe to our newsletter\n"), F.col("text")))
        .alias("text"),
    )
    return C.line_dedup(aug, max_df=1)


@register(
    "dsir_sample",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, source,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS t
        FROM documents
    ), grams AS (
        SELECT doc_id, f
        FROM toks, UNNEST(list_concat(
            list_transform(t, x -> 'u:' || x),
            list_transform(range(1, len(t)),
                           i -> 'b:' || t[i] || ' ' || t[i+1])
        )) AS u(f)
    ), feats AS (
        SELECT doc_id,
               ('0x' || substr(md5(f), 1, 15))::BIGINT % 512 AS fid,
               count(*) AS cnt
        FROM grams GROUP BY 1, 2
    ), tfeats AS (
        SELECT f.fid, sum(f.cnt) AS tn
        FROM feats f JOIN toks d USING (doc_id)
        WHERE d.lang = 'en' AND d.source = 'src1'
        GROUP BY 1
    ), rawb AS (
        SELECT fid, sum(cnt) AS rn FROM feats GROUP BY 1
    ), rt AS (SELECT sum(rn) AS rtot FROM rawb),
       tt AS (SELECT sum(tn) AS ttot FROM tfeats),
    lw AS (
        SELECT f.doc_id,
               sum(f.cnt * (
                   ln((coalesce(b2.tn, 0) + 1.0) / (tt.ttot + 512.0))
                 - ln((b1.rn + 1.0) / (rt.rtot + 512.0)))) AS logw
        FROM feats f
        JOIN rawb b1 USING (fid)
        LEFT JOIN tfeats b2 USING (fid), rt, tt
        GROUP BY 1
    ), keyed AS (
        SELECT doc_id, logw,
               logw + (-ln(-ln(
                   (('0x' || substr(md5('42:' || doc_id::VARCHAR), 1, 15))
                        ::BIGINT + 1.0)
                   / 1152921504606846977.0))) AS key
        FROM lw
    )
    SELECT k.doc_id, d.lang, d.source,
           round(k.logw, 6) AS logw, round(k.key, 6) AS key
    FROM keyed k JOIN documents d USING (doc_id)
    ORDER BY k.key DESC, k.doc_id ASC
    LIMIT 100
    """,
    doc="DSIR domain-targeted data selection (Xie et al. 2023): hashed "
        "unigram+bigram features (portable 60-bit md5 hash, 512 buckets), "
        "Laplace-smoothed target (lang=en ^ source=src1, the in-domain "
        "proxy) vs raw bag-of-ngrams models, per-doc log importance "
        "ratio, and Gumbel-top-k sampling WITHOUT replacement with "
        "hash-derived reproducible noise — all one plan: scan-local "
        "featurize, one (doc,fid) combine, two broadcast model tables, "
        "TakeOrderedAndProject selection. The oracle replays every step "
        "bit-for-bit including the Gumbel keys.",
)
def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    target = docs.filter((F.col("lang") == "en") & (F.col("source") == "src1"))
    out = dsir_sample(docs, target, k=100, n_buckets=512, seed=42,
                      target_within_raw=True)
    return out.select(
        "doc_id", "lang", "source",
        F.round("logw", 6).alias("logw"),
        F.round("key", 6).alias("key"),
    )


@register(
    "dup_ngram_stats",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ), grams AS (
        SELECT doc_id, ('0x' || substr(md5(gs), 1, 15))::BIGINT AS g
        FROM (SELECT doc_id, unnest({_grams_sql(4)}) AS gs FROM toks)
    ), dfs AS (
        SELECT g, count(DISTINCT doc_id) AS df FROM grams GROUP BY 1
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           round(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS dup_frac
    FROM grams JOIN dfs USING (g)
    GROUP BY doc_id
    """,
    doc="Intra-corpus duplicated-span measurement (the doc-level decision "
        "of Lee et al. 2022): per document, the fraction of its distinct "
        "4-grams shared with at least one other document. Linear in "
        "posting count (gram-df aggregation + same-key join back), no "
        "pairwise work — the operator to run FIRST at scale to size the "
        "dedup problem before any O(df^2) pair generator.",
)
def q_dup_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return C.dup_ngram_stats(docs, k=4)


_SPAN_K = 8


@register(
    "span_dedup_rebuild",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ),
    win AS (
        SELECT doc_id, s,
               ('0x' || substr(md5(array_to_string(
                   t[s+1:s+{_SPAN_K}], ' ')), 1, 15))::BIGINT AS h
        FROM (SELECT doc_id, t,
                     unnest(range(0, len(t) - {_SPAN_K} + 1)) AS s
              FROM toks WHERE len(t) >= {_SPAN_K})
    ),
    marked AS (
        SELECT doc_id, s,
               count(*) OVER (PARTITION BY h) AS cnt,
               row_number() OVER (PARTITION BY h
                                  ORDER BY doc_id, s) AS rn
        FROM win
    ),
    starts AS (
        SELECT doc_id, list_sort(list(s)) AS ss
        FROM marked WHERE cnt >= 2 AND rn > 1
        GROUP BY doc_id
    ),
    kept AS (
        SELECT t.doc_id, len(t.t) AS n_tokens,
               list_filter(
                   list_transform(t.t, (x, i) ->
                       CASE WHEN len(list_filter(coalesce(st.ss, []),
                                s -> s <= i - 1
                                     AND i - 1 < s + {_SPAN_K})) = 0
                            THEN x END),
                   x -> x IS NOT NULL) AS kt
        FROM toks t LEFT JOIN starts st USING (doc_id)
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_tokens - len(kt) AS BIGINT) AS n_dup_tokens,
           -- DuckDB's array_to_string([]) is NULL; Spark's array_join is ''
           coalesce(array_to_string(kt, ' '), '') AS clean_text
    FROM kept
    """,
    doc="Exact duplicated-SPAN removal (Lee et al. 2022 ExactSubstr, "
        "expressed over rolling hashed k-token windows instead of a "
        "suffix array): any 8-token window occurring twice anywhere in "
        "the corpus marks its non-keeper occurrences' token ranges for "
        "removal (keeper = lexicographically-first (doc, start)); "
        "overlapping marks union, so duplicated runs longer than k are "
        "removed wholesale; docs rebuild from surviving tokens. Linear "
        "in corpus tokens: one 8-byte-hash shuffle for the window "
        "occurrence counts, one ids-only shuffle back, scan-local HOF "
        "rebuild. The oracle replays the identical keeper rule and "
        "coverage union with DuckDB window functions + list lambdas.",
)
def q_span_dedup_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return C.span_dedup(docs, k=_SPAN_K)


@register(
    "unimax_sample",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               len(list_filter(regexp_split_to_array(lower(text),
                                                     '[^a-z0-9]+'),
                               x -> x <> '')) AS n_tok
        FROM documents WHERE lang IS NOT NULL
    ), totals AS (
        SELECT lang, sum(n_tok) AS lt FROM toks GROUP BY 1
    ), capped AS (
        SELECT lang, lt, lt * 2.0 AS cap FROM totals
    ), lvl AS (
        SELECT lang, cap,
               row_number() OVER (ORDER BY cap, lang) AS i,
               coalesce(sum(cap) OVER (
                   ORDER BY cap, lang
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_prev,
               count(*) OVER () AS L
        FROM capped
    ), level AS (
        SELECT max((40000.0 - cum_prev) / (L - i + 1)) AS lev
        FROM lvl
        WHERE (40000.0 - cum_prev) / (L - i + 1) <= cap
    ), alloc AS (
        SELECT c.lang, c.lt,
               round(least(c.cap,
                           coalesce(level.lev, 'infinity'::DOUBLE)), 6)
                   AS quota
        FROM capped c, level
    ), sel AS (
        SELECT t.doc_id, t.lang, t.n_tok, a.lt, a.quota,
               sum(t.n_tok) OVER (
                   PARTITION BY t.lang
                   ORDER BY substr(md5('unimax:' || t.doc_id::VARCHAR),
                                   1, 15),
                            t.doc_id) AS cum
        FROM toks t JOIN alloc a USING (lang)
    )
    SELECT * FROM (
        SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok,
               CAST(floor(quota / lt)
                    + CASE WHEN cum <= quota - floor(quota / lt) * lt
                           THEN 1 ELSE 0 END AS BIGINT) AS epochs
        FROM sel
    ) WHERE epochs >= 1
    """,
    doc="UniMax language sampling (Chung et al. 2023): spread a 40k-token "
        "budget as uniformly as possible across languages with a "
        "2-epoch-per-language cap, surplus redistributed (water-filling). "
        "The allocation runs as a CLOSED-FORM window plan over the "
        "language-count-sized totals relation (no iterative loop, no "
        "driver math): λ = first prefix level with Σ min(cap, λ) = "
        "budget. Per-doc epochs materialize via a portable-hash-ordered "
        "cumulative sum per language. At sf0.01 the four small languages "
        "cap at 2 epochs and en gets the remaining ~9.2k tokens as a "
        "partial epoch — all three allocation regimes exercised across "
        "the bench scales.",
)
def q_unimax_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return unimax_sample(docs, budget=40000.0, max_epochs=2.0)


@register(
    "chunk_documents",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS t
        FROM documents
    ), c AS (
        SELECT doc_id, len(t) AS n, t FROM toks WHERE len(t) > 0
    ), ch AS (
        SELECT doc_id, t,
               unnest(range(0, CASE WHEN n <= 40 THEN 1
                                    ELSE CAST(ceil((n - 8) / 32.0) AS INT)
                               END)) AS chunk_id
        FROM c
    )
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           array_to_string(
               list_slice(t, chunk_id * 32 + 1, chunk_id * 32 + 40),
               ' ') AS chunk_text,
           CAST(len(list_slice(t, chunk_id * 32 + 1, chunk_id * 32 + 40))
                AS INT) AS n_tok
    FROM ch
    """,
    doc="Token-windowed document chunking with overlap (the RAG / "
        "context-bounded-training splitter): chunk i covers tokens "
        "[i*stride, i*stride+40), stride = 40-8. Pure HOF projection "
        "(sequence -> slice under posexplode) — tokenizes once per row, "
        "rides the scan, zero shuffle, zero Python at any corpus size.",
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return C.chunk_documents(docs, max_tokens=40, overlap=8)


@register(
    "tfidf_hashed_sparse",
    oracle="""
    WITH sel AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
    ), toks AS (
        SELECT doc_id,
               unnest(list_filter(
                   regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                   x -> x <> '')) AS t
        FROM sel
    ), tf AS (
        SELECT doc_id,
               (('0x' || substr(md5(t), 1, 15))::BIGINT) % 256 AS fid,
               count(*) AS tf
        FROM toks GROUP BY 1, 2
    ), dfq AS (
        SELECT fid, count(DISTINCT doc_id) AS df_t FROM tf GROUP BY 1
    ), n AS (
        SELECT count(DISTINCT doc_id) AS n_docs FROM sel
    )
    SELECT tf.doc_id, tf.fid,
           round(tf.tf * (ln((n.n_docs + 1.0) / (dfq.df_t + 1.0)) + 1.0),
                 6) AS w
    FROM tf JOIN dfq USING (fid), n
    """,
    doc="Hashed TF-IDF (feature hashing, Weinberger et al. 2009 / "
        "MLlib HashingTF): text -> fixed-dim vectors with NO external "
        "model, closing the raw-text -> ANN/semdedup loop. The sparse "
        "(id, fid, w) relation carries the oracle — portable 60-bit md5 "
        "hashing, dim-bounded IDF table (never vocabulary-sized), one "
        "word-count shuffle. The dense/ANN composition is "
        "equivalence-pytest-pinned (test_vectorize.py).",
)
def q_tfidf_hashed_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents")).filter(
        F.col("doc_id") % 97 == 0
    )
    return hashed_tfidf_sparse(docs, dim=256)


@register(
    "c4_line_filter",
    oracle="""
    WITH pages AS (
        SELECT doc_id,
               text || '.' || chr(10) ||
               'too short.' || chr(10) ||
               'this line has no terminal punctuation at all' || chr(10) ||
               'please enable javascript to view this page.' || chr(10) ||
               text || '!' || chr(10) ||
               'a third proper sentence with enough words here.' ||
               CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'function() {'
                    WHEN doc_id % 17 = 0 THEN chr(10) || 'Lorem Ipsum dolor sit amet consectetur.'
                    ELSE '' END ||
               CASE WHEN doc_id % 11 = 0
                    THEN chr(10) ||
                         'this sentence mentions badword once in passing.'
                    ELSE '' END AS text
        FROM documents WHERE text IS NOT NULL
    ),
    kept AS (
        SELECT doc_id, text,
               list_filter(string_split(text, chr(10)), l ->
                 len(list_filter(regexp_split_to_array(trim(l), '\\s+'),
                                 w -> w <> '')) >= 5
                 AND regexp_matches(trim(l), '[.!?"]$')
                 AND NOT contains(lower(l), 'javascript')) AS k
        FROM pages
    )
    SELECT doc_id, array_to_string(k, chr(10)) AS text,
           CAST(len(k) AS INT) AS n_lines_kept
    FROM kept
    WHERE NOT contains(lower(text), 'lorem ipsum')
      AND NOT contains(text, '{')
      AND NOT regexp_matches(text, '\\b(badword|verboten)\\b', 'i')
      AND len(k) >= 3
    """,
    doc="C4-style heuristic cleaning (operators/curation.py "
        "c4_line_filter — Raffel et al. 2020 §2.2): terminal-punctuation "
        "+ min-words + javascript line rules, lorem-ipsum / curly-brace "
        "/ bad-words / min-kept-lines page rules. Pages are planted "
        "in-plan (the line_dedup fixture pattern): each doc gets two "
        "keepable body lines + three rule-violating lines, every 13th a "
        "code brace, every 17th a lorem-ipsum line, every 11th a "
        "bad-word sentence that the LINE rules would keep — proving the "
        "page gate (one whole-word case-insensitive alternation rlike "
        "over a neutral placeholder list; the canonical public blocklist "
        "is caller-supplied) is what drops it. All scan-local HOF "
        "expressions — no shuffle; the oracle mirrors construction and "
        "rules exactly.",
)
def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    base = F.concat(
        F.col("text"), F.lit(".\n"),
        F.lit("too short.\n"),
        F.lit("this line has no terminal punctuation at all\n"),
        F.lit("please enable javascript to view this page.\n"),
        F.col("text"), F.lit("!\n"),
        F.lit("a third proper sentence with enough words here."),
    )
    page = F.when(F.col("doc_id") % 13 == 0,
                  F.concat(base, F.lit("\nfunction() {")))\
        .when(F.col("doc_id") % 17 == 0,
              F.concat(base,
                       F.lit("\nLorem Ipsum dolor sit amet consectetur.")))\
        .otherwise(base)
    page = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(page,
                 F.lit("\nthis sentence mentions badword once in passing.")),
    ).otherwise(page)
    aug = docs.select("doc_id", page.alias("text"))
    return C.c4_line_filter(aug, bad_words=["badword", "verboten"])


_GQ = __import__(
    "tweets_elastic_spark.functions.textstats", fromlist=["x"]
).gopher_quality_oracle_exprs()


@register(
    "gopher_quality_filter",
    oracle=f"""
    WITH feat AS (
        SELECT doc_id,
               list_transform(list_filter(regexp_split_to_array(text, '\\s+'),
                                          x -> x <> ''), x -> lower(x)) AS w,
               list_filter(string_split(text, chr(10)), l -> l <> '') AS ln,
               text
        FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id,
           {_GQ['n_words']} AS n_words,
           round({_GQ['mean_word_len']}, 6) AS mean_word_len,
           {_GQ['stop_hits']} AS stop_hits
    FROM feat
    WHERE {_GQ['n_words']} BETWEEN 50 AND 100000
      AND {_GQ['mean_word_len']} BETWEEN 3 AND 10
      AND {_GQ['symbol_word_ratio']} <= 0.1
      AND {_GQ['alpha_word_ratio']} >= 0.8
      AND {_GQ['stop_hits']} >= 1
      AND {_GQ['bullet_line_ratio']} <= 0.9
      AND {_GQ['ellipsis_line_ratio']} <= 0.3
    """,
    doc="Gopher QUALITY rules (Rae et al. 2021 A1.1 — the heuristic "
        "half pairing with gopher_repetition_filter): 50<=words<=100k, "
        "mean word length 3-10, symbol-to-word ratio (#/.../…) <= 0.1, "
        ">= 80% words with an alphabetic character, a stop-word "
        "presence gate (canonical list; threshold 1 here — the fixture "
        "corpus is database jargon where only 'the' occurs, and Gopher's "
        ">=2 would zero the split; same tuned-to-nontrivial precedent as "
        "the repetition thresholds), bullet-start <= 90% and ellipsis-end "
        "<= 30% of lines. Words/lines materialize once (CollapseProject "
        "keeps multi-referenced non-cheap aliases), every rule a "
        "scan-local expression — no shuffle; the oracle mirrors each "
        "formula operator for operator.",
)
def q_gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    # pin the tokenized projections to ONE evaluation site (guide §4.4):
    # unpinned, every gate predicate referencing a derived feature is
    # pushed below this projection AND below the fan_out exchange with
    # its own inlined copy of the tokenize — a plan audit counted
    # 20 split(text) evaluations per row in a Filter running at the raw
    # scan's parallelism
    staged = docs.select(
        "doc_id",
        pin_computed(
            F.transform(T.whitespace_words(F.col("text")), F.lower)
        ).alias("_ws"),
        pin_computed(
            F.filter(F.split(F.col("text"), "\n"),
                     lambda l: l != F.lit(""))
        ).alias("_ln"),
        "text",
    )
    f = T.gopher_quality_features(F.col("_ws"), F.col("text"), F.col("_ln"))
    return (
        staged.select(
            "doc_id",
            f["n_words"].alias("n_words"),
            f["mean_word_len"].alias("_mwl"),
            f["stop_hits"].alias("stop_hits"),
            f["symbol_word_ratio"].alias("_sym"),
            f["alpha_word_ratio"].alias("_alpha"),
            f["bullet_line_ratio"].alias("_bul"),
            f["ellipsis_line_ratio"].alias("_ell"),
        )
        .filter(
            F.col("n_words").between(50, 100000)
            & F.col("_mwl").between(3, 10)
            & (F.col("_sym") <= 0.1)
            & (F.col("_alpha") >= 0.8)
            & (F.col("stop_hits") >= 1)
            & (F.col("_bul") <= 0.9)
            & (F.col("_ell") <= 0.3)
        )
        .select("doc_id", "n_words",
                F.round("_mwl", 6).alias("mean_word_len"), "stop_hits")
    )


@register(
    "url_filter_survivors",
    # The synthetic URL mixes every failure mode: ftp scheme (%13),
    # explicit port (%17), IPv4-literal host (%23), deep path (%11),
    # 'casino' fragment (%19), and a blocklisted domain family —
    # host subN.spamhub.com when doc_id%7==0, adsN.tracker.net when
    # %29==0 (parent-domain matching) — else subN.siteM.com. The oracle
    # replays every rule arithmetically; precedence: the earliest CASE
    # branch wins, mirroring the Spark when-chain.
    oracle="""
    WITH u AS (
        SELECT doc_id,
               CASE
                 WHEN doc_id % 13 = 0 THEN 'ftp'
                 ELSE 'http' || CASE WHEN doc_id % 2 = 0 THEN 's'
                                     ELSE '' END
               END AS scheme,
               CASE
                 WHEN doc_id % 23 = 0 THEN '10.0.0.' ||
                      CAST(doc_id % 250 AS VARCHAR)
                 WHEN doc_id % 7 = 0 THEN 'sub' ||
                      CAST(doc_id % 5 AS VARCHAR) || '.spamhub.com'
                 WHEN doc_id % 29 = 0 THEN 'ads' ||
                      CAST(doc_id % 5 AS VARCHAR) || '.tracker.net'
                 ELSE 'sub' || CAST(doc_id % 5 AS VARCHAR) || '.site' ||
                      CAST(doc_id % 97 AS VARCHAR) || '.com'
               END AS host,
               CASE WHEN doc_id % 17 = 0 THEN ':8080' ELSE '' END
                 AS port,
               CASE
                 WHEN doc_id % 11 = 0 THEN repeat('/d', 10)
                 WHEN doc_id % 19 = 0 THEN '/go/casino/page'
                 ELSE '/p/' || CAST(doc_id AS VARCHAR)
               END AS path
        FROM documents
    )
    SELECT doc_id,
           scheme || '://' || host || port || path AS url,
           host
    FROM u
    WHERE scheme IN ('http', 'https')
      AND NOT regexp_matches(host, '^\\d{1,3}(\\.\\d{1,3}){3}$')
      AND port = ''
      AND len(list_filter(string_split(path, '/'), s -> s <> '')) <= 8
      AND NOT regexp_matches(lower(scheme || '://' || host || port ||
                                   path), 'casino')
      AND NOT (host = 'spamhub.com' OR host LIKE '%.spamhub.com')
      AND NOT (host = 'tracker.net' OR host LIKE '%.tracker.net')
    """,
    doc="URL-level page gating + domain blocklist ("
        "operators/curation.py url_quality_filter + "
        "url_blocklist_filter — the FIRST filter real crawl pipelines "
        "apply, RefinedWeb §3.1/C4 style): scheme/IPv4-literal/port/"
        "path-depth/length/fragment rules ride the scan as pure "
        "expressions, then the host's domain-suffix chain explodes "
        "into <= ~6 entries and ONE broadcast equi-join against the "
        "blocklist collects hit ids (8-byte keys; parent domains match "
        "— 'sub0.spamhub.com' falls to 'spamhub.com') for a left_anti "
        "removal. The oracle replays every rule including the "
        "suffix-chain semantics via LIKE '%.domain'. At 100 TB: one "
        "scan-riding gate + one broadcast anti-join, the cheapest "
        "possible corpus entry gate.",
)
def q_url_filter_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    did = F.col("doc_id")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.when(did % 13 == 0, F.lit("ftp"))
            .when(did % 2 == 0, F.lit("https")).otherwise(F.lit("http")),
            F.lit("://"),
            F.when(did % 23 == 0,
                   F.format_string("10.0.0.%d", did % 250))
            .when(did % 7 == 0,
                  F.format_string("sub%d.spamhub.com", did % 5))
            .when(did % 29 == 0,
                  F.format_string("ads%d.tracker.net", did % 5))
            .otherwise(F.format_string("sub%d.site%d.com",
                                       did % 5, did % 97)),
            F.when(did % 17 == 0, F.lit(":8080")).otherwise(F.lit("")),
            F.when(did % 11 == 0, F.expr("repeat('/d', 10)"))
            .when(did % 19 == 0, F.lit("/go/casino/page"))
            .otherwise(F.format_string("/p/%d", did)),
        ).alias("url"),
    )
    gated = C.url_quality_filter(
        docs, blocked_fragments=["casino"], max_path_depth=8,
    )
    blocklist = spark.createDataFrame(
        [("spamhub.com",), ("tracker.net",)], "domain string"
    )
    return C.url_blocklist_filter(gated, blocklist).select(
        "doc_id", "url", "host"
    )


@register(
    "crawl_corpus_pipeline",
    # End-to-end oracle: every stage replayed in SQL over documents.
    # Page synth: body = the EVEN partner's text (doc pairs 2k/2k+1
    # share one body -> exact dups for the dedup stage); status 404
    # when doc_id%37==0; mime text/plain when %5==0; uri carries the
    # url_filter_survivors failure-mode mix.
    oracle="""
    WITH pick AS (
        SELECT d.doc_id, d2.text AS body
        FROM documents d
        JOIN documents d2 ON d2.doc_id = (d.doc_id // 2) * 2
        WHERE d.text IS NOT NULL AND d2.text IS NOT NULL
    ),
    u AS (
        SELECT doc_id, body,
               CASE WHEN doc_id % 13 = 0 THEN 'ftp'
                    ELSE 'http' || CASE WHEN doc_id % 2 = 0 THEN 's'
                                        ELSE '' END END AS scheme,
               CASE
                 WHEN doc_id % 23 = 0 THEN '10.0.0.' ||
                      CAST(doc_id % 250 AS VARCHAR)
                 WHEN doc_id % 7 = 0 THEN 'sub' ||
                      CAST(doc_id % 5 AS VARCHAR) || '.spamhub.com'
                 ELSE 'sub' || CAST(doc_id % 5 AS VARCHAR) || '.site' ||
                      CAST(doc_id % 97 AS VARCHAR) || '.com'
               END AS host,
               CASE WHEN doc_id % 17 = 0 THEN ':8080' ELSE '' END AS port,
               CASE WHEN doc_id % 19 = 0 THEN '/go/casino/p'
                    ELSE '/p/' || CAST(doc_id AS VARCHAR) END AS path,
               CASE WHEN doc_id % 37 = 0 THEN 404 ELSE 200 END AS status,
               CASE WHEN doc_id % 5 = 0 THEN 'text/plain'
                    ELSE 'text/html' END AS mime
        FROM pick
    ),
    kept AS (
        SELECT doc_id, host, body
        FROM u
        WHERE status = 200 AND mime = 'text/html'
          AND scheme IN ('http', 'https')
          AND NOT regexp_matches(host, '^\\d{1,3}(\\.\\d{1,3}){3}$')
          AND port = ''
          AND NOT regexp_matches(lower(scheme || '://' || host || port
                                       || path), 'casino')
          AND NOT (host = 'spamhub.com' OR host LIKE '%.spamhub.com')
          AND octet_length(encode(body)) >= 200
    ),
    surv AS (SELECT body, min(doc_id) AS doc_id FROM kept GROUP BY body)
    SELECT k.doc_id, k.host,
           CAST(octet_length(encode(k.body)) AS BIGINT) AS n_bytes
    FROM kept k JOIN surv s ON k.doc_id = s.doc_id
    """,
    doc="The END-TO-END crawl-to-corpus pipeline: WARC archives "
        "-> record walk (sources/warc.py, both layouts) -> HTTP "
        "status/mime gate -> URL quality gate + domain-blocklist "
        "anti-join (operators/curation.py) -> byte-length gate -> "
        "exact dedup (min-id keeper per identical body; doc pairs "
        "share a body by construction, so the stage does real work). "
        "One registered row demonstrating the whole LLM ingestion "
        "story composes from the engine's parts, with every stage "
        "replayed in the SQL oracle. Scale shape: the record walk and "
        "every gate ride the archive scan; the only shuffles are the "
        "broadcast blocklist hit-id anti-join (8-byte keys) and ONE "
        "fingerprint groupBy for the dedup stage.",
)
def q_crawl_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    did = F.col("doc_id")
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    ).select(
        "doc_id", "text", F.expr("doc_id DIV 4").alias("gid"),
    )

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        texts = dict(zip((int(d) for d in pdf["doc_id"]), pdf["text"]))
        pages = []
        for d in texts:
            partner = (d // 2) * 2
            if partner not in texts:
                continue  # odd doc whose even partner is text-NULL
            if d % 23 == 0:
                host = f"10.0.0.{d % 250}"
            elif d % 7 == 0:
                host = f"sub{d % 5}.spamhub.com"
            else:
                host = f"sub{d % 5}.site{d % 97}.com"
            scheme = "ftp" if d % 13 == 0 else \
                ("https" if d % 2 == 0 else "http")
            port = ":8080" if d % 17 == 0 else ""
            path = "/go/casino/p" if d % 19 == 0 else f"/p/{d}"
            pages.append((
                f"{scheme}://{host}{port}{path}",
                404 if d % 37 == 0 else 200,
                "text/plain" if d % 5 == 0 else "text/html",
                str(texts[partner]),
            ))
        gid = int(key[0])
        return pd.DataFrame({
            "asset_id": [gid],
            "payload": [bytearray(build_warc(
                pages, gzip_members=(gid % 2 == 0)))],
        })

    # cluster_by: CPU-bound Python WARC assembly + record walk; see
    # sources/catalog.py:cluster_by for why AQE must not coalesce here.
    archives = cluster_by(docs, "gid").groupBy("gid").applyInPandas(
        build, "asset_id long, payload binary"
    )
    # Materialize the extracted-page relation ONCE (localCheckpoint):
    # the blocklist anti-join, the survivor window and the final output
    # all branch from it, and without the checkpoint each branch would
    # re-run the Python WARC assembly + record walk (the expensive
    # stages). A production pipeline lands this relation to parquet
    # between crawl and curation anyway; the checkpoint is that
    # stage boundary, sized to the extracted text, not the archives.
    recs = warc_records(archives).filter(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & (F.col("mime") == "text/html")
    ).localCheckpoint()
    gated = C.url_quality_filter(
        recs, url_col="uri", blocked_fragments=["casino"],
    ).withColumn(
        "doc_id",
        F.regexp_extract("uri", r"/p/(\d+)$", 1).cast("long"),
    )
    blocklist = spark.createDataFrame([("spamhub.com",)], "domain string")
    clean = C.url_blocklist_filter(gated, blocklist).filter(
        F.col("n_bytes") >= 200
    )
    # Exact-dup survivor pick as ONE window pass (min doc_id per text)
    # instead of groupBy + self-join on the long text key — halves the
    # text-keyed shuffles; same keeper semantics as dedup_exact.
    w = Window.partitionBy("text")
    return (
        clean.withColumn("__keep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("__keep"))
        .select("doc_id", "host", "n_bytes")
    )


# ---------------------------------------------------------------------------
# HTML main-content extraction: the boilerplate-removal stage between
# WARC ingestion and text curation. The fixture corpus is plain text, so the
# row PLANTS a deterministic HTML page around each document (the
# c4_line_filter precedent): chrome nav, link-dominated sidebar, short h1,
# the real text as the content block, an occasional tiny note block, and a
# link-heavy footer. Both engines build the SAME page string; the extractor
# must then find the content block on its own (the wrap is not visible to
# it). Kept as shared Python constants so Spark and SQL cannot drift.
# ---------------------------------------------------------------------------

_HTML_PRE = (
    '<html><head><title>Doc</title><script>var x = 1;</script>'
    '<style>p { color: red }</style></head><body>'
    '<nav><a href="/">Home</a> <a href="/about">About us</a> '
    '<a href="/contact">Contact</a></nav>'
    '<div id="side"><a href="/t/1">related links</a> '
    '<a href="/t/2">more &amp; more</a></div>'
    '<h1>Doc page</h1><p>'
)
_HTML_NOTE = '</p><p>tiny note'
_HTML_POST = (
    '</p><footer>(c) 2024 <a href="/terms">Terms</a> '
    '<a href="/privacy">Privacy</a></footer></body></html>'
)


@register(
    "html_main_text",
    oracle=f"""
    WITH pages AS (
        SELECT doc_id,
               '{_HTML_PRE}' || text ||
               CASE WHEN doc_id % 3 = 0 THEN '{_HTML_NOTE}' ELSE '' END ||
               '{_HTML_POST}' AS html
        FROM documents WHERE text IS NOT NULL
    ),
    blocks AS (
        SELECT doc_id,
               list_filter(
                 list_transform(
                   regexp_split_to_array(
                     regexp_replace(html,
                       '<script\\b[^>]*>.*?</script>|<style\\b[^>]*>.*?</style>|<!--.*?-->',
                       ' ', 'gis'),
                     '(?i)</?(?:p|div|h[1-6]|li|ul|ol|table|tr|td|th|blockquote|section|article|header|footer|nav|aside|br)\\b[^>]*>'),
                   b -> {{
                     't': trim(regexp_replace(
                            replace(replace(replace(replace(replace(replace(
                              regexp_replace(b, '<[^>]*>', ' ', 'gs'),
                              '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                              '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
                            '\\s+', ' ', 'g')),
                     'lc': list_sum(list_transform(
                             regexp_extract_all(b,
                               '(?is)<a\\b[^>]*>(.*?)</a>', 1),
                             a -> length(trim(regexp_replace(
                               replace(replace(replace(replace(replace(replace(
                                 regexp_replace(a, '<[^>]*>', ' ', 'gs'),
                                 '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                                 '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
                               '\\s+', ' ', 'g')))))
                   }}),
                 s -> length(s.t) > 0) AS bs
        FROM pages
    )
    SELECT doc_id,
           array_to_string(list_transform(
             list_filter(bs, s -> length(s.t) >= 25
                 AND coalesce(s.lc, 0) <= 0.33 * length(s.t)),
             s -> s.t), ' ') AS main_text,
           CAST(len(bs) AS BIGINT) AS n_blocks,
           CAST(len(list_filter(bs, s -> length(s.t) >= 25
                 AND coalesce(s.lc, 0) <= 0.33 * length(s.t)))
                AS BIGINT) AS n_kept
    FROM blocks
    ORDER BY doc_id
    """,
    doc="HTML main-content extraction (jusText-lite boilerplate removal "
        "— the trafilatura stage every crawl pipeline runs between WARC "
        "and curation; functions/html.py): drop script/style/comments, "
        "split on block-level tags, keep blocks with >= 25 chars and "
        "anchor-text link density <= 0.33, join in document order. The "
        "planted page wraps each doc's text in chrome (nav, "
        "link-dominated sidebar, short h1, tiny-note block every 3rd "
        "doc, footer) that the extractor must reject unseen — the "
        "whole chain is built-in string expressions riding the scan "
        "(zero shuffle, zero UDF; at 100 TB this is pure map-side work "
        "pipelined with the WARC record walk). Documented divergence "
        "from full jusText: no stopword-density feature, no context "
        "revision (module docstring).",
)
def q_html_main_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(
        load_table(spark, sf_dir, "documents").filter(
            F.col("text").isNotNull()
        )
    )
    page = F.concat(
        F.lit(_HTML_PRE),
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(_HTML_NOTE))
        .otherwise(F.lit("")),
        F.lit(_HTML_POST),
    )
    m = html_main_text(page, min_chars=25, max_link_density=0.33)
    # pin the extraction struct so the projection computes the block-split
    # chain once per row instead of once per extracted field (guide §4.4)
    return (
        docs.select("doc_id", pin_computed(m).alias("_m"))
        .select(
            "doc_id",
            F.col("_m.main_text").alias("main_text"),
            F.col("_m.n_blocks").alias("n_blocks"),
            F.col("_m.n_kept").alias("n_kept"),
        )
        .orderBy("doc_id")
    )


# Shared DuckDB replay of the jusText-lite extraction (the same arithmetic
# html_main_text's inline oracle spells out), parameterized by the HTML
# expression so the pipeline oracle below can run it over the WARC-synth
# page bodies. Any drift between this helper and the Spark implementation
# reddens BOTH oracled rows — the rows are the cross-check.
def _strip_sql(e: str) -> str:
    return (
        "trim(regexp_replace(replace(replace(replace(replace(replace("
        "replace("
        f"regexp_replace({e}, '<[^>]*>', ' ', 'gs'),"
        " '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'),"
        " '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),"
        " '\\s+', ' ', 'g'))"
    )


def _blocks_sql(html_expr: str) -> str:
    drop = (
        "'<script\\b[^>]*>.*?</script>|<style\\b[^>]*>.*?</style>"
        "|<!--.*?-->'"
    )
    split = (
        "'(?i)</?(?:p|div|h[1-6]|li|ul|ol|table|tr|td|th|blockquote"
        "|section|article|header|footer|nav|aside|br)\\b[^>]*>'"
    )
    return f"""list_filter(
        list_transform(
          regexp_split_to_array(
            regexp_replace({html_expr}, {drop}, ' ', 'gis'), {split}),
          b -> {{'t': {_strip_sql('b')},
                'lc': list_sum(list_transform(
                        regexp_extract_all(b,
                          '(?is)<a\\b[^>]*>(.*?)</a>', 1),
                        a -> length({_strip_sql('a')})))}}),
        s -> length(s.t) > 0)"""


_HTML_KEEP_SQL = (
    "s -> length(s.t) >= 25 AND coalesce(s.lc, 0) <= 0.33 * length(s.t)"
)


@register(
    "crawl_main_text_pipeline",
    # The crawl_corpus_pipeline page synth (same uri/status/mime mix,
    # doc pairs 2k/2k+1 share a body), but the body is the _HTML_PRE
    # chrome wrap around the partner's text — so the pipeline must run
    # BOILERPLATE REMOVAL between the WARC walk and the text gates,
    # exactly where a real crawl pipeline runs trafilatura. The note
    # block keys on the PARTNER id so pair bodies stay identical and
    # the dedup stage still does real work.
    oracle=f"""
    WITH pick AS (
        SELECT d.doc_id, d2.text AS ptext, (d.doc_id // 2) * 2 AS pid
        FROM documents d
        JOIN documents d2 ON d2.doc_id = (d.doc_id // 2) * 2
        WHERE d.text IS NOT NULL AND d2.text IS NOT NULL
    ),
    u AS (
        SELECT doc_id,
               '{_HTML_PRE}' || ptext ||
               CASE WHEN pid % 3 = 0 THEN '{_HTML_NOTE}' ELSE '' END ||
               '{_HTML_POST}' AS body,
               CASE WHEN doc_id % 13 = 0 THEN 'ftp'
                    ELSE 'http' || CASE WHEN doc_id % 2 = 0 THEN 's'
                                        ELSE '' END END AS scheme,
               CASE
                 WHEN doc_id % 23 = 0 THEN '10.0.0.' ||
                      CAST(doc_id % 250 AS VARCHAR)
                 WHEN doc_id % 7 = 0 THEN 'sub' ||
                      CAST(doc_id % 5 AS VARCHAR) || '.spamhub.com'
                 ELSE 'sub' || CAST(doc_id % 5 AS VARCHAR) || '.site' ||
                      CAST(doc_id % 97 AS VARCHAR) || '.com'
               END AS host,
               CASE WHEN doc_id % 17 = 0 THEN ':8080' ELSE '' END AS port,
               CASE WHEN doc_id % 19 = 0 THEN '/go/casino/p'
                    ELSE '/p/' || CAST(doc_id AS VARCHAR) END AS path,
               CASE WHEN doc_id % 37 = 0 THEN 404 ELSE 200 END AS status,
               CASE WHEN doc_id % 5 = 0 THEN 'text/plain'
                    ELSE 'text/html' END AS mime
        FROM pick
    ),
    gated AS (
        SELECT doc_id, host, body
        FROM u
        WHERE status = 200 AND mime = 'text/html'
          AND scheme IN ('http', 'https')
          AND NOT regexp_matches(host, '^\\d{{1,3}}(\\.\\d{{1,3}}){{3}}$')
          AND port = ''
          AND NOT regexp_matches(lower(scheme || '://' || host || port
                                       || path), 'casino')
          AND NOT (host = 'spamhub.com' OR host LIKE '%.spamhub.com')
    ),
    ext AS (
        SELECT doc_id, host,
               array_to_string(list_transform(
                 list_filter(bs, {_HTML_KEEP_SQL}), s -> s.t),
                 ' ') AS main_text,
               CAST(len(bs) AS BIGINT) AS n_blocks,
               CAST(len(list_filter(bs, {_HTML_KEEP_SQL}))
                    AS BIGINT) AS n_kept
        FROM (SELECT doc_id, host, {_blocks_sql('body')} AS bs FROM gated)
    ),
    kept AS (
        SELECT * FROM ext WHERE length(main_text) >= 200
    ),
    surv AS (SELECT main_text, min(doc_id) AS doc_id
             FROM kept GROUP BY main_text)
    SELECT k.doc_id, k.host, k.n_blocks, k.n_kept,
           CAST(length(k.main_text) AS BIGINT) AS main_chars
    FROM kept k JOIN surv s ON k.doc_id = s.doc_id
    """,
    doc="crawl_corpus_pipeline extended one stage: WARC archives "
        "-> record walk -> status/mime gate -> URL quality + blocklist "
        "gates -> HTML MAIN-CONTENT EXTRACTION (functions/html.py, the "
        "trafilatura slot: bodies are chrome-wrapped HTML pages, the "
        "extractor must recover the content block before any text gate "
        "can run) -> min-main-text gate -> exact dedup on the EXTRACTED "
        "text (pair bodies share the wrap AND the content, so survivors "
        "halve). Every stage replays in the SQL oracle, including the "
        "block split + link-density arithmetic over the synthesized "
        "pages. Scale shape: extraction is built-in string expressions "
        "riding the record walk's output (no new shuffle); the only "
        "exchanges remain the broadcast blocklist anti-join and the "
        "dedup groupBy — now keyed on extracted text, which is the "
        "point: dedup AFTER boilerplate removal collapses pages that "
        "differ only in chrome.",
)
def q_crawl_main_text_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    ).select(
        "doc_id", "text", F.expr("doc_id DIV 4").alias("gid"),
    )

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        texts = dict(zip((int(d) for d in pdf["doc_id"]), pdf["text"]))
        pages = []
        for d in texts:
            partner = (d // 2) * 2
            if partner not in texts:
                continue
            body = (
                _HTML_PRE + str(texts[partner])
                + (_HTML_NOTE if partner % 3 == 0 else "")
                + _HTML_POST
            )
            if d % 23 == 0:
                host = f"10.0.0.{d % 250}"
            elif d % 7 == 0:
                host = f"sub{d % 5}.spamhub.com"
            else:
                host = f"sub{d % 5}.site{d % 97}.com"
            scheme = "ftp" if d % 13 == 0 else \
                ("https" if d % 2 == 0 else "http")
            port = ":8080" if d % 17 == 0 else ""
            path = "/go/casino/p" if d % 19 == 0 else f"/p/{d}"
            pages.append((
                f"{scheme}://{host}{port}{path}",
                404 if d % 37 == 0 else 200,
                "text/plain" if d % 5 == 0 else "text/html",
                body,
            ))
        gid = int(key[0])
        return pd.DataFrame({
            "asset_id": [gid],
            "payload": [bytearray(build_warc(
                pages, gzip_members=(gid % 2 == 0)))],
        })

    archives = cluster_by(docs, "gid").groupBy("gid").applyInPandas(
        build, "asset_id long, payload binary"
    )
    recs = warc_records(archives).filter(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & (F.col("mime") == "text/html")
    ).localCheckpoint()
    gated = C.url_quality_filter(
        recs, url_col="uri", blocked_fragments=["casino"],
    ).withColumn(
        "doc_id",
        F.regexp_extract("uri", r"/p/(\d+)$", 1).cast("long"),
    )
    blocklist = spark.createDataFrame([("spamhub.com",)], "domain string")
    clean = C.url_blocklist_filter(gated, blocklist)
    m = html_main_text(F.col("text"), min_chars=25, max_link_density=0.33)
    # pin the jusText-lite extraction struct to ONE evaluation site
    # (guide §4.4): unpinned, the min-main-chars gate is pushed below the
    # projection with its own inlined copy of the whole block-split +
    # entity-cleanup chain and the projection carries one more copy per
    # extracted field — a plan audit counted 4 copies per record
    ext = clean.select(
        "doc_id", "host", pin_computed(m).alias("_m"),
    ).select(
        "doc_id", "host",
        F.col("_m.main_text").alias("main_text"),
        F.col("_m.n_blocks").alias("n_blocks"),
        F.col("_m.n_kept").alias("n_kept"),
    ).filter(F.length("main_text") >= 200)

    w = Window.partitionBy("main_text")
    return (
        ext.withColumn("__keep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("__keep"))
        .select(
            "doc_id", "host", "n_blocks", "n_kept",
            F.length("main_text").cast("bigint").alias("main_chars"),
        )
    )


# ---------------------------------------------------------------------------
# robots.txt gate. Planted per-host robots bodies: four host
# classes — prefix rules with a longer Allow carve-out, a wildcard Allow
# beating a shorter Disallow, a $-anchored exact Disallow under a
# specific-agent decoy group, and no robots at all. The engine parses
# and matches generically (functions/robots.py); the oracle derives each
# page's verdict independently from the planted rule semantics.
# ---------------------------------------------------------------------------

_ROBOTS_BODIES = {
    0: "User-agent: *\nDisallow: /private/\nAllow: /private/public/",
    # class 1 carries the QUERY-COMPONENT rule: REP matching is
    # path+query, so '/*?session=' must deny '/q/a7?session=7' even
    # though the PATH alone never contains '?'
    1: ("User-agent: *\nDisallow: /p/\nAllow: /p/4*\n"
        "Disallow: /*?session="),
    2: ("User-agent: googlebot\nDisallow: /\n\n"
        "User-agent: *\nDisallow: /tmp/$"),
    # class 3: host has NO robots.txt row -> allowed (RFC default)
}


@register(
    "robots_gate_survivors",
    oracle="""
    WITH pages AS (
        SELECT doc_id,
               'site' || CAST(doc_id % 97 AS VARCHAR) || '.com' AS host,
               (doc_id % 97) % 4 AS rclass,
               doc_id % 7 AS pclass,
               CASE doc_id % 7
                 WHEN 0 THEN '/private/a' || CAST(doc_id AS VARCHAR)
                 WHEN 1 THEN '/private/public/b' || CAST(doc_id AS VARCHAR)
                 WHEN 2 THEN '/tmp/'
                 WHEN 3 THEN '/tmp/c' || CAST(doc_id AS VARCHAR)
                 WHEN 4 THEN '/p/4' || CAST(doc_id AS VARCHAR)
                 WHEN 5 THEN '/p/9' || CAST(doc_id AS VARCHAR)
                 ELSE '/q/a' || CAST(doc_id AS VARCHAR)
               END AS path
        FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, host, path
    FROM pages
    WHERE NOT (
           (rclass = 0 AND pclass = 0)   -- /private/ denied, public carve-out survives
        OR (rclass = 1 AND pclass = 5)   -- /p/ denied, /p/4* wildcard carve-out survives
        OR (rclass = 1 AND pclass = 6)   -- /*?session= fires on path+QUERY (r14 fix)
        OR (rclass = 2 AND pclass = 2)   -- /tmp/$ denies the EXACT path only
    )
    ORDER BY doc_id
    """,
    doc="RFC 9309 robots.txt gate at corpus scale: per-host robots "
        "bodies parse ONCE (Arrow-batched pandas UDF over the hosts-sized "
        "relation: group selection incl. a specific-agent decoy group, "
        "wildcard->regex compilation), compiled rule arrays broadcast-join "
        "the page scan, and each page's allow/disallow is one scan-local "
        "longest-match-wins expression (operators/curation.py "
        "robots_gate). The planted classes exercise the Allow carve-out "
        "under a Disallow prefix, a wildcard Allow beating a shorter "
        "Disallow, the $ end anchor denying only the exact path, a "
        "QUERY-component rule ('/*?session=' — REP matches path+query) "
        "and the no-robots default-allow. The oracle derives every "
        "verdict "
        "independently from the planted rule semantics — the engine's "
        "parser/matcher is what is under test. Scale shape: the page "
        "stream never shuffles; the only exchange is the broadcast of "
        "the per-host rule arrays.",
)
def q_robots_gate_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(
        load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    s = F.col("doc_id") % 97
    d = F.col("doc_id").cast("string")
    path = (
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.lit("/private/a"), d))
        .when(F.col("doc_id") % 7 == 1,
              F.concat(F.lit("/private/public/b"), d))
        .when(F.col("doc_id") % 7 == 2, F.lit("/tmp/"))
        .when(F.col("doc_id") % 7 == 3, F.concat(F.lit("/tmp/c"), d))
        .when(F.col("doc_id") % 7 == 4, F.concat(F.lit("/p/4"), d))
        .when(F.col("doc_id") % 7 == 5, F.concat(F.lit("/p/9"), d))
        # pclass 6: the QUERY-rule class — the path alone is innocent,
        # only path+query matches '/*?session='
        .otherwise(F.concat(F.lit("/q/a"), d, F.lit("?session="), d))
    )
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("https://site"), s.cast("string"), F.lit(".com"),
                 path).alias("url"),
    )
    body = F.lit(None).cast("string")
    for k, v in _ROBOTS_BODIES.items():
        body = F.when(F.col("rclass") == k, F.lit(v)).otherwise(body)
    robots = (
        docs.select((F.col("doc_id") % 97).alias("sid"))
        .distinct()
        .withColumn("rclass", F.col("sid") % 4)
        .filter(F.col("rclass") != 3)  # class 3 hosts ship no robots row
        .select(
            F.concat(F.lit("site"), F.col("sid").cast("string"),
                     F.lit(".com")).alias("host"),
            body.alias("robots_txt"),
        )
    )

    kept = robots_gate(pages, robots, url_col="url")
    p = url_parts(F.col("url"))
    return kept.select(
        "doc_id", p["host"].alias("host"), p["path"].alias("path")
    ).orderBy("doc_id")
