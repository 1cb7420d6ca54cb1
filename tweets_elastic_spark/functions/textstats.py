"""Text-analysis operators for large-scale training-data pipelines.

North-star extensions beyond the reference's analyzer surface (SURVEY §7
item 7): language identification, document quality scoring, token counting,
and content fingerprinting — each a pure JVM-side Column expression (no
Python in the hot path), so at 100 TB they run inside whole-stage codegen
directly over the parquet scan with zero shuffles.

Every function here is deliberately SQL-expressible so the DuckDB oracle can
replicate it term-for-term (IEEE doubles with identical operand order are
bit-identical across engines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ASCII-safe tokenization shared by these stats (and mirrored in oracles):
# split on non-alphanumeric runs, drop empties.
_TOKEN_SPLIT = "[^a-zA-Z0-9]+"


def simple_tokens(c: Column) -> Column:
    return F.filter(F.split(c, _TOKEN_SPLIT), lambda t: t != F.lit(""))


def _bind(col: Column, build) -> Column:
    """Evaluate ``build(v)`` with ``col`` bound ONCE as a lambda variable.

    Catalyst inlines rather than CSEs repeated subtrees: referencing an
    expensive expression (a tokenization, a struct of aggregates) N times
    re-evaluates it N times — the quality/lang expressions here reference
    theirs 6–10×, which at scan scale multiplies both CPU and allocation
    pressure (the per-row garbage serializes parallel scans in one JVM).
    Binding through a singleton-array transform turns every reference into
    an O(1) attribute lookup; same trick as the MAD aggregate."""
    return F.element_at(F.transform(F.array(col), build), 1)


def token_count(c: Column) -> Column:
    """Whitespace/punctuation token count (BPE-ish proxy: alnum runs)."""
    return F.size(simple_tokens(c)).cast("long")


# ---------------------------------------------------------------------------
# Language identification: stopword-profile voting. Real profiles for
# en/de/fr/es; argmax with fixed priority tiebreak (en > de > es > fr),
# 'und' when nothing matches. O(tokens) per row, no shuffle.
# ---------------------------------------------------------------------------

LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for",
           "with", "not", "this", "are", "have"],
    "de": ["der", "die", "und", "das", "ist", "von", "nicht", "mit", "ein",
           "eine", "auf", "für", "den", "sich", "auch"],
    "es": ["el", "la", "de", "que", "los", "las", "una", "por", "con", "para",
           "del", "este", "como", "más", "pero"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans", "pour", "qui",
           "avec", "pas", "sur", "mais", "nous", "vous"],
}


# Language ID tokenizes UNICODE letters (not the ASCII-only simple_tokens):
# 'für'/'más' would otherwise split at the accented character and the de/es
# profile entries could never match. Java regex \p{L} ≙ RE2 \p{L} in DuckDB.
_LETTER_SPLIT = r"[^\p{L}]+"


def letter_tokens(c: Column) -> Column:
    return F.filter(F.split(c, _LETTER_SPLIT), lambda t: t != F.lit(""))


def lang_scores(c: Column) -> Column:
    """All four profile counts in ONE pass over the tokens: a struct
    accumulator inside a single ``aggregate``. The naive per-language
    ``size(filter(...))`` form re-tokenizes per language AND per reference
    in the downstream CASE — Catalyst inlines rather than CSEs lambda
    subtrees, which cost ~8 tokenizations per row."""
    toks = letter_tokens(c)
    zero = F.struct(*[F.lit(0).cast("long").alias(lang) for lang in LANG_PROFILES])

    def step(acc: Column, t: Column) -> Column:
        low = F.lower(t)
        return F.struct(*[
            (acc[lang] + F.when(low.isin(LANG_PROFILES[lang]), 1).otherwise(0))
            .alias(lang)
            for lang in LANG_PROFILES
        ])

    return F.aggregate(toks, zero, step)


def lang_id(c: Column) -> Column:
    # the argmax CASE references the scores struct ~10×; bind it once so
    # the one-pass aggregate in lang_scores actually runs once
    return _bind(lang_scores(c), lambda s: (
        F.when((s["en"] >= s["de"]) & (s["en"] >= s["es"]) & (s["en"] >= s["fr"])
               & (s["en"] > 0), F.lit("en"))
        .when((s["de"] >= s["es"]) & (s["de"] >= s["fr"]) & (s["de"] > 0), F.lit("de"))
        .when((s["es"] >= s["fr"]) & (s["es"] > 0), F.lit("es"))
        .when(s["fr"] > 0, F.lit("fr"))
        .otherwise(F.lit("und"))
    ))


def lang_id_oracle_sql(text_expr: str = "text") -> str:
    """The DuckDB-SQL mirror of lang_id() — same profiles, same tiebreak."""
    def score(lang: str) -> str:
        words = ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
        return (
            f"len(list_filter(list_transform("
            f"list_filter(regexp_split_to_array({text_expr}, '[^\\p{{L}}]+'), x -> x <> ''),"
            f" x -> lower(x)), t -> t IN ({words})))"
        )

    s = {lang: score(lang) for lang in LANG_PROFILES}
    return f"""
    CASE
      WHEN {s['en']} >= {s['de']} AND {s['en']} >= {s['es']}
           AND {s['en']} >= {s['fr']} AND {s['en']} > 0 THEN 'en'
      WHEN {s['de']} >= {s['es']} AND {s['de']} >= {s['fr']} AND {s['de']} > 0 THEN 'de'
      WHEN {s['es']} >= {s['fr']} AND {s['es']} > 0 THEN 'es'
      WHEN {s['fr']} > 0 THEN 'fr'
      ELSE 'und'
    END
    """


# ---------------------------------------------------------------------------
# Quality scoring: length / punctuation / stopword signals combined into one
# deterministic [0,1] score (the usual pre-training heuristic filters).
# ---------------------------------------------------------------------------

def _features_from(toks: Column, c: Column) -> dict[str, Column]:
    """Feature expressions over an (ideally bound) token array."""
    n_tok = F.size(toks).cast("long")
    n_chars = F.length(c).cast("long")
    # count, don't rebuild: regexp_count avoids materializing a stripped
    # copy of every document (same integer as length(c) - length(replace))
    n_punct = F.regexp_count(c, F.lit("[^a-zA-Z0-9 ]")).cast("long")
    lower_toks = F.transform(toks, F.lower)
    n_stop = F.size(
        F.filter(lower_toks, lambda t: t.isin(LANG_PROFILES["en"]))
    ).cast("long")
    total_tok_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return {
        "n_tokens": n_tok,
        "n_chars": n_chars,
        "punct_ratio": F.when(
            n_chars > 0, n_punct / n_chars
        ).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0)),
        "mean_token_len": F.when(n_tok > 0, total_tok_chars / n_tok).otherwise(F.lit(0.0)),
    }


def _combined_quality(c: Column, combine) -> Column:
    """``combine(features)`` with the tokenization AND the feature scalars
    each bound once (two _bind levels): one regexp split + one pass per
    feature per row, however many times the combiner references them. The
    unbound form costs ~6 tokenizations per row — measurably allocation-
    bound on parallel scans (SCALING.md quality_score row)."""
    def build(ts: Column) -> Column:
        f = _features_from(ts, c)
        feats = F.struct(
            f["n_tokens"].alias("n_tokens"),
            f["punct_ratio"].alias("punct_ratio"),
            f["stopword_ratio"].alias("stopword_ratio"),
            f["mean_token_len"].alias("mean_token_len"),
        )
        return _bind(feats, combine)

    return _bind(simple_tokens(c), build)


def quality_score(c: Column) -> Column:
    """0.35·length-signal + 0.25·stopword + 0.25·(1-punct) + 0.15·word-shape."""
    def combine(f: Column) -> Column:
        length_signal = F.least(f["n_tokens"] / F.lit(100.0), F.lit(1.0))
        shape_signal = F.when(
            (f["mean_token_len"] >= 3.0) & (f["mean_token_len"] <= 10.0),
            F.lit(1.0),
        ).otherwise(F.lit(0.0))
        return (
            F.lit(0.35) * length_signal
            + F.lit(0.25) * f["stopword_ratio"]
            + F.lit(0.25) * (F.lit(1.0) - f["punct_ratio"])
            + F.lit(0.15) * shape_signal
        )

    return _combined_quality(c, combine)


QUALITY_ORACLE_SQL = """
    0.35 * least(len(list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x <> '')) / 100.0, 1.0)
  + 0.25 * (CASE WHEN len(list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x <> '')) > 0
       THEN len(list_filter(list_transform(list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x <> ''), x -> lower(x)),
                 t -> t IN ('the','and','of','to','in','is','that','it','was','for','with','not','this','are','have')))
            / CAST(len(list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x <> '')) AS DOUBLE)
       ELSE 0.0 END)
  + 0.25 * (1.0 - (CASE WHEN length(text) > 0
       THEN (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) / CAST(length(text) AS DOUBLE)
       ELSE 0.0 END))
  + 0.15 * (CASE WHEN len(list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x <> '')) > 0
       AND (list_aggregate(list_transform(list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x <> ''), x -> length(x)), 'sum')
            / CAST(len(list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x <> '')) AS DOUBLE)) BETWEEN 3.0 AND 10.0
       THEN 1.0 ELSE 0.0 END)
"""


# ---------------------------------------------------------------------------
# Model-based quality scoring: a logistic classifier over the heuristic
# features — the shape of the fasttext/CCNet "quality classifier" stage
# every large pretraining pipeline ships. The weights here are fixed
# literals standing in for a trained model's coefficients (training is out
# of engine scope; serving is not): at 100 TB the model rides the scan as
# broadcast literals inside whole-stage codegen, exactly like these
# expressions — no UDF, no shuffle, pushdown-unaffected.
# ---------------------------------------------------------------------------

CLASSIFIER_WEIGHTS = {
    "bias": -1.0,
    "length_signal": 2.5,   # least(n_tokens/100, 1)
    "stopword_ratio": 3.0,
    "punct_ratio": -4.0,
    "mean_len_signal": 1.5,  # least(mean_token_len/10, 1)
}


def classifier_quality_score(c: Column) -> Column:
    """σ(w·x + b) over the heuristic features — deterministic, SQL-mirrorable
    (same operand order as the oracle expression)."""
    w = CLASSIFIER_WEIGHTS

    def combine(f: Column) -> Column:
        length_signal = F.least(f["n_tokens"] / F.lit(100.0), F.lit(1.0))
        mean_len_signal = F.least(f["mean_token_len"] / F.lit(10.0), F.lit(1.0))
        logit = (
            F.lit(w["bias"])
            + F.lit(w["length_signal"]) * length_signal
            + F.lit(w["stopword_ratio"]) * f["stopword_ratio"]
            + F.lit(w["punct_ratio"]) * f["punct_ratio"]
            + F.lit(w["mean_len_signal"]) * mean_len_signal
        )
        return F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))

    return _combined_quality(c, combine)


def classifier_oracle_sql() -> str:
    w = CLASSIFIER_WEIGHTS
    toks = "list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x <> '')"
    n = f"len({toks})"
    stop = (
        f"(CASE WHEN {n} > 0 THEN len(list_filter(list_transform({toks}, x -> lower(x)), "
        "t -> t IN ('the','and','of','to','in','is','that','it','was','for','with','not','this','are','have')))"
        f" / CAST({n} AS DOUBLE) ELSE 0.0 END)"
    )
    punct = (
        "(CASE WHEN length(text) > 0 THEN (length(text) - "
        "length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) / CAST(length(text) AS DOUBLE) "
        "ELSE 0.0 END)"
    )
    mean_len = (
        f"(CASE WHEN {n} > 0 THEN "
        f"list_aggregate(list_transform({toks}, x -> length(x)), 'sum') / CAST({n} AS DOUBLE) "
        "ELSE 0.0 END)"
    )
    logit = (
        f"({w['bias']} + {w['length_signal']} * least({n} / 100.0, 1.0) "
        f"+ {w['stopword_ratio']} * {stop} "
        f"+ {w['punct_ratio']} * {punct} "
        f"+ {w['mean_len_signal']} * least({mean_len} / 10.0, 1.0))"
    )
    return f"(1.0 / (1.0 + exp(-{logit})))"


# ---------------------------------------------------------------------------
# Repetition features (the Gopher-rules repetition block): how much of a
# document is the same token/bigram repeated. High ratios flag boilerplate,
# keyword-stuffing, and generation loops — standard pretraining filters.
# ---------------------------------------------------------------------------

# Gopher quality rules (Rae et al. 2021, appendix A1.1) — the heuristic
# half that pairs with repetition_features. "Words" are WHITESPACE tokens
# (symbols kept: the symbol/alpha ratios need them), lowercased once by
# the caller (the stop-hit membership test is case-insensitive; the other
# features are case-blind).
GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def whitespace_words(c: Column) -> Column:
    return F.filter(F.split(c, r"\s+"), lambda w: w != F.lit(""))


def gopher_quality_features(
    ws: Column, c: Column, lines: Column
) -> dict[str, Column]:
    """Feature expressions over (ideally materialized) lowercased
    whitespace words ``ws``, the raw text ``c``, and its non-empty line
    array ``lines`` — one expression per Gopher quality rule:
    word count, mean word length, symbol-to-word ratio (#, … and ...),
    alpha-word ratio, stop-word hits, bullet-start and ellipsis-end line
    ratios."""
    n = F.size(ws).cast("long")
    nd = n.cast("double")
    n_lines = F.size(lines).cast("double")
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPS])
    return {
        "n_words": n,
        "mean_word_len": F.when(
            n > 0,
            F.aggregate(ws, F.lit(0).cast("long"),
                        lambda a, w: a + F.length(w)) / nd,
        ).otherwise(F.lit(0.0)),
        "symbol_word_ratio": F.when(
            n > 0,
            F.regexp_count(c, F.lit(r"#|\.\.\.|…")).cast("double") / nd,
        ).otherwise(F.lit(0.0)),
        "alpha_word_ratio": F.when(
            n > 0,
            F.size(F.filter(ws, lambda w: w.rlike("[a-z]"))) / nd,
        ).otherwise(F.lit(0.0)),
        "stop_hits": F.size(
            F.filter(stop_arr, lambda s: F.array_contains(ws, s))
        ).cast("long"),
        "bullet_line_ratio": F.when(
            n_lines > 0,
            F.size(F.filter(
                lines,
                lambda l: F.trim(l).rlike(r"^[•\-\*]"),
            )) / n_lines,
        ).otherwise(F.lit(0.0)),
        "ellipsis_line_ratio": F.when(
            n_lines > 0,
            F.size(F.filter(
                lines,
                lambda l: l.rlike(r"(\.\.\.|…)$"),
            )) / n_lines,
        ).otherwise(F.lit(0.0)),
    }


def gopher_quality_oracle_exprs(
    ws: str = "w", text: str = "text", lines: str = "ln"
) -> dict[str, str]:
    """DuckDB mirrors of gopher_quality_features, operator for operator
    (``ws``/``lines`` name pre-materialized CTE columns)."""
    n = f"len({ws})"
    nd = f"CAST(len({ws}) AS DOUBLE)"
    nl = f"CAST(len({lines}) AS DOUBLE)"
    stops = ", ".join(f"'{s}'" for s in GOPHER_STOPS)
    return {
        "n_words": f"CAST({n} AS BIGINT)",
        "mean_word_len": (
            f"CASE WHEN {n} > 0 THEN "
            f"list_aggregate(list_transform({ws}, x -> length(x)), 'sum')"
            f" / {nd} ELSE 0.0 END"
        ),
        "symbol_word_ratio": (
            f"CASE WHEN {n} > 0 THEN "
            f"CAST(len(regexp_extract_all({text}, '#|\\.\\.\\.|…')) AS DOUBLE)"
            f" / {nd} ELSE 0.0 END"
        ),
        "alpha_word_ratio": (
            f"CASE WHEN {n} > 0 THEN "
            f"len(list_filter({ws}, x -> regexp_matches(x, '[a-z]')))"
            f" / {nd} ELSE 0.0 END"
        ),
        "stop_hits": (
            f"CAST(len(list_filter([{stops}], s -> list_contains({ws}, s)))"
            " AS BIGINT)"
        ),
        "bullet_line_ratio": (
            f"CASE WHEN len({lines}) > 0 THEN "
            f"len(list_filter({lines}, l -> regexp_matches(trim(l), '^[•\\-\\*]')))"
            f" / {nl} ELSE 0.0 END"
        ),
        "ellipsis_line_ratio": (
            f"CASE WHEN len({lines}) > 0 THEN "
            f"len(list_filter({lines}, l -> regexp_matches(l, '(\\.\\.\\.|…)$')))"
            f" / {nl} ELSE 0.0 END"
        ),
    }


def repetition_features(toks: Column) -> dict[str, Column]:
    """Repetition ratios over a LOWERCASED TOKEN-ARRAY ATTRIBUTE.

    ``toks`` must be a column reference from its own projection (not an
    inline tokenization expression): ``top_token_ratio`` evaluates a filter
    over ``toks`` inside a transform lambda, and Catalyst inlines outer
    EXPRESSIONS into lambda bodies without CSE — an inline tokenizer would
    re-run per distinct token (O(tokens²) per row); an attribute is free.

    * dup_token_ratio  — 1 − distinct/total tokens (0 for empty docs)
    * dup_bigram_ratio — 1 − distinct/total bigrams
    * top_token_ratio  — occurrences of the most frequent token / total
    """
    n = F.size(toks).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    bigrams = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(n - 1, F.lit(0)).cast("int")),
            lambda a, b: F.when(
                a.isNotNull() & b.isNotNull(), F.concat(a, F.lit(" "), b)
            ),
        ),
        lambda s: s.isNotNull(),
    )
    n_big = F.size(bigrams).cast("long")
    n_big_distinct = F.size(F.array_distinct(bigrams)).cast("long")
    top_count = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda d: F.size(F.filter(toks, lambda t: t == d)),
        )
    ).cast("long")
    return {
        "n_tokens": n,
        "dup_token_ratio": F.when(n > 0, (n - n_distinct) / n).otherwise(F.lit(0.0)),
        "dup_bigram_ratio": F.when(n_big > 0, (n_big - n_big_distinct) / n_big)
        .otherwise(F.lit(0.0)),
        "top_token_ratio": F.when(n > 0, top_count / n).otherwise(F.lit(0.0)),
    }


def repetition_oracle_exprs(toks_expr: str = "t") -> dict[str, str]:
    """DuckDB mirrors of ``repetition_features`` over a token-list column
    expression (same operand order → bit-identical doubles)."""
    n = f"len({toks_expr})"
    nd = f"len(list_distinct({toks_expr}))"
    big = (
        f"list_transform(range(1, len({toks_expr})), "
        f"i -> {toks_expr}[i] || ' ' || {toks_expr}[i+1])"
    )
    nb = f"len({big})"
    nbd = f"len(list_distinct({big}))"
    top = (
        f"list_max(list_transform(list_distinct({toks_expr}), "
        f"d -> len(list_filter({toks_expr}, t -> t = d))))"
    )
    return {
        "n_tokens": f"{n}::BIGINT",
        "dup_token_ratio":
            f"CASE WHEN {n} > 0 THEN ({n} - {nd}) / CAST({n} AS DOUBLE) ELSE 0.0 END",
        "dup_bigram_ratio":
            f"CASE WHEN {nb} > 0 THEN ({nb} - {nbd}) / CAST({nb} AS DOUBLE) ELSE 0.0 END",
        "top_token_ratio":
            f"CASE WHEN {n} > 0 THEN {top} / CAST({n} AS DOUBLE) ELSE 0.0 END",
    }


# ---------------------------------------------------------------------------
# Fingerprinting: md5 over whitespace-normalized lowercase text — the exact
# dedup key (rolling-hash shingle fingerprints live in operators/dedup.py).
# ---------------------------------------------------------------------------

def normalized_text(c: Column) -> Column:
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def fingerprint_md5(c: Column) -> Column:
    return F.md5(normalized_text(c))


FINGERPRINT_ORACLE_EXPR = (
    "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))"
)


# ---------------------------------------------------------------------------
# Unicode script profile: per-document counts of characters in the
# major writing systems + the dominant script — the multilingual-corpus
# routing signal (CCNet/mC4 bucket pages by script BEFORE language ID:
# lang-id models are per-script, and mixed-script pages are a spam
# signal). Counting is subtraction: len(text) - len(text with the script
# class removed) — one scan-local regexp per script, no tokenization, no
# UDF. Java regex spells the class \p{IsCyrillic}; RE2 (DuckDB) spells it
# \p{Cyrillic} — the oracle helper emits the RE2 form, the Column helper
# the Java form, over the SAME script list so the two cannot drift apart.
# BMP scripts only (all listed blocks are basic-plane, where Java
# length == codepoints == DuckDB length).
# ---------------------------------------------------------------------------

SCRIPT_CLASSES = [
    ("latin", "Latin"), ("cyrillic", "Cyrillic"), ("greek", "Greek"),
    ("arabic", "Arabic"), ("hebrew", "Hebrew"),
    ("devanagari", "Devanagari"), ("han", "Han"), ("hangul", "Hangul"),
]


def script_counts(c: Column) -> dict[str, Column]:
    out: dict[str, Column] = {}
    for name, cls in SCRIPT_CLASSES:
        out[name] = (
            F.length(c)
            - F.length(F.regexp_replace(c, f"[\\p{{Is{cls}}}]", ""))
        ).cast("bigint")
    return out


def dominant_script(counts: dict[str, Column]) -> Column:
    """Script with the highest count; ties break by SCRIPT_CLASSES order
    (latin first); 'none' when no script character occurs. Max via ONE
    array_max over (n, priority, name) structs — struct comparison is
    lexicographic, so priority = -index makes the earlier script win
    ties; the struct array binds the counts once (no expression
    doubling), and the SQL twin below picks with the identical
    list_max."""
    elems = [
        F.struct(
            counts[name].alias("n"),
            F.lit(-i).alias("p"),
            F.lit(name).alias("s"),
        )
        for i, (name, _) in enumerate(SCRIPT_CLASSES)
    ]
    m = F.array_max(F.array(*elems))
    return F.element_at(
        F.transform(
            F.array(m),
            lambda mm: F.when(mm["n"] > 0, mm["s"]).otherwise(F.lit("none")),
        ),
        1,
    )


def script_count_oracle_sql(name: str, text_expr: str = "text") -> str:
    cls = dict(SCRIPT_CLASSES)[name]
    return (
        f"CAST(length({text_expr}) - length(regexp_replace({text_expr}, "
        f"'[\\p{{{cls}}}]', '', 'g')) AS BIGINT)"
    )


def dominant_script_oracle_sql(text_expr: str = "text") -> str:
    elems = ", ".join(
        f"{{'n': {script_count_oracle_sql(name, text_expr)}, "
        f"'p': {-i}, 's': '{name}'}}"
        for i, (name, _) in enumerate(SCRIPT_CLASSES)
    )
    m = f"list_max([{elems}])"
    return f"CASE WHEN ({m}).n > 0 THEN ({m}).s ELSE 'none' END"
