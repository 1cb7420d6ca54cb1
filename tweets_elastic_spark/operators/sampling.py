"""Deterministic corpus splitting / sampling for training-data pipelines.

Train/val/test assignment must be a pure function of the document id —
stable across runs, engines, partitionings, and corpus growth (a doc never
migrates between splits when new data arrives). Spark's ``randomSplit`` is
none of those (seed + partition dependent). Here the assignment hashes the
id with md5 and buckets the first 8 hex chars against cumulative-fraction
thresholds: one codegen'd projection, no shuffle, no state — and exactly
reproducible in any engine with md5 (the DuckDB oracles inline the same
hex thresholds).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tweets_elastic_spark.functions.analyzers import lower_alnum_tokens

_HEX_SPACE = 16 ** 8


def split_thresholds(fractions: dict[str, float]) -> list[tuple[str, str]]:
    """(name, upper-bound-hex) per split, cumulative over the declared
    order; the last bound is forced to the top of the space so fractions
    that don't sum exactly to 1.0 still cover every row."""
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split fractions must sum to 1.0, got {total}")
    out, cum = [], 0.0
    names = list(fractions)
    for name in names:
        cum += fractions[name]
        bound = _HEX_SPACE if name == names[-1] else round(cum * _HEX_SPACE)
        out.append((name, format(min(bound, _HEX_SPACE), "09x")[-8:]
                    if bound < _HEX_SPACE else "g" * 8))
    # 'gggggggg' sorts above every hex string — the catch-all last bucket
    return out


def split_hash_col(id_col: Column, salt: str = "split") -> Column:
    """First 8 hex chars of md5(id ':' salt) — the bucketing key. The salt
    decorrelates independent splits of the same corpus (resample by
    changing it without touching the data)."""
    return F.substring(
        F.md5(F.concat(id_col.cast("string"), F.lit(":" + salt))), 1, 8
    )


def deterministic_split(
    df: DataFrame,
    id_col: str = "doc_id",
    fractions: dict[str, float] | None = None,
    salt: str = "split",
    split_col: str = "split",
) -> DataFrame:
    """Adds ``split_col`` with the id's bucket name. Pure projection —
    survives any repartitioning and appends; at 100 TB it's free (rides
    whatever scan is already happening, no shuffle, no Python)."""
    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    h = split_hash_col(F.col(id_col), salt)
    expr: Column | None = None
    for name, bound in reversed(split_thresholds(fractions)):
        expr = (
            F.lit(name)
            if expr is None
            else F.when(h < F.lit(bound), F.lit(name)).otherwise(expr)
        )
    return df.withColumn(split_col, expr)


def unimax_allocation(
    lang_totals: DataFrame,
    budget: float,
    max_epochs: float = 4.0,
    lang_col: str = "lang",
    total_col: str = "n_tok",
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    More Effective Language Sampling for Large-Scale Multilingual
    Pretraining"): spread a token ``budget`` as UNIFORMLY as possible
    across languages, capping every language at ``max_epochs`` passes over
    its own corpus and redistributing the surplus to the rest — the
    water-filling allocation.

    Closed form instead of the paper's iterative loop, so the whole thing
    is ONE declarative plan over the (tiny, language-count-sized)
    ``lang_totals`` relation and is reproducible in ANSI SQL: with caps
    c_i = max_epochs · n_i sorted ascending, the water level λ satisfies
    Σ min(c_i, λ) = budget; for each prefix position i,
    λ_i = (budget − cum_{i−1}) / (L − i + 1) is the level IF languages
    1..i−1 sit at their caps — the valid row is the FIRST with λ_i ≤ c_i,
    and quota_i = min(c_i, λ). If even Σc_i ≤ budget every language gets
    its cap (the budget cannot be spent under the epoch limit).

    Returns (lang, n_tok, quota). Window functions over an L-row relation
    — the coordinator-side math, kept in-plan so the oracle can replay it.
    """
    if max_epochs <= 0 or budget <= 0:
        raise ValueError(
            f"budget and max_epochs must be > 0, got {budget}, {max_epochs}"
        )
    w = Window.orderBy(F.col("_cap").asc(), F.col(lang_col).asc())
    capped = lang_totals.withColumn(
        "_cap", F.col(total_col).cast("double") * F.lit(float(max_epochs))
    )
    lvl = (
        capped
        .withColumn("_i", F.row_number().over(w))
        .withColumn("_cum_prev",
                    F.coalesce(
                        F.sum("_cap").over(
                            w.rowsBetween(Window.unboundedPreceding, -1)
                        ),
                        F.lit(0.0),
                    ))
        .withColumn("_L", F.count(F.lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)))
        .withColumn(
            "_lambda",
            (F.lit(float(budget)) - F.col("_cum_prev"))
            / (F.col("_L") - F.col("_i") + 1),
        )
    )
    # valid rows (λ_i ≤ c_i) have NON-INCREASING λ from the first valid
    # position on, so the first valid — the true water level — is the max
    level = lvl.filter(F.col("_lambda") <= F.col("_cap")) \
        .agg(F.max("_lambda").alias("_level"))
    return (
        capped.crossJoin(F.broadcast(level))
        .select(
            lang_col,
            total_col,
            F.round(
                F.least(
                    F.col("_cap"),
                    F.coalesce(F.col("_level"), F.lit(float("inf"))),
                ),
                6,
            ).alias("quota"),
        )
    )


def unimax_sample(
    docs: DataFrame,
    budget: float,
    max_epochs: float = 4.0,
    *,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    text_col: str = "text",
    seed: str = "unimax",
) -> DataFrame:
    """Materialize the UniMax allocation as a per-document epoch count:
    each language's docs are ordered by the portable md5 hash of
    (seed, id) (a deterministic shuffle), token counts cumulate in that
    order, and a doc repeats ``floor(quota/n_lang)`` times plus once more
    while the running remainder lasts. ``epochs = 0`` rows are dropped.

    Scale shape: the per-language cumulative sum is ONE window per
    language partition (a sort within the lang shuffle); the allocation
    table is language-count-sized and broadcasts. Docs are not physically
    duplicated — the shards stage repeats by ``epochs`` at write time.

    Returns (id, lang, n_tok, epochs)."""
    toks = docs.select(
        F.col(id_col),
        F.col(lang_col),
        F.size(lower_alnum_tokens(F.col(text_col)))
        .cast("long").alias("n_tok"),
    ).filter(F.col(lang_col).isNotNull())
    totals = toks.groupBy(lang_col).agg(F.sum("n_tok").alias("n_tok"))
    alloc = unimax_allocation(
        totals, budget, max_epochs, lang_col=lang_col, total_col="n_tok"
    ).select(
        lang_col,
        F.col("n_tok").alias("_lang_tok"),
        "quota",
    )
    h = F.substring(
        F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))),
        1, 15,
    )
    w = Window.partitionBy(lang_col).orderBy(h.asc(), F.col(id_col).asc())
    full = F.floor(F.col("quota") / F.col("_lang_tok")).cast("long")
    remainder = F.col("quota") - full.cast("double") * F.col("_lang_tok")
    out = (
        toks.join(F.broadcast(alloc), lang_col)
        .withColumn("_cum", F.sum("n_tok").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn(
            "epochs",
            (full + F.when(F.col("_cum") <= remainder, 1).otherwise(0))
            .cast("long"),
        )
        .filter(F.col("epochs") >= 1)
        .select(id_col, lang_col, "n_tok", "epochs")
    )
    return out
