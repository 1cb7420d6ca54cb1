"""Byte-Pair-Encoding tokenizer (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units") — train + encode as engine
operators, the tokenizer-construction stage of an LLM data pipeline.

Train: BPE learns merges from WORD-TYPE frequencies, not the raw corpus —
so the corpus collapses to a (word, freq) relation first (one groupBy with
map-side combine; vocabulary-sized output, Zipf-bounded). The merge loop
itself runs driver-side over that bounded table, the same shape every
production tokenizer trainer uses (aggregate counts distributed, learn
merges single-node): ``max_word_types`` caps the driver transfer via
TakeOrderedAndProject exactly like the ANN quantizer's bounded sample
(operators/similarity.py) — top types by frequency carry essentially all
of the mass, the standard practice. Ties in pair frequency break
lexicographically so training is deterministic across runs and engines.

Encode: the learned merge ranks broadcast to an Arrow-batched pandas UDF
that applies the classic lowest-rank-first merge loop per word, with a
per-batch word→tokens memo (Zipf makes the cache hit rate enormous; the
UDF does ~unique-words work, not ~tokens work). Word boundary = the
``</w>`` end-of-word marker, Sennrich's original scheme, so decoding is
concatenate-and-split — round-trip-tested.

No SQL engine can express the iterative merge recursion, so the
registered query is rows-only at the driver; correctness is pinned by
pytest against an independently written pure-Python reference
implementation plus structural properties (monotone compression,
round-trip reconstruction, merge-order determinism).

Reference behavioral anchor: the reference repo tokenizes only for
search (analyzers); subword tokenization extends the engine along
SURVEY §6's LLM-training-data north star.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tweets_elastic_spark.functions.analyzers import lower_alnum_tokens

END = "</w>"


def word_freqs(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(word, freq) over the lowercase alnum pre-tokenization — the
    aggregated relation BPE trains on. One shuffle; map-side combine does
    the heavy lifting (output is vocabulary-sized, Zipf-bounded)."""
    toks = docs.select(
        F.explode(lower_alnum_tokens(F.col(text_col))).alias("word")
    )
    return toks.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))


def _pair_stats(vocab: dict[tuple[str, ...], int]) -> dict[tuple[str, str], int]:
    stats: dict[tuple[str, str], int] = {}
    for syms, freq in vocab.items():
        for a, b in zip(syms, syms[1:]):
            stats[(a, b)] = stats.get((a, b), 0) + freq
    return stats


def _merge_word(
    syms: tuple[str, ...], pair: tuple[str, str]
) -> tuple[str, ...]:
    a, b = pair
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def train_bpe_from_freqs(
    freqs: list[tuple[str, int]], num_merges: int
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` merges from (word, freq) pairs — the classic
    Sennrich loop, deterministic: best pair by (frequency desc, pair asc).
    Stops early when no pair occurs twice."""
    vocab: dict[tuple[str, ...], int] = {}
    for w, f in freqs:
        syms = tuple(w) + (END,)
        vocab[syms] = vocab.get(syms, 0) + f
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        stats = _pair_stats(vocab)
        if not stats:
            break
        # deterministic: max frequency, lexicographically smallest pair
        top = max(stats.values())
        if top < 2:
            break
        best = min(p for p, n in stats.items() if n == top)
        merges.append(best)
        vocab = {
            _merge_word(syms, best): f for syms, f in vocab.items()
        }
    return merges


def bpe_train(
    docs: DataFrame,
    num_merges: int,
    *,
    text_col: str = "text",
    max_word_types: int = 65536,
) -> list[tuple[str, str]]:
    """Distributed count aggregation + bounded driver-side merge learning.
    The collect is capped at ``max_word_types`` rows (top by frequency,
    word asc tie-break — TakeOrderedAndProject, never a full collect)."""
    rows = (
        word_freqs(docs, text_col)
        .orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(int(max_word_types))
        .collect()
    )
    return train_bpe_from_freqs([(r["word"], r["freq"]) for r in rows], num_merges)


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Classic BPE encode: repeatedly merge the LOWEST-RANK pair present
    (training order, not textual order)."""
    syms = list(word) + [END]
    while len(syms) > 1:
        pairs = [(ranks.get((a, b)), i)
                 for i, (a, b) in enumerate(zip(syms, syms[1:]))
                 if (a, b) in ranks]
        if not pairs:
            break
        _, i = min(pairs)
        syms[i:i + 2] = [syms[i] + syms[i + 1]]
    return syms


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    *,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Append ``out_col``: the BPE token sequence of the document (word
    pre-tokenization, then per-word merge loop). Arrow-batched pandas UDF
    with a per-batch word memo — work scales with UNIQUE words per batch
    (Zipf), not token count; the merge table broadcasts inside the
    serialized closure (a few KB)."""

    ranks = {pair: i for i, pair in enumerate(merges)}

    @F.pandas_udf("array<string>")
    def _encode(texts: pd.Series) -> pd.Series:
        memo: dict[str, list[str]] = {}

        def enc(text) -> list[str]:
            if text is None:
                return []
            out: list[str] = []
            for w in re.split(r"[^a-z0-9]+", text.lower()):
                if not w:
                    continue
                got = memo.get(w)
                if got is None:
                    got = memo[w] = encode_word(w, ranks)
                out.extend(got)
            return out

        return texts.map(enc)

    return docs.withColumn(out_col, _encode(F.col(text_col)))
