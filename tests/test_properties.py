"""Property-based tests (hypothesis) for the analyzer/dedup primitives —
structural invariants that hold for ALL inputs, not just fixtures
(SURVEY §5.1: the reference has no property testing; §5.2 adds it).

Each property evaluates one small Spark job per example; examples are
capped so the suite stays fast.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from tweets_elastic_spark.functions.analyzers import char_ngrams, shingles
from tweets_elastic_spark.functions.textstats import normalized_text
from tweets_elastic_spark.operators.dedup import word_shingles_from_tokens

# lowercase word tokens: what survives the tokenizers unchanged
WORD = st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=8)
WORDS = st.lists(WORD, min_size=0, max_size=12)

PROP = settings(max_examples=12, deadline=None)


def _eval(spark, col):
    return spark.range(1).select(col.alias("v")).head()["v"]


@PROP
@given(words=WORDS)
def test_word_shingles_structure(spark, words):
    """Every k-shingle has exactly k words; distinct; count ≤ n-k+1; short
    texts collapse to one whole-text shingle."""
    text = " ".join(words)
    toks = F.array(*[F.lit(w) for w in words]).cast("array<string>")
    out = _eval(spark, word_shingles_from_tokens(toks, 3))
    n = len(words)
    if n == 0:
        assert out == []
    elif n < 3:
        assert out == [" ".join(words)]
    else:
        assert len(out) == len(set(out)) <= n - 2
        assert all(len(s.split(" ")) == 3 for s in out)
        # each shingle is a contiguous trigram of the source
        assert all(s in text for s in out)


@PROP
@given(words=st.lists(WORD, min_size=1, max_size=10))
def test_shingle_filter_emits_unigrams_plus_glued_bigrams(spark, words):
    """T10: output = n unigrams followed by n-1 glued bigrams, order-preserving."""
    arr = F.array(*[F.lit(w) for w in words])
    out = _eval(spark, shingles(arr))
    n = len(words)
    assert len(out) == 2 * n - 1
    assert out[:n] == words
    assert out[n:] == [words[i] + words[i + 1] for i in range(n - 1)]


@PROP
@given(token=WORD)
def test_char_ngrams_count_formula(spark, token):
    """T9: Σ_{i=1..L} min(max_gram, L-i+1) grams, position-major, all
    substrings of the token."""
    out = _eval(spark, char_ngrams(F.array(F.lit(token)), 1, 10))
    L = len(token)
    assert len(out) == sum(min(10, L - i + 1) for i in range(1, L + 1))
    assert all(g in token for g in out)
    # position-major: first L-or-10 entries are prefixes of the token
    assert out[0] == token[0]


@PROP
@given(
    words=st.lists(WORD, min_size=1, max_size=8),
    case_flips=st.lists(st.booleans(), min_size=1, max_size=8),
)
def test_normalized_text_whitespace_case_invariant(spark, words, case_flips):
    """The exact-dedup identity is invariant under whitespace runs and case
    — the property the fingerprint groupBy relies on — and idempotent."""
    base = " ".join(words)
    mangled = "  ".join(
        w.upper() if flip else w
        for w, flip in zip(words, case_flips * len(words))
    )
    a = _eval(spark, normalized_text(F.lit(base)))
    b = _eval(spark, normalized_text(F.lit(mangled)))
    assert a == b
    assert _eval(spark, normalized_text(F.lit(a))) == a


# -- round-6 operators -------------------------------------------------------

@PROP
@given(
    freqs=st.dictionaries(WORD, st.integers(1, 50), min_size=1, max_size=8),
    n=st.integers(0, 30),
)
def test_bpe_roundtrip_and_merge_validity(freqs, n):
    """For ANY word-frequency table: every merge pair was adjacent in some
    word at its merge time, and encoding any trained-on word then joining
    its tokens reconstructs word + end marker."""
    from tweets_elastic_spark.operators.bpe import (
        END, encode_word, train_bpe_from_freqs,
    )

    merges = train_bpe_from_freqs(list(freqs.items()), n)
    assert len(merges) == len(set(merges))  # no pair learned twice
    ranks = {p: i for i, p in enumerate(merges)}
    for w in freqs:
        toks = encode_word(w, ranks)
        assert "".join(toks) == w + END


@PROP
@given(
    counts=st.lists(st.integers(1, 1000), min_size=1, max_size=6),
    budget=st.floats(1.0, 10000.0),
    max_epochs=st.floats(0.5, 4.0),
)
def test_unimax_allocation_conserves_budget(spark, counts, budget, max_epochs):
    """Σ quota == min(budget, Σ caps) up to float tolerance, and no
    language ever exceeds its cap."""
    from tweets_elastic_spark.operators.sampling import unimax_allocation

    df = spark.createDataFrame(
        [(f"l{i}", c) for i, c in enumerate(counts)], "lang string, n_tok long"
    )
    rows = unimax_allocation(df, budget, max_epochs).collect()
    caps = {f"l{i}": c * max_epochs for i, c in enumerate(counts)}
    total = sum(r["quota"] for r in rows)
    expect = min(budget, sum(caps.values()))
    assert abs(total - expect) < 1e-4 * max(1.0, expect)
    for r in rows:
        assert r["quota"] <= caps[r["lang"]] + 1e-6


@PROP
@given(
    n_words=st.integers(0, 40),
    max_tokens=st.integers(2, 12),
    overlap=st.integers(0, 6),
)
def test_chunk_documents_cover_and_bound(spark, n_words, max_tokens, overlap):
    """Every token appears in some chunk, no chunk exceeds max_tokens,
    and consecutive chunks advance by exactly stride."""
    from tweets_elastic_spark.operators.curation import chunk_documents

    if overlap >= max_tokens:
        overlap = max_tokens - 1
    text = " ".join(f"w{i}" for i in range(n_words))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        chunk_documents(df, max_tokens=max_tokens, overlap=overlap).collect(),
        key=lambda r: r["chunk_id"],
    )
    if n_words == 0:
        assert rows == []
        return
    stride = max_tokens - overlap
    covered = set()
    for r in rows:
        toks = r["chunk_text"].split()
        assert len(toks) == r["n_tok"] <= max_tokens
        assert toks[0] == f"w{r['chunk_id'] * stride}"
        covered.update(toks)
    assert covered == {f"w{i}" for i in range(n_words)}
