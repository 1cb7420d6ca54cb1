"""Seeded input generator for the workload benchmark.

Everything the engine reads in a benchmark run comes from here: parquet
files, plus the ES request bodies the search client sends. The same seed
gives byte-identical inputs; different seeds give inputs of the same size and
the same statistical shape, so run-to-run spread measures the engine, not the
data.

Three input families:

* ``write_tweet_star`` — the ten tweets-star tables ``pipeline`` reads.
  Conversation text draws words from a Zipf(1.1) vocabulary with diacritics,
  HTML fragments, possessives and hashtags; per-conversation child counts
  (hashtags, annotations, context annotations, links) are geometric, so a
  few conversations carry many children; a fixed share reply to an earlier
  conversation.
* ``write_corpus`` — the ``documents``/``embeddings`` pair the curation
  operators read. ``NEAR_DUP_RATE`` of the documents are
  near-duplicates of an earlier document (one word replaced) and
  ``EXACT_DUP_RATE`` exact copies (whitespace and case changed); each
  duplicate's embedding is its source's plus small noise.
* ``request_stream`` — the search mix: BM25 ``match``/``multi_match``, the
  reference's ``function_score``/``nested``/``range``/``exists`` query, a
  ``terms`` → ``date_histogram`` aggregation and sorted ``search_after``
  hits. Query words are drawn Zipf-skewed from the same vocabulary as the
  text.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZIPF_S = 1.1
VOCAB_SIZE = 4000
EMB_DIM = 16
NEAR_DUP_RATE = 0.08
EXACT_DUP_RATE = 0.04
REPLY_RATE = 0.3
LANGS = ["en", "sk", "de", "es"]
LANG_P = [0.55, 0.25, 0.12, 0.08]
SOURCES = ["Twitter for Android", "Twitter Web App", "Twitter for iPhone", "TweetDeck"]
HTML_FRAGMENTS = [
    "<a href='https://t.co/x'>link</a>",
    "<b>breaking</b>",
    "&amp;",
    "<br/>",
    "<i>via</i> &quot;news&quot;",
]
DOMAIN_NAMES = ["Person", "Brand", "Place", "Event", "Interests and Hobbies Category"]
EPOCH_2022 = int(datetime(2022, 2, 24, tzinfo=timezone.utc).timestamp() * 1_000_000)

_ONSETS = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s", "t",
           "v", "z", "br", "st", "tr", "ch", "sk", "pr"]
_VOWELS = ["a", "e", "i", "o", "u", "y", "á", "é", "í", "ó", "ú", "ä", "ô", "ü"]
_CODAS = ["", "", "n", "r", "s", "k", "t", "l", "m", "č", "š", "ž"]


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding a draw to one
    stream never shifts another."""
    key = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.default_rng([int(seed), key])


def vocabulary(seed: int, size: int = VOCAB_SIZE) -> list[str]:
    """``size`` distinct pseudo-words, most frequent first. About a third
    carry a diacritic, so ascii folding has work to do."""
    rng = _rng(seed, "vocab")
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n_syll = 1 + int(rng.integers(0, 3))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))]
            + _VOWELS[rng.integers(len(_VOWELS))]
            + _CODAS[rng.integers(len(_CODAS))]
            for _ in range(n_syll)
        )
        if len(w) >= 3 and w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_probs(n: int, s: float = ZIPF_S) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _texts(rng, words, probs, n, lo, hi, html_rate=0.0, hashtags=None):
    """``n`` texts of ``lo..hi`` Zipf-drawn words, some with an HTML
    fragment, a possessive, a hashtag or a capitalised first word."""
    lens = rng.integers(lo, hi + 1, size=n)
    draws = rng.choice(len(words), size=int(lens.sum()), p=probs)
    out = []
    pos = 0
    for i in range(n):
        toks = [words[j] for j in draws[pos:pos + lens[i]]]
        pos += lens[i]
        if html_rate and rng.random() < html_rate:
            toks.insert(int(rng.integers(len(toks) + 1)),
                        HTML_FRAGMENTS[rng.integers(len(HTML_FRAGMENTS))])
        if rng.random() < 0.15:
            k = int(rng.integers(len(toks)))
            toks[k] = toks[k] + "'s"
        if hashtags is not None and rng.random() < 0.5:
            toks.append("#" + hashtags[int(rng.integers(len(hashtags)))])
        if rng.random() < 0.3:
            toks[0] = toks[0].capitalize()
        out.append(" ".join(toks))
    return out


def _write(path: str, columns: dict, schema: pa.Schema) -> None:
    pq.write_table(pa.table(columns, schema=schema), path)


def _geometric_children(rng, n_parents: int, mean: float) -> np.ndarray:
    """Per-parent child counts: geometric with the given mean, so most
    parents have zero or one child and a few have many (the skew a
    denormalizing group-by meets in real tweet data)."""
    p = 1.0 / (1.0 + mean)
    return rng.geometric(p, size=n_parents) - 1


def write_tweet_star(out_dir: str, seed: int, n_conversations: int) -> dict:
    """Write the tweets star schema under ``out_dir``. Returns the number
    of conversations and the ids the ETL must document: conversations whose
    author exists."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, "star")
    words = vocabulary(seed)
    probs = zipf_probs(len(words))
    n = n_conversations
    n_authors = max(10, n // 5)
    hashtags = [w.capitalize() for w in words[:200]]

    author_ids = np.arange(1, n_authors + 1, dtype=np.int64)
    _write(os.path.join(out_dir, "authors.parquet"), {
        "id": author_ids,
        "name": [f"Author {i} {words[i % 50].capitalize()}" for i in author_ids],
        "username": [f"user{i}" for i in author_ids],
        "description": _texts(rng, words, probs, n_authors, 3, 10, html_rate=0.2),
        "followers_count": rng.zipf(1.6, n_authors).clip(0, 10**7).astype(np.int32),
        "following_count": rng.zipf(1.6, n_authors).clip(0, 10**6).astype(np.int32),
        "tweet_count": rng.integers(0, 50000, n_authors).astype(np.int32),
        "listed_count": rng.integers(0, 500, n_authors).astype(np.int32),
    }, pa.schema([("id", pa.int64()), ("name", pa.string()), ("username", pa.string()),
                  ("description", pa.string()), ("followers_count", pa.int32()),
                  ("following_count", pa.int32()), ("tweet_count", pa.int32()),
                  ("listed_count", pa.int32())]))

    conv_ids = np.arange(1, n + 1, dtype=np.int64)
    # 2% of conversations point at an author id past the table: they drop
    # at the author inner join, as deleted accounts do in the reference.
    conv_author = rng.integers(1, n_authors + 1, n).astype(np.int64)
    orphan = rng.random(n) < 0.02
    conv_author[orphan] = n_authors + 1 + np.arange(orphan.sum())
    _write(os.path.join(out_dir, "conversations.parquet"), {
        "id": conv_ids,
        "content": _texts(rng, words, probs, n, 6, 30, html_rate=0.25, hashtags=hashtags),
        "possibly_sensitive": rng.random(n) < 0.05,
        "language": rng.choice(LANGS, size=n, p=LANG_P),
        "source": rng.choice(SOURCES, size=n),
        "retweet_count": rng.zipf(1.8, n).clip(0, 10**6).astype(np.int32),
        "reply_count": rng.zipf(2.0, n).clip(0, 10**5).astype(np.int32),
        "like_count": rng.zipf(1.5, n).clip(0, 10**7).astype(np.int32),
        "quote_count": rng.zipf(2.2, n).clip(0, 10**5).astype(np.int32),
        "created_at": pa.array(EPOCH_2022 + conv_ids * 37_000_000, pa.timestamp("us", tz="UTC")),
        "author_id": conv_author,
    }, pa.schema([("id", pa.int64()), ("content", pa.string()),
                  ("possibly_sensitive", pa.bool_()), ("language", pa.string()),
                  ("source", pa.string()), ("retweet_count", pa.int32()),
                  ("reply_count", pa.int32()), ("like_count", pa.int32()),
                  ("quote_count", pa.int32()),
                  ("created_at", pa.timestamp("us", tz="UTC")), ("author_id", pa.int64())]))

    n_ent, n_dom = 300, len(DOMAIN_NAMES)
    id_name_desc = pa.schema([("id", pa.int64()), ("name", pa.string()),
                              ("description", pa.string())])
    _write(os.path.join(out_dir, "context_entities.parquet"), {
        "id": np.arange(1, n_ent + 1, dtype=np.int64),
        "name": [words[i].capitalize() for i in range(n_ent)],
        "description": [None if i % 3 == 0 else f"entity {words[i]}" for i in range(n_ent)],
    }, id_name_desc)
    _write(os.path.join(out_dir, "context_domains.parquet"), {
        "id": np.arange(1, n_dom + 1, dtype=np.int64),
        "name": DOMAIN_NAMES,
        "description": [f"{d} domain" for d in DOMAIN_NAMES],
    }, id_name_desc)
    _write(os.path.join(out_dir, "hashtags.parquet"), {
        "id": np.arange(1, len(hashtags) + 1, dtype=np.int64), "tag": hashtags,
    }, pa.schema([("id", pa.int64()), ("tag", pa.string())]))

    def child_rows(mean):
        counts = _geometric_children(rng, n, mean)
        return np.repeat(conv_ids, counts)

    ca_conv = child_rows(1.2)
    m = len(ca_conv)
    _write(os.path.join(out_dir, "context_annotations.parquet"), {
        "id": np.arange(1, m + 1, dtype=np.int64),
        "conversation_id": ca_conv,
        "context_entity_id": (rng.zipf(1.3, m) % n_ent + 1).astype(np.int64),
        "context_domain_id": rng.choice(np.arange(1, n_dom + 1), size=m,
                                        p=[0.4, 0.2, 0.2, 0.1, 0.1]).astype(np.int64),
    }, pa.schema([("id", pa.int64()), ("conversation_id", pa.int64()),
                  ("context_entity_id", pa.int64()), ("context_domain_id", pa.int64())]))

    ch_conv = child_rows(0.9)
    m = len(ch_conv)
    _write(os.path.join(out_dir, "conversation_hashtags.parquet"), {
        "id": np.arange(1, m + 1, dtype=np.int64),
        "conversation_id": ch_conv,
        "hashtag_id": (rng.zipf(1.4, m) % len(hashtags) + 1).astype(np.int64),
    }, pa.schema([("id", pa.int64()), ("conversation_id", pa.int64()),
                  ("hashtag_id", pa.int64())]))

    an_conv = child_rows(0.8)
    m = len(an_conv)
    _write(os.path.join(out_dir, "annotations.parquet"), {
        "id": np.arange(1, m + 1, dtype=np.int64),
        "conversation_id": an_conv,
        "value": [words[j].upper() for j in rng.choice(len(words), m, p=probs)],
        "type": rng.choice(["Place", "Person", "Organization", "Other"], size=m),
        "probability": rng.random(m).astype(np.float32),
    }, pa.schema([("id", pa.int64()), ("conversation_id", pa.int64()),
                  ("value", pa.string()), ("type", pa.string()),
                  ("probability", pa.float32())]))

    li_conv = child_rows(0.6)
    m = len(li_conv)
    li_ids = np.arange(1, m + 1, dtype=np.int64)
    _write(os.path.join(out_dir, "links.parquet"), {
        "id": li_ids,
        "conversation_id": li_conv,
        "url": [None if rng.random() < 0.05 else f"https://t.co/{i:x}" for i in li_ids],
        "title": [None if rng.random() < 0.5 else f"title {words[i % 500]}" for i in li_ids],
        "description": [None if rng.random() < 0.6 else f"about {words[i % 700]}" for i in li_ids],
    }, pa.schema([("id", pa.int64()), ("conversation_id", pa.int64()),
                  ("url", pa.string()), ("title", pa.string()),
                  ("description", pa.string())]))

    replies = conv_ids[(rng.random(n) < REPLY_RATE) & (conv_ids > 1)]
    m = len(replies)
    parents = (rng.random(m) * (replies - 1)).astype(np.int64) + 1
    _write(os.path.join(out_dir, "conversation_references.parquet"), {
        "id": np.arange(1, m + 1, dtype=np.int64),
        "conversation_id": replies,
        "parent_id": parents,
        "type": rng.choice(["retweeted", "quoted", "replied_to"], size=m),
    }, pa.schema([("id", pa.int64()), ("conversation_id", pa.int64()),
                  ("parent_id", pa.int64()), ("type", pa.string())]))

    return {"documents": int((~orphan).sum()), "conversations": n,
            "doc_ids": sorted(int(i) for i in conv_ids[~orphan])}


DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
EMB_SCHEMA = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))])


def corpus_batch(seed: int, n: int, batch: int) -> dict:
    """``n`` documents with ids ``0..n-1`` and their embeddings, as column
    dicts. Duplicates point only at earlier rows of the same batch, so every
    batch carries the stated duplicate rates. Embeddings are 32 Gaussian
    clusters plus noise; a duplicate's vector is its source's plus 1%
    noise."""
    rng = _rng(seed, f"corpus-{batch}")
    words = vocabulary(seed)
    probs = zipf_probs(len(words))
    texts = _texts(rng, words, probs, n, 20, 60, html_rate=0.1)
    centers = rng.standard_normal((32, EMB_DIM))
    emb = centers[rng.integers(0, 32, n)] + 0.8 * rng.standard_normal((n, EMB_DIM))
    kind = rng.random(n)
    src = (rng.random(n) * np.arange(n)).astype(np.int64)
    for i in range(1, n):
        if kind[i] < EXACT_DUP_RATE:
            texts[i] = "  " + texts[src[i]].upper() + " "
            emb[i] = emb[src[i]]
        elif kind[i] < EXACT_DUP_RATE + NEAR_DUP_RATE:
            toks = texts[src[i]].split(" ")
            toks[int(rng.integers(len(toks)))] = words[int(rng.integers(len(words)))]
            texts[i] = " ".join(toks)
            emb[i] = emb[src[i]] + 0.01 * rng.standard_normal(EMB_DIM)
    ids = np.arange(n, dtype=np.int64)
    docs = {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, size=n, p=LANG_P),
        "source": rng.choice([f"src{i}" for i in range(6)], size=n),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    vecs = pa.array([row.astype(np.float32) for row in emb], pa.list_(pa.float32()))
    return {"documents": docs, "embeddings": {"vec_id": ids, "embedding": vecs}}


def write_corpus(corpus_dir: str, seed: int, n: int, batch: int) -> list[str]:
    """Write batch ``batch`` of ``n`` documents and embeddings as
    ``documents.parquet`` and ``embeddings.parquet`` under ``corpus_dir``;
    returns the texts in id order (ids ``0..n-1``)."""
    os.makedirs(corpus_dir, exist_ok=True)
    cols = corpus_batch(seed, n, batch)
    _write(os.path.join(corpus_dir, "documents.parquet"), cols["documents"], DOC_SCHEMA)
    _write(os.path.join(corpus_dir, "embeddings.parquet"), cols["embeddings"], EMB_SCHEMA)
    return cols["documents"]["text"]


REQUEST_BLOCK = ["match", "multi_match", "reference", "reference", "reference",
                 "reference", "reference", "sorted", "sorted", "aggs"]


def request_stream(seed: int, n_blocks: int, warmup: int = 0) -> list[dict]:
    """The search mix over the tweet-document index, one dict per request:
    ``kind`` plus its ES request body. ``warmup`` requests of the distinct
    kinds come first, then ``n_blocks`` blocks.

    Every block holds the kinds of ``REQUEST_BLOCK`` in a seeded order:
    BM25 ``match`` (bool should + filter, the registered BM25 shape) and
    ``multi_match``; the reference's ``function_score``/``nested``/
    ``range``/``exists`` query; a ``terms`` → ``date_histogram``
    aggregation; sorted hits with a ``search_after`` cursor. Query words are
    Zipf-skewed draws from vocabulary ranks 5..400. In a block, the
    ``match`` carries query text never sent before and the ``multi_match``
    repeats an earlier text, so a fixed share of requests meets warm
    query-analysis and statistics caches, the way repeated real queries
    do, whatever the seed (warm-up requests all carry fresh text). Fixed
    proportions keep the latency distribution's shape the same for every
    seed, and put its median in the middle of one request kind: the five
    reference queries sit between the two cheaper sorted pages and the
    three dearer requests, so the median is the reference query's, not a
    boundary between kinds that moves with the seed's data."""
    rng = _rng(seed, "requests")
    words = vocabulary(seed)
    qwords = words[5:400]
    qprobs = zipf_probs(len(qwords))
    seen: list[str] = []

    def fresh_text() -> str:
        while True:
            text = " ".join(qwords[j] for j in rng.choice(len(qwords), 2, p=qprobs))
            if text not in seen:
                seen.append(text)
                return text

    kinds = list(dict.fromkeys(REQUEST_BLOCK))[:warmup]
    kinds = [kinds[j] for j in rng.permutation(len(kinds))]
    for _ in range(n_blocks):
        kinds += [REQUEST_BLOCK[j] for j in rng.permutation(len(REQUEST_BLOCK))]
    out = []
    for i, kind in enumerate(kinds):
        lang = str(rng.choice(LANGS[:2]))
        if kind == "multi_match" and i >= warmup:
            terms = seen[int(rng.integers(len(seen)))]
        elif kind in ("match", "multi_match"):
            terms = fresh_text()
        if kind == "match":
            body = {"query": {"bool": {
                "should": [{"match": {"content": {"query": terms}}}],
                "filter": [{"term": {"language": lang}},
                           {"match": {"content": terms}}]}}, "size": 10}
        elif kind == "multi_match":
            body = {"query": {"multi_match": {"query": terms, "fields": ["content^2"],
                                              "type": "most_fields"}}, "size": 10}
        elif kind == "reference":
            body = {"query": {"function_score": {"query": {"bool": {
                "should": [{"query": {"nested": {
                    "path": "context_annotations",
                    "query": {"match": {"context_annotations.domain.name":
                                        DOMAIN_NAMES[int(rng.integers(3))]}}}},
                    "weight": 5}],
                "filter": [
                    {"range": {"author.following_count": {"gt": int(rng.integers(0, 2))}}},
                    {"range": {"author.followers_count": {"gt": int(rng.integers(0, 2))}}},
                    {"nested": {"path": "links", "query": {"exists": {"field": "url"}}}},
                ]}}}}, "size": 10}
        elif kind == "aggs":
            body = {"query": {"range": {"like_count": {"gt": int(rng.integers(0, 3))}}},
                    "aggs": {"by_lang": {
                        "terms": {"field": "language", "size": 3},
                        "aggs": {"by_day": {"date_histogram": {
                            "field": "created_at", "calendar_interval": "day"}}}}}}
        else:
            body = {"query": {"term": {"language": lang}},
                    "sort": [{"like_count": "desc"}],
                    "search_after": [int(rng.integers(1, 4)), int(rng.integers(1, 1000))],
                    "size": 10, "_source": ["id", "like_count"]}
        out.append({"i": i, "kind": kind, "body": body})
    return out
