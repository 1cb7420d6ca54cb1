"""Operator-level invariants for the curation block (decontamination,
sharding, packing, mixing, PII, repetition) — semantics the oracle-parity
hash check can't express (partition/complement laws, determinism, schedule
conformance)."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from tweets_elastic_spark.functions import pii as P
from tweets_elastic_spark.functions import textstats as T
from tweets_elastic_spark.operators import curation as C
from tweets_elastic_spark.sources.catalog import load_table


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_decontaminate_partitions_corpus(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") < 10)
    corpus = docs.filter(F.col("doc_id") >= 10)
    flagged = {
        r["doc_id"] for r in C.contamination_report(corpus, bench, k=3).collect()
    }
    survivors = {r["doc_id"] for r in C.decontaminate(corpus, bench, k=3).collect()}
    all_ids = {r["doc_id"] for r in corpus.select("doc_id").collect()}
    assert flagged and survivors, "fixture should produce both sides at k=3"
    assert flagged | survivors == all_ids
    assert flagged & survivors == set()


def test_contamination_report_evidence_is_real(spark, sf_dir):
    """Every reported sample_gram must actually occur in both the doc and
    the benchmark (recomputed in plain Python on the collected rows)."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") < 10)
    corpus = docs.filter(F.col("doc_id") >= 10)
    report = {r["doc_id"]: r["sample_gram"]
              for r in C.contamination_report(corpus, bench, k=3).collect()}

    def grams(text: str, k: int = 3) -> set[str]:
        t = [w.lower() for w in __import__("re").split("[^a-zA-Z0-9]+", text) if w]
        if len(t) < k:
            return {" ".join(t)} if t else set()
        return {" ".join(t[i:i + k]) for i in range(len(t) - k + 1)}

    bench_grams = set()
    for r in bench.collect():
        bench_grams |= grams(r["text"])
    by_id = {r["doc_id"]: r["text"] for r in corpus.collect()}
    for doc_id, g in report.items():
        assert g in bench_grams, (doc_id, g)
        assert g in grams(by_id[doc_id]), (doc_id, g)


def test_assign_shards_positions_and_determinism(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    a = C.assign_shards(docs, n_shards=4, seed=9).collect()
    b = C.assign_shards(docs, n_shards=4, seed=9).collect()
    assert sorted(map(str, a)) == sorted(map(str, b)), "not deterministic"
    per_shard = defaultdict(list)
    for r in a:
        per_shard[r["shard"]].append(r["pos"])
    assert set(per_shard) <= set(range(4))
    for shard, poss in per_shard.items():
        assert sorted(poss) == list(range(len(poss))), f"shard {shard} pos gap"


def test_pack_sequences_prefix_sum_law(spark, sf_dir):
    budget = 64
    rows = C.pack_sequences(_docs(spark, sf_dir), budget=budget, n_shards=4,
                            seed=0).collect()
    assert all(0 <= r["offset"] < budget for r in rows)
    # reconstruct each shard's layout: global token offset = seq_id*budget
    # + offset must be the running sum of preceding docs' n_tokens
    per_shard = defaultdict(list)
    for r in rows:
        per_shard[r["shard"]].append(r)
    for shard, rs in per_shard.items():
        rs.sort(key=lambda r: r["seq_id"] * budget + r["offset"])
        cum = 0
        for r in rs:
            assert r["seq_id"] * budget + r["offset"] == cum, (shard, r)
            cum += r["n_tokens"]


def test_domain_mix_rates_and_determinism(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    kept = C.domain_mix_sample(docs, {"src0": 1.0, "src1": 0.0},
                               default_weight=0.5, seed=3).collect()
    kept_again = C.domain_mix_sample(docs, {"src0": 1.0, "src1": 0.0},
                                     default_weight=0.5, seed=3).collect()
    assert sorted(map(str, kept)) == sorted(map(str, kept_again))
    by_src = defaultdict(int)
    for r in kept:
        by_src[r["source"]] += 1
    n_src0 = docs.filter("source = 'src0'").count()
    assert by_src["src0"] == n_src0, "weight 1.0 must keep every row"
    assert by_src.get("src1", 0) == 0, "weight 0.0 must drop every row"


def test_pii_redaction_schedule_and_completeness(spark, sf_dir):
    from tweets_elastic_spark.registry import get

    rows = get("pii_redact").fn(spark, sf_dir).collect()
    import re

    pats = {kind: re.compile(pat) for kind, pat, _ in P.PII_PATTERNS}
    for r in rows:
        assert r["n_email"] == (1 if r["doc_id"] % 3 == 0 else 0), r["doc_id"]
        assert r["n_phone"] == (1 if r["doc_id"] % 5 == 0 else 0), r["doc_id"]
        assert r["n_ipv4"] == (1 if r["doc_id"] % 7 == 0 else 0), r["doc_id"]
        for kind, cre in pats.items():
            assert not cre.search(r["clean_text"]), (r["doc_id"], kind)
        if r["doc_id"] % 3 == 0:
            assert "[EMAIL]" in r["clean_text"]
        if r["doc_id"] % 5 == 0:
            assert "[PHONE]" in r["clean_text"]
        if r["doc_id"] % 7 == 0:
            assert "[IP]" in r["clean_text"]


def test_repetition_features_edge_cases(spark):
    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "one two three four"), (3, ""), (4, "solo"),
         (5, "x y x y x y")],
        "id long, text string",
    )
    toks = df.select(
        "id", F.transform(T.simple_tokens(F.col("text")), F.lower).alias("t")
    )
    f = T.repetition_features(F.col("t"))
    got = {
        r["id"]: r
        for r in toks.select(
            "id",
            f["n_tokens"].alias("n"),
            f["dup_token_ratio"].alias("dt"),
            f["dup_bigram_ratio"].alias("db"),
            f["top_token_ratio"].alias("tt"),
        ).collect()
    }
    assert got[1]["n"] == 4 and got[1]["dt"] == 0.75 and got[1]["tt"] == 1.0
    assert got[1]["db"] == 2 / 3  # 'a a' ×3 → 1 distinct of 3
    assert got[2]["dt"] == 0.0 and got[2]["db"] == 0.0 and got[2]["tt"] == 0.25
    assert got[3]["n"] == 0 and got[3]["dt"] == 0.0 and got[3]["tt"] == 0.0
    assert got[4]["n"] == 1 and got[4]["db"] == 0.0 and got[4]["tt"] == 1.0
    # same association as the operator ((n - distinct) / n), so the
    # comparison is exact in floating point: 4/6, not 1 - 2/6 (last-ulp apart)
    assert got[5]["dt"] == 4 / 6  # x,y over 6 tokens
    assert got[5]["db"] == 3 / 5  # 'x y','y x' distinct of 5 bigrams


def test_decontaminate_fuzzy_drops_paraphrase_overlap(spark):
    """A corpus doc sharing most (but not all) shingles with a benchmark
    doc — invisible to exact 13-gram overlap, caught at jaccard >= 0.5."""
    from tweets_elastic_spark.operators.curation import decontaminate_fuzzy

    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # same shingles except the tail — jaccard well above 0.5
            (100, "alpha beta gamma delta epsilon zeta eta iota"),
            # disjoint vocabulary
            (101, "one two three four five six seven eight"),
        ],
        "doc_id long, text string",
    )
    kept = {
        r["doc_id"]
        for r in decontaminate_fuzzy(corpus, bench, k=3, threshold=0.5).collect()
    }
    assert kept == {101}


# -- line-level dedup (RefinedWeb boilerplate removal) ------------------------

def test_line_dedup_strips_cross_doc_boilerplate_preserving_order(spark):
    from tweets_elastic_spark.operators.curation import line_dedup

    df = spark.createDataFrame(
        [
            (1, "COOKIE BANNER\nunique first body\nfooter text"),
            (2, "cookie  banner\nanother unique body\nFooter   Text"),
            (3, "totally original document"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in line_dedup(df, max_df=1).collect()}
    # banner + footer occur in 2 docs under normalization -> every copy goes
    assert got[1]["text_kept"] == "unique first body"
    assert got[2]["text_kept"] == "another unique body"
    assert got[3]["text_kept"] == "totally original document"
    assert got[1]["n_dropped"] == 2 and got[3]["n_dropped"] == 0


def test_line_dedup_within_doc_repeats_survive(spark):
    """A line repeated only WITHIN one doc is not boilerplate (df counts
    distinct docs): both copies stay, in order."""
    from tweets_elastic_spark.operators.curation import line_dedup

    df = spark.createDataFrame(
        [(1, "chorus line\nverse\nchorus line"), (2, "something else")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in line_dedup(df, max_df=1).collect()}
    assert got[1]["text_kept"] == "chorus line\nverse\nchorus line"
    assert got[1]["n_dropped"] == 0


def test_line_dedup_empty_lines_kept_and_all_dropped_doc(spark):
    """Empty lines are structure, never boilerplate; a doc made entirely of
    hot lines comes back with text_kept='' and a full drop count."""
    from tweets_elastic_spark.operators.curation import line_dedup

    df = spark.createDataFrame(
        [
            (1, "hot line\n\nbody one"),
            (2, "hot line\n\nbody two"),
            (3, "hot line"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in line_dedup(df, max_df=1).collect()}
    assert got[1]["text_kept"] == "\nbody one"
    assert got[2]["text_kept"] == "\nbody two"
    assert got[3]["text_kept"] == "" and got[3]["n_dropped"] == 1 and got[3]["n_kept"] == 0


def test_line_dedup_max_df_threshold(spark):
    """max_df=2 tolerates a line in two docs; three docs crosses it."""
    from tweets_elastic_spark.operators.curation import line_dedup

    df = spark.createDataFrame(
        [(1, "shared\na"), (2, "shared\nb"), (3, "shared\nc")],
        "doc_id long, text string",
    )
    kept2 = {r["doc_id"]: r["text_kept"] for r in line_dedup(df, max_df=2).collect()}
    assert kept2 == {1: "a", 2: "b", 3: "c"}
    kept3 = {r["doc_id"]: r["text_kept"] for r in line_dedup(df, max_df=3).collect()}
    assert kept3 == {1: "shared\na", 2: "shared\nb", 3: "shared\nc"}


def test_span_dedup_hand_planted(spark):
    """Exact duplicated-span removal (r8): the lexicographically-first
    occurrence keeps its tokens, every other occurrence's range is cut,
    overlapping marks union, short/clean docs pass through."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f"),            # keeper of the shared span
         (2, "x y A b C d q"),          # case-insensitive copy, loses it
         (3, "p q r s p q r s t"),      # within-doc repeat: 2nd cut
         (4, "clean doc nothing here"),
         (5, "so")],                    # shorter than k: no windows
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in C.span_dedup(docs, k=4).collect()}
    assert len(out) == 5
    assert (out[1]["n_dup_tokens"], out[1]["clean_text"]) == \
        (0, "a b c d e f")
    assert (out[2]["n_tokens"], out[2]["n_dup_tokens"],
            out[2]["clean_text"]) == (7, 4, "x y q")
    assert (out[3]["n_tokens"], out[3]["n_dup_tokens"],
            out[3]["clean_text"]) == (9, 4, "p q r s t")
    assert out[4]["n_dup_tokens"] == 0
    assert (out[5]["n_tokens"], out[5]["clean_text"]) == (1, "so")
    # a duplicated run LONGER than k: all its windows mark, marks union,
    # the whole run is cut from the non-keeper
    docs2 = spark.createDataFrame(
        [(1, "u v w x y z end1"), (2, "pre u v w x y z")],
        "doc_id long, text string",
    )
    out2 = {r["doc_id"]: r for r in C.span_dedup(docs2, k=4).collect()}
    assert out2[1]["n_dup_tokens"] == 0
    assert (out2[2]["n_dup_tokens"], out2[2]["clean_text"]) == (6, "pre")


def test_dup_ngram_stats_counts_shared_grams(spark):
    from tweets_elastic_spark.operators.curation import dup_ngram_stats

    shared = "one two three four five six"
    docs = spark.createDataFrame(
        [(1, shared + " unique alpha beta"),
         (2, shared + " gamma delta"),
         (3, "totally different words in this document")],
        "doc_id long, text string",
    )
    stats = {r["doc_id"]: r for r in dup_ngram_stats(docs, k=4).collect()}
    # the 3 4-grams inside the shared prefix appear in docs 1 AND 2
    assert stats[1]["n_dup"] == 3 and stats[2]["n_dup"] == 3
    assert stats[3]["n_dup"] == 0 and stats[3]["dup_frac"] == 0.0
    # doc1: 9 words -> 6 distinct 4-grams; 3 duplicated -> 0.5
    assert stats[1]["n_grams"] == 6
    assert stats[1]["dup_frac"] == 0.5


def test_dup_ngram_stats_short_docs_and_within_doc_repeat(spark):
    from tweets_elastic_spark.operators.curation import dup_ngram_stats

    docs = spark.createDataFrame(
        [(1, "tiny doc"), (2, "tiny doc"),  # short: whole text = one gram
         (3, "a b c a b c a b c a b c")],   # repeats only within itself
        "doc_id long, text string",
    )
    stats = {r["doc_id"]: r for r in dup_ngram_stats(docs, k=4).collect()}
    # docs 1 and 2 share their single whole-text gram
    assert stats[1]["n_grams"] == 1 and stats[1]["n_dup"] == 1
    assert stats[2]["dup_frac"] == 1.0
    # within-doc repetition does NOT count (df is DISTINCT docs)
    assert stats[3]["n_dup"] == 0


def test_chunk_documents_windows_and_overlap(spark):
    from tweets_elastic_spark.operators.curation import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, words), (2, "short doc"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, max_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["chunk_text"], r["n_tok"])
        )
    # doc1: 10 tokens, stride 3 -> ceil(9/3)=3 chunks: [0:4],[3:7],[6:10]
    assert by_doc[1] == [
        (0, "w0 w1 w2 w3", 4),
        (1, "w3 w4 w5 w6", 4),
        (2, "w6 w7 w8 w9", 4),
    ]
    # every consecutive pair shares exactly `overlap` tokens
    assert by_doc[1][0][1].split()[-1:] == by_doc[1][1][1].split()[:1]
    # short doc: one chunk, no padding
    assert by_doc[2] == [(0, "short doc", 2)]
    # empty/null docs vanish
    assert 3 not in by_doc and 4 not in by_doc
    # every token of the doc appears in at least one chunk
    covered = {t for _, txt, _ in by_doc[1] for t in txt.split()}
    assert covered == {f"w{i}" for i in range(10)}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, max_tokens=4, overlap=4)


def test_c4_line_filter_rules(spark):
    from tweets_elastic_spark.operators.curation import c4_line_filter

    docs = spark.createDataFrame(
        [
            # 3 good lines -> survives with exactly those lines
            (1, 'one two three four five.\n'
                'does it end with a question mark here?\n'
                'short no.\n'
                'this line simply never terminates properly\n'
                'quoted line with five good words."'),
            # javascript line dropped -> only 2 kept -> page dropped
            (2, 'one two three four five.\n'
                'please enable JavaScript to continue browsing now.\n'
                'another proper sentence with enough words.'),
            # lorem ipsum anywhere -> page dropped
            (3, 'a perfectly fine sentence with words.\n'
                'b perfectly fine sentence with words.\n'
                'Lorem ipsum dolor sit amet consectetur!'),
            # curly brace -> page dropped
            (4, 'a perfectly fine sentence with words.\n'
                'b perfectly fine sentence with words.\n'
                'c fine sentence mentioning code() { today.'),
            (5, None),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["text"], r["n_lines_kept"])
           for r in c4_line_filter(docs).collect()}
    assert list(got) == [1]
    text, n = got[1]
    assert n == 3 and text.split("\n") == [
        "one two three four five.",
        "does it end with a question mark here?",
        'quoted line with five good words."',
    ]
    # min_lines / min_words knobs: doc 2 keeps 2 non-javascript lines
    assert c4_line_filter(docs, min_lines=2).count() == 2
    assert c4_line_filter(docs, min_words=9, min_lines=1).count() == 0


def test_gopher_quality_features(spark):
    from pyspark.sql import functions as F
    from tweets_elastic_spark.functions.textstats import (
        gopher_quality_features, whitespace_words,
    )

    df = spark.createDataFrame(
        [("The cat and the dog sat... #tag\n• bullet item\nplain line…",)],
        "text string",
    )
    staged = df.select(
        F.transform(whitespace_words(F.col("text")), F.lower).alias("w"),
        F.filter(F.split(F.col("text"), "\n"),
                 lambda l: l != F.lit("")).alias("ln"),
        "text",
    )
    f = gopher_quality_features(F.col("w"), F.col("text"), F.col("ln"))
    row = staged.select(
        f["n_words"].alias("n"), f["mean_word_len"].alias("mwl"),
        f["symbol_word_ratio"].alias("sym"),
        f["alpha_word_ratio"].alias("alpha"),
        f["stop_hits"].alias("stops"),
        f["bullet_line_ratio"].alias("bul"),
        f["ellipsis_line_ratio"].alias("ell"),
    ).head()
    # words: the cat and the dog sat... #tag • bullet item plain line… = 12
    assert row["n"] == 12
    # symbols: one '...', one '#', one '…' -> 3/12
    assert abs(row["sym"] - 3 / 12) < 1e-9
    # only the bare '•' word has no [a-z]: 11/12
    assert abs(row["alpha"] - 11 / 12) < 1e-9
    # stops present: the, and -> 2 distinct hits
    assert row["stops"] == 2
    # 3 lines: one bullet-start, one ellipsis-end
    assert abs(row["bul"] - 1 / 3) < 1e-9 and abs(row["ell"] - 1 / 3) < 1e-9


def test_c4_bad_words_page_gate(spark):
    from tweets_elastic_spark.operators.curation import c4_line_filter

    docs = spark.createDataFrame(
        [
            (1, 'a perfectly fine sentence with words.\n'
                'b perfectly fine sentence with words.\n'
                'c perfectly fine sentence with words.'),
            # bad word in an otherwise-keepable line -> PAGE dropped
            (2, 'a perfectly fine sentence with words.\n'
                'this keepable sentence mentions BadWord in passing.\n'
                'c perfectly fine sentence with words.'),
            # substring is NOT a whole-word match -> survives
            (3, 'a perfectly fine sentence with words.\n'
                'embadwordded inside a longer token stays fine.\n'
                'c perfectly fine sentence with words.'),
            # regex metacharacters in the list are escaped literally
            (4, 'a perfectly fine sentence with words.\n'
                'b perfectly fine sentence with words.\n'
                'c perfectly fine sentence with words.'),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        r["doc_id"]
        for r in c4_line_filter(docs, bad_words=["badword", "a.c"]).collect()
    )
    # doc 2 dropped (case-insensitive whole word); doc 3 survives
    # (substring only); "a.c" escaped: the dot is literal, so the
    # freestanding 'a'/'c' words never match it
    assert got == [1, 3, 4]
    # default stays gate-off
    assert c4_line_filter(docs).count() == 4


def test_url_quality_filter_rules(spark):
    """r12 URL gating: each rule isolated on a hand vector."""
    rows = [
        (1, "https://ok.example.com/a/b"),            # clean -> keep
        (2, "ftp://files.example.com/x"),             # scheme
        (3, "https://10.1.2.3/x"),                    # IPv4 literal
        (4, "https://ok.example.com:8080/x"),         # explicit port
        (5, "https://ok.example.com" + "/d" * 9),     # depth 9 > 8
        (6, "https://ok.example.com/go/CASINO/p"),    # fragment, any case
        (7, "http://www.ok.example.com/x"),           # www. strips
        (8, None),                                    # NULL drops
        (9, "https://ok.example.com/x?" + "q" * 300), # query too long
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["doc_id"]: r["host"] for r in C.url_quality_filter(
        df, blocked_fragments=["casino"]).collect()}
    assert got == {1: "ok.example.com", 7: "ok.example.com"}
    # no fragment list -> the fragment row passes
    assert 6 in {r["doc_id"]
                 for r in C.url_quality_filter(df).collect()}


def test_url_blocklist_filter_parent_domains(spark):
    """The suffix-chain anti-join blocks exact AND parent-domain hits,
    never substring false-positives ('notspam.com' survives
    'spam.com')."""
    df = spark.createDataFrame(
        [(1, "spam.com"), (2, "a.b.spam.com"), (3, "notspam.com"),
         (4, "good.org"), (5, "spam.com.evil.net")],
        "doc_id long, host string",
    )
    bl = spark.createDataFrame([("spam.com",)], "domain string")
    got = {r["doc_id"] for r in C.url_blocklist_filter(df, bl).collect()}
    # 5's chain is spam.com.evil.net / com.evil.net / evil.net / net —
    # 'spam.com' is a prefix, not a suffix chain entry -> survives
    assert got == {3, 4, 5}
    plan = (C.url_blocklist_filter(df, bl)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_script_profile_hand_vectors(spark):
    """Unicode script counts + dominant pick (functions/textstats.py r13):
    per-script counting, the latin-first tie break, mixed-script pages,
    and the all-punctuation 'none' case."""
    from pyspark.sql import functions as F

    from tweets_elastic_spark.functions.textstats import (
        dominant_script, script_counts,
    )

    rows = [
        (1, "hello мир"),          # 5 latin, 3 cyrillic -> latin
        (2, "мир мир hi"),         # 6 cyrillic, 2 latin -> cyrillic
        (3, "ab мир"),             # 2 vs 3 -> cyrillic
        (4, "abc где"),            # 3 vs 3 tie -> latin (priority)
        (5, "1234 .,!?"),          # no script chars -> none
        (6, "中文 한글 中"),         # 3 han vs 2 hangul -> han
        (7, "نص عربي"),            # arabic only
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    c = script_counts(F.col("t"))
    got = {
        r["id"]: (r["lat"], r["cyr"], r["han"], r["dom"])
        for r in df.select(
            "id",
            c["latin"].alias("lat"), c["cyrillic"].alias("cyr"),
            c["han"].alias("han"),
            dominant_script(c).alias("dom"),
        ).collect()
    }
    assert got[1] == (5, 3, 0, "latin")
    assert got[2] == (2, 6, 0, "cyrillic")
    assert got[3] == (2, 3, 0, "cyrillic")
    assert got[4] == (3, 3, 0, "latin")     # tie -> SCRIPT_CLASSES order
    assert got[5] == (0, 0, 0, "none")
    assert got[6] == (0, 0, 3, "han")
    assert got[7][3] == "arabic"
