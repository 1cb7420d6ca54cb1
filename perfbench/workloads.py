"""The benchmark's workloads: each drives the package's public API the way
its users do, from inputs ``gen`` made, and checks what comes back.

Both workloads are closed loops with one client: the next operation starts
only after the previous one returned. Each returns an ``Outcome``; ``run.py``
turns it into the end-to-end metrics and, in a traced run, turns the spans
into per-layer metrics.
"""

from __future__ import annotations

import hashlib
import math
import os
import re
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import gen
from stats import probe_scales
from tweets_elastic_spark import indexing, pipeline
from tweets_elastic_spark.functions import analyzers
from tweets_elastic_spark.functions import textstats as T
from tweets_elastic_spark.operators import dedup as D
from tweets_elastic_spark.operators import similarity as S
from tweets_elastic_spark.plans.aggs import es_request
from tweets_elastic_spark.plans.search import from_es_json, search
from tweets_elastic_spark.sources.catalog import load_table
from tweets_elastic_spark.sources.incremental import WatermarkStore

TEXT_SPEC = {"content": ["custom_shingles"]}
TOK_COL = "content__custom_shingles"
NESTED = frozenset({"context_annotations", "conversation_hashtags", "annotations",
                    "links", "conversation_references"})

# Input sizes (the same for every seed; BENCHMARK.json says why).
SEARCH_CONVERSATIONS = 200
SEARCH_PAGE_LIMIT = 100  # two keyset pages, then an empty one
SEARCH_SETUP_REPS = 3
SEARCH_WARMUP = 5  # one request of each kind
SEARCH_WARMUP_BLOCKS = 1  # then a whole block, still unmeasured, while the JIT settles
CURATE_DOCS = 600
CURATE_SETUP_REPS = 5
CURATE_WARMUP_DOCS = 100
NEAR_DUP_JACCARD = 0.5
SEMDEDUP_COSINE = 0.95
QUALITY_MIN = 0.45


@dataclass
class Run:
    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    facts: dict = field(default_factory=dict)

    def span(self, name, **attrs):
        return self.tracer.span(name, **attrs)

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.problems.append(msg)

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)


def _ids(df, col="id") -> list[int]:
    return sorted(int(r[0]) for r in df.select(col).collect())


PROBE_REF_S = 0.05


def sql_probe(spark, reps: int) -> float:
    """Median time of a fixed, tiny Spark SQL query built from Spark's own
    functions (one partition, no shuffle, no package code): how fast this
    box runs the driver, py4j and one task right now. On a shared box that
    changes by up to 2x from one minute, or one JVM, to the next, and the
    query's time follows it."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        spark.range(0, 64, 1, 1).selectExpr("id * 7 % 5 AS x").filter("x > 1").collect()
        times.append(time.perf_counter() - t)
    return sorted(times)[reps // 2]


class Clock:
    """Wall time of timed blocks, each charged to an operation, with an
    ``sql_probe`` taken before every block and once after the last
    (``stop``). ``scaled`` turns each block into reference-machine time, its
    wall time times ``PROBE_REF_S`` over the mean of the probes just around
    it: an engine change moves the blocks and not the probes, so it shows in
    full; a slow minute on the box moves both and cancels. Probes run
    between blocks, never inside one, each in a span called ``probe`` that
    the per-layer figures leave out."""

    def __init__(self, run: Run, reps: int):
        self.run, self.reps = run, reps
        self.blocks: list = []  # (operation, seconds)
        self.probes: list = []
        with run.span("probe"):
            sql_probe(run.spark, 9)  # the probe's own warm-up: its first runs are slower

    def _probe(self) -> None:
        with self.run.span("probe"):
            self.probes.append(sql_probe(self.run.spark, self.reps))

    @contextmanager
    def time(self, op):
        self._probe()
        t = time.perf_counter()
        try:
            yield
        finally:
            self.blocks.append((op, time.perf_counter() - t))

    def stop(self) -> None:
        self._probe()

    @staticmethod
    def _per_op(pairs) -> list:
        out: dict = {}
        for op, sec in pairs:
            out[op] = out.get(op, 0.0) + sec
        return list(out.values())

    def wall(self) -> list:
        return self._per_op(self.blocks)

    def scaled(self) -> list:
        scales = probe_scales(self.probes, PROBE_REF_S)
        return self._per_op((op, sec * k) for (op, sec), k in zip(self.blocks, scales))


@dataclass
class Outcome:
    setup: Clock  # one operation per set-up repetition
    ops: Clock  # the measured operations
    units: float  # the workload's unit of throughput, completed
    measured_s: float
    unit_name: str


def _setup(run: Run, reps: int, build) -> tuple[Clock, object]:
    """Run ``build(rep)`` ``reps`` times in fresh directories; the first
    repetition also warms the session up. Returns the clock and the last
    repetition's result."""
    clock, out = Clock(run, reps=3), None
    for rep in range(reps):
        with clock.time(rep), run.span("setup", rep=rep):
            out = build(rep)
    clock.stop()
    return clock, out


# ---------------------------------------------------------------------------
# search: the seeded DSL mix against an index the ingest path just built
# ---------------------------------------------------------------------------

def ingest_and_index(run: Run, rep: int) -> tuple[str, list[int]]:
    """The reference's main loop and index build: generate the tweets star,
    document it, build the text index over the sink. Repetition 0, which
    also pays the session's cold start, documents the star with the one-shot
    ``etl_full``; the later ones run keyset pages of ``SEARCH_PAGE_LIMIT``
    conversations until a page comes back empty. Every
    repetition gets the same star from the same seed, so the check compares
    the two sinks."""
    spark = run.spark
    star, sink, index = run.path(f"star-{rep}"), run.path(f"sink-{rep}"), run.path(f"index-{rep}")
    info = gen.write_tweet_star(star, run.seed, SEARCH_CONVERSATIONS)
    if rep == 0:
        with run.span("pipeline.etl_full"):
            pipeline.etl_full(spark, star, sink)
    store = WatermarkStore(run.path(f"wm-{rep}.json"))
    while rep > 0:  # keyset pages until caught up
        with run.span("pipeline.etl_increment") as sp:
            n = pipeline.etl_increment(spark, star, sink, store,
                                       page_limit=SEARCH_PAGE_LIMIT)
            if sp:
                sp.attrs["rows"] = n
        if n == 0:
            break
    with run.span("indexing.build_text_index"):
        indexing.build_text_index(spark, spark.read.parquet(sink), index, TEXT_SPEC)
    return index, info["doc_ids"]


def compile_request(index, provider, req: dict):
    """Request body → the DataFrame that answers it (no action yet)."""
    body, kind = req["body"], req["kind"]
    if kind in ("match", "multi_match"):
        q = from_es_json({"query": body["query"]}, analyzers={"content": "custom_shingles"},
                         tokens_cols={"content": TOK_COL}, nested_paths=NESTED,
                         id_field="id", bm25_stats_for=provider)
        return search(index, q, k=body["size"], tiebreak="id").select("id", "score")
    if kind == "reference":
        q = from_es_json({"query": body["query"]}, nested_paths=NESTED, id_field="id")
        return search(index, q, k=body["size"], tiebreak="id").select("id", "score")
    if kind == "aggs":
        return es_request(index, body, nested_paths=NESTED)
    return es_request(index, body, nested_paths=NESTED, tiebreak="id")


def search_workload(run: Run) -> Outcome:
    spark = run.spark
    setup, (index_dir, doc_ids) = _setup(run, SEARCH_SETUP_REPS,
                                         lambda rep: ingest_and_index(run, rep))
    index = indexing.read_indexed_documents(spark, index_dir)
    provider = indexing.index_bm25_provider(spark, index_dir)
    block = len(gen.REQUEST_BLOCK)
    stream = gen.request_stream(run.seed, 100, warmup=SEARCH_WARMUP)
    first = SEARCH_WARMUP + SEARCH_WARMUP_BLOCKS * block

    # Warm-up requests, then whole blocks of the mix until the measured
    # time reaches --seconds: every run measures the same request mix.
    answers, clock, measured = {}, Clock(run, reps=1), 0.0
    for i, req in enumerate(stream):
        j = i - first
        if j >= 0 and j % block == 0 and measured >= run.seconds:
            break
        try:
            with clock.time(j) if j >= 0 else nullcontext(), \
                    run.span("request", kind=req["kind"], measured=j >= 0):
                with run.span("plans.compile"):
                    df = compile_request(index, provider, req)
                with run.span("plans.execute") as sp:
                    rows = df.collect()
                    if sp:
                        sp.attrs["rows"] = len(rows)
        except Exception as e:  # noqa: BLE001 - a failed request is counted, the loop goes on
            rows = None
            run.fail(f"request {i} ({req['kind']}): {type(e).__name__}: {e}")
        if j >= 0:
            run.attempted += 1
            measured += clock.blocks[-1][1]
        if rows is not None:
            answers[i] = rows
    clock.stop()

    # Output checks, outside the measured time: the paged ETL against the
    # one-shot ETL, the index against the sink, every answer against a
    # brute-force recomputation in plain Python.
    full_ids = _ids(spark.read.parquet(run.path("sink-0")))
    paged_ids = _ids(spark.read.parquet(run.path(f"sink-{SEARCH_SETUP_REPS - 1}")))
    indexed = index.select(
        "id", "language", "like_count", "created_at", TOK_COL,
        F.col("author.following_count").alias("following"),
        F.col("author.followers_count").alias("followers"),
        F.col("links.url").alias("urls"),
        F.col("context_annotations.domain.name").alias("domains")).collect()
    if not full_ids == paged_ids == doc_ids == sorted(int(r["id"]) for r in indexed):
        run.fail("keyset pages, etl_full and the index disagree on the document ids "
                 f"({len(doc_ids)} expected, {len(full_ids)} one-shot, {len(paged_ids)} "
                 f"paged, {len(indexed)} indexed)")
    oracle = SearchOracle(spark, indexed)
    for i, rows in answers.items():
        err = oracle.check(stream[i], rows)
        if err:
            run.fail(f"request {i} ({stream[i]['kind']}): {err}")
    run.facts.update(index=index_dir, sink=run.path(f"sink-{SEARCH_SETUP_REPS - 1}"),
                     index_docs=len(indexed),
                     kinds=[stream[i]["kind"] for i in sorted(answers) if i >= first])
    done = sum(i >= first for i in answers)
    return Outcome(setup, clock, done, measured, "requests")


class SearchOracle:
    """Expected answers computed without the engine's query compiler: BM25
    from the stored token arrays, filters, sorts and buckets over the
    indexed documents' fields."""

    def __init__(self, spark, rows):
        self.spark = spark
        self.docs = {int(r["id"]): r for r in rows}
        self.tokens = {i: list(r[TOK_COL]) for i, r in self.docs.items()}
        self.n = float(len(rows))
        self.avgdl = sum(len(t) for t in self.tokens.values()) / self.n
        self.df: dict[str, int] = {}
        for toks in self.tokens.values():
            for t in set(toks):
                self.df[t] = self.df.get(t, 0) + 1

    def bm25(self, doc_tokens: list[str], qt: list[str], k1=1.2, b=0.75) -> float:
        dl = float(len(doc_tokens))
        total = 0.0
        for t in qt:
            df_t = float(self.df.get(t, 0))
            idf = math.log(1.0 + (self.n - df_t + 0.5) / (df_t + 0.5))
            tf = float(doc_tokens.count(t))
            total += idf * (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / self.avgdl))
        return total

    @staticmethod
    def _top(hits, size):
        return [(i, s) for s, i in sorted(hits, key=lambda h: (-h[0], h[1]))[:size]]

    def expected(self, req: dict) -> list:
        body, kind = req["body"], req["kind"]
        q = body["query"]
        if kind in ("match", "multi_match"):
            if kind == "match":
                text = q["bool"]["should"][0]["match"]["content"]["query"]
                lang, boost = q["bool"]["filter"][0]["term"]["language"], 1.0
            else:
                text, lang, boost = q["multi_match"]["query"], None, 2.0
            qt = analyzers.analyze_text(self.spark, text, "custom_shingles")
            return self._top([(boost * self.bm25(toks, qt), i)
                              for i, toks in self.tokens.items()
                              if set(toks) & set(qt)
                              and (lang is None or self.docs[i]["language"] == lang)],
                             body["size"])
        if kind == "reference":
            fs = q["function_score"]["query"]["bool"]
            domain = fs["should"][0]["query"]["nested"]["query"]["match"][
                "context_annotations.domain.name"]
            min_following = fs["filter"][0]["range"]["author.following_count"]["gt"]
            min_followers = fs["filter"][1]["range"]["author.followers_count"]["gt"]
            return self._top([(5.0 if domain in d["domains"] else 0.0, i)
                              for i, d in self.docs.items()
                              if d["following"] > min_following
                              and d["followers"] > min_followers
                              and any(u is not None for u in d["urls"])], body["size"])
        if kind == "aggs":
            floor = q["range"]["like_count"]["gt"]
            kept = [d for d in self.docs.values() if d["like_count"] > floor]
            totals: dict = {}
            for d in kept:
                totals[d["language"]] = totals.get(d["language"], 0) + 1
            top = {k for k, _ in sorted(totals.items(), key=lambda kv: (-kv[1], kv[0]))[:3]}
            buckets: dict = {}
            for d in kept:
                if d["language"] in top:
                    key = (d["language"], d["created_at"].strftime("%Y-%m-%d"))
                    buckets[key] = buckets.get(key, 0) + 1
            return sorted((lang, day, n) for (lang, day), n in buckets.items())
        lang = q["term"]["language"]
        after_likes, after_id = body["search_after"]
        hits = sorted(((d["like_count"], i) for i, d in self.docs.items()
                       if d["language"] == lang and (d["like_count"] < after_likes or (
                           d["like_count"] == after_likes and i > after_id))),
                      key=lambda h: (-h[0], h[1]))
        return [(i, likes) for likes, i in hits[:body["size"]]]

    def check(self, req: dict, rows) -> str | None:
        want = self.expected(req)
        kind = req["kind"]
        if kind == "aggs":
            got = sorted((r[0], str(r[1])[:10], int(r[2])) for r in rows)
            return None if got == want else f"{len(got)} buckets, expected {len(want)}"
        if kind == "sorted":
            got = [(int(r["id"]), int(r["like_count"])) for r in rows]
            return None if got == want else f"hits {got[:3]}.. expected {want[:3]}.."
        got = [(int(r["id"]), float(r["score"])) for r in rows]
        if [g[0] for g in got] != [w[0] for w in want]:
            return f"top-k ids {[g[0] for g in got]} expected {[w[0] for w in want]}"
        for (_, gs), (_, ws) in zip(got, want):
            if not math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-9):
                return f"score {gs} expected {ws}"
        return None


# ---------------------------------------------------------------------------
# curate: exact dedup → MinHash near-dedup → semantic dedup + ANN → quality
# ---------------------------------------------------------------------------

def curate_chain(run: Run, corpus: str, clock: Clock | None = None, op=None) -> dict:
    """One pass of the training-data chain over one corpus batch, each step
    a block of ``clock`` charged to ``op``. Returns each step's survivor
    count, the exact and near survivors, and the ANN query id with its
    top-10."""
    spark = run.spark

    @contextmanager
    def step(name):
        with clock.time(op) if clock else nullcontext(), run.span(name):
            yield

    docs = load_table(spark, corpus, "documents")
    emb = load_table(spark, corpus, "embeddings")
    out = {}
    with step("dedup.exact"):
        exact = D.dedup_exact(docs).localCheckpoint()
        out["exact"] = exact.count()
    with step("dedup.near"):
        cand = D.minhash_lsh_candidates(exact)
        pairs = cand.filter(F.col("est_jaccard") >= NEAR_DUP_JACCARD).localCheckpoint()
        out["pairs"] = pairs.count()
        near = D.dedup_near_survivors(exact, pairs).localCheckpoint()
        out["near"] = near.count()
        out["cc_rounds"] = D.CC_LAST_ROUNDS
    if run.tracer.enabled:
        run.tracer.count("dedup.candidate_pairs", cand.count())
        run.tracer.count("dedup.pairs_kept", out["pairs"])
        run.tracer.count("dedup.cc_rounds", out["cc_rounds"])
    with step("similarity.semdedup"):
        vecs = emb.join(near.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi")
        sem = S.semdedup_survivors(vecs, threshold=SEMDEDUP_COSINE, n_seeds=16)
        kept_vecs = vecs.join(sem, "vec_id", "left_semi").localCheckpoint()
        out["semantic"] = kept_vecs.count()
    with step("similarity.ann"):
        q = kept_vecs.orderBy("vec_id").first()
        out["ann_query"] = int(q["vec_id"])
        out["ann"] = [int(r["vec_id"]) for r in S.ann_lsh_topk(
            kept_vecs, [float(x) for x in q["embedding"]], k=10).collect()]
    with step("curation.filter"):
        kept = (near.join(kept_vecs.select(F.col("vec_id").alias("doc_id")), "doc_id",
                          "left_semi")
                .filter(T.quality_score(F.col("text")) >= QUALITY_MIN)
                .filter(T.token_count(F.col("text")) >= 10))
        out["final"] = kept.count()
    out["exact_df"], out["near_df"] = exact, near
    return out


def exact_survivors(texts: list[str]) -> list[int]:
    """Exact-dedup keepers recomputed in Python: the min id per md5 of the
    whitespace-collapsed, trimmed, lower-cased text."""
    keep: dict[str, int] = {}
    for i, text in enumerate(texts):
        fp = hashlib.md5(re.sub(r"\s+", " ", text).strip().lower().encode()).hexdigest()
        keep.setdefault(fp, i)
    return sorted(keep.values())


def load_corpus(run: Run, rep: int) -> str:
    """Set-up: write the first batch and load both of its tables into the
    engine (``load_table``, all columns read and materialised)."""
    path = run.path(f"corpus-{rep}")
    run.facts.setdefault("corpus", {})[path] = gen.write_corpus(
        path, run.seed, CURATE_DOCS, batch=0)
    with run.span("sources.load_table"):
        for name in ("documents", "embeddings"):
            n = load_table(run.spark, path, name).localCheckpoint().count()
            if n != CURATE_DOCS:
                run.fail(f"set-up {rep}: {name} has {n} rows, expected {CURATE_DOCS}")
    return path


def curate(run: Run) -> Outcome:
    setup, first = _setup(run, CURATE_SETUP_REPS, lambda rep: load_corpus(run, rep))
    corpus = run.facts.pop("corpus")
    warm = run.path("corpus-warm")
    gen.write_corpus(warm, run.seed, CURATE_WARMUP_DOCS, batch=10_000)
    with run.span("warmup"):
        curate_chain(run, warm)

    clock, measured, p, done = Clock(run, reps=3), 0.0, 0, 0
    while measured < run.seconds:
        path = first
        if p > 0:
            path = run.path(f"corpus-pass-{p}")
            corpus[path] = gen.write_corpus(path, run.seed, CURATE_DOCS, batch=p)
        p += 1
        run.attempted += 1
        blocks = len(clock.blocks)
        try:
            with run.span("curate.pass", measured=True):
                out = curate_chain(run, path, clock, p)
        except Exception as e:  # noqa: BLE001 - a failed pass is counted, the loop goes on
            run.fail(f"curate pass {p}: {type(e).__name__}: {e}")
            continue
        finally:
            measured += sum(sec for _, sec in clock.blocks[blocks:])
        done += 1
        # Output checks, outside the measured time.
        want = exact_survivors(corpus[path])
        if _ids(out["exact_df"], "doc_id") != want:
            run.fail(f"pass {p}: exact-dedup survivors differ from the recomputation")
        elif not set(_ids(out["near_df"], "doc_id")) <= set(want):
            run.fail(f"pass {p}: near-dedup kept a document exact dedup dropped")
        elif not 0 < out["final"] <= out["semantic"] <= out["near"] < out["exact"] < CURATE_DOCS:
            run.fail(f"pass {p}: survivor counts do not shrink along the chain")
        elif not out["ann"] or out["ann"][0] != out["ann_query"]:
            run.fail(f"pass {p}: the ANN query vector is not its own nearest neighbour")
    clock.stop()
    run.facts.update(ann_queries=1)
    return Outcome(setup, clock, CURATE_DOCS * done, measured,
                   "input documents through the chain")


WORKLOADS = {"search": search_workload, "curate": curate}
