"""Unit tests for the benchmark's pure helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

import hashlib
import os
import sys
import types
from contextlib import nullcontext

import numpy as np
import pyarrow.parquet as pq
import pytest

import gen
import spans
import stats


# -- tail percentile: at least ten samples beyond the reported percentile --

@pytest.mark.parametrize("n,want", [(1, 50.0), (10, 50.0), (20, 50.0), (40, 75.0),
                                    (100, 90.0), (200, 95.0), (10_000, 95.0)])
def test_tail_quantile(n, want):
    assert stats.tail_quantile(n) == pytest.approx(want)


@pytest.mark.parametrize("n", [21, 25, 40, 57, 100, 199, 200, 1000])
def test_tail_keeps_ten_samples_above(n):
    values = list(range(n))
    q, v = stats.tail(values)
    assert q <= 95.0
    assert sum(x > v for x in values) >= 10 or q == 50.0


def test_tail_is_never_below_the_median():
    values = [float(x) for x in range(12)]
    q, v = stats.tail(values)
    assert q == 50.0 and v == stats.median(values)


def test_percentile_matches_numpy_linear():
    rng = np.random.default_rng(0)
    xs = list(rng.random(37))
    for q in (0, 10, 50, 73.5, 95, 100):
        assert stats.percentile(xs, q) == pytest.approx(np.percentile(xs, q))


def test_percentile_rejects_empty():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


# -- self time: a span's duration minus what its children cover --

def test_self_time_without_children_is_duration():
    assert stats.self_time((2.0, 5.0), []) == pytest.approx(3.0)


def test_self_time_subtracts_union_of_overlapping_children():
    # children cover 1..5 (overlapping) and 8..10 (clipped at the parent end)
    assert stats.self_time((0.0, 10.0), [(1, 3), (2, 5), (8, 12)]) == pytest.approx(4.0)


def test_self_time_ignores_children_outside_the_span():
    assert stats.self_time((0.0, 1.0), [(2, 3), (-5, -1)]) == pytest.approx(1.0)


def test_self_time_nested_children_counted_once():
    assert stats.self_time((0.0, 10.0), [(1, 9), (2, 3), (4, 5)]) == pytest.approx(2.0)


def test_self_time_of_jobs_is_driver_only_time():
    assert stats.self_time((0.0, 6.0), [(1, 2), (4, 5)]) == pytest.approx(4.0)


# -- SQL metric strings as the status store prints them --

@pytest.mark.parametrize("text,value", [
    ("1,234", 1234.0),
    ("total (min, med, max (stageId: taskId))\n1.2 s (10 ms, 20 ms, 1.1 s (stage 3.0: task 7))", 1.2),
    ("total (min, med, max (stageId: taskId))\n250 ms (1 ms, 2 ms, 3 ms (stage 1.0: task 2))", 0.25),
    ("total (min, med, max (stageId: taskId))\n3.0 MiB (1 KiB, 2 KiB, 3 KiB (stage 1.0: task 2))",
     3.0 * 2**20),
    (None, 0.0),
])
def test_parse_metric(text, value):
    assert spans._parse_metric(text) == pytest.approx(value)


# -- generator determinism per seed --

def _tables(path):
    return {f: pq.read_table(os.path.join(path, f)) for f in sorted(os.listdir(path))}


def test_tweet_star_same_seed_same_tables(tmp_path):
    a = gen.write_tweet_star(str(tmp_path / "a"), 7, 200)
    b = gen.write_tweet_star(str(tmp_path / "b"), 7, 200)
    ta, tb = _tables(tmp_path / "a"), _tables(tmp_path / "b")
    assert a == b and ta.keys() == tb.keys()
    assert all(ta[k].equals(tb[k]) for k in ta)


def test_tweet_star_other_seed_differs(tmp_path):
    gen.write_tweet_star(str(tmp_path / "a"), 7, 200)
    gen.write_tweet_star(str(tmp_path / "b"), 8, 200)
    ta, tb = _tables(tmp_path / "a"), _tables(tmp_path / "b")
    assert not ta["conversations.parquet"].equals(tb["conversations.parquet"])
    assert ta["conversations.parquet"].num_rows == tb["conversations.parquet"].num_rows


def test_corpus_same_seed_same_files(tmp_path):
    gen.write_corpus(str(tmp_path / "a"), 3, 300, batch=1)
    gen.write_corpus(str(tmp_path / "b"), 3, 300, batch=1)
    ta, tb = _tables(tmp_path / "a"), _tables(tmp_path / "b")
    assert all(ta[k].equals(tb[k]) for k in ta)


def test_corpus_batches_differ_and_carry_duplicates():
    a = gen.corpus_batch(3, 1000, batch=0)["documents"]["text"]
    b = gen.corpus_batch(3, 1000, batch=1)["documents"]["text"]
    assert a != b
    norm = {hashlib.md5(" ".join(t.split()).lower().encode()).hexdigest() for t in a}
    exact = 1000 - len(norm)
    assert 0.5 * gen.EXACT_DUP_RATE * 1000 < exact < 2 * gen.EXACT_DUP_RATE * 1000


def _bm25_text(req):
    q = req["body"]["query"]
    if req["kind"] == "match":
        return q["bool"]["should"][0]["match"]["content"]["query"]
    return q["multi_match"]["query"]


def test_request_stream_deterministic_and_blocked():
    assert gen.request_stream(5, 6, warmup=5) == gen.request_stream(5, 6, warmup=5)
    assert gen.request_stream(5, 6, warmup=5) != gen.request_stream(6, 6, warmup=5)
    reqs = gen.request_stream(5, 6, warmup=5)
    block = len(gen.REQUEST_BLOCK)
    assert len(reqs) == 5 + 6 * block
    assert sorted({r["kind"] for r in reqs[:5]}) == sorted(set(gen.REQUEST_BLOCK))
    for start in range(5, len(reqs), block):
        assert sorted(r["kind"] for r in reqs[start:start + block]) == sorted(gen.REQUEST_BLOCK)


def test_request_stream_match_is_fresh_multi_match_repeats():
    reqs = gen.request_stream(9, 20, warmup=5)
    seen = set()
    for i, r in enumerate(reqs):
        if r["kind"] not in ("match", "multi_match"):
            continue
        text = _bm25_text(r)
        fresh = i < 5 or r["kind"] == "match"
        assert (text not in seen) == fresh
        seen.add(text)


def test_vocabulary_has_diacritics_and_is_distinct():
    words = gen.vocabulary(1)
    assert len(set(words)) == len(words) == gen.VOCAB_SIZE
    assert sum(any(ord(c) > 127 for c in w) for w in words) > len(words) // 10


def test_probe_scales_use_probes_around_each_operation():
    assert stats.probe_scales([0.3, 0.3, 0.6], 0.3) == pytest.approx([1.0, 2 / 3])
    with pytest.raises(ValueError):
        stats.probe_scales([0.3], 0.3)


def test_clock_scales_each_block_and_sums_blocks_per_operation(monkeypatch):
    import workloads
    ref = workloads.PROBE_REF_S
    probes = iter([9.0, ref, ref, 2 * ref, 2 * ref])  # warm-up, then one per boundary
    monkeypatch.setattr(workloads, "sql_probe", lambda spark, reps: next(probes))
    ticks = iter([0.0, 1.0, 10.0, 12.0, 20.0, 24.0])
    monkeypatch.setattr(workloads.time, "perf_counter", lambda: next(ticks))
    clock = workloads.Clock(types.SimpleNamespace(spark=None, span=lambda name: nullcontext()), 1)
    for op in ("a", "a", "b"):
        with clock.time(op):
            pass
    clock.stop()
    assert clock.probes == [ref, ref, 2 * ref, 2 * ref]
    assert clock.wall() == pytest.approx([3.0, 4.0])
    # block 1 between probes ref, ref; block 2 between ref, 2ref; block 3 between 2ref, 2ref
    assert clock.scaled() == pytest.approx([1.0 + 2.0 / 1.5, 4.0 / 2])


# -- query-time wrappers reach names bound with ``from module import f`` --

class _FakeContext:
    def __init__(self):
        self._jsc = types.SimpleNamespace(clearJobGroup=lambda: None)

    def setJobGroup(self, group, description):
        pass


def _fake_package(monkeypatch):
    def analyze(text):
        return text.split()

    lib = types.ModuleType("fakepkg.lib")
    lib.analyze = analyze
    compiler = types.ModuleType("fakepkg.compiler")
    compiler.analyze = analyze  # what ``from fakepkg.lib import analyze`` leaves behind
    compiler.compile = lambda text: compiler.analyze(text)
    outside = types.ModuleType("otherpkg")
    outside.analyze = analyze
    for name, mod in [("fakepkg", types.ModuleType("fakepkg")), ("fakepkg.lib", lib),
                      ("fakepkg.compiler", compiler), ("otherpkg", outside)]:
        monkeypatch.setitem(sys.modules, name, mod)
    return lib, compiler, outside, analyze


def test_wrap_everywhere_patches_from_imports(monkeypatch):
    lib, compiler, outside, analyze = _fake_package(monkeypatch)
    tracer = spans.Tracer(types.SimpleNamespace(sparkContext=_FakeContext()), enabled=True)
    assert spans.wrap_everywhere(tracer, "analyze", lib, "analyze", "fakepkg") == 2
    assert compiler.compile("a b") == ["a", "b"]
    assert lib.analyze("c") == ["c"]
    assert [s.name for s in tracer.spans] == ["analyze", "analyze"]
    assert outside.analyze is analyze  # modules outside the package are left alone


def test_wrapped_call_records_under_the_calling_span(monkeypatch):
    lib, compiler, _, _ = _fake_package(monkeypatch)
    tracer = spans.Tracer(types.SimpleNamespace(sparkContext=_FakeContext()), enabled=True)
    spans.wrap_everywhere(tracer, "analyze", lib, "analyze", "fakepkg")
    with tracer.span("plans.compile") as parent:
        compiler.compile("x y z")
    child = [s for s in tracer.spans if s.name == "analyze"]
    assert len(child) == 1 and child[0].parent == parent.id
