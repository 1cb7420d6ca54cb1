"""Per-layer metrics of a traced run, derived from its spans and from what
Spark recorded for the jobs each span launched.

Layer = package module. Every metric is reported for every workload; a
layer the workload does not exercise reads 0. Layers the search workload
runs in its set-up (pipeline, sources, denormalize, sinks, index-time
analyzers, index writes) are read from the set-up repetitions after the
first; everything else from the measured operations, i.e. spans that are,
or sit under, a span opened with ``measured=True``. A "_s"/"_ms" figure is
a median over operations; "per_page", "per_req" and the spark.* figures
are totals divided by the number of operations.
"""

from __future__ import annotations

import os
from collections import defaultdict

from stats import median, self_time
from spans import PY_UDF_NODES, read_spark

PER_LAYER = [
    ("session.start_s", "s"),
    ("pipeline.page_s", "s"),
    ("pipeline.jobs_per_page", "count"),
    ("pipeline.scan_mb_per_page", "MB"),
    ("denormalize.join_agg_s", "s"),
    ("denormalize.shuffle_mb_per_page", "MB"),
    ("sinks.write_s", "s"),
    ("sinks.bytes_per_doc", "B"),
    ("sinks.files_written", "count"),
    ("analyzers.udf_s", "s"),
    ("analyzers.query_analyze_calls", "count"),
    ("analyzers.query_analyze_ms", "ms"),
    ("indexing.segment_write_s", "s"),
    ("indexing.stats_lookups_per_req", "count"),
    ("indexing.stats_lookup_ms", "ms"),
    ("indexing.segments", "count"),
    ("indexing.bytes_per_doc", "B"),
    ("plans.compile_ms", "ms"),
    ("plans.compile_jobs_per_req", "count"),
    ("plans.execute_ms", "ms"),
    ("plans.wait_ms", "ms"),
    ("plans.rows_scanned_per_hit", "count"),
    ("dedup.exact_s", "s"),
    ("dedup.near_s", "s"),
    ("dedup.candidate_pairs", "count"),
    ("dedup.pair_keep_frac", "ratio"),
    ("dedup.cc_rounds", "count"),
    ("similarity.semdedup_s", "s"),
    ("similarity.ann_s", "s"),
    ("similarity.rows_scored_per_query", "count"),
    ("curation.filter_s", "s"),
    ("textstats.eval_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.driver_only_s", "s"),
]
MB = 1e6


class SpanView:
    """Spans of one run plus the Spark account, with the lookups the metric
    definitions need."""

    def __init__(self, spark, tracer):
        self.spans = tracer.spans
        self.counts = tracer.counts
        self.by_id = {s.id: s for s in self.spans}
        self.children = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                self.children[s.parent].append(s)
        self.acct = read_spark(spark, [s.group for s in self.spans])

    def measured(self, s) -> bool:
        while s is not None:
            if s.attrs.get("measured"):
                return True
            s = self.by_id.get(s.parent)
        return False

    def named(self, name: str) -> list:
        return [s for s in self.spans if s.name == name and self.measured(s)]

    def warm_setup(self, name: str) -> list:
        """Spans called ``name`` under a set-up repetition after the first
        (the first one also pays the session's cold start)."""
        def rep(s):
            while s.parent is not None:
                s = self.by_id[s.parent]
            return s.attrs.get("rep", -1) if s.name == "setup" else -1
        return [s for s in self.spans if s.name == name and rep(s) >= 1]

    def tops(self) -> list:
        return [s for s in self.spans if s.attrs.get("measured")]

    def subtree(self, spans) -> list:
        """The spans and their descendants, without the machine probes."""
        out, todo = [], list(spans)
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(c for c in self.children.get(s.id, []) if c.name != "probe")
        return out

    def jobs(self, spans) -> list:
        ids = {j for s in self.subtree(spans) for j in self.acct.jobs_by_group.get(s.group, [])}
        return [self.acct.jobs[j] for j in sorted(ids) if j in self.acct.jobs]

    def stage_sum(self, spans, fld: str) -> float:
        stages = {sid: st for j in self.jobs(spans) for sid, st in j.stages.items()}
        return sum(st[fld] for st in stages.values())

    def execs(self, spans) -> list:
        ids = {j.id for j in self.jobs(spans)}
        return [e for e in self.acct.execs if e[0] & ids]

    def node_metric(self, spans, node_pred, metric_pred) -> float:
        return sum(v for _, _, nodes in self.execs(spans) for name, ms in nodes
                   if node_pred(name) for m, v in ms.items() if metric_pred(m))


def _med_s(spans) -> float:
    return median([s.end - s.start for s in spans]) if spans else 0.0


def _dir_files(path: str) -> list[str]:
    return [os.path.join(dp, f) for dp, _, fs in os.walk(path) for f in fs
            if f.endswith(".parquet")]


def _is_time(metric: str) -> bool:
    return "time" in metric or metric == "duration"


def per_layer(spark, tracer, facts: dict, session_s: float) -> dict[str, float]:
    v = SpanView(spark, tracer)
    out = {name: 0.0 for name, _ in PER_LAYER}
    out["session.start_s"] = session_s

    pages = [s for s in v.warm_setup("pipeline.etl_increment") if s.attrs.get("rows", 0) > 0]
    if pages:
        n = len(pages)
        out["pipeline.page_s"] = _med_s(pages)
        out["pipeline.jobs_per_page"] = len(v.jobs(pages)) / n
        out["pipeline.scan_mb_per_page"] = v.stage_sum(pages, "inputBytes") / MB / n
        out["denormalize.join_agg_s"] = v.node_metric(
            pages, lambda node: "Join" in node or "Aggregate" in node, _is_time) / n
        out["denormalize.shuffle_mb_per_page"] = v.stage_sum(pages, "shuffleWriteBytes") / MB / n
        writes = [e for e in v.execs(pages)
                  if any("InsertIntoHadoopFsRelation" in name or "WriteFiles" in name
                         for name, _ in e[2])]
        out["sinks.write_s"] = sum(e[1] for e in writes) / n
        files = _dir_files(facts["sink"])
        out["sinks.files_written"] = float(len(files))
        out["sinks.bytes_per_doc"] = sum(map(os.path.getsize, files)) / facts["index_docs"]

    builds = v.warm_setup("indexing.build_text_index")
    analyze = v.named("analyzers.query_analyze")
    if builds:
        out["analyzers.udf_s"] = v.node_metric(
            builds, lambda node: node.startswith(PY_UDF_NODES),
            lambda m: "time" in m and "init" not in m and "boot" not in m) / len(builds)
    out["indexing.segment_write_s"] = _med_s(builds)
    if facts.get("index"):
        files = _dir_files(os.path.join(facts["index"], "documents_indexed"))
        out["indexing.segments"] = float(len(files))
        out["indexing.bytes_per_doc"] = sum(map(os.path.getsize, files)) / facts["index_docs"]

    requests = v.named("request")
    if requests:
        n = len(requests)
        lookups = v.named("indexing.stats_lookup")
        compiles, executes = v.named("plans.compile"), v.named("plans.execute")
        out["analyzers.query_analyze_calls"] = len(analyze) / n
        out["analyzers.query_analyze_ms"] = 1e3 * sum(s.end - s.start for s in analyze) / n
        out["indexing.stats_lookups_per_req"] = len(lookups) / n
        out["indexing.stats_lookup_ms"] = 1e3 * _med_s(lookups)
        out["plans.compile_ms"] = 1e3 * _med_s(compiles)
        out["plans.compile_jobs_per_req"] = len(v.jobs(compiles)) / n
        out["plans.execute_ms"] = 1e3 * _med_s(executes)
        waits = [j.first_task - j.submitted for j in v.jobs(executes) if j.first_task]
        out["plans.wait_ms"] = 1e3 * median(waits) if waits else 0.0
        hits = sum(s.attrs.get("rows", 0) for s in executes)
        scanned = v.node_metric(executes, lambda node: node.startswith("Scan"),
                                lambda m: m == "number of output rows")
        out["plans.rows_scanned_per_hit"] = scanned / max(1, hits)

    passes = v.named("curate.pass")
    if passes:
        n = len(passes)
        out["dedup.exact_s"] = _med_s(v.named("dedup.exact"))
        out["dedup.near_s"] = _med_s(v.named("dedup.near"))
        cand = v.counts.get("dedup.candidate_pairs", 0.0)
        out["dedup.candidate_pairs"] = cand / n
        out["dedup.pair_keep_frac"] = v.counts.get("dedup.pairs_kept", 0.0) / cand if cand else 0.0
        out["dedup.cc_rounds"] = v.counts.get("dedup.cc_rounds", 0.0) / n
        out["similarity.semdedup_s"] = _med_s(v.named("similarity.semdedup"))
        ann = v.named("similarity.ann")
        out["similarity.ann_s"] = _med_s(ann)
        out["similarity.rows_scored_per_query"] = v.node_metric(
            ann, lambda node: node == "Filter",
            lambda m: m == "number of output rows") / max(1, facts.get("ann_queries", 1) * n)
        filt = v.named("curation.filter")
        out["curation.filter_s"] = _med_s(filt)
        out["textstats.eval_s"] = v.stage_sum(filt, "executorRunTime") / 1e3 / n

    tops = v.tops()
    if tops:
        n = len(tops)
        jobs = v.jobs(tops)
        out["spark.jobs"] = len(jobs) / n
        out["spark.stages"] = len({sid for j in jobs for sid in j.stages}) / n
        out["spark.executor_run_s"] = v.stage_sum(tops, "executorRunTime") / 1e3 / n
        out["spark.executor_cpu_s"] = v.stage_sum(tops, "executorCpuTime") / 1e9 / n
        out["spark.gc_s"] = v.stage_sum(tops, "jvmGcTime") / 1e3 / n
        out["spark.shuffle_write_mb"] = v.stage_sum(tops, "shuffleWriteBytes") / MB / n
        out["spark.spill_mb"] = (v.stage_sum(tops, "memoryBytesSpilled")
                                 + v.stage_sum(tops, "diskBytesSpilled")) / MB / n
        busy = [(j.submitted, j.completed) for j in jobs] + [
            (s.start, s.end) for s in v.spans if s.name == "probe"]
        out["spark.driver_only_s"] = sum(self_time((s.start, s.end), busy) for s in tops) / n
    return out
