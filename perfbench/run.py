"""Workload benchmark for the tweet-document engine.

    python3 perfbench/run.py --workload {search,curate} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. One run is one fresh interpreter and one
SparkSession on ``local[nproc]``. It generates the workload's inputs from
the seed, sets up, warms up, runs the closed loop for about ``--seconds`` of
measured time, checks every output it can, and prints one JSON line last:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Every run also writes a result file under
``.perfbench_results/`` (never overwriting one); a traced run reports its
tracing overhead against the latest untraced result for the same workload,
seed and ``--seconds``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("search", "curate")
END_TO_END = [
    ("setup_s", "s"),
    ("latency_p50_ms", "ms"),
    ("throughput_per_s", "1/s"),
]


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' peak resident set (VmHWM) from /proc."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def _environment(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the package from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path[:0] = [ROOT, HERE]


def _write_result(record: dict) -> str:
    out_dir = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(out_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    base = f"{record['workload']}-seed{record['seed']}-trace{record['trace']}-{stamp}"
    for k in range(1000):
        path = os.path.join(out_dir, f"{base}-{k}.json")
        try:
            with open(path, "x") as f:  # "x": an earlier result is never overwritten
                json.dump(record, f, indent=1, sort_keys=True)
            return path
        except FileExistsError:
            continue
    raise RuntimeError("no free result file name")


def _overhead(record: dict) -> dict:
    """Traced minus untraced end-to-end figures, as a share of untraced,
    against the newest untraced result of the same workload, seed and
    --seconds."""
    out_dir = os.path.join(ROOT, ".perfbench_results")
    prefix = f"{record['workload']}-seed{record['seed']}-trace0-"
    base = None
    for name in sorted(os.listdir(out_dir)) if os.path.isdir(out_dir) else []:
        if name.startswith(prefix):
            with open(os.path.join(out_dir, name)) as f:
                other = json.load(f)
            if other["seconds"] == record["seconds"]:
                base = other["end_to_end"]
    if base is None:
        return {}
    return {k: (v - base[k]) / base[k] for k, v in record["end_to_end"].items()
            if base.get(k)}


def _stop(spark, gateway, jvm_proc) -> None:
    """Stop Spark and wait for the JVM to exit. The gateway JVM quits when
    its stdin closes; Python workers are its children and go with it."""
    spark.stop()
    gateway.shutdown()
    if jvm_proc is None:
        return
    if jvm_proc.stdin:
        jvm_proc.stdin.close()
    try:
        jvm_proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - escalate, but never leave the JVM behind
        jvm_proc.kill()
        jvm_proc.wait(timeout=30)
        raise


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tweets_elastic_spark", "__init__.py")):
        print(f"perfbench: no tweets_elastic_spark package under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}-{time.time_ns()}")
    _environment(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    import spans
    import stats
    import workloads
    from tweets_elastic_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    jvm_proc = getattr(gateway, "proc", None)
    tracer = spans.Tracer(spark, enabled=bool(args.trace))
    try:
        if args.trace:
            # Spans around query-time calls into other layers: the statistics
            # lookups index_bm25_provider makes, and every analyze_text call
            # (the provider's and the query compiler's). Installed in every
            # module of the package that bound them, before the first request.
            from tweets_elastic_spark import indexing
            from tweets_elastic_spark.functions import analyzers
            spans.wrap_everywhere(tracer, "indexing.stats_lookup", indexing,
                                  "bm25_stats_from_index", "tweets_elastic_spark")
            spans.wrap_everywhere(tracer, "analyzers.query_analyze", analyzers,
                                  "analyze_text", "tweets_elastic_spark")
        run = workloads.Run(spark, tracer, work, args.seed, args.seconds)
        outcome = workloads.WORKLOADS[args.workload](run)
        pids = [os.getpid()] + ([jvm_proc.pid] if jvm_proc else [])
        peak_rss = _peak_rss_mb(pids)
        layers = None
        if args.trace:
            import layers as layer_metrics
            layers = layer_metrics.per_layer(spark, tracer, run.facts, session_s)
            if args.workload == "search" and not layers["analyzers.query_analyze_calls"]:
                run.problems.append("traced run recorded no query-time analyze_text call")
    finally:
        _stop(spark, gateway, jvm_proc)

    # Reference-machine time: every block scaled by the SQL probes around it
    # (workloads.Clock); the wall-clock figures are kept beside them.
    lat = outcome.ops.scaled()
    e2e = {"setup_s": stats.median(outcome.setup.scaled()),
           "latency_p50_ms": 1e3 * stats.median(lat),
           "throughput_per_s": outcome.units / sum(lat)}
    wall = {"setup_s": stats.median(outcome.setup.wall()),
            "latency_p50_ms": 1e3 * stats.median(outcome.ops.wall()),
            "throughput_per_s": outcome.units / outcome.measured_s}
    q_tail, tail_s = stats.tail(lat)
    correct = not run.problems and run.failed == 0
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": _nproc(), "correct": correct,
        "attempted": run.attempted, "failed": run.failed, "problems": run.problems,
        "end_to_end": e2e, "wall": wall,
        "probes_s": outcome.ops.probes, "setup_probes_s": outcome.setup.probes,
        "per_layer": layers, "session_s": session_s,
        "samples": len(lat), "tail_quantile": q_tail, "tail_ms": 1e3 * tail_s,
        "peak_rss_mb": peak_rss,
        "ops_s": outcome.ops.wall(), "blocks_s": outcome.ops.blocks,
        "setup_reps_s": outcome.setup.wall(),
        "measured_s": outcome.measured_s, "units": outcome.units,
        "unit": outcome.unit_name, "facts": {k: v for k, v in run.facts.items()
                                             if isinstance(v, (int, float, str, list))},
    }
    if args.trace:
        record["tracing_overhead"] = _overhead(record)
    path = _write_result(record)

    print(f"workload {args.workload}  seed {args.seed}  nproc {_nproc()}  "
          f"session start {session_s:.2f} s  peak RSS {peak_rss:.0f} MB")
    print(f"  {len(lat)} operations in {outcome.measured_s:.2f} s measured "
          f"({outcome.units:g} {outcome.unit_name})")
    print(f"  sql probe {1e3 * stats.median(outcome.ops.probes):.1f} ms (reference "
          f"{1e3 * workloads.PROBE_REF_S:g} ms); reference-machine figures, wall in brackets:")
    for name, unit in END_TO_END:
        print(f"  {name:<18} {e2e[name]:12.4f} {unit:<4} ({wall[name]:.4f})")
    print(f"  latency p{q_tail:<4.0f}     {1e3 * tail_s:12.4f} ms  (highest percentile "
          f"<= 95 with >= 10 samples above it, at least the median)")
    print(f"  fail_frac          {run.failed / max(1, run.attempted):12.4f}  "
          f"({run.failed} of {run.attempted} operations)")
    for p in run.problems:
        print(f"  CHECK FAILED: {p}")
    if args.trace:
        for name, value in record["tracing_overhead"].items():
            print(f"  tracing overhead {name}: {100 * value:+.1f}%")
        metrics = {name: {"value": layers[name], "unit": unit}
                   for name, unit in layer_metrics.PER_LAYER}
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
    print(f"  result file {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
