"""ES rollup (`_rollup/job` + `_rollup_search`): store pre-aggregated
partials at a fine time grain, then answer coarser aggregations from the
rollup instead of the raw corpus.

The rollup row holds ALGEBRAIC partials — count, sum, min, max per
metric field — which merge exactly under re-aggregation: sum of sums,
min of mins, count of counts; avg is derived (Σsum/Σcount) at query
time, never stored. That's the classic OLAP cube contract, and it's why
a rollup answer is EXACT for these metrics (ES's rollup has the same
algebraic core).

Re-bucketing exploits the zero-padded date key: a coarser calendar
grain is a PREFIX of the finer key ("2024-01-15" → month "2024-01"),
so month/year queries over a day-grain rollup are a substring + groupBy
— no timestamp parsing, no scan of the raw corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tweets_elastic_spark.plans.aggs import _CALENDAR_FMT, _bucket_key

__all__ = ["rollup_job", "rollup_search"]

# the date_histogram calendar grains, finest first; a grain's key is
# the zero-padded prefix of a finer one, as long as its format
_GRAIN_ORDER = [unit.lower() for unit in _CALENDAR_FMT]


def rollup_job(
    source: DataFrame,
    *,
    date_field: str,
    interval: str,
    terms: list[str] | None = None,
    metrics: list[str],
) -> DataFrame:
    """Build the rollup relation: one row per (time bucket, terms...)
    holding doc_count + per-metric algebraic partials
    ``{f}__sum/__count/__min/__max``."""
    if interval not in _GRAIN_ORDER:
        raise ValueError(
            f"unsupported rollup interval {interval!r} "
            f"(calendar grains: {_GRAIN_ORDER})"
        )
    key = _bucket_key(
        "date_histogram", {"field": date_field, "calendar_interval": interval}
    ).alias("__rollup_ts")
    group = [key] + [F.col(t) for t in (terms or [])]
    aggs = [F.count(F.lit(1)).alias("doc_count")]
    for f_name in metrics:
        c = F.col(f_name)
        aggs += [
            F.sum(c).alias(f"{f_name}__sum"),
            F.count(c).alias(f"{f_name}__count"),
            F.min(c).alias(f"{f_name}__min"),
            F.max(c).alias(f"{f_name}__max"),
        ]
    out = source.filter(F.col(date_field).isNotNull())
    for t in terms or []:
        out = out.filter(F.col(t).isNotNull())
    return out.groupBy(*group).agg(*aggs)


def rollup_search(
    rollup: DataFrame,
    *,
    job_interval: str,
    interval: str,
    terms: list[str] | None = None,
    metrics: dict[str, list[str]],
) -> DataFrame:
    """Aggregate the rollup at ``interval`` (>= the job's grain):
    ``metrics`` maps field → requested stats from
    sum/avg/min/max/value_count. Output columns ``{field}_{stat}`` plus
    ``bucket`` (+ the terms columns) and ``doc_count``."""
    gi, qi = _GRAIN_ORDER.index(job_interval), _GRAIN_ORDER.index(interval)
    if qi < gi:
        raise ValueError(
            f"rollup stored at {job_interval!r} cannot answer the finer "
            f"grain {interval!r} — rebuild the job or query the raw corpus"
        )
    bucket = F.substring(F.col("__rollup_ts"), 1,
                         len(_CALENDAR_FMT[interval.upper()])).alias("bucket")
    group = [bucket] + [F.col(t) for t in (terms or [])]
    aggs = [F.sum("doc_count").cast("bigint").alias("doc_count")]
    for f_name, stats in metrics.items():
        s, n = F.sum(f"{f_name}__sum"), F.sum(f"{f_name}__count")
        for stat in stats:
            if stat == "sum":
                aggs.append(F.round(s, 6).alias(f"{f_name}_sum"))
            elif stat == "value_count":
                aggs.append(n.cast("bigint").alias(f"{f_name}_value_count"))
            elif stat == "avg":
                aggs.append(F.round(s / n, 6).alias(f"{f_name}_avg"))
            elif stat == "min":
                aggs.append(F.min(f"{f_name}__min").alias(f"{f_name}_min"))
            elif stat == "max":
                aggs.append(F.max(f"{f_name}__max").alias(f"{f_name}_max"))
            else:
                raise ValueError(
                    f"rollup cannot answer {stat!r} exactly (algebraic "
                    "partials hold sum/count/min/max; percentiles need "
                    "the raw corpus or a mergeable sketch)"
                )
    return rollup.groupBy(*group).agg(*aggs)
