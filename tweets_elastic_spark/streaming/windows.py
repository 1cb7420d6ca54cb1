"""Event-time windowed aggregations (SURVEY §2.9 + engine extension).

The reference has no streaming operators — its closest construct is the
hand-rolled keyset micro-batch loop. The fixtures ship an ``events`` table
specifically so the engine demonstrates the Structured-Streaming surface:
tumbling / sliding / session windows, all written so the SAME function works
on a batch DataFrame and on a streaming one (the Spark unification); a
streaming caller adds its own watermark before calling them.

Exact decimal sums (cast once to double) keep results bit-stable across
partial-aggregation orders — required for oracle comparison and a good idea
at 1000 executors anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _value_sum() -> F.Column:
    return F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value")


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Non-overlapping event-time windows keyed by event_type."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), _value_sum())
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame, width: str = "2 hours", slide: str = "1 hour"
) -> DataFrame:
    """Overlapping windows: each event lands in width/slide windows."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), _value_sum())
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: events closer than ``gap`` merge into one
    session (gap == threshold starts a NEW session — touching intervals
    don't overlap)."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            "user_id",
            "n_events",
        )
    )
