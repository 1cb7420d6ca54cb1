"""ES rollups: a rollup job's buckets merge back to the raw aggregate, and
its guards reject grains it cannot answer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_rollup_merge_and_guards(spark):
    from tweets_elastic_spark.rollup import rollup_job, rollup_search

    df = spark.createDataFrame(
        [(1, "2024-01-05 10:00:00", "a", 10.0),
         (2, "2024-01-20 11:00:00", "a", 30.0),
         (3, "2024-02-01 09:00:00", "a", 2.0),
         (4, "2024-01-07 08:00:00", "b", 5.0)],
        "id long, ts_s string, g string, v double",
    ).withColumn("ts", F.to_timestamp("ts_s"))
    rolled = rollup_job(df, date_field="ts", interval="day",
                        terms=["g"], metrics=["v"])
    assert rolled.count() == 4  # one bucket per (day, g)
    out = {(r["bucket"], r["g"]): (r["doc_count"], r["v_avg"], r["v_max"])
           for r in rollup_search(
               rolled, job_interval="day", interval="month", terms=["g"],
               metrics={"v": ["avg", "max"]}).collect()}
    # month 2024-01 for g=a merges two day-partials: avg 20, max 30
    assert out[("2024-01", "a")] == (2, 20.0, 30.0)
    assert out[("2024-02", "a")] == (1, 2.0, 2.0)
    assert out[("2024-01", "b")] == (1, 5.0, 5.0)
    with pytest.raises(ValueError, match="finer"):
        rollup_search(rolled, job_interval="day", interval="hour",
                      metrics={"v": ["sum"]})
    with pytest.raises(ValueError, match="exactly"):
        rollup_search(rolled, job_interval="day", interval="month",
                      metrics={"v": ["percentiles"]})
    with pytest.raises(ValueError, match="calendar grains"):
        rollup_job(df, date_field="ts", interval="5m", metrics=["v"])
