"""SparkSession factory with scale-aware defaults.

Local tests run on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); production is a
multi-executor cluster reading ~100 TB. Every conf set here is chosen to be
correct in both worlds:

* AQE on — runtime re-planning (shuffle coalescing, skew-join splitting,
  broadcast-join demotion/promotion) is the cluster-scale replacement for the
  reference's hand-tuned indexes/stats (SURVEY §4).
* Arrow on — the analyzer/multimodal Pandas UDFs (SURVEY §2.10) move data in
  columnar batches, never row-at-a-time.
* Session timezone pinned to UTC — the reference's offset-preserving date
  format (mapping.json:16-19) is compared instant-wise, not string-wise
  (SURVEY §7 risk 3).
* DataFrame debugging off — PySpark otherwise captures the Python call site
  of every ``Column`` method (five Py4J round trips each), which is most of
  the driver-side cost of compiling a search request. Errors keep Spark's
  error class, message and plan; they lose only the Python ``file:line``
  "DataFrame context". Sessions this module did not build keep PySpark's
  default, and ``extra_conf`` can turn it back on. PySpark reads the
  setting once per process, from the first active session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "tweets-elastic-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``shuffle_partitions`` defaults to the local core count; on a real
    cluster pass ~2-3x total executor cores (AQE coalesces the excess, so
    over-provisioning is cheap; under-provisioning causes spill).
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{default_parallelism()}]")
    if shuffle_partitions is None:
        shuffle_partitions = default_parallelism()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Nested-document pipelines benefit from nested-column pruning
        # (on by default in Spark 3.4+; pinned so the plan is stable).
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
