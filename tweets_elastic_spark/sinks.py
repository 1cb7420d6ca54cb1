"""Id-keyed sinks with a quarantine channel (SURVEY §2.1 S7-S11).

The reference bulk-loads documents into Elasticsearch with an explicit
``_id`` per row (src/main.py:137-148) so re-imports are idempotent
(overwrite-by-id), recreates the index on demand (src/main.py:12-35), and
prints failed bulk items per batch (src/main.py:147-148). Spark-first
equivalents:

* id-keyed parquet dataset writer — ``mode('overwrite')`` replaces the
  delete-and-recreate DDL; per-partition parallel writes replace the
  single-threaded bulk loop (the ``parallel_bulk`` the reference imported
  but never used, src/main.py:4);
* a validation splitter that routes bad rows to a quarantine DataFrame with
  a reason column instead of printing them;
* an optional Elasticsearch connector writer (``org.elasticsearch.spark.sql``)
  for environments that ship the connector jar — the sandbox doesn't, so it
  fails with a clear message rather than an import error.

At 100 TB: ``partition_by`` + ``target_file_partitions`` control file sizing
(the 3-shard / 20-40 GB-per-shard guidance, docs/protokol.md:23, maps to
output-partition counts); dedup-before-write enforces id uniqueness the way
ES's overwrite-by-id would.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from tweets_elastic_spark.functions.vectors import col_sql, lit_sql
from tweets_elastic_spark.plans.search import Query, compile_painless, from_es_json


def write_documents(
    df: DataFrame,
    path: str,
    id_col: str = "id",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    target_file_partitions: int | None = None,
    dedup_ids: bool = True,
) -> None:
    """Write an id-keyed document dataset (S7/S8 analogue).

    ``dedup_ids`` keeps the LAST row per id (ES bulk semantics: later ops
    overwrite earlier ones within a load)."""
    out = df
    if dedup_ids:
        # max_by over a monotonic tiebreak would need an order column; for
        # batch loads "last" is meaningless across a shuffle, so keep ONE
        # arbitrary-but-deterministic row per id via a sorted struct agg.
        # Unorderable payload types (maps) can't go through max(struct) —
        # fall back to dropDuplicates (still one row per id, but which row
        # wins is partition-order-dependent).
        other = [c for c in out.columns if c != id_col]
        orderable = not any("map<" in t for _, t in out.dtypes)
        if orderable:
            out = (
                out.groupBy(id_col)
                .agg(F.max(F.struct(*other)).alias("_row"))
                .select(id_col, "_row.*")
            )
        else:
            out = out.dropDuplicates([id_col])
    if target_file_partitions is not None:
        out = out.repartition(target_file_partitions)
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def increment_counters(
    spark,
    path: str,
    deltas: DataFrame,
    id_col: str = "id",
    counter_col: str = "retweet_count",
    delta_col: str = "delta",
) -> int:
    """S11 analogue: batch update-in-place of a counter column.

    The reference applies ``ctx._source.retweet_count += params.n`` per
    document through ES's ``_update`` + Painless (docs/protokol.md:596-611).
    The Spark-first batch equivalent: read the id-keyed dataset, left-join
    the summed (id, delta) updates, add the delta, and swap the dataset
    directory (write-to-temp, rename old aside, rename new in — reading
    and overwriting the SAME parquet path in one job would race the file
    deletion, and deleting before writing could lose data on a crash).
    Documents without a delta pass through unchanged; deltas for unknown
    ids are ignored (ES would 404 them); several deltas for one id sum.
    Returns the number of documents updated.

    One scan + one broadcast-or-shuffle join at any scale; a transactional
    table format (Delta MERGE) is the upsert-grade version of the same
    logical plan.
    """
    docs = spark.read.parquet(path)
    # pre-aggregate: several delta batches for one id sum into one update
    # (ES would apply them sequentially to one doc) — without this, dup ids
    # in the join would duplicate whole document rows
    d = deltas.groupBy(F.col(id_col).alias("_upd_id")).agg(
        F.sum(delta_col).alias("_delta")
    )
    # no forced broadcast: delta sets are usually small (AQE broadcasts
    # them on its own) but can be corpus-sized after a recount job
    obs = Observation()
    updated = (
        docs.join(d, docs[id_col] == d["_upd_id"], "left")
        .withColumn(
            counter_col,
            (F.col(counter_col) + F.coalesce(F.col("_delta"), F.lit(0))).cast(
                dict(docs.dtypes)[counter_col]
            ),
        )
        # the updated-row count rides the write job (observe) — a separate
        # semi-join count would re-scan the whole dataset
        .observe(
            obs,
            F.sum(F.col("_upd_id").isNotNull().cast("long")).alias("n_updated"),
        )
        .drop("_upd_id", "_delta")
    )
    tmp = path.rstrip("/") + ".updating"
    updated.write.mode("overwrite").parquet(tmp)
    n_updated = int(obs.get["n_updated"] or 0)
    _swap_dataset_dir(path, tmp)
    return n_updated


def _swap_dataset_dir(path: str, tmp: str) -> None:
    """Replace the live dataset directory with ``tmp`` via two renames: the
    data is always recoverable (a crash between them leaves `.old` + the
    new directory intact — the only window is a momentarily missing live
    path, vs rmtree-first which could LOSE data). A transactional table
    format (Delta) removes even that window; documented trade-off for a
    filesystem sink."""
    old = path.rstrip("/") + ".old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)


def validate_split(
    df: DataFrame, rules: dict[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """S9 analogue: split into (good, quarantine). ``rules`` maps a reason
    string to a predicate that VALID rows satisfy; quarantined rows carry
    the array of failed-rule names in ``_errors``."""
    errors = F.array_compact(
        F.array(*[
            F.when(~cond, F.lit(name)).otherwise(F.lit(None))
            for name, cond in rules.items()
        ])
    )
    tagged = df.withColumn("_errors", errors)
    good = tagged.filter(F.size("_errors") == 0).drop("_errors")
    bad = tagged.filter(F.size("_errors") > 0)
    return good, bad


def write_elasticsearch(
    df: DataFrame,
    index: str,
    id_col: str = "id",
    nodes: str = "localhost:9200",
    batch_entries: int = 200,
) -> None:
    """Optional ES sink via the elasticsearch-spark connector (the
    production path the reference's bulk loop corresponds to; batch size
    mirrors src/main.py:109). Raises a clear error when the connector jar
    isn't on the classpath."""
    try:
        (
            df.write.format("org.elasticsearch.spark.sql")
            .option("es.nodes", nodes)
            .option("es.mapping.id", id_col)
            .option("es.batch.size.entries", str(batch_entries))
            .option("es.index.auto.create", "true")
            .mode("append")
            .save(index)
        )
    except Exception as e:
        # only translate the missing-connector case — a live-cluster write
        # failure (ES down, mapping rejection, task failure) must surface
        # as itself, not as classpath guidance
        msg = str(e)
        if (
            "DATA_SOURCE_NOT_FOUND" in msg
            or "Failed to find data source" in msg
            or "ClassNotFoundException" in msg
        ):
            raise RuntimeError(
                "elasticsearch-spark connector not available on the classpath; "
                "add org.elasticsearch:elasticsearch-spark-30_2.13 to "
                "spark.jars.packages or use write_documents (parquet sink)"
            ) from e
        raise


def _compile_dsl(query, id_field: str = "doc_id"):
    if isinstance(query, Query):
        return query
    return from_es_json(query, id_field=id_field)


def delete_by_query(df: DataFrame, query) -> DataFrame:
    """ES ``_delete_by_query``: remove every document the query matches.

    The relational form is the SURVIVOR relation — one negated-predicate
    filter riding the scan (vs ES's scroll-then-bulk-delete round trips);
    write it back through ``write_documents(mode='overwrite')`` or a
    transactional DELETE at deploy scale. ``query`` is ES query-DSL JSON
    or a compiled Query node."""
    q = _compile_dsl(query)
    return df.filter(~F.coalesce(q.predicate(df.sparkSession), F.lit(False)))


def update_by_query(df: DataFrame, query, script: str,
                    params: dict | None = None) -> DataFrame:
    """ES ``_update_by_query``: apply a Painless assignment to every
    matching document. Supported script shape — the one virtually every
    production update_by_query takes:

        ctx._source.<target> = <arithmetic over ctx._source.* and params.*>

    The rhs goes through the same Painless-arithmetic compiler as
    script_score/scripted_metric, so the whole update is ONE conditional
    codegen'd projection over the scan (non-matching documents pass
    through bit-unchanged) — vs ES's per-document script interpreter +
    reindex. Anything outside that shape raises loudly."""
    m = re.match(
        r"^\s*ctx\._source\.([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+?)\s*;?\s*$",
        script, flags=re.DOTALL,
    )
    if not m:
        raise ValueError(
            "update_by_query supports `ctx._source.<field> = <arithmetic>` "
            f"scripts only, got {script!r}"
        )
    target, rhs = m.group(1), m.group(2)
    if target not in df.columns:
        raise ValueError(
            f"update_by_query target {target!r} is not a column "
            f"(have {df.columns}) — ES would dynamically add it; a typed "
            "engine refuses"
        )
    # the rhs reads fields as ctx._source.X — rewrite to the compiler's
    # doc['X'].value form
    rhs_doc = re.sub(r"ctx\._source\.([A-Za-z_][A-Za-z0-9_]*)",
                     r"doc['\1'].value", rhs)
    expr = F.expr(compile_painless(
        rhs_doc,
        resolve_doc=col_sql,
        params={k: lit_sql(v) for k, v in (params or {}).items()},
    ))
    q = _compile_dsl(query)
    pred = F.coalesce(q.predicate(df.sparkSession), F.lit(False))
    old = F.col(target)
    return df.withColumn(
        target,
        F.when(pred, expr.cast(dict(df.dtypes)[target])).otherwise(old),
    )
