"""ES ingest pipelines (`PUT _ingest/pipeline` + `?pipeline=` on index):
a processor chain applied to every document before indexing.

ES executes processors per document in its ingest nodes; here the chain
COMPILES to a sequence of Column transformations over the scan — one
codegen'd projection, no per-doc interpreter, and the pipeline becomes an
ordinary part of the ingest DataFrame plan (runs embarrassingly parallel
at any scale).

Supported processors (the common core of ES's set):

* ``set`` — {"field", "value"} literal or {"copy_from"}.
* ``remove`` / ``rename`` — drop / rename a column.
* ``lowercase`` / ``uppercase`` / ``trim`` — string transforms in place
  (optional ``target_field``).
* ``convert`` — {"field", "type": integer|long|float|double|string|
  boolean, "target_field"?}; unparseable values become NULL with
  ``ignore_failure: true`` else the whole job fails at action time
  (ANSI off: documented NULL semantics — ES would fail the document).
* ``gsub`` — regex replace {"field", "pattern", "replacement"}.
* ``split`` — {"field", "separator" (regex)} → array column.
* ``append`` — {"field" (array col), "value" literal} appended.
* ``grok`` — {"field", "patterns": [one pattern]} with the
  %{SYNTAX:semantic[:type]} subset over these built-in syntaxes:
  WORD, NOTSPACE, NUMBER, INT, IP, LOGLEVEL, GREEDYDATA. Compiles to
  one regexp_extract per captured field (no match → NULLs, ES's
  behavior with ignore_missing semantics).
* ``script`` — the canonical arithmetic assignment
  ``ctx.<target> = <arith over ctx.* and params.*>`` through the same
  Painless compiler as update_by_query.
* ``date`` — {"field", "target_field"?, "formats": [java pattern]}
  parsed with to_timestamp (first format only; several raise).

* ``enrich`` — the lookup-join processor, bound through
  ``enrich_policies`` (see ``apply_ingest_pipeline``).

Anything else — inference, geoip (external services) — raises loudly
with the processor name.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tweets_elastic_spark.functions.vectors import col_sql, lit_sql
from tweets_elastic_spark.plans.search import compile_painless

__all__ = ["apply_ingest_pipeline", "grok_to_regex"]

_GROK_SYNTAX = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "NUMBER": r"-?\d+(?:\.\d+)?",
    "INT": r"-?\d+",
    "IP": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
    "LOGLEVEL": r"TRACE|DEBUG|INFO|WARN|ERROR|FATAL",
    "GREEDYDATA": r".*",
}
_GROK_FIELD_RE = re.compile(r"%\{(\w+)(?::(\w+))?(?::(\w+))?\}")
_GROK_TYPES = {"int": "bigint", "long": "bigint", "float": "double",
               "double": "double", None: None}


def grok_to_regex(pattern: str) -> tuple[str, list[tuple[str, str | None]]]:
    """Compile a grok pattern to (anchored Java regex, [(field, cast)]).
    Literal text between %{...} tokens is regex-escaped; each named token
    becomes a capture group in order."""
    fields: list[tuple[str, str | None]] = []
    out = []
    pos = 0
    for m in _GROK_FIELD_RE.finditer(pattern):
        out.append(re.escape(pattern[pos:m.start()]))
        syntax, semantic, typ = m.group(1), m.group(2), m.group(3)
        if syntax not in _GROK_SYNTAX:
            raise ValueError(
                f"unsupported grok syntax %{{{syntax}}} "
                f"(supported: {sorted(_GROK_SYNTAX)})"
            )
        if typ is not None and typ not in _GROK_TYPES:
            raise ValueError(f"unsupported grok type {typ!r}")
        if semantic:
            out.append(f"({_GROK_SYNTAX[syntax]})")
            fields.append((semantic, _GROK_TYPES.get(typ)))
        else:
            out.append(f"(?:{_GROK_SYNTAX[syntax]})")
        pos = m.end()
    out.append(re.escape(pattern[pos:]))
    return "^" + "".join(out) + "$", fields


def _string_proc(df: DataFrame, body: dict, fn) -> DataFrame:
    field = body["field"]
    target = body.get("target_field", field)
    return df.withColumn(target, fn(F.col(field)))


def apply_ingest_pipeline(
    df: DataFrame,
    pipeline: dict,
    *,
    enrich_policies: dict | None = None,
) -> DataFrame:
    """Apply an ES ingest-pipeline definition ``{"processors": [...]}``.

    ``enrich_policies`` binds ES enrich policies for the ``enrich``
    processor: name → (lookup_df, match_field, [enrich_fields]). An
    enrich IS a lookup join — the policy's "enrich index" is a keyed
    dimension, and the processor compiles to a left join (broadcast by
    AQE when the policy is dimension-sized, which is the design point)
    packing the enrich fields into the target struct, NULL when no
    match (ES leaves the field unset)."""
    processors = pipeline.get("processors")
    if not isinstance(processors, list) or not processors:
        raise ValueError("ingest pipeline needs a non-empty processors list")
    for spec in processors:
        (kind, body), = spec.items()
        if kind == "set":
            if "copy_from" in body:
                df = df.withColumn(body["field"], F.col(body["copy_from"]))
            else:
                df = df.withColumn(body["field"], F.lit(body["value"]))
        elif kind == "remove":
            fields = body["field"]
            fields = fields if isinstance(fields, list) else [fields]
            missing = [f for f in fields if f not in df.columns]
            if missing:
                raise ValueError(f"remove: no such field(s) {missing}")
            df = df.drop(*fields)
        elif kind == "rename":
            if body["field"] not in df.columns:
                raise ValueError(f"rename: no such field {body['field']!r}")
            df = df.withColumnRenamed(body["field"], body["target_field"])
        elif kind == "lowercase":
            df = _string_proc(df, body, F.lower)
        elif kind == "uppercase":
            df = _string_proc(df, body, F.upper)
        elif kind == "trim":
            df = _string_proc(df, body, F.trim)
        elif kind == "convert":
            spark_t = {
                "integer": "int", "long": "bigint", "float": "float",
                "double": "double", "string": "string", "boolean": "boolean",
            }.get(body["type"])
            if spark_t is None:
                raise ValueError(f"convert: unsupported type {body['type']!r}")
            target = body.get("target_field", body["field"])
            # try_cast: malformed values become NULL (ES fails the doc;
            # ANSI cast would fail the whole job — documented middle)
            df = df.withColumn(
                target, F.col(body["field"]).try_cast(spark_t)
            )
        elif kind == "gsub":
            target = body.get("target_field", body["field"])
            df = df.withColumn(
                target,
                F.regexp_replace(F.col(body["field"]), body["pattern"],
                                 body["replacement"]),
            )
        elif kind == "split":
            target = body.get("target_field", body["field"])
            df = df.withColumn(
                target, F.split(F.col(body["field"]), body["separator"])
            )
        elif kind == "append":
            df = df.withColumn(
                body["field"],
                F.concat(F.col(body["field"]), F.array(F.lit(body["value"]))),
            )
        elif kind == "grok":
            pats = body.get("patterns")
            if not (isinstance(pats, list) and len(pats) == 1):
                raise ValueError(
                    "grok supports exactly one pattern (ES tries several "
                    "in order — compose with on_failure instead)"
                )
            rx, fields = grok_to_regex(pats[0])
            src = F.col(body["field"])
            for i, (name, cast_t) in enumerate(fields):
                c: Column = F.regexp_extract(src, rx, i + 1)
                # regexp_extract yields '' on no-match; ES leaves the
                # field unset — render as NULL
                c = F.when(src.rlike(rx), c)
                if cast_t is not None:
                    c = c.cast(cast_t)
                df = df.withColumn(name, c)
        elif kind == "script":
            m = re.match(
                r"^\s*ctx\.([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+?)\s*;?\s*$",
                body["source"], flags=re.DOTALL,
            )
            if not m:
                raise ValueError(
                    "ingest script supports `ctx.<field> = <arithmetic>` "
                    f"only, got {body['source']!r}"
                )
            target, rhs = m.group(1), m.group(2)
            rhs_doc = re.sub(r"ctx\.([A-Za-z_][A-Za-z0-9_]*)",
                             r"doc['\1'].value", rhs)
            expr = F.expr(compile_painless(
                rhs_doc, resolve_doc=col_sql,
                params={k: lit_sql(v)
                        for k, v in body.get("params", {}).items()},
            ))
            df = df.withColumn(target, expr)
        elif kind == "date":
            formats = body.get("formats", [])
            if len(formats) != 1:
                raise ValueError(
                    "date processor supports exactly one format"
                )
            target = body.get("target_field", "@timestamp")
            df = df.withColumn(
                target, F.to_timestamp(F.col(body["field"]), formats[0])
            )
        elif kind == "enrich":
            name = body["policy_name"]
            if not enrich_policies or name not in enrich_policies:
                raise ValueError(
                    f"enrich policy {name!r} is not bound — pass "
                    "enrich_policies={name: (df, match_field, fields)}"
                )
            lk_df, match_field, enrich_fields = enrich_policies[name]
            target = body["target_field"]
            keyed = lk_df.select(
                F.col(match_field).alias("__enrich_key"),
                F.struct(*[F.col(c) for c in enrich_fields]).alias(target),
            )
            df = df.join(
                keyed, df[body["field"]] == F.col("__enrich_key"), "left"
            ).drop("__enrich_key")
        else:
            raise ValueError(
                f"unsupported ingest processor {kind!r} (inference/geoip "
                "need external services this engine does not fake)"
            )
    return df
