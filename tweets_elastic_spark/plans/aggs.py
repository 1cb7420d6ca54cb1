"""ES aggregations-DSL front-end (SURVEY §2.5 extension): the ``aggs`` half
of a search request compiled to one groupBy plan.

The reference exercises the query DSL (plans/search.py compiles its
artifact verbatim); a user of Elasticsearch runs *aggregation* requests
against the same index — terms buckets, date histograms, metric sub-aggs.
This module compiles that JSON shape to a single declarative
``groupBy(...).agg(...)`` so Catalyst plans it as one partial+final
aggregation over the (optionally query-filtered) scan.

Supported surface:

* bucket aggs: ``terms`` (keyword buckets, ``size`` top-N by doc_count
  desc / key asc or an explicit ``order``), ``date_histogram``
  (``calendar_interval``: minute, hour, day, month, year, or ES's
  compact ``1m``/``1h``/``1d``/``1M``/``1y``; or ``fixed_interval``
  ``<n>s|m|h|d``), ``histogram`` (numeric, fixed ``interval``); units
  and grids come from functions/time_units.py,
  ``range`` / ``date_range`` (sorted non-overlapping [from, to) buckets,
  ES key labels); one bucket agg may nest ONE further bucket agg under
  ``aggs``. ES's null contract holds: documents missing the bucket field
  leave the aggregation unless ``missing`` supplies a substitute.
* ``sampler`` / ``diversified_sampler``: sub-aggs over the top
  ``shard_size`` documents (diversified additionally caps docs per
  ``field`` value — de-biasing a dominant source); this engine requires
  an explicit ``sort_field`` (+ optional ``tiebreak_field``) instead of
  ES's internal relevance order — determinism over score-order, a
  documented divergence. Window-rank + TakeOrdered, then sub-aggs over
  sample-cardinality rows.
* bucket aggs also: ``multi_terms`` (distinct combinations of several
  term sources, key rendered as the "|"-joined key_as_string) and
  ``auto_date_histogram`` (engine-picked interval from a fixed-width
  ladder targeting ``buckets``, span probed via a bounded 1-row driver
  aggregate; chosen interval returned as the ``interval`` column).
* metric sub-aggs: ``sum``, ``avg``, ``min``, ``max``, ``value_count``,
  ``cardinality``, ``percentiles``, ``percentile_ranks``, ``stats``,
  ``extended_stats``, ``weighted_avg``, ``median_absolute_deviation``
  (exact nested-median over a per-bucket sorted array), ``string_stats``
  (length stats + exact char-level Shannon entropy), ``rate``
  (bucket-width-normalized count/sum under a fixed-width
  date_histogram), ``matrix_stats`` (multivariate moments +
  covariance/correlation matrix from one conditional power-sum pass),
  and ``t_test`` (paired/pooled/Welch; p value attached over the
  reduced bucket relation via functions/studentt). ES's ``cardinality``/``percentiles``/
  ``percentile_ranks``/``median_absolute_deviation`` are approximations
  (HLL / t-digest); this engine evaluates them EXACTLY (countDistinct /
  interpolated percentile / conditional avg / true nested median) so
  results stay oracle-checkable — documented, strictly-more-accurate
  divergences.
* ``composite`` (cursor-paginated bucket enumeration in total key order —
  the scale path; the ``after`` cursor compiles to a keyset row-filter
  BELOW the aggregation).
* ``significant_terms`` / ``significant_text`` (foreground-vs-background
  scoring over keyword values / analyzed tokens, ES's JLH heuristic,
  one conditional-aggregation scan; shared ``_jlh_rank`` tail).
* ``filters``, ``adjacency_matrix`` (pair-intersection co-occurrence
  cells), ``missing``, ``global``, ``nested`` (array-of-structs explode
  feeding the ordinary machinery); ``terms`` ``include``/``exclude``
  (whole-term Lucene regex or value list); ``min_doc_count: 0`` +
  ``extended_bounds`` empty-bucket generation for histogram families.
* pipeline aggs: ``cumulative_sum``, ``derivative``, ``serial_diff``
  (lagged difference, ES's deseasonalizer), ``moving_fn``
  (ordered, histogram-family parents), ``normalize`` (six rescaling
  methods, unbounded windows over the bucket list), ``bucket_script`` /
  ``bucket_selector`` (Painless-subset ``params`` bindings),
  ``bucket_sort`` — all window/filter work over the reduced bucket
  relation, the coordinator-side shape ES itself uses; SIBLING pipelines
  ``avg/sum/min/max_bucket`` annotate the bucket rows via a 1-row
  broadcast cross join, as do ``stats_bucket`` (five flattened
  ``{name}_{stat}`` scalars) and ``percentiles_bucket`` (exact
  interpolated ``{name}_p{percent}`` scalars — ES is exact here too,
  the bucket list is coordinator-side).
* ``top_hits`` (per-bucket top documents by an explicit sort — a window
  rank, must be the bucket's only sub-agg since its result shape is
  documents, not metrics).

Every ES sort surface (request ``sort``, ``collapse.inner_hits``,
``top_hits``, ``bucket_sort``, ``top_metrics``, terms ``order``,
composite source ``order``, ``geo_line``'s ``sort_order``) reads its keys
through one rule, ``_sort_keys``: a direction is exactly ``"asc"`` or
``"desc"`` and anything else raises; nulls sort first ascending and last
descending (composite sources: per ``missing_order``). ``_order_cols``
turns the keys into sort columns with that null placement, and
``search_after`` and composite ``after`` both page through one keyset
cursor, ``_keyset_after``: one null-aware strictly-after SQL predicate.

The hits path (es_request) additionally supports ``collapse`` (field
collapsing: best hit per group under the request sort — a window rank),
``highlight`` (full-field tagging), ``script_fields`` (Painless-subset
computed columns per page), ``search_after`` keyset pagination, ``from``
offset pagination, ``rescore`` (two-phase ranking over the top-window
relation), and the ES 8 ``knn`` clause (pre-filtered exact vector
top-k; hybrid fusion via plans.search.rrf_fuse).

Result shape: the flattened leaf-bucket relation — one row per innermost
bucket combination, carrying every level's key column plus ``doc_count``
and the metric columns (ES's nested JSON response is a tree rendering of
exactly this relation). Unknown agg types, and keys outside a kind's
row of ``_AGG_KEYS``, raise — never a silently dropped aggregation or
option.

At scale nothing here is new machinery: buckets are groupBy keys (hash
partial aggregation map-side), metrics are built-in JVM aggregates, and
``terms`` size is a TakeOrderedAndProject over bucket counts.
"""

from __future__ import annotations

import ipaddress
import math
import re

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from tweets_elastic_spark.functions.analyzers import analyze
from tweets_elastic_spark.functions.hashing import hash60
from tweets_elastic_spark.functions.ip import (
    ipv6_canonical,
    ipv6_groups,
    ipv6_mask,
)
from tweets_elastic_spark.functions.studentt import student_t_two_sided_p
from tweets_elastic_spark.functions.time_units import (
    CALENDAR, SECONDS, bucket, read_compact, unit_of)
from tweets_elastic_spark.functions.vectors import (
    col_sql,
    cosine,
    double_sql,
    lit_sql,
    vec_sql,
)
from tweets_elastic_spark.plans.search import (
    _RETRIEVER_KEYS,
    Regexp,
    check_keys,
    compile_painless,
    es_retriever,
    from_es_json,
    haversine_sql,
    match_terms_by_field,
    parse_distance_meters,
    search,
)

# calendar unit → its date_histogram key format, finest first
_CALENDAR_FMT = {
    "MINUTE": "yyyy-MM-dd HH:mm",
    "HOUR": "yyyy-MM-dd HH",
    "DAY": "yyyy-MM-dd",
    "MONTH": "yyyy-MM",
    "YEAR": "yyyy",
}

_METRICS = {
    "sum": lambda c: F.sum(c),
    "avg": lambda c: F.avg(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
    "value_count": lambda c: F.count(c),
    "cardinality": lambda c: F.countDistinct(c),
}


def _double_ref(field: str) -> str:
    """``field`` read as a double, in SQL (a Painless ``doc[...]`` value)."""
    return f"CAST({col_sql(field)} AS DOUBLE)"


def _sort_keys(spec, surface: str) -> list[tuple[str, bool, bool]]:
    """ES sort syntax → ``(field, desc, nulls_first)`` keys. ``spec`` is a
    field name (ascending), ``{field: dir}``, ``{field: {"order": dir,
    "missing": "_first"|"_last"}}`` or a list of these; ``dir`` is
    exactly ``"asc"`` or ``"desc"``, and anything else, or any other key
    in the object form, raises naming the value and ``surface``. Without
    ``missing``, nulls take Spark's default place: first ascending, last
    descending (ES puts missing values last either way, MIGRATION.md)."""
    keys = []
    for entry in spec if isinstance(spec, list) else [spec]:
        field, direction, opts = entry, "asc", {}
        if not isinstance(entry, str):
            (field, direction), = entry.items()
            if isinstance(direction, dict):
                opts, direction = direction, direction.get("order", "asc")
        check_keys(opts, {"order", "missing"}, surface)
        missing = opts.get("missing")
        if missing not in (None, "_first", "_last"):
            raise ValueError(f"unsupported {surface} missing for {field!r}: "
                             f"{missing!r} (_first/_last)")
        if direction not in ("asc", "desc"):
            raise ValueError(
                f"unsupported {surface}: {direction!r} for {field!r} "
                "(bad sort direction; asc/desc only)"
            )
        nulls_first = direction == "asc" if missing is None else missing == "_first"
        keys.append((field, direction == "desc", nulls_first))
    return keys


def _order_cols(keys) -> list[Column]:
    """``(field, desc, nulls_first)`` keys → ``orderBy``/``Window`` columns
    with the null placement explicit."""
    return [
        F.col(f).desc_nulls_first() if desc and nf
        else F.col(f).desc_nulls_last() if desc
        else F.col(f).asc_nulls_first() if nf
        else F.col(f).asc_nulls_last()
        for f, desc, nf in keys
    ]


def _keyset_after(keys, values) -> str:
    """The rows strictly after the cursor ``values`` in the order of
    ``keys`` (``(column, desc, nulls_first)``), as one SQL predicate
    (``search_after`` and composite ``after``). Lexicographic over the
    keys; a null on either side compares by its place in the order, so a
    null-keyed row is reached from both sides of the cursor. The
    predicate uses only AND/OR, under which a NULL comparison acts as
    false, so ``c > v`` needs no ``coalesce`` and a leading plain column
    reaches the scan as a pushed filter."""
    pred = None  # the keys after this one; None is false
    for (name, desc, nulls_first), v in reversed(list(zip(keys, values))):
        c = col_sql(name)
        if v is None:
            eq = f"{c} IS NULL"
            strict = f"{c} IS NOT NULL" if nulls_first else None
        else:
            eq = f"{c} = {lit_sql(v)}"
            strict = f"{c} {'<' if desc else '>'} {lit_sql(v)}"
            if not nulls_first:
                strict += f" OR {c} IS NULL"
        terms = ([strict] if strict else []) + ([f"{eq} AND ({pred})"] if pred else [])
        pred = " OR ".join(f"({t})" for t in terms) or None
    return pred or "false"


def _ranked_keys(tiebreak: str | None) -> list[tuple[str, bool, bool]]:
    """Relevance order: score descending, then the tiebreak ascending."""
    return [("score", True, False)] + ([(tiebreak, False, True)] if tiebreak else [])


def categorize_key(src: Column, max_matched_tokens=None) -> Column:
    """The deterministic categorize_text first pass, shared by the agg
    front-end and ES|QL's ``CATEGORIZE()`` grouping function (8.16):
    whitespace tokens, number-bearing tokens dropped as variables, the
    surviving sequence (optionally truncated) IS the category key;
    messages with no invariant token key to NULL (no bucket)."""
    toks = F.filter(
        F.split(src, r"\s+"),
        lambda t: (t != F.lit("")) & ~t.rlike(r"\d"),
    )
    if max_matched_tokens is not None:
        if int(max_matched_tokens) <= 0:
            raise ValueError("max_matched_tokens must be > 0")
        toks = F.slice(toks, 1, int(max_matched_tokens))
    # bind once (no-CSE): the tokenize chain would otherwise run
    # twice per row (empty-check + key)
    return F.element_at(
        F.transform(
            F.array(F.array_join(toks, " ")),
            lambda k: F.when(k != F.lit(""), k),
        ),
        1,
    )


def mad_expr(value: Column, ov=lambda c: c) -> Column:
    """EXACT median absolute deviation — median(|x - median(x)|), both
    medians linearly interpolated — as ONE sorted-array aggregate.
    Shared by the agg front-end's ``median_absolute_deviation`` metric
    and ES|QL's ``MEDIAN_ABSOLUTE_DEVIATION`` (upstream estimates with
    t-digest; this engine is exact — the documented divergence).
    ``ov`` wraps the inner collect_list for INLINESTATS windows.
    Per-group memory is O(group size), the cost of exactness; the
    bounded-state sketch alternative lives in _pop_sketch_mads."""
    arr = F.array_sort(ov(F.collect_list(value)))

    def _arr_median(a: Column) -> Column:
        n = F.size(a)
        lo = F.element_at(a, ((n + 1) / 2).cast("int"))
        hi = F.element_at(a, (n / 2 + 1).cast("int"))
        return F.when(n > 0, (lo + hi) / 2.0)

    def _mad_of(xs: Column) -> Column:
        # xs is a BOUND lambda variable: every reference is an O(1)
        # attribute lookup. Embedding `arr` directly would nest the
        # sort inside the per-element deviation lambda (Catalyst
        # does not CSE across lambda bodies) → O(n²·log n) on a
        # populous bucket; binding once keeps the whole metric
        # O(n·log n).
        med = _arr_median(xs)
        devs = F.array_sort(F.transform(xs, lambda x: F.abs(x - med)))
        return _arr_median(devs)

    return F.element_at(F.transform(F.array(arr), _mad_of), 1)


def _histogram_interval(body: dict) -> tuple[int, str, bool]:
    """A date_histogram's interval → ``(n, unit, fixed)``.
    ``fixed_interval`` is ES's compact ``<n><code>`` of a unit of a day
    or less; ``calendar_interval`` is a unit word or its ``1<code>``
    form, of a unit that has a key format."""
    fixed = body.get("fixed_interval")
    if fixed is not None:
        n, unit = read_compact(fixed) or (0, None)
        if unit is None or unit in CALENDAR:
            raise ValueError(
                f"bad fixed_interval {fixed!r} (expected <n>[smhd])")
        return n, unit, True
    interval = str(body.get("calendar_interval", body.get("interval")))
    n, unit = read_compact(interval) or (1, unit_of(interval))
    if n != 1 or unit not in _CALENDAR_FMT:
        raise ValueError(f"unsupported date_histogram interval: {interval!r} (minute/"
                         "hour/day/month/year or 1m/1h/1d/1M/1y, or fixed_interval)")
    return n, unit, False


def _bucket_key(kind: str, body: dict) -> Column:
    """Bucket-key expression. ES's null contract: documents missing the
    field fall out of the aggregation unless ``missing`` supplies a
    substitute — modeled here as a key that stays NULL (dropped by
    es_aggregate) or coalesces to the ``missing`` value."""
    if kind == "multi_terms":
        # ES multi_terms: one bucket per DISTINCT COMBINATION of several
        # term sources. ES's response key is a value list; the flattened
        # relation renders its key_as_string form (values joined with
        # "|"). Null contract: a document missing ANY source leaves the
        # aggregation (ES drops it unless that source has `missing`).
        parts = []
        for t in body["terms"]:
            c: Column = F.col(t["field"])
            if "missing" in t:
                c = F.coalesce(c, F.lit(t["missing"]))
            parts.append(c)
        present = parts[0].isNotNull()
        for c in parts[1:]:
            present = present & c.isNotNull()
        return F.when(
            present, F.concat_ws("|", *[c.cast("string") for c in parts])
        )
    if kind == "geo_distance":
        # ES geo_distance agg: concentric distance rings around an origin,
        # [from, to) in meters, keyed like the range agg. The location is
        # a numeric degree column PAIR (no geo_point type here; documented
        # divergence shared with the geo_distance query); the haversine
        # distance is one scan-local expression the ring CASE ladder
        # branches on — bind it once (no CSE across branches).

        fld, origin = body.get("field"), body.get("origin")
        if not (isinstance(fld, dict) and {"lat", "lon"} <= set(fld)):
            raise ValueError(
                "geo_distance agg needs 'field': {'lat': col, 'lon': col}"
            )
        if not (isinstance(origin, dict) and {"lat", "lon"} <= set(origin)):
            raise ValueError(
                "geo_distance agg needs 'origin': {'lat': deg, 'lon': deg}"
            )
        ranges = body["ranges"]
        # Compare PARSED meters, not raw bounds: distance strings ("900km",
        # "1000km") sort lexicographically, not numerically, so comparing
        # the raw values both rejects valid gapped rings and lets genuine
        # overlaps through (unlike the date_range twin, where ISO strings
        # do sort correctly).
        for a, b in zip(ranges, ranges[1:]):
            a_to = parse_distance_meters(a["to"]) if "to" in a else None
            b_from = parse_distance_meters(b["from"]) if "from" in b else None
            if a_to is None or (b_from is not None and b_from < a_to):
                raise ValueError(
                    "geo_distance rings must be sorted and non-overlapping "
                    f"(got {a} then {b})"
                )
        dist = F.expr(haversine_sql(
            _double_ref(fld["lat"]), _double_ref(fld["lon"]),
            double_sql(origin["lat"]), double_sql(origin["lon"]),
        ))

        def ring_key(d: Column) -> Column:
            key: Column = F.lit(None).cast("string")
            for r in reversed(ranges):
                lo = parse_distance_meters(r["from"]) if "from" in r else None
                hi = parse_distance_meters(r["to"]) if "to" in r else None
                label = r.get(
                    "key",
                    f"{lo if lo is not None else '*'}"
                    f"-{hi if hi is not None else '*'}",
                )
                cond = F.lit(True)
                if lo is not None:
                    cond = cond & (d >= F.lit(lo))
                if hi is not None:
                    cond = cond & (d < F.lit(hi))
                key = F.when(d.isNotNull() & cond, F.lit(label)).otherwise(key)
            return key

        return F.element_at(F.transform(F.array(dist), ring_key), 1)
    if kind == "geohash_grid":
        # ES geohash_grid: the classic base32 geohash cell per point.
        # A precision-p geohash is 5p bits of alternating lon/lat
        # bisections; equivalently quantize lon to ceil(5p/2) bits and
        # lat to floor(5p/2) bits, INTERLEAVE (lon bit first), and
        # base32-encode 5 bits per character — closed-form bit math, no
        # iteration, so the whole key is one codegen'd JVM expression
        # and the oracle mirrors it operator-for-operator.
        fld = body.get("field")
        if not (isinstance(fld, dict) and {"lat", "lon"} <= set(fld)):
            raise ValueError(
                "geohash_grid needs 'field': {'lat': col, 'lon': col}"
            )
        p = int(body.get("precision", 5))
        if not 1 <= p <= 12:
            raise ValueError(
                f"geohash_grid precision must be 1..12, got {p}"
            )
        total = 5 * p
        n_lon = (total + 1) // 2
        n_lat = total // 2
        lat = F.col(fld["lat"]).cast("double")
        lon = F.col(fld["lon"]).cast("double")

        def quant(v: Column, lo: float, span: float, nbits: int) -> Column:
            q = F.floor((v - F.lit(lo)) / F.lit(span) * F.lit(float(1 << nbits)))
            return F.greatest(
                F.least(q, F.lit((1 << nbits) - 1)), F.lit(0)
            ).cast("long")

        lon_q = quant(lon, -180.0, 360.0, n_lon)
        lat_q = quant(lat, -90.0, 180.0, n_lat)
        # interleave: lon bit i (from the top) lands at interleaved
        # position 2i, lat bit i at 2i+1 (bit 0 = most significant)
        v: Column = F.lit(0).cast("long")
        for i in range(n_lon):
            v = v + F.shiftleft(
                F.shiftright(lon_q, n_lon - 1 - i).bitwiseAND(F.lit(1)),
                total - 1 - 2 * i,
            )
        for i in range(n_lat):
            v = v + F.shiftleft(
                F.shiftright(lat_q, n_lat - 1 - i).bitwiseAND(F.lit(1)),
                total - 2 - 2 * i,
            )
        b32 = "0123456789bcdefghjkmnpqrstuvwxyz"

        def encode(vv: Column) -> Column:
            # vv is BOUND once (a lambda variable): the p character
            # extractions would otherwise each re-evaluate the ~5p-term
            # interleave sum (Catalyst does not CSE)
            return F.concat(*[
                F.substring(
                    F.lit(b32),
                    (F.shiftright(vv, 5 * (p - 1 - g))
                     .bitwiseAND(F.lit(31)) + 1).cast("int"),
                    1,
                )
                for g in range(p)
            ])

        key = F.element_at(F.transform(F.array(v), encode), 1)
        return F.when(lat.isNotNull() & lon.isNotNull(), key)
    if kind == "geotile_grid":
        # ES geotile_grid: Web-Mercator map tiles, keys "z/x/y" (the
        # slippy-map scheme every tile server uses). Same degree-column-
        # pair location convention as the geo_distance family. Latitude
        # clamps to ±85.05112878 (the Mercator limit, ES's contract);
        # x/y clamp to [0, 2^z − 1] so the lon=180 / clamped-pole edges
        # land in the last tile. The y formula is written with the exact
        # operation sequence the oracle mirrors (ln(tan+1/cos), literal
        # π), so tile-boundary floors agree bit-for-bit.
        fld = body.get("field")
        if not (isinstance(fld, dict) and {"lat", "lon"} <= set(fld)):
            raise ValueError(
                "geotile_grid needs 'field': {'lat': col, 'lon': col}"
            )
        z = int(body.get("precision", 7))
        if not 0 <= z <= 29:
            raise ValueError(f"geotile_grid precision must be 0..29, got {z}")
        n = float(1 << z)
        lat = F.col(fld["lat"]).cast("double")
        lon = F.col(fld["lon"]).cast("double")
        lat_c = F.greatest(
            F.least(lat, F.lit(85.05112878)), F.lit(-85.05112878)
        )
        r = F.radians(lat_c)
        x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
        x = F.greatest(F.least(x, F.lit(int(n) - 1)), F.lit(0))
        y = F.floor(
            (F.lit(1.0) - F.log(F.tan(r) + F.lit(1.0) / F.cos(r))
             / F.lit(math.pi)) / F.lit(2.0) * F.lit(n)
        )
        y = F.greatest(F.least(y, F.lit(int(n) - 1)), F.lit(0))
        return F.when(
            lat.isNotNull() & lon.isNotNull(),
            F.concat_ws("/", F.lit(str(z)), x.cast("string"),
                        y.cast("string")),
        )
    field = body["field"]
    src: Column = F.col(field)
    if "missing" in body:
        src = F.coalesce(src, F.lit(body["missing"]))
    if kind == "terms":
        return src
    if kind == "date_histogram":
        n, unit, fixed = _histogram_interval(body)
        if fixed:
            # UTC-epoch-aligned buckets of that exact width, keyed by the
            # bucket-start timestamp string (ES's fixed_interval semantics)
            return F.date_format(bucket(src, n, unit), "yyyy-MM-dd HH:mm:ss")
        return F.date_format(src, _CALENDAR_FMT[unit])
    if kind == "histogram":
        return bucket(src, float(body["interval"]), None)
    if kind == "date_range":
        # ES date_range: the range agg over timestamps — [from, to) buckets
        # with ISO date(-time) bounds, same key labels and non-overlap
        # contract; bounds compile to timestamp literals so the comparison
        # stays a codegen'd predicate the scan can push.
        ranges = [
            {
                **({"key": r["key"]} if "key" in r else {}),
                **({"from": r["from"]} if "from" in r else {}),
                **({"to": r["to"]} if "to" in r else {}),
            }
            for r in body["ranges"]
        ]
        key: Column = F.lit(None).cast("string")
        for a, b in zip(ranges, ranges[1:]):
            if a.get("to") is None or (
                b.get("from") is not None and b["from"] < a["to"]
            ):
                raise ValueError(
                    "date_range buckets must be sorted and non-overlapping "
                    f"(got {a} then {b})"
                )
        for r in reversed(ranges):
            lo, hi = r.get("from"), r.get("to")
            label = r.get(
                "key",
                f"{lo if lo is not None else '*'}-{hi if hi is not None else '*'}",
            )
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (src >= F.lit(lo).cast("timestamp"))
            if hi is not None:
                cond = cond & (src < F.lit(hi).cast("timestamp"))
            key = F.when(src.isNotNull() & cond, F.lit(label)).otherwise(key)
        return key
    if kind == "range":
        # ES range agg: [from, to) buckets, keyed "from-to" ("*" open end);
        # a doc lands in every bucket containing its value — but ranges in
        # practice partition, and overlapping ranges would need an explode;
        # refuse overlap instead of silently single-assigning.
        ranges = body["ranges"]
        for a, b in zip(ranges, ranges[1:]):
            lo_b = b.get("from")
            hi_a = a.get("to")
            if hi_a is None or (lo_b is not None and lo_b < hi_a):
                raise ValueError(
                    "range agg buckets must be sorted and non-overlapping "
                    f"(got {a} then {b})"
                )
        key: Column = F.lit(None).cast("string")
        for r in reversed(ranges):
            lo, hi = r.get("from"), r.get("to")
            label = r.get(
                "key",
                f"{lo if lo is not None else '*'}-{hi if hi is not None else '*'}",
            )
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (src >= F.lit(lo))
            if hi is not None:
                cond = cond & (src < F.lit(hi))
            key = F.when(src.isNotNull() & cond, F.lit(label)).otherwise(key)
        return key
    if kind == "categorize_text":
        # ES categorize_text: semi-structured (log) messages grouped by
        # their invariant token pattern. ES's categorizer is an ML
        # pipeline (dictionary-weighted tokens + similarity merging);
        # this engine implements its deterministic first pass EXACTLY —
        # whitespace tokens, number-bearing tokens dropped as variables,
        # the surviving sequence (optionally truncated to
        # max_matched_tokens) IS the category key — and REFUSES the
        # similarity-merging knob (similarity_threshold) rather than
        # approximating it: merged categories depend on ML state that
        # isn't reproducible scan-side. Messages with no invariant token
        # land in no bucket. One scan-local HOF chain, groupBy on the
        # derived key.
        return categorize_key(src, body.get("max_matched_tokens"))
    if kind == "ip_range":
        # ES ip_range agg over an IPv4 string column: [from, to) buckets
        # (to exclusive, like range), specified as from/to addresses or a
        # CIDR ``mask``. Addresses compile to integer bounds at PLAN time
        # (Python); the per-row work is one validate-regex + 4-octet
        # arithmetic expression — scan-local, codegen'd, no UDF. Malformed
        # strings / octets > 255 fall in no bucket (ES rejects them at
        # index time via the ip field type; the scan-side engine filters
        # instead, documented). Overlapping ranges would need an
        # explode — refuse, same policy as range. IPv6 specs
        # dispatch to a group-wise lexicographic compare: the bound's
        # eight 16-bit groups are compile-time constants, the address
        # binds once as array<long>, and [from, to) evaluates as one
        # chained-when >= per bound — no 128-bit integers anywhere.
        if any(":" in str(r.get("mask", "")) + str(r.get("from", ""))
               + str(r.get("to", "")) for r in body["ranges"]):
            return _ip_range_v6_key(src, body["ranges"])

        def ip_int(s: str) -> int:
            parts = s.split(".")
            if len(parts) != 4 or not all(
                p.isdigit() and 0 <= int(p) <= 255 for p in parts
            ):
                raise ValueError(f"bad IPv4 address {s!r}")
            a, b, c, d = (int(p) for p in parts)
            return (a << 24) | (b << 16) | (c << 8) | d

        bounds = []
        for r in body["ranges"]:
            if "mask" in r:
                net, _, bits_s = r["mask"].partition("/")
                bits = int(bits_s)
                if not 0 <= bits <= 32:
                    raise ValueError(f"bad CIDR mask {r['mask']!r}")
                width = 1 << (32 - bits)
                start = ip_int(net) & ~(width - 1) & 0xFFFFFFFF
                bounds.append((start, start + width,
                               r.get("key", r["mask"])))
            else:
                lo = ip_int(r["from"]) if "from" in r else None
                hi = ip_int(r["to"]) if "to" in r else None
                label = r.get(
                    "key",
                    f"{r.get('from', '*')}-{r.get('to', '*')}",
                )
                bounds.append((lo, hi, label))
        for (lo_a, hi_a, la), (lo_b, hi_b, lb) in zip(bounds, bounds[1:]):
            if hi_a is None or (lo_b is not None and lo_b < hi_a):
                raise ValueError(
                    "ip_range buckets must be sorted and non-overlapping "
                    f"(got {la!r} then {lb!r})"
                )
        octet = r"(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])"
        p = F.split(src, r"\.")
        ip = (
            p.getItem(0).cast("long") * 16777216
            + p.getItem(1).cast("long") * 65536
            + p.getItem(2).cast("long") * 256
            + p.getItem(3).cast("long")
        )
        ip = F.when(src.rlike(f"^({octet}\\.){{3}}{octet}$"), ip)

        # bind the parsed integer ONCE: Catalyst does not CSE repeated
        # subtrees, so inlining `ip` into every when-branch would re-run
        # the regex + 4 splits per branch per row (measured 5.4 s →
        # 0.3 s at sf0.1 from this binding)
        def keyer(ip_b: Column) -> Column:
            key = F.lit(None).cast("string")
            for lo, hi, label in reversed(bounds):
                cond = ip_b.isNotNull()
                if lo is not None:
                    cond = cond & (ip_b >= F.lit(lo))
                if hi is not None:
                    cond = cond & (ip_b < F.lit(hi))
                key = F.when(cond, F.lit(label)).otherwise(key)
            return key

        return F.element_at(F.transform(F.array(ip), keyer), 1)
    if kind == "ip_prefix":
        # ES ip_prefix agg: bucket by the /N network prefix of an IPv4
        # string column — the unbounded-cardinality sibling of ip_range
        # (buckets come from the data, one hash aggregation; same
        # validate-regex + octet arithmetic, no UDF). The bucket key is
        # the network address, "/N"-suffixed when append_prefix_length —
        # ES's response key shape. Malformed addresses fall in no
        # bucket, same documented policy as ip_range. Arithmetic is
        # //-and-% (not bitwise) so the DuckDB oracle mirrors it
        # operator for operator. is_ipv6: the address parses to
        # its eight 16-bit groups, masked GROUP-WISE (no 128-bit ints
        # anywhere) and rendered back in RFC 5952 canonical form — all
        # pure Catalyst, see functions/ip.py.
        bits = int(body["prefix_length"])
        if body.get("is_ipv6"):
            sfx = f"/{bits}" if body.get("append_prefix_length") else ""

            def key6(g: Column) -> Column:
                # NULL guard stays inside: a malformed address must
                # yield a NULL key (no bucket), not ''+suffix
                return F.when(
                    g.isNotNull(),
                    F.concat(ipv6_canonical(ipv6_mask(g, bits)),
                             F.lit(sfx)),
                )

            # bind the parsed group array ONCE (Catalyst no-CSE): the
            # mask/render tree references it ~30 times
            return F.element_at(
                F.transform(F.array(ipv6_groups(src)), key6), 1
            )
        if not 0 <= bits <= 32:
            raise ValueError(f"bad ip_prefix prefix_length {bits}")
        width = 1 << (32 - bits)
        suffix = f"/{bits}" if body.get("append_prefix_length") else ""
        octet = r"(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])"
        p = F.split(src, r"\.")
        ip = (
            p.getItem(0).cast("long") * 16777216
            + p.getItem(1).cast("long") * 65536
            + p.getItem(2).cast("long") * 256
            + p.getItem(3).cast("long")
        )
        ip = F.when(src.rlike(f"^({octet}\\.){{3}}{octet}$"), ip)

        def prefix_key(ip_b: Column) -> Column:
            net = (ip_b / F.lit(width)).cast("long") * F.lit(width)
            return F.concat(
                (net / F.lit(16777216)).cast("long").cast("string"),
                F.lit("."),
                ((net / F.lit(65536)).cast("long") % 256).cast("string"),
                F.lit("."),
                ((net / F.lit(256)).cast("long") % 256).cast("string"),
                F.lit("."),
                (net % 256).cast("string"),
                F.lit(suffix),
            )

        # bind the parsed integer once (no-CSE), same as ip_range
        return F.element_at(F.transform(F.array(ip), prefix_key), 1)
    raise ValueError(f"unsupported bucket aggregation: {kind!r}")


def _ip_range_v6_key(src: Column, ranges: list) -> Column:
    """IPv6 ip_range bucket key: parse
    the address into its eight 16-bit groups (functions/ip.py), then
    test [from, to) per bucket with a group-wise lexicographic >= whose
    bound side is eight compile-time constants — ≤16 long comparisons
    per bound per row, scan-local, codegen'd, no 128-bit integers.
    Malformed / IPv4 / zoned addresses parse to NULL → no bucket.
    Mixing IPv4 and IPv6 specs in one agg raises (ES splits these by
    field type)."""
    bounds = []
    for r in ranges:
        try:
            if "mask" in r:
                net = ipaddress.ip_network(r["mask"], strict=False)
                if net.version != 6:
                    raise ValueError(
                        f"mixed IPv4/IPv6 ip_range specs ({r['mask']!r})"
                    )
                lo: int | None = int(net.network_address)
                hi: int | None = lo + net.num_addresses
                label = r.get("key", r["mask"])
            else:
                lo = (int(ipaddress.IPv6Address(r["from"]))
                      if "from" in r else None)
                hi = (int(ipaddress.IPv6Address(r["to"]))
                      if "to" in r else None)
                label = r.get(
                    "key", f"{r.get('from', '*')}-{r.get('to', '*')}"
                )
        except ipaddress.AddressValueError as e:
            raise ValueError(f"bad IPv6 ip_range spec {r!r}: {e}") from e
        if hi is not None and hi >= 1 << 128:  # whole-space mask: no cap
            hi = None
        bounds.append((lo, hi, label))
    for (lo_a, hi_a, la), (lo_b, hi_b, lb) in zip(bounds, bounds[1:]):
        if hi_a is None or (lo_b is not None and lo_b < hi_a):
            raise ValueError(
                "ip_range buckets must be sorted and non-overlapping "
                f"(got {la!r} then {lb!r})"
            )

    def ge(g: Column, bound: int) -> Column:
        bg = [(bound >> (16 * (7 - i))) & 0xFFFF for i in range(8)]
        cmp = F.element_at(g, 8) >= F.lit(bg[7])
        for i in range(6, -1, -1):
            gi = F.element_at(g, i + 1)
            cmp = (gi > F.lit(bg[i])) | ((gi == F.lit(bg[i])) & cmp)
        return cmp

    def keyer(g: Column) -> Column:
        key = F.lit(None).cast("string")
        for lo, hi, label in reversed(bounds):
            cond = g.isNotNull()
            if lo is not None:
                cond = cond & ge(g, lo)
            if hi is not None:
                cond = cond & ~ge(g, hi)
            key = F.when(cond, F.lit(label)).otherwise(key)
        return key

    # bind the parsed group array ONCE (Catalyst no-CSE), same as IPv4
    return F.element_at(F.transform(F.array(ipv6_groups(src)), keyer), 1)


def _metric_cols(aggs: dict) -> list[Column]:
    """Metric sub-aggs only (bucket sub-aggs are handled by recursion).
    ``stats`` expands to its five ES response keys as ``{name}_{stat}``
    columns — the flattened rendering of the stats object."""
    out = []
    for name, spec in aggs.items():
        kind, body = _agg_node(spec)
        if kind in _METRICS:
            c = F.col(body["field"])
            if "missing" in body:
                c = F.coalesce(c, F.lit(body["missing"]))
            out.append(_METRICS[kind](c).alias(name))
        elif kind == "percentiles":
            # ES estimates percentiles with t-digest; by default this
            # engine evaluates them EXACTLY (built-in `percentile`, linear
            # interpolation — the same definition as SQL's quantile_cont)
            # so results stay oracle-checkable: a documented strictly-
            # more-accurate divergence, like cardinality. Flattened one
            # column per requested percent: {name}_p{percent}.
            #
            # Passing ES's ``tdigest`` option opts into the SKETCH path:
            # percentile_approx (Greenwald-Khanna summaries — like ES's
            # t-digest a bounded-memory, executor-mergeable sketch, the
            # shape that matters at 100 TB where the exact form's
            # per-group value buffer is the scale limit). ``compression``
            # maps to the accuracy knob (ES default 100 ≈ accuracy 10000;
            # error ≤ 1/accuracy of rank). Sketch results are
            # approximate by contract -> pytest-bounded, not hash-oracled.
            c = F.col(body["field"])
            td = body.get("tdigest")
            hdr = body.get("hdr")
            if td is not None and hdr is not None:
                raise ValueError(
                    "percentiles accepts tdigest OR hdr, not both "
                    "(ES's contract)"
                )
            if hdr is not None:
                # ES's HDR histogram option: n significant value digits
                # ≈ 10^-n relative error. Routed to the same mergeable
                # GK sketch as tdigest with accuracy 10^(n+2) (rank
                # error ≤ 10^-(n+2)) — approximate by contract, like the
                # tdigest path; the exact default keeps the hash oracle.
                n = int(hdr.get("number_of_significant_value_digits", 3))
                if not 1 <= n <= 5:
                    raise ValueError(
                        f"hdr number_of_significant_value_digits must "
                        f"be in [1, 5] (ES's bound), got {n}"
                    )
                td = {"compression": 10 ** n}
            for p in body.get("percents", [25, 50, 75]):
                label = str(p).replace(".", "_")
                if td is not None:
                    acc = int(float(td.get("compression", 100)) * 100)
                    out.append(
                        F.percentile_approx(c, float(p) / 100.0, acc)
                        .cast("double").alias(f"{name}_p{label}")
                    )
                else:
                    out.append(
                        F.round(F.percentile(c, float(p) / 100.0), 6)
                        .alias(f"{name}_p{label}")
                    )
        elif kind == "geo_centroid":
            # ES geo_centroid: the arithmetic mean of the bucket's
            # coordinates (ES's documented computation) plus the point
            # count, over the degree column pair. Docs missing EITHER
            # coordinate drop out (ES's contract for incomplete points).
            fld = body.get("field")
            if not (isinstance(fld, dict) and {"lat", "lon"} <= set(fld)):
                raise ValueError(
                    "geo_centroid needs 'field': {'lat': col, 'lon': col}"
                )
            lat = F.col(fld["lat"]).cast("double")
            lon = F.col(fld["lon"]).cast("double")
            both = lat.isNotNull() & lon.isNotNull()
            out += [
                F.round(F.avg(F.when(both, lat)), 6).alias(f"{name}_lat"),
                F.round(F.avg(F.when(both, lon)), 6).alias(f"{name}_lon"),
                F.count(F.when(both, 1)).alias(f"{name}_count"),
            ]
        elif kind == "geo_bounds":
            # ES geo_bounds: the bucket's smallest enclosing lat/lon box,
            # flattened to {name}_top/bottom/left/right (top_left +
            # bottom_right corners). wrap_longitude=True (ES's default)
            # also considers the box that crosses the antimeridian: both
            # candidate widths come from the same min/max aggregates over
            # the raw and the [0,360)-normalized longitude, the narrower
            # wins, and a crossing box reports left > right exactly like
            # ES. Docs missing either coordinate drop out. Four extra
            # min/max aggregates on the shared partial/final plan — no
            # second pass for the wrapped candidate.
            fld = body.get("field")
            if not (isinstance(fld, dict) and {"lat", "lon"} <= set(fld)):
                raise ValueError(
                    "geo_bounds needs 'field': {'lat': col, 'lon': col}"
                )
            wrap = bool(body.get("wrap_longitude", True))
            lat = F.col(fld["lat"]).cast("double")
            lon = F.col(fld["lon"]).cast("double")
            both = lat.isNotNull() & lon.isNotNull()
            lat_v = F.when(both, lat)
            lon_v = F.when(both, lon)
            out += [
                F.round(F.max(lat_v), 6).alias(f"{name}_top"),
                F.round(F.min(lat_v), 6).alias(f"{name}_bottom"),
            ]
            if not wrap:
                out += [
                    F.round(F.min(lon_v), 6).alias(f"{name}_left"),
                    F.round(F.max(lon_v), 6).alias(f"{name}_right"),
                ]
            else:
                # normalized candidate: lon mapped to [0, 360)
                pos = F.when(both, F.when(lon < 0, lon + 360).otherwise(lon))
                reg_w = F.max(lon_v) - F.min(lon_v)
                wrp_w = F.max(pos) - F.min(pos)
                use_wrap = wrp_w < reg_w
                unnorm = lambda c: F.when(c > 180, c - 360).otherwise(c)
                out += [
                    F.round(F.when(use_wrap, unnorm(F.min(pos)))
                             .otherwise(F.min(lon_v)), 6)
                     .alias(f"{name}_left"),
                    F.round(F.when(use_wrap, unnorm(F.max(pos)))
                             .otherwise(F.max(lon_v)), 6)
                     .alias(f"{name}_right"),
                ]
        elif kind == "scripted_metric":
            # ES scripted_metric: the user-script escape hatch
            # (init/map/combine/reduce Painless). Arbitrary scripted
            # state cannot be a distributed aggregate, but the shape
            # virtually every production scripted_metric takes — a
            # CUSTOM SUM (init `state.x = 0`, map `state.x += <arith>`,
            # combine `return state.x`, the canonical sum-over-states
            # reduce loop) — compiles exactly to sum(<arith>) with the
            # map expression going through the same Painless-arithmetic
            # compiler script_score uses: one codegen'd aggregate, vs
            # ES's per-doc interpreter. Anything outside that shape
            # raises loudly (never a silently-wrong fold). A nonzero
            # init is rejected too: ES runs init PER SHARD, so the
            # result would depend on shard count. NULL doc values drop
            # out of the sum (ES throws on missing doc values; the
            # NULL contract here is the documented safer divergence).
            def _src(key: str) -> str:
                v = body.get(key)
                if isinstance(v, dict):
                    v = v.get("source")
                if not isinstance(v, str):
                    raise ValueError(f"scripted_metric needs {key}")
                return v

            mi = re.fullmatch(
                r"\s*state\.(\w+)\s*=\s*(\d+(?:\.\d+)?)\s*;?\s*",
                _src("init_script"),
            )
            if mi is None:
                raise ValueError(
                    "scripted_metric init_script must be "
                    "'state.<var> = 0' (the supported custom-sum shape)"
                )
            var, init_val = mi.group(1), float(mi.group(2))
            if init_val != 0.0:
                raise ValueError(
                    "scripted_metric init value must be 0: ES runs "
                    "init_script PER SHARD, so a nonzero seed makes the "
                    "result shard-count-dependent"
                )
            mm = re.fullmatch(
                rf"\s*state\.{var}\s*\+=\s*(.+?)\s*;?\s*",
                _src("map_script"), re.DOTALL,
            )
            if mm is None:
                raise ValueError(
                    f"scripted_metric map_script must be "
                    f"'state.{var} += <arithmetic>' (the supported "
                    "custom-sum shape)"
                )
            mc = re.fullmatch(
                rf"\s*return\s+state\.{var}\s*;?\s*",
                _src("combine_script"),
            )
            if mc is None:
                raise ValueError(
                    f"scripted_metric combine_script must be "
                    f"'return state.{var}'"
                )
            mr = re.fullmatch(
                r"\s*(?:double\s+)?(\w+)\s*=\s*0(?:\.0)?\s*;\s*"
                r"for\s*\(\s*(\w+)\s+in\s+states\s*\)\s*"
                r"\{\s*\1\s*\+=\s*\2\s*;?\s*\}\s*"
                r"return\s+\1\s*;?\s*",
                _src("reduce_script"),
            )
            if mr is None:
                raise ValueError(
                    "scripted_metric reduce_script must be the canonical "
                    "sum-over-states loop "
                    "('double t = 0; for (s in states) { t += s } "
                    "return t')"
                )
            params = {
                k: double_sql(v)
                for k, v in (body.get("params") or {}).items()
            }
            expr = F.expr(compile_painless(
                mm.group(1),
                resolve_doc=_double_ref,
                params=params or None,
            ))
            # 3 dp: double summation order differs across partials;
            # 3 decimals holds to ~1e6-scale sums (n·eps·Σ|x| bound)
            out.append(F.round(F.sum(expr), 3).alias(name))
        elif kind == "geo_line":
            # ES geo_line: the bucket's points joined into a LineString
            # in sort order — the track-reconstruction agg (points of a
            # vehicle/vessel ordered by timestamp). Flattened rendering:
            # {name}_line = array of [lon, lat] pairs (ES's GeoJSON
            # coordinate order), {name}_complete = whether the bucket
            # held <= size points, optional {name}_sort_values. Docs
            # missing point or sort values drop out (ES's contract).
            # Ties on the sort value order by (lon, lat) so both engines
            # produce one total order. Per-bucket state is the collected
            # point list (ES caps it the same way: size <= 10000, the
            # bucket's points are coordinator-side) — the exactness
            # trade documented for MAD/string_stats.
            fld = body.get("point", {}).get("field")
            if not (isinstance(fld, dict) and {"lat", "lon"} <= set(fld)):
                raise ValueError(
                    "geo_line needs 'point': {'field': {'lat': col, "
                    "'lon': col}}"
                )
            sfield = body.get("sort", {}).get("field")
            if not sfield:
                raise ValueError("geo_line needs 'sort': {'field': col}")
            (_, desc, _), = _sort_keys(
                {sfield: body.get("sort_order", "asc")}, "sort_order in geo_line")
            size = int(body.get("size", 10000))
            if not 0 < size <= 10000:
                raise ValueError(
                    f"geo_line size must be in (0, 10000], got {size}"
                )
            lat = F.col(fld["lat"]).cast("double")
            lon = F.col(fld["lon"]).cast("double")
            s = F.col(sfield).cast("double")
            valid = lat.isNotNull() & lon.isNotNull() & s.isNotNull()
            pt = F.when(valid, F.struct(
                s.alias("s"), lon.alias("lon"), lat.alias("lat")
            ))
            arr = F.slice(
                F.sort_array(F.collect_list(pt), asc=not desc),
                1, size,
            )
            out += [
                F.transform(
                    arr,
                    lambda p: F.array(F.round(p["lon"], 6),
                                      F.round(p["lat"], 6)),
                ).alias(f"{name}_line"),
                (F.count(F.when(valid, 1)) <= size)
                .alias(f"{name}_complete"),
            ]
            if body.get("include_sort"):
                out.append(
                    F.transform(arr, lambda p: F.round(p["s"], 6))
                    .alias(f"{name}_sort_values")
                )
        elif kind == "stats":
            c = F.col(body["field"])
            out += [
                F.count(c).alias(f"{name}_count"),
                F.min(c).alias(f"{name}_min"),
                F.max(c).alias(f"{name}_max"),
                F.avg(c).alias(f"{name}_avg"),
                F.sum(c).alias(f"{name}_sum"),
            ]
        elif kind == "extended_stats":
            # ES extended_stats = stats + sum_of_squares / variance /
            # std_deviation, all POPULATION moments (ES's contract).
            # Rounded to 6 dp: both engines compute the same moments but
            # var_pop's summation order differs (Welford vs naive), so the
            # last ulp is not portable.
            c = F.col(body["field"]).cast("double")
            out += [
                F.count(c).alias(f"{name}_count"),
                F.min(c).alias(f"{name}_min"),
                F.max(c).alias(f"{name}_max"),
                F.round(F.avg(c), 6).alias(f"{name}_avg"),
                F.round(F.sum(c), 6).alias(f"{name}_sum"),
                F.round(F.sum(c * c), 6).alias(f"{name}_sum_of_squares"),
                F.round(F.var_pop(c), 6).alias(f"{name}_variance"),
                F.round(F.stddev_pop(c), 6).alias(f"{name}_std_deviation"),
            ]
        elif kind == "percentile_ranks":
            # ES percentile_ranks: for each requested value, the percentage
            # of observed values <= value. ES estimates via t-digest; this
            # engine evaluates exactly (one conditional avg per value) —
            # the same documented strictly-more-accurate divergence as
            # percentiles/cardinality. Flattened: {name}_rank_{value}.
            c = F.col(body["field"])
            values = body.get("values")
            if not values:
                raise ValueError("percentile_ranks needs non-empty 'values'")
            for v in values:
                label = str(v).replace(".", "_").replace("-", "m")
                out.append(
                    F.round(
                        F.avg(F.when(c <= F.lit(v), 1.0).otherwise(0.0))
                        * 100.0,
                        6,
                    ).alias(f"{name}_rank_{label}")
                )
        elif kind == "weighted_avg":
            # ES weighted_avg: sum(value*weight)/sum(weight); docs missing
            # either side drop out (ES's contract without `missing`).
            v = F.col(body["value"]["field"]).cast("double")
            wt = F.col(body["weight"]["field"]).cast("double")
            both = F.when(v.isNotNull() & wt.isNotNull(), True)
            out.append(
                F.round(
                    F.sum(F.when(both, v * wt)) / F.sum(F.when(both, wt)), 6
                ).alias(name)
            )
        elif kind == "median_absolute_deviation":
            # ES estimates MAD with t-digest; this engine evaluates it
            # EXACTLY: median(|x - median(x)|), both medians linearly
            # interpolated (quantile_cont — DuckDB's mad() definition, so
            # the metric is fully oracle-able). The nested median forces
            # the bucket's values into one sorted array aggregate — the
            # same per-bucket-state shape as ES's digest, exact instead of
            # sketched; per-bucket memory is O(bucket size), the
            # documented cost of exactness. The SKETCH path (ES's
            # ``compression`` knob / ``execution_hint: "sketch"``) is the
            # skew-safe alternative — bounded per-bucket state at any
            # bucket population — handled by the bucket groupBy site
            # (_pop_sketch_mads: a two-pass mergeable-summary plan);
            # it cannot ride a single agg expression, so reject here.
            if "compression" in body or "execution_hint" in body:
                raise ValueError(
                    "median_absolute_deviation's sketch path (compression/"
                    "execution_hint) is supported under the terms/"
                    "multi_terms/date_histogram/histogram bucket families"
                )
            bound = mad_expr(F.col(body["field"]).cast("double"))
            out.append(F.round(bound, 6).alias(name))
        elif kind == "boxplot":
            # ES ``boxplot``: min/max and the three quartiles. ES
            # estimates the quartiles with t-digest; this engine evaluates
            # them EXACTLY (built-in percentile, linear interpolation —
            # quantile_cont's definition, fully oracle-able), the same
            # documented strictly-more-accurate divergence as
            # percentiles/cardinality. Flattened: {name}_min/_max/_q1/
            # _q2/_q3; min/max are plain aggregates, the quartiles one
            # sorted-buffer aggregate each.
            c = F.col(body["field"]).cast("double")
            out += [
                F.min(c).alias(f"{name}_min"),
                F.max(c).alias(f"{name}_max"),
                F.round(F.percentile(c, 0.25), 6).alias(f"{name}_q1"),
                F.round(F.percentile(c, 0.50), 6).alias(f"{name}_q2"),
                F.round(F.percentile(c, 0.75), 6).alias(f"{name}_q3"),
            ]
        elif kind == "top_metrics":
            # ES ``top_metrics``: the metric field's value(s) AT the
            # bucket's top ``size`` documents by the sort field — "what was
            # the price at the latest timestamps" without a top_hits
            # payload. size=1 (ES's default) compiles to max_by/min_by, a
            # single JVM aggregate riding the same partial/final plan and
            # emitting a SCALAR {name}_{metric_field} column. size>1 (ES
            # caps it at 10) collects (sort, metrics...) structs,
            # sorts, and slices the top `size` — each metric column then
            # renders as an ARRAY of up to `size` values in sort order.
            # Spark deduplicates semantically-equal aggregate functions,
            # so the m metric columns share ONE collect buffer; the
            # per-bucket memory is O(bucket) before the slice — the same
            # documented exactness trade as string_stats/exact-MAD, with
            # the sketch-free path acceptable because ES bounds size ≤ 10.
            # Docs with a NULL sort value drop out (ES's contract); ties
            # on the sort value break by the metric values themselves
            # (deterministic, oracle-mirrorable), where ES leaves shard
            # order unspecified.
            size = int(body.get("size", 1))
            if not 1 <= size <= 10:
                raise ValueError(
                    f"top_metrics size must be in [1, 10] (ES's cap), "
                    f"got {size}"
                )
            skeys = _sort_keys(body["sort"], "top_metrics sort")
            if len(skeys) != 1:
                raise ValueError(
                    f"top_metrics sort takes exactly one key, got {len(skeys)}"
                )
            (sfield, desc, _), = skeys
            metrics_spec = body["metrics"]
            if isinstance(metrics_spec, dict):
                metrics_spec = [metrics_spec]
            if size == 1:
                pick = F.max_by if desc else F.min_by
                for m in metrics_spec:
                    mfield = m["field"]
                    out.append(
                        pick(F.col(mfield), F.col(sfield))
                        .alias(f"{name}_{mfield}")
                    )
            else:
                mfields = [m["field"] for m in metrics_spec]
                row = F.struct(
                    F.col(sfield).alias("_s"),
                    *[F.col(mf).alias(mf) for mf in mfields],
                )
                top = F.slice(
                    F.sort_array(
                        F.collect_list(
                            F.when(F.col(sfield).isNotNull(), row)
                        ),
                        asc=not desc,
                    ),
                    1, size,
                )
                def _metric_array(mf: str) -> Column:
                    # closure, not a default arg: HOF lambdas must stay
                    # single-parameter (arity selects (x) vs (x, i))
                    return F.transform(top, lambda r: r[mf])

                for mf in mfields:
                    out.append(_metric_array(mf).alias(f"{name}_{mf}"))
        elif kind == "string_stats":
            # ES string_stats: count, min/max/avg term length, and the
            # Shannon entropy (log2) of the CHARACTER distribution across
            # all values in the bucket. Lengths are plain aggregates;
            # entropy folds the bucket's characters into one array
            # aggregate and evaluates -sum(p*log2(p)) over its distinct
            # chars — exact, oracle-able via DuckDB's entropy() over
            # exploded chars. Per-bucket memory is O(total chars): the
            # exactness trade documented for median_absolute_deviation.
            c = F.col(body["field"])
            out += [
                F.count(c).alias(f"{name}_count"),
                F.min(F.length(c)).alias(f"{name}_min_length"),
                F.max(F.length(c)).alias(f"{name}_max_length"),
                F.round(F.avg(F.length(c)), 6).alias(f"{name}_avg_length"),
            ]
            def _entropy_of(chars: Column) -> Column:
                # chars is BOUND once (a lambda variable): the flatten of
                # the collected char arrays would otherwise re-run per
                # reference — once for the total, once for the distinct
                # set, and once per distinct char's count filter
                total = F.size(chars).cast("double")
                # count each distinct char ONCE (D array scans, not 2D):
                # the transform binds the count so -p*log2(p) reuses it
                counts = F.transform(
                    F.array_distinct(chars),
                    lambda ch: F.size(F.filter(chars, lambda x: x == ch)),
                )
                return F.aggregate(
                    counts,
                    F.lit(0.0),
                    lambda acc, n: acc - (n / total) * F.log2(n / total),
                )

            entropy = F.element_at(
                F.transform(
                    F.array(F.flatten(F.collect_list(F.split(c, "")))),
                    _entropy_of,
                ),
                1,
            )
            out.append(F.round(entropy, 6).alias(f"{name}_entropy"))
        elif kind == "matrix_stats":
            # ES matrix_stats: multivariate moments over a field SET —
            # per-field mean/variance/skewness/kurtosis plus the pairwise
            # covariance/correlation matrix, computed from power sums in
            # ONE conditional-aggregation pass (ES streams the same
            # moments shard-side and merges). Docs missing ANY field are
            # excluded entirely (ES's contract; ``missing`` substitutes
            # per field first). Formulas follow ES's RunningStats merge:
            # variance/covariance use the SAMPLE (n-1) denominator,
            # skewness = sqrt(n)*M3/M2^1.5, kurtosis = n*M4/M2^2 with Mk
            # the central power sums. Flattened response rendering:
            # {name}_count, {name}_{field}_{stat}, and
            # {name}_{fi}_{fj}_covariance/_correlation for i<j in the
            # request's field order. Degenerate guards: n<=1 -> NULL
            # variance legs; M2=0 -> NULL skewness/kurtosis/correlation.
            fields = body["fields"]
            if not isinstance(fields, list) or len(fields) < 2:
                raise ValueError(
                    "matrix_stats needs a LIST of >= 2 fields "
                    f"(got {fields!r})"
                )
            miss = body.get("missing", {})
            raw = {
                f: F.coalesce(F.col(f).cast("double"),
                              F.lit(float(miss[f])) if f in miss else F.lit(None))
                for f in fields
            }
            valid = F.lit(True)
            for c in raw.values():
                valid = valid & c.isNotNull()
            x = {f: F.when(valid, c) for f, c in raw.items()}
            n = F.sum(F.when(valid, F.lit(1.0)))
            nm1 = F.when(n > 1, n - 1)          # NULL guard for n<=1
            mean = {f: F.sum(x[f]) / n for f in fields}
            m2 = {f: F.sum(x[f] * x[f]) - n * mean[f] * mean[f]
                  for f in fields}
            pos_m2 = {f: F.when(m2[f] > 0, m2[f]) for f in fields}
            out.append(n.cast("long").alias(f"{name}_count"))
            for f in fields:
                m3 = (F.sum(x[f] * x[f] * x[f])
                      - 3.0 * mean[f] * F.sum(x[f] * x[f])
                      + 2.0 * n * mean[f] * mean[f] * mean[f])
                m4 = (F.sum(x[f] * x[f] * x[f] * x[f])
                      - 4.0 * mean[f] * F.sum(x[f] * x[f] * x[f])
                      + 6.0 * mean[f] * mean[f] * F.sum(x[f] * x[f])
                      - 3.0 * n * mean[f] * mean[f] * mean[f] * mean[f])
                # + 0.0 collapses IEEE -0.0 (a tiny negative rounded to
                # zero) to +0.0 so both engines render the same bits
                out += [
                    F.round(mean[f], 6).alias(f"{name}_{f}_mean"),
                    F.round(m2[f] / nm1, 6).alias(f"{name}_{f}_variance"),
                    (F.round(F.sqrt(n) * m3 / F.pow(pos_m2[f], 1.5), 6) + 0.0)
                     .alias(f"{name}_{f}_skewness"),
                    F.round(n * m4 / (pos_m2[f] * pos_m2[f]), 6)
                     .alias(f"{name}_{f}_kurtosis"),
                ]
            for i, fi in enumerate(fields):
                for fj in fields[i + 1:]:
                    cov = (F.sum(x[fi] * x[fj]) - n * mean[fi] * mean[fj]) / nm1
                    corr = cov / F.sqrt(
                        (pos_m2[fi] / nm1) * (pos_m2[fj] / nm1)
                    )
                    out += [
                        (F.round(cov, 6) + 0.0)
                         .alias(f"{name}_{fi}_{fj}_covariance"),
                        (F.round(corr, 6) + 0.0)
                         .alias(f"{name}_{fi}_{fj}_correlation"),
                    ]
        elif kind == "t_test":
            # ES t_test: Student's t over two samples (per-leg field +
            # optional filter). Counts/means/variances/t/df are ONE
            # conditional-aggregation pass (sample n-1 variances, like
            # ES); the final CDF lookup (the response's p ``value``) is
            # attached post-agg over the reduced bucket relation
            # (functions/studentt via es_aggregate). Flattened rendering:
            # {name}_t, {name}_df (exact, oracle-able), {name} = p.
            # paired: per-document differences, so per-leg filters are
            # rejected (ES: same docs on both sides); NULL on either
            # side drops the pair. heteroscedastic (default): Welch t
            # with the Welch–Satterthwaite df. homoscedastic: pooled
            # variance, df = na + nb - 2.
            ttype = body.get("type", "heteroscedastic")
            if ttype not in ("paired", "homoscedastic", "heteroscedastic"):
                raise ValueError(
                    f"unsupported t_test type {ttype!r} "
                    "(paired/homoscedastic/heteroscedastic)"
                )

            def _leg(l: str) -> Column:
                sp = body[l]
                check_keys(sp, {"field", "filter"}, f"t_test.{l}")
                c = F.col(sp["field"]).cast("double")
                if "filter" in sp:
                    pred = from_es_json(sp["filter"]).predicate(
                        SparkSession.getActiveSession()
                    )
                    c = F.when(pred, c)
                return c

            a, b = _leg("a"), _leg("b")
            if ttype == "paired":
                if "filter" in body["a"] or "filter" in body["b"]:
                    raise ValueError(
                        "paired t_test cannot take per-leg filters "
                        "(pairs are per-document, ES's contract)"
                    )
                d = F.when(a.isNotNull() & b.isNotNull(), a - b)
                n = F.sum(F.when(d.isNotNull(), F.lit(1.0)))
                meand = F.sum(d) / n
                m2 = F.sum(d * d) - n * meand * meand
                var = m2 / F.when(n > 1, n - 1)
                t = meand / F.sqrt(var / n)
                dof = n - 1
            else:
                na = F.sum(F.when(a.isNotNull(), F.lit(1.0)))
                nb = F.sum(F.when(b.isNotNull(), F.lit(1.0)))
                ma = F.sum(a) / na
                mb = F.sum(b) / nb
                m2a = F.sum(a * a) - na * ma * ma
                m2b = F.sum(b * b) - nb * mb * mb
                va = m2a / F.when(na > 1, na - 1)
                vb = m2b / F.when(nb > 1, nb - 1)
                if ttype == "homoscedastic":
                    sp2 = (m2a + m2b) / F.when(na + nb > 2, na + nb - 2)
                    t = (ma - mb) / F.sqrt(sp2 * (1.0 / na + 1.0 / nb))
                    dof = na + nb - 2
                else:
                    se2a, se2b = va / na, vb / nb
                    t = (ma - mb) / F.sqrt(se2a + se2b)
                    dof = (
                        (se2a + se2b) * (se2a + se2b)
                        / (se2a * se2a / (na - 1) + se2b * se2b / (nb - 1))
                    )
            out += [
                (F.round(t, 6) + 0.0).alias(f"{name}_t"),
                F.round(dof, 6).alias(f"{name}_df"),
            ]
        elif kind in ("terms", "multi_terms", "date_histogram", "histogram",
                      "range", "date_range"):
            continue  # nested bucket, handled by the caller
        else:
            raise ValueError(f"unsupported aggregation type: {kind!r}")
    return out


def _pop_sketch_mads(sub: dict) -> dict[str, tuple[str, int]]:
    """Remove ``median_absolute_deviation`` metrics opting into the SKETCH
    path from ``sub`` (mutated) and return ``{name: (field, accuracy)}``.

    Opt-in = ES's ``compression`` knob or ``execution_hint: "sketch"``;
    the default stays the exact nested-median (fully oracle-able,
    O(bucket) state). The sketch path is the skew-safe shape at 100 TB —
    per-bucket state is two mergeable quantile summaries (percentile_
    approx / Greenwald-Khanna, like ES's t-digest) REGARDLESS of bucket
    population, at the cost of rank-bounded error and a second pass over
    the bucketed rows (ES queries its value digest's CDF for the same
    reason: MAD needs the median before deviations exist). ``compression``
    maps to accuracy exactly as the percentiles sketch path does
    (ES default 100 → accuracy 10000; error ≤ 1/accuracy of rank)."""
    out: dict[str, tuple[str, int]] = {}
    for n, s in list(sub.items()):
        if next(iter(s)) != "median_absolute_deviation":
            continue
        body = dict(s["median_absolute_deviation"])
        hint = body.pop("execution_hint", None)
        if hint not in (None, "exact", "sketch"):
            raise ValueError(
                f"unsupported execution_hint {hint!r} (exact/sketch)"
            )
        comp = body.pop("compression", None)
        if hint == "sketch" or comp is not None:
            out[n] = (body["field"],
                      int(float(comp if comp is not None else 100) * 100))
            sub.pop(n)
        elif hint == "exact":
            sub[n] = {"median_absolute_deviation": body}
    return out


def _sketch_mad_join(
    out: DataFrame,
    keyed: DataFrame,
    keys: list,
    sketch_mads: dict[str, tuple[str, int]],
) -> DataFrame:
    """Attach sketch-MAD columns to the bucket relation: per bucket,
    approx-median the values, join the medians back (hash join
    co-partitioned with the groupBys on the same key), approx-median the
    absolute deviations, left-join onto the buckets. Every stage's state
    is sketch-sized; buckets whose field is all-null get NULL, matching
    the exact path."""
    names = [n for _, n in keys]
    fields = sorted({f for f, _ in sketch_mads.values()})
    clash = set(fields) & set(names)
    if clash:
        raise ValueError(
            f"sketch median_absolute_deviation field(s) {sorted(clash)} "
            "collide with a bucket name — alias the bucket"
        )
    rows = keyed.select(*[k.alias(n) for k, n in keys], *fields)
    for mname, (mfield, acc) in sketch_mads.items():
        med = rows.groupBy(*names).agg(
            F.percentile_approx(F.col(mfield).cast("double"), 0.5, acc)
            .alias("__mad_med")
        )
        dev = (
            rows.join(med, names)
            .groupBy(*names)
            .agg(
                F.percentile_approx(
                    F.abs(F.col(mfield).cast("double") - F.col("__mad_med")),
                    0.5, acc,
                ).cast("double").alias(mname)
            )
        )
        out = out.join(dev, names, "left")
    return out


def _filters_agg(
    df: DataFrame, name: str, body: dict, sub: dict | None = None
) -> DataFrame:
    """ES ``filters`` agg: one named bucket per predicate, each counting
    the documents its query matches (buckets may overlap — a doc can land
    in several). Without sub-aggs: ONE conditional-aggregation scan
    (sum-of-CASE per bucket), stacked to (name, doc_count) rows with the
    native unpivot — no shuffle, no join. With metric sub-aggs: each
    row tags itself with the array of bucket names it matches, ONE
    explode + groupBy evaluates every metric per bucket (any metric kind,
    overlap preserved — a doc feeds every bucket it matches), and the
    literal bucket-name list left-joins back so empty buckets keep their
    zero-count row, ES's contract — including the metric shape: ES
    returns 0 for sum/value_count/cardinality (and stats' count/sum) in
    an empty bucket, NULL only for min/max/avg, so those kinds coalesce
    to 0 on the join tail. Still one scan; the only shuffle is keyed by
    the B bucket names."""
    named = body.get("filters")
    if not isinstance(named, dict) or not named:
        raise ValueError("filters agg needs {'filters': {name: query, ...}}")
    spark = df.sparkSession
    if not sub:
        counts = [
            F.sum(
                F.when(
                    from_es_json(q).predicate(spark), 1
                ).otherwise(0)
            ).cast("long").alias(bucket)
            for bucket, q in named.items()
        ]
        wide = df.agg(*counts)
        return wide.unpivot([], list(named), name, "doc_count")
    tags = F.array_compact(F.array(*[
        F.when(
            from_es_json(q).predicate(spark), F.lit(bucket)
        )
        for bucket, q in named.items()
    ]))
    if any(next(iter(s)) in _BUCKET_KINDS for s in sub.values()):
        return _tagged_nested_bucket(df, name, tags, sub)
    got = (
        df.withColumn("__bucket", F.explode(tags))
        .groupBy(F.col("__bucket").alias(name))
        .agg(F.count(F.lit(1)).alias("doc_count"), *_metric_cols(sub))
    )
    names_df = spark.createDataFrame(
        [(b,) for b in named], f"{name} string"
    )
    out = (
        names_df.join(got, name, "left")
        .withColumn("doc_count", F.coalesce("doc_count", F.lit(0)))
    )
    for zname in _zero_on_empty(sub):
        out = out.withColumn(zname, F.coalesce(zname, F.lit(0)))
    return out


def _tagged_nested_bucket(
    df: DataFrame, name: str, tags: Column, sub: dict
) -> DataFrame:
    """Shared filters / adjacency_matrix nested-BUCKET sub-agg path: rows
    explode on the cells they match and ONE (cell, inner-key) groupBy evaluates the
    inner bucket with its metric sub-aggs — the flattened leaf
    relation, same machinery as the generic two-level path. Cells with
    no matching rows drop (a flattened rendering has no row to carry
    them — documented divergence from ES's zero-count filters buckets,
    matching adjacency_matrix's drop-empty contract)."""
    if len(sub) != 1:
        raise ValueError(
            "filters/adjacency_matrix take exactly ONE bucket sub-agg "
            "with no same-level metrics (metrics belong under the inner "
            "bucket in the flattened relation)"
        )
    (sname, sspec), = sub.items()
    sspec = dict(sspec)
    ssub = dict(sspec.pop("aggs", {}))
    (skind, sbody), = sspec.items()
    if skind not in ("terms", "multi_terms", "date_histogram",
                     "histogram", "range", "date_range"):
        raise ValueError(
            f"unsupported nested bucket kind under filters/"
            f"adjacency_matrix: {skind!r}"
        )
    if any(next(iter(s)) in _BUCKET_KINDS for s in ssub.values()):
        raise ValueError(
            "bucket nesting deeper than two levels is unsupported"
        )
    if skind == "terms" and ("include" in sbody or "exclude" in sbody):
        raise ValueError(
            "terms include/exclude on a nested sub-bucket is not "
            "applied by the flattened relation"
        )
    key = _bucket_key(skind, sbody)
    return (
        df.withColumn("__cell", F.explode(tags))
        .filter(key.isNotNull())
        .groupBy(F.col("__cell").alias(name), key.alias(sname))
        .agg(F.count(F.lit(1)).alias("doc_count"), *_metric_cols(ssub))
    )


def _zero_on_empty(sub: dict) -> list[str]:
    """Metric output columns that are 0 (not NULL) in an ES empty bucket:
    sum/value_count/cardinality, and the count/sum legs of stats /
    extended_stats (plus sum_of_squares). min/max/avg stay NULL."""
    names: list[str] = []
    for mname, spec in sub.items():
        spec = dict(spec)
        spec.pop("aggs", None)
        (kind, _), = spec.items()
        if kind in ("sum", "value_count", "cardinality"):
            names.append(mname)
        elif kind in ("stats", "extended_stats"):
            names += [f"{mname}_count", f"{mname}_sum"]
            if kind == "extended_stats":
                names.append(f"{mname}_sum_of_squares")
    return names


def _adjacency_matrix_agg(
    df: DataFrame, name: str, body: dict, sub: dict | None = None
) -> DataFrame:
    """ES ``adjacency_matrix``: named predicate buckets plus every PAIR
    intersection ("a&b" keys, ES's separator) — the co-occurrence matrix
    shape. Like the filters agg, ONE conditional-aggregation scan builds
    every cell (singles + pairs), stacked with the native unpivot; empty
    intersections are dropped, ES's contract. Metric sub-aggs take
    the filters agg's tag-explode path instead — each row tags itself
    with every cell it lands in (including pair cells) and one
    explode + groupBy evaluates the metrics; empty cells stay dropped."""
    named = body.get("filters")
    if not isinstance(named, dict) or len(named) < 2:
        raise ValueError(
            "adjacency_matrix needs {'filters': {name: query, ...}} with "
            ">= 2 entries"
        )
    sep = str(body.get("separator", "&"))
    bad = [b for b in named if sep in b]
    if bad:
        raise ValueError(
            f"adjacency_matrix filter names {bad} contain the separator "
            f"{sep!r}; their buckets would collide with pair keys"
        )
    spark = df.sparkSession
    preds = {
        b: from_es_json(q).predicate(spark) for b, q in named.items()
    }
    # ES sorts filter keys before pairing, so pair keys are normalized
    # (always "big&us", never "us&big") regardless of request order
    keys = sorted(named)
    cells: dict[str, Column] = {b: preds[b] for b in keys}
    for i, a in enumerate(keys):
        for b in keys[i + 1:]:
            cells[f"{a}{sep}{b}"] = preds[a] & preds[b]
    if sub:
        tags = F.array_compact(F.array(*[
            F.when(p, F.lit(label)) for label, p in cells.items()
        ]))
        if any(next(iter(s)) in _BUCKET_KINDS for s in sub.values()):
            return _tagged_nested_bucket(df, name, tags, sub)
        return (
            df.withColumn("__cell", F.explode(tags))
            .groupBy(F.col("__cell").alias(name))
            .agg(F.count(F.lit(1)).alias("doc_count"), *_metric_cols(sub))
        )
    counts = [
        F.sum(F.when(p, 1).otherwise(0)).cast("long").alias(label)
        for label, p in cells.items()
    ]
    wide = df.agg(*counts)
    return (
        wide.unpivot([], list(cells), name, "doc_count")
        .filter(F.col("doc_count") > 0)
    )


_BUCKET_KINDS = ("terms", "multi_terms", "date_histogram", "histogram",
                 "range", "ip_range", "ip_prefix", "categorize_text",
                 "geo_distance", "geotile_grid", "geohash_grid")
#: kinds whose bucket key is a heavy expression tree — their ES
#: null-contract filter moves AFTER the partial aggregation so the key
#: evaluates once per row (see the keyed/groupBy site)
_EXPENSIVE_KEY_KINDS = frozenset({
    "ip_prefix", "ip_range", "categorize_text",
    "geotile_grid", "geohash_grid", "geo_distance",
})
# every kind _metric_cols can evaluate — the metric-only fast-path test
# for global/sampler sub-aggs (anything else must recurse)
_METRIC_KINDS = (
    "sum", "avg", "min", "max", "value_count", "cardinality",
    "percentiles", "percentile_ranks", "stats", "extended_stats",
    "weighted_avg", "median_absolute_deviation", "string_stats",
    "boxplot", "top_metrics", "geo_centroid", "geo_bounds", "matrix_stats",
    "t_test", "scripted_metric", "geo_line",
)


def _frequent_item_sets(df: DataFrame, name: str, body: dict) -> DataFrame:
    """ES ``frequent_item_sets``: itemsets co-occurring in at least
    ``minimum_support`` of documents. ES's miner is explicitly
    approximate (sampled ECLAT); this engine mines set sizes 1 and 2
    EXACTLY — the sizes that carry virtually all analytical use — and
    refuses larger ``maximum_set_size`` rather than approximating.
    One field of array type (multi-field item tuples unsupported,
    documented).

    Shape: the per-document sorted distinct item array
    materializes ONCE (eager ``localCheckpoint`` — the upstream may be
    an expensive aggregation, and singles, pairs AND the document count
    all consume it; without the checkpoint Catalyst replays the whole
    upstream once per consumer, measured as 3 full input scans at
    sf0.1). Singles and pairs are then generated per document with one
    HOF (size-1 sets as ``array(x)``, size-2 sets as C(d,2) slices —
    no join, no driver state) and counted in ONE explode + groupBy.
    Documents with more than ``max_items_per_doc`` (default 64,
    ≤ 2016 pairs) raise rather than silently exploding the pair space —
    at that point Apriori pruning (semi join against frequent singles
    before pair generation) is the scale path, not brute force.
    Support's denominator is the total document count, attached as a
    1-row broadcast."""
    fields = body.get("fields")
    if not (isinstance(fields, list) and len(fields) == 1
            and isinstance(fields[0], dict) and "field" in fields[0]):
        raise ValueError(
            "frequent_item_sets needs fields: [{'field': <array col>}] "
            "(exactly one; multi-field item tuples unsupported)"
        )
    field = fields[0]["field"]
    min_sup = float(body.get("minimum_support", 0.1))
    if not 0.0 < min_sup <= 1.0:
        raise ValueError(f"minimum_support must be in (0, 1], got {min_sup}")
    min_size = int(body.get("minimum_set_size", 1))
    max_size = int(body.get("maximum_set_size", 2))
    if max_size > 2:
        raise ValueError(
            "maximum_set_size > 2 is unsupported (sizes 1-2 are mined "
            "exactly; ES approximates larger sizes by sampling)"
        )
    if not 1 <= min_size <= max_size:
        raise ValueError(
            f"need 1 <= minimum_set_size <= maximum_set_size, got "
            f"{min_size}..{max_size}"
        )
    cap = int(body.get("max_items_per_doc", 64))

    arr = F.array_sort(F.array_distinct(F.col(field)))
    arr = F.when(
        F.size(arr) <= cap, arr
    ).otherwise(
        F.raise_error(F.format_string(
            "frequent_item_sets: document has more than %d distinct "
            "items; raise max_items_per_doc or pre-prune", F.lit(cap)))
    )
    # One upstream evaluation for all three consumers (see docstring).
    items = df.select(arr.alias("__items")).localCheckpoint()
    n_docs = items.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    src = items.filter(F.size("__items") > 0)

    parts = []
    if min_size <= 1:
        parts.append(F.transform(F.col("__items"), lambda x: F.array(x)))
    if max_size >= 2:
        parts.append(F.flatten(F.transform(
            F.col("__items"),
            lambda x, i: F.transform(
                F.slice(F.col("__items"), i + 2,
                        F.size(F.col("__items")) - i - 1),
                lambda y: F.array(x, y),
            ),
        )))
    sets = parts[0] if len(parts) == 1 else F.concat(*parts)
    out = (
        src.select(F.explode(sets).alias("__s"))
        .groupBy("__s")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .select(F.col("__s").alias(name), "doc_count")
    )
    return (
        out.crossJoin(F.broadcast(n_docs))
        .filter(F.col("doc_count") >= F.col("__n") * F.lit(min_sup))
        .select(
            name, "doc_count",
            F.round(F.col("doc_count") / F.col("__n"), 6).alias("support"),
        )
    )


def _agg_kind(spec: dict) -> str:
    """The agg KIND of a named-agg spec — the non-'aggs' key (dict order
    comes from user JSON, so next(iter(...)) is not safe: {'aggs': ...,
    'terms': ...} must still read as a terms agg)."""
    kinds = [k for k in spec if k != "aggs"]
    if len(kinds) != 1:
        raise ValueError(
            f"expected exactly one aggregation kind, got {sorted(kinds)}"
        )
    return kinds[0]
_PIPELINE_KINDS = (
    "cumulative_sum", "derivative", "serial_diff", "moving_fn",
    "moving_percentiles", "normalize", "bucket_script", "bucket_selector",
    "bucket_sort", "cumulative_cardinality", "inference",
)
# sibling pipelines: scalar over the parent agg's bucket list, requested
# NEXT TO the parent at the top level (ES's sibling-agg shape).
# stats_bucket/percentiles_bucket expand to several scalar columns — see
# the siblings block in es_aggregate.
_SIBLING_KINDS = {
    "avg_bucket": F.avg, "sum_bucket": F.sum,
    "min_bucket": F.min, "max_bucket": F.max,
    "stats_bucket": None, "percentiles_bucket": None,
    "extended_stats_bucket": None,
    "change_point": None,
}


# the key-expression keys each composite source kind honours, beside the
# keys every source has
_COMPOSITE_SOURCE_OWN = {"order", "missing_bucket", "missing_order"}
_COMPOSITE_SOURCE_KEYS = {
    "terms": {"field", "missing"},
    "histogram": {"field", "missing", "interval"},
    "date_histogram": {"field", "missing", "calendar_interval",
                       "fixed_interval", "interval"},
}


def _composite_agg(df: DataFrame, body: dict, sub: dict) -> DataFrame:
    """ES ``composite`` agg: the SCALE path for bucket enumeration — instead
    of one truncated top-N response, buckets stream out in total key order,
    ``size`` per page, resumable via the ``after`` cursor (the last page's
    final key tuple).

    Compiled so each page is cheap at 100 TB: every source key is a
    deterministic row-level expression, so the strictly-after cursor
    condition is applied BELOW the aggregation as a row filter
    (``_keyset_after`` over the keys projected under hidden names, the
    predicate search_after uses) — for leading terms sources it is a
    plain comparison the parquet scan prunes on, and the groupBy then
    aggregates only the remaining rows.
    ES's own composite agg does exactly this walk over the doc-values
    index. Bucket order = source order (each ``asc`` by default, per-source
    ``"order": "desc"`` honored); date_histogram keys are zero-padded
    timestamp strings, so string order IS chronological order and the
    cursor comparisons stay faithful.

    ``missing_bucket: true`` on a source includes docs missing that value
    as a null-keyed bucket, positioned per ``missing_order`` ("first",
    "last", or ES's "default": first when asc, last when desc); the
    ``after`` cursor accepts null for such sources, and a null compares
    per its configured position, never SQL-NULL-propagates a row away. Without
    missing_bucket, docs missing the source value are skipped — ES's
    contract. Metric sub-aggs ride the single groupBy."""
    sources = body.get("sources")
    if not isinstance(sources, list) or not sources:
        raise ValueError("composite needs a non-empty 'sources' list")
    # the source keys, projected under hidden names the cursor reads
    keys, names, exprs, missing = [], [], {}, set()
    for entry in sources:
        (sname, sspec), = entry.items()
        (skind, sbody), = sspec.items()
        if skind not in _COMPOSITE_SOURCE_KEYS:
            raise ValueError(f"unsupported composite source type: {skind!r}")
        check_keys(sbody, _COMPOSITE_SOURCE_KEYS[skind] | _COMPOSITE_SOURCE_OWN,
                   f"composite {skind}")
        (_, desc, nulls_first), = _sort_keys(
            {sname: sbody.get("order", "asc")}, "composite order")
        morder = sbody.get("missing_order", "default")
        if morder not in ("default", "first", "last"):
            raise ValueError(
                f"unsupported missing_order: {morder!r} (default/first/last)"
            )
        hidden = f"__key_{len(keys)}"
        if sbody.get("missing_bucket", False):
            missing.add(hidden)
            if morder != "default":
                nulls_first = morder == "first"
        elif "missing_order" in sbody:
            raise ValueError(
                f"missing_order on source {sname!r} needs "
                "missing_bucket: true (ES's contract; without it there is "
                "no null bucket to position)"
            )
        keys.append((hidden, desc, nulls_first))
        names.append(sname)
        exprs[hidden] = _bucket_key(skind, {
            k: v for k, v in sbody.items() if k not in _COMPOSITE_SOURCE_OWN})
    if any(next(iter(s)) in _BUCKET_KINDS for s in sub.values()):
        raise ValueError("composite sub-aggs must be metrics, not buckets")
    keyed = df.withColumns(exprs)
    for h in exprs:
        if h not in missing:
            keyed = keyed.filter(f"{h} IS NOT NULL")
    after = body.get("after")
    if after is not None:
        absent = [n for n in names if n not in after]
        if absent:
            raise ValueError(f"after cursor missing source keys: {absent}")
        for n, (h, _, _) in zip(names, keys):
            if after[n] is None and h not in missing:
                raise ValueError(
                    f"after[{n!r}] is null but the source has no "
                    "missing_bucket"
                )
        keyed = keyed.filter(_keyset_after(keys, [after[n] for n in names]))
    # grouped by the key expressions themselves: the optimizer folds the
    # hidden names back into them, so the plan keeps no extra projection
    out = (
        keyed.drop(*exprs)
        .groupBy(*[e.alias(n) for e, n in zip(exprs.values(), names)])
        .agg(F.count(F.lit(1)).alias("doc_count"), *_metric_cols(sub))
    )
    order = _order_cols([(n, d, nf) for (_, d, nf), n in zip(keys, names)])
    return out.orderBy(*order).limit(int(body.get("size", 10)))


def _significant_terms(
    df: DataFrame, fg_pred: Column | None, name: str, body: dict,
    sub: dict | None = None,
) -> DataFrame:
    """ES ``significant_terms``: terms over-represented in the query's
    foreground set relative to the whole index, scored with ES's default
    JLH heuristic: (fg% − bg%) · (fg% / bg%), where fg% = bucket's share of
    foreground docs and bg% = its share of the index (docs carrying the
    field, both sets).

    ONE conditional-aggregation scan builds both frequency columns per term
    (fg = sum-of-CASE on the query predicate, bg = count); the two scalar
    totals are a global-window sum over the already-reduced bucket relation
    (term cardinality, not corpus cardinality — the same coordinator-scale
    shape as pipeline aggs), so the corpus is scanned exactly once and the
    only shuffle is the term groupBy. ES's shard-level ranking heuristics
    (shard_size, shard_min_doc_count) are index-sharding workarounds this
    engine doesn't need: the groupBy sees global counts.

    Metric sub-aggs aggregate the bucket's FOREGROUND documents —
    ES's semantics (a significant bucket IS its matching docs; the
    background set only prices significance). Each metric field is
    masked to NULL outside the foreground before the same single groupBy
    (null-ignoring aggregates ride along); bucket sub-aggs raise."""
    field = body["field"]
    size = int(body.get("size", 10))
    if fg_pred is None:
        raise ValueError(
            "significant_terms needs the request's query to define the "
            "foreground set"
        )
    metrics, mcols = [], []
    if sub:
        if any(next(iter(s)) in _BUCKET_KINDS for s in sub.values()):
            raise ValueError(
                "significant_terms sub-aggs must be metrics, not buckets"
            )
        masked_sub = {}
        masks = {}
        for mname, mspec in sub.items():
            mspec = dict(mspec)
            mspec.pop("aggs", None)
            (mkind, mbody), = mspec.items()
            mfield = mbody["field"]
            alias = f"__fg__{mfield}"
            masks[alias] = F.when(fg_pred, F.col(mfield))
            masked_sub[mname] = {mkind: {**mbody, "field": alias}}
        df = df.withColumns(masks)
        metrics = _metric_cols(masked_sub)
        probe = df.limit(0).agg(*metrics)  # column names for the tail
        mcols = probe.columns
    g = (
        df.filter(F.col(field).isNotNull())
        .groupBy(F.col(field).alias(name))
        .agg(
            F.sum(F.when(fg_pred, 1).otherwise(0)).cast("long").alias("doc_count"),
            F.count(F.lit(1)).alias("bg_count"),
            *metrics,
        )
    )
    heuristic, script = _sig_heuristic(body)
    return _jlh_rank(g, name, size, heuristic, script=script,
                     extra_cols=mcols)


def _jlh_rank(
    g: DataFrame,
    name: str,
    size: int,
    heuristic: str = "jlh",
    doc_totals: DataFrame | None = None,
    script: str | None = None,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Shared significance ranking over a (bucket, doc_count, bg_count)
    relation — the reduced-cardinality tail of both significant_terms and
    significant_text. ``heuristic`` selects ES's scoring function:

    * ``jlh`` (ES default): (fg% − bg%) · (fg% / bg%).
    * ``mutual_information``: pointwise-summed MI (log2) over the 2×2
      term-presence × in-foreground contingency table, ES's
      background-is-superset convention (bg counts INCLUDE the fg docs);
      empty cells contribute 0; ES's include_negatives default applies —
      a term UNDER-represented in the foreground scores negative.
    * ``chi_square``: the χ² statistic over the same table, signed the
      same way; degenerate tables (an empty marginal) score 0 instead of
      NULL.
    * ``gnd``: Google Normalized Distance (Cilibrasi & Vitányi 2007,
      "The Google Similarity Distance" — the public formula ES's gnd
      heuristic implements) between the term and the foreground:
      NGD = (max(ln fx, ln fy) − ln fxy) / (ln N − min(ln fx, ln fy))
      with fx = term's background df, fy = foreground size, fxy = term's
      foreground df, N = background size; scored as exp(−NGD) so smaller
      distance ranks higher on the same desc sort, degenerate inputs
      (fxy = 0, or a zero log argument, or a 0 denominator) score 0.
    * ``script_heuristic``: the user supplies the scoring formula as a
      Painless(-subset) script over ES's four frequency variables —
      ``params._subset_freq`` (term∩fg), ``params._superset_freq``
      (term∩bg), ``params._subset_size`` (fg), ``params._superset_size``
      (bg) — compiled ONCE to a Catalyst expression (``compile_painless``
      with a params binding), evaluated over the reduced bucket relation.

    The 2×2 cells need DOCUMENT totals. For significant_terms the bucket
    relation's own sums are document counts (one bucket per doc); for
    significant_text they are token-incidence sums, so the caller passes
    ``doc_totals`` — a 1-row (_fg_total, _bg_total) relation counting
    DOCS — which broadcast-cross-joins here (coordinator-scale, like the
    window-sum it replaces)."""
    if doc_totals is not None:
        g = g.crossJoin(F.broadcast(doc_totals))
    else:
        w = Window.partitionBy()
        g = g.withColumn(
            "_fg_total", F.sum("doc_count").over(w).cast("double")
        ).withColumn("_bg_total", F.sum("bg_count").over(w).cast("double"))
    fg_pct = F.col("doc_count") / F.col("_fg_total")
    bg_pct = F.col("bg_count") / F.col("_bg_total")
    if heuristic == "jlh":
        score = (fg_pct - bg_pct) * (fg_pct / bg_pct)
    elif heuristic == "percentage":
        # ES percentage heuristic: the share of the term's occurrences
        # that are in the foreground — subsetFreq / supersetFreq
        score = F.col("doc_count") / F.col("bg_count")
    elif heuristic in ("mutual_information", "chi_square"):
        # 2x2 contingency, ES's background-is-superset convention:
        #   n11 term & fg          n01 term & not-fg
        #   n10 no-term & fg       n00 no-term & not-fg
        n = F.col("_bg_total")
        n11 = F.col("doc_count").cast("double")
        n01 = (F.col("bg_count") - F.col("doc_count")).cast("double")
        n10 = F.col("_fg_total") - n11
        n00 = n - F.col("bg_count") - n10
        sign = F.when(fg_pct < bg_pct, F.lit(-1.0)).otherwise(F.lit(1.0))
        if heuristic == "chi_square":
            denom = (n11 + n01) * (n11 + n10) * (n01 + n00) * (n10 + n00)
            score = sign * F.when(
                denom > 0,
                n * F.pow(n11 * n00 - n01 * n10, 2) / denom,
            ).otherwise(F.lit(0.0))
        else:
            def mi_cell(nij: Column, ni: Column, nj: Column) -> Column:
                return F.when(
                    nij > 0,
                    (nij / n) * F.log2((n * nij) / (ni * nj)),
                ).otherwise(F.lit(0.0))

            score = sign * (
                mi_cell(n11, n11 + n01, n11 + n10)
                + mi_cell(n01, n11 + n01, n01 + n00)
                + mi_cell(n10, n10 + n00, n11 + n10)
                + mi_cell(n00, n10 + n00, n01 + n00)
            )
    elif heuristic == "gnd":
        fx = F.col("bg_count").cast("double")
        fy = F.col("_fg_total")
        fxy = F.col("doc_count").cast("double")
        n = F.col("_bg_total")
        num = F.greatest(F.log(fx), F.log(fy)) - F.log(fxy)
        den = F.log(n) - F.least(F.log(fx), F.log(fy))
        score = F.when(
            (fxy > 0) & (fx > 0) & (fy > 0) & (n > 0) & (den > 0),
            F.exp(-num / den),
        ).otherwise(F.lit(0.0))
    elif heuristic == "script_heuristic":
        score = F.expr(compile_painless(script, params={
            "_subset_freq": _double_ref("doc_count"),
            "_superset_freq": _double_ref("bg_count"),
            "_subset_size": col_sql("_fg_total"),
            "_superset_size": col_sql("_bg_total"),
        }))
    else:
        raise ValueError(
            f"unsupported significance heuristic {heuristic!r} "
            f"(supported: {', '.join(_SIG_HEURISTICS)})"
        )
    return (
        g.filter(F.col("doc_count") > 0)
        .select(
            name, "doc_count", "bg_count",
            F.round(score, 6).alias("score"),
            *(extra_cols or []),
        )
        .orderBy(F.col("score").desc(), F.col(name).asc())
        .limit(size)
    )


_SIG_HEURISTICS = ("jlh", "mutual_information", "chi_square", "percentage",
                   "gnd", "script_heuristic")


def _sig_heuristic(body: dict) -> tuple[str, str | None]:
    """ES spells the heuristic as a sibling key inside the agg body:
    {"field": ..., "chi_square": {}}. Exactly one may appear; unsupported
    heuristic names and unsupported parameters raise (never a silent
    fallback to JLH). Returns (heuristic, script) — script is the
    Painless(-subset) source for ``script_heuristic``, None otherwise."""
    found = [h for h in _SIG_HEURISTICS if h in body]
    if len(found) > 1:
        raise ValueError(f"choose one significance heuristic, got {found}")
    if not found:
        return "jlh", None
    params = body[found[0]] or {}
    if found[0] == "script_heuristic":
        spec = params.get("script")
        if spec is None:
            raise ValueError("script_heuristic needs a 'script'")
        if isinstance(spec, dict):
            # the four frequency variables are the only params
            check_keys(spec, {"source"}, "script")
        check_keys(params, {"script"}, "script_heuristic")
        return "script_heuristic", spec["source"] if isinstance(spec, dict) else spec
    ok_params = {
        "jlh": set(),
        "percentage": set(),
        # include_negatives=True and background_is_superset=True are THE
        # implemented semantics; other values would silently mis-score
        "mutual_information": {"include_negatives", "background_is_superset"},
        "chi_square": {"include_negatives", "background_is_superset"},
        "gnd": {"background_is_superset"},
    }[found[0]]
    check_keys(params, ok_params, found[0])
    for p in ("include_negatives", "background_is_superset"):
        if p in params and params[p] is not True:
            raise ValueError(
                f"{found[0]}: only {p}=true is implemented"
            )
    return found[0], None


def _significant_text(
    df: DataFrame, fg_pred: Column | None, name: str, body: dict,
    analyzer: str | None, sub: dict | None = None,
) -> DataFrame:
    """ES ``significant_text``: significant_terms over the ANALYZED tokens
    of a text field — the free-text "what words characterize the matching
    docs" form. A document contributes each DISTINCT token once (ES's
    de-duplicated counting), so counts are document frequencies; the JLH
    scoring and the coordinator-scale global-window totals are shared with
    significant_terms. One scan: analyze → array_distinct → explode →
    token groupBy (the only shuffle). Metric sub-aggs aggregate the
    token's FOREGROUND documents, like significant_terms — metric fields
    ride the explode masked to NULL outside the foreground (a doc
    contributes once per distinct token it carries, the same doc-frequency
    convention as the counts)."""
    field = body["field"]
    size = int(body.get("size", 10))
    if fg_pred is None:
        raise ValueError(
            "significant_text needs the request's query to define the "
            "foreground set"
        )
    if analyzer is None:
        raise ValueError(
            f"significant_text on {field!r} needs an analyzer binding "
            "(pass analyzers={...}: token significance is defined over "
            "analyzed token streams)"
        )
    metrics, mcols, mask_cols = [], [], []
    if sub:
        if any(next(iter(s)) in _BUCKET_KINDS for s in sub.values()):
            raise ValueError(
                "significant_text sub-aggs must be metrics, not buckets"
            )
        masked_sub = {}
        seen = {}
        for mname, mspec in sub.items():
            mspec = dict(mspec)
            mspec.pop("aggs", None)
            (mkind, mbody), = mspec.items()
            mfield = mbody["field"]
            alias = f"__fg__{mfield}"
            if alias not in seen:
                seen[alias] = F.when(fg_pred, F.col(mfield)).alias(alias)
            masked_sub[mname] = {mkind: {**mbody, "field": alias}}
        mask_cols = list(seen.values())
        metrics = _metric_cols(masked_sub)
        mcols = df.limit(0).select(*mask_cols).agg(*metrics).columns
    toks = df.filter(F.col(field).isNotNull()).select(
        fg_pred.alias("_fg"),
        F.explode(
            F.array_distinct(analyze(F.col(field), analyzer))
        ).alias(name),
        *mask_cols,
    )
    g = toks.groupBy(name).agg(
        F.sum(F.when(F.col("_fg"), 1).otherwise(0)).cast("long")
        .alias("doc_count"),
        F.count(F.lit(1)).alias("bg_count"),
        *metrics,
    )
    heuristic, script = _sig_heuristic(body)
    doc_totals = None
    if heuristic in ("mutual_information", "chi_square", "gnd",
                     "script_heuristic"):
        # the 2x2 contingency needs DOCUMENT totals; the bucket relation's
        # sums here are token-INCIDENCE sums (a doc with 100 distinct
        # tokens contributes 100), which would corrupt every cell —
        # count docs in a separate bounded 1-row aggregate instead
        doc_totals = df.filter(F.col(field).isNotNull()).agg(
            F.sum(F.when(fg_pred, 1).otherwise(0)).cast("double")
            .alias("_fg_total"),
            F.count(F.lit(1)).cast("double").alias("_bg_total"),
        )
    return _jlh_rank(g, name, size, heuristic, doc_totals, script=script,
                     extra_cols=mcols)


def _fill_empty_buckets(
    out: DataFrame, name: str, kind: str, body: dict
) -> DataFrame:
    """Materialize the full bucket grid for ``min_doc_count: 0``:
    numeric ``histogram`` (fixed width — the grid walks bucket INDICES so
    double stepping can't drift) and calendar-day ``date_histogram``.
    ``extended_bounds`` {min, max} widens the observed range, ES's
    contract (bounds are clamped onto the bucket lattice)."""
    eb = body.get("extended_bounds") or {}
    if kind == "histogram":
        width = float(body["interval"])
        bounds = out.agg(
            F.min(name).alias("_lo"), F.max(name).alias("_hi")
        )
        lo = F.col("_lo")
        hi = F.col("_hi")
        # extended_bounds carries RAW values — snap them onto the bucket
        # lattice at build time (floor, like _bucket_key does for data)
        # so the column side only ever holds exact lattice keys
        if "min" in eb:
            lo = F.least(
                lo, F.lit(math.floor(float(eb["min"]) / width) * width)
            )
        if "max" in eb:
            hi = F.greatest(
                hi, F.lit(math.floor(float(eb["max"]) / width) * width)
            )
        # bucket KEYS are exactly i·width, but key/width is not exactly i
        # in floating point (e.g. 4.2/0.7 = 5.999…), so floor() would drop
        # the edge bucket — round() recovers the index exactly
        grid = bounds.select(
            F.explode(
                F.sequence(
                    F.round(lo / width, 0).cast("long"),
                    F.round(hi / width, 0).cast("long"),
                )
            ).alias("_i")
        ).select((F.col("_i") * F.lit(width)).cast("double").alias(name))
    elif kind == "date_histogram":
        if _histogram_interval(body) != (1, "DAY", False):
            raise ValueError(
                "min_doc_count=0 bucket filling supports the 'day' "
                f"calendar_interval, got {body}"
            )
        bounds = out.agg(
            F.min(name).alias("_lo"), F.max(name).alias("_hi")
        )
        lo = F.to_date("_lo")
        hi = F.to_date("_hi")
        if "min" in eb:
            lo = F.least(lo, F.to_date(F.lit(str(eb["min"]))))
        if "max" in eb:
            hi = F.greatest(hi, F.to_date(F.lit(str(eb["max"]))))
        grid = bounds.select(
            F.explode(
                F.sequence(lo, hi, F.expr("interval 1 day"))
            ).alias("_d")
        ).select(F.date_format("_d", "yyyy-MM-dd").alias(name))
    else:
        raise ValueError(
            "min_doc_count=0 bucket filling needs a histogram-family "
            f"bucket, got {kind!r}"
        )
    return (
        grid.join(out, name, "left")
        .withColumn("doc_count", F.coalesce("doc_count", F.lit(0)))
    )


def _apply_pipeline_aggs(
    out: DataFrame, bucket_name: str, kind: str, pipes: dict,
    sub_specs: dict | None = None,
) -> DataFrame:
    """ES pipeline aggregations over a histogram-family parent:
    ``cumulative_sum`` (running total) and ``derivative`` (bucket-over-
    bucket delta, NULL for the first bucket — ES's contract) of a
    ``buckets_path`` metric, as window functions ordered by the bucket key.

    ES evaluates pipeline aggs coordinator-side over the REDUCED bucket
    list; this is the same shape — the window runs on the post-aggregation
    bucket relation (histogram cardinality, not corpus cardinality), so the
    single-partition window is the semantics, not a scale bug."""
    ordered_kinds = ("cumulative_sum", "derivative", "moving_fn",
                     "serial_diff", "moving_percentiles")
    if any(next(iter(s)) in ordered_kinds for s in pipes.values()) \
            and kind not in ("date_histogram", "histogram"):
        raise ValueError(
            f"sequential pipeline aggs (cumulative_sum/derivative/"
            f"moving_fn) need a histogram-family parent bucket "
            f"(deterministic key order), got {kind!r}"
        )
    w = Window.orderBy(F.col(bucket_name).asc())

    def metric_path(pkind: str, path: str) -> str:
        col = "doc_count" if path == "_count" else path
        if col not in out.columns:
            raise ValueError(
                f"{pkind} buckets_path {path!r} is not a sibling metric "
                f"(have: {out.columns})"
            )
        return col

    def script_params(pkind: str, pbody: dict) -> dict:
        paths = pbody["buckets_path"]
        if not isinstance(paths, dict):
            raise ValueError(
                f"{pkind} buckets_path must be a dict of "
                f"param-name -> metric, got {paths!r}"
            )
        return {
            p: _double_ref(metric_path(pkind, m)) for p, m in paths.items()
        }

    # evaluated in request order, as ES does — a bucket_selector may
    # reference a bucket_script column defined before it
    for pname, spec in pipes.items():
        (pkind, pbody), = spec.items()
        if pkind == "cumulative_sum":
            path = metric_path(pkind, pbody["buckets_path"])
            out = out.withColumn(
                pname,
                F.sum(path).over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
            )
        elif pkind == "derivative":
            path = metric_path(pkind, pbody["buckets_path"])
            out = out.withColumn(pname, F.col(path) - F.lag(path).over(w))
        elif pkind == "serial_diff":
            # ES serial_diff: x_t - x_(t-lag) over the ordered bucket list
            # (lag=1 == derivative; larger lags deseasonalize). NULL for
            # the first `lag` buckets, ES's gap contract.
            path = metric_path(pkind, pbody["buckets_path"])
            lag = int(pbody.get("lag", 1))
            if lag <= 0:
                raise ValueError(f"serial_diff lag must be > 0, got {lag}")
            out = out.withColumn(
                pname, F.col(path) - F.lag(path, lag).over(w)
            )
        elif pkind == "moving_fn":
            # ES moving_fn: a sliding window over the ORDERED bucket list.
            # With shift=0 (default) the window is the `window` buckets
            # BEFORE the current one (exclusive); shift=1 slides the right
            # edge to include the current bucket. An empty window yields
            # NULL (ES's null), e.g. the first bucket at shift=0. The
            # script names one of ES's MovingFunctions; the window frame +
            # aggregate runs JVM-side, never a per-bucket script.
            path = metric_path(pkind, pbody["buckets_path"])
            window = int(pbody["window"])
            if window <= 0:
                raise ValueError(f"moving_fn window must be > 0, got {window}")
            shift = int(pbody.get("shift", 0))
            if shift not in (0, 1):
                raise ValueError(
                    f"moving_fn shift supports 0 (exclude current bucket) "
                    f"or 1 (include it), got {shift}"
                )
            fns = {
                "MovingFunctions.unweightedAvg(values)": F.avg,
                "MovingFunctions.min(values)": F.min,
                "MovingFunctions.max(values)": F.max,
                "MovingFunctions.sum(values)": F.sum,
            }
            script = pbody.get("script")
            if script not in fns:
                raise ValueError(
                    f"unsupported moving_fn script {script!r} "
                    f"(supported: {sorted(fns)})"
                )
            hi = 0 if shift == 1 else -1
            lo = hi - window + 1
            out = out.withColumn(
                pname,
                fns[script](F.col(path).cast("double")).over(
                    w.rowsBetween(lo, hi)
                ),
            )
        elif pkind == "moving_percentiles":
            # ES moving_percentiles: the referenced percentiles agg's
            # percents, recomputed over the VALUES of the sliding window
            # of buckets (ES merges the buckets' t-digests; this engine
            # is exact — it flattens the hidden per-bucket sorted value
            # arrays staged by the dispatch and interpolates, the
            # strictly-more-accurate divergence percentiles already
            # documents). Window/shift semantics shared with moving_fn;
            # an empty window yields NULLs (the first bucket at
            # shift=0). Output: {name}_p{percent} per requested percent.
            path = pbody["buckets_path"]
            ref = (sub_specs or {}).get(path, {})
            if "percentiles" not in ref:
                raise ValueError(
                    "moving_percentiles buckets_path must name a sibling "
                    f"percentiles agg, got {path!r}"
                )
            percents = ref["percentiles"].get("percents", [25, 50, 75])
            window = int(pbody["window"])
            if window <= 0:
                raise ValueError(
                    f"moving_percentiles window must be > 0, got {window}"
                )
            shift = int(pbody.get("shift", 0))
            if shift not in (0, 1):
                raise ValueError(
                    f"moving_percentiles shift supports 0 or 1, got {shift}"
                )
            hi = 0 if shift == 1 else -1
            lo = hi - window + 1
            tmp = f"__mpw_{pname}"
            out = out.withColumn(
                tmp,
                F.array_sort(F.flatten(
                    F.collect_list(F.col(f"__mp_{path}")).over(
                        w.rowsBetween(lo, hi)
                    )
                )),
            )
            a = F.col(tmp)
            n = F.size(a)
            for p in percents:
                label = str(p).replace(".", "_")
                q = float(p) / 100.0
                idx = (n.cast("double") - 1.0) * F.lit(q)
                li = F.floor(idx).cast("int")
                base = F.element_at(a, li + 1)
                nxt = F.element_at(a, F.least(li + 2, n))
                out = out.withColumn(
                    f"{pname}_p{label}",
                    F.when(
                        n > 0,
                        F.round(
                            base + (nxt - base) * (idx - li.cast("double")),
                            6,
                        ),
                    ),
                )
            out = out.drop(tmp)
        elif pkind == "normalize":
            # ES normalize: rescale a sibling metric across the WHOLE
            # bucket list (order-independent — any multi-bucket parent).
            # The window spans all buckets of the reduced relation, so
            # the aggregates are bucket-cardinality work. NULL metrics
            # stay NULL and are ignored by the window aggregates (ES
            # skips empty buckets the same way).
            path = metric_path(pkind, pbody["buckets_path"])
            x = F.col(path).cast("double")
            wa = w.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
            method = pbody.get("method")
            if method == "rescale_0_1":
                expr = (x - F.min(x).over(wa)) / (
                    F.max(x).over(wa) - F.min(x).over(wa)
                )
            elif method == "rescale_0_100":
                expr = (x - F.min(x).over(wa)) * 100.0 / (
                    F.max(x).over(wa) - F.min(x).over(wa)
                )
            elif method == "percent_of_sum":
                expr = x / F.sum(x).over(wa)
            elif method == "mean":
                expr = (x - F.avg(x).over(wa)) / (
                    F.max(x).over(wa) - F.min(x).over(wa)
                )
            elif method == "z-score":
                expr = (x - F.avg(x).over(wa)) / F.stddev_pop(x).over(wa)
            elif method == "softmax":
                expr = F.exp(x) / F.sum(F.exp(x)).over(wa)
            else:
                raise ValueError(
                    f"unsupported normalize method {method!r} (supported: "
                    "rescale_0_1, rescale_0_100, percent_of_sum, mean, "
                    "z-score, softmax)"
                )
            out = out.withColumn(pname, expr)
        elif pkind == "bucket_script":
            out = out.withColumn(
                pname,
                F.expr(compile_painless(
                    pbody["script"],
                    params=script_params(pkind, pbody),
                )),
            )
        elif pkind == "inference":
            # ES inference pipeline agg: apply a trained model to each
            # bucket's metric values (the feature map = buckets_path).
            # ES resolves model_id from its ML model store; this engine
            # has no store, so the caller supplies the trained
            # parameters inline via 'model' — the same mapping-to-
            # parameter move as time_series' dimensions and
            # random_sampler's id_field (a documented divergence, not a
            # capability gap: the linear/logistic response is the same
            # arithmetic ES's pretrained LTR/regression models apply).
            # regression emits <name> (the linear response);
            # classification emits <name> (0/1 at probability 0.5) plus
            # <name>_prediction_probability — mirroring ES's
            # predicted_value / prediction_probability fields.
            # NULL-feature contract (documented divergence): a NULL
            # bucket metric (avg over an all-NULL bucket, a leading
            # derivative/serial_diff bucket) propagates NULL through
            # the response — SQL three-valued arithmetic, the same
            # convention every other pipeline agg here follows — where
            # ES would fail the inference for that bucket. Pinned by
            # tests/test_es_aggs.py::
            # test_inference_null_feature_propagates_null; callers
            # wanting ES's failure mode gate upstream with
            # bucket_selector or gap_policy.
            model = pbody.get("model")
            if not (isinstance(model, dict)
                    and isinstance(model.get("weights"), dict)
                    and model["weights"]):
                raise ValueError(
                    "inference needs 'model': {'type': 'regression'|"
                    "'classification', 'weights': {param: w}, "
                    "'intercept': b} (ES resolves model_id from its ML "
                    "store; raw parquet has none, so supply the trained "
                    "parameters inline)"
                )
            check_keys(model, {"type", "weights", "intercept"}, "inference model")
            mtype = model.get("type", "regression")
            if mtype not in ("regression", "classification"):
                raise ValueError(
                    f"unsupported inference model type {mtype!r}"
                )
            feats = script_params(pkind, pbody)
            unknown = set(model["weights"]) - set(feats)
            if unknown:
                raise ValueError(
                    f"inference weights reference features outside "
                    f"buckets_path: {sorted(unknown)}"
                )
            resp = F.lit(float(model.get("intercept", 0.0)))
            for p in sorted(model["weights"]):
                resp = resp + F.lit(float(model["weights"][p])) * F.expr(feats[p])
            if mtype == "regression":
                out = out.withColumn(pname, resp)
            else:
                prob_col = f"{pname}_prediction_probability"
                out = out.withColumn(
                    prob_col, F.lit(1.0) / (F.lit(1.0) + F.exp(-resp))
                ).withColumn(
                    pname, (F.col(prob_col) >= 0.5).cast("int")
                )
        elif pkind == "bucket_selector":
            out = out.filter(
                F.expr(compile_painless(
                    pbody["script"],
                    params=script_params(pkind, pbody),
                    compare=True,
                ))
            )
        else:  # bucket_sort
            keys = [(metric_path(pkind, f), d, nf) for f, d, nf
                    in _sort_keys(pbody.get("sort", []), "bucket_sort sort")]
            # bucket-key tiebreak keeps truncation deterministic
            out = out.orderBy(*_order_cols(keys + [(bucket_name, False, True)]))
            frm = int(pbody.get("from", 0))
            if frm:
                out = out.offset(frm)
            if "size" in pbody:
                out = out.limit(int(pbody["size"]))
    hidden = [c for c in out.columns if c.startswith("__mp_")]
    return out.drop(*hidden) if hidden else out


def _top_hits(
    df: DataFrame, bucket_key: Column, bucket_name: str, body: dict
) -> DataFrame:
    """``top_hits`` sub-agg: the top ``size`` documents per bucket by the
    given sort — a window rank over the bucket key, the per-group-top-k
    plan (one exchange on the bucket key, no self-join). Returns one row
    per (bucket, hit) with the bucket key + ``_source`` columns."""
    size = int(body.get("size", 3))
    keys = _sort_keys(body.get("sort", []), "top_hits sort")
    if not keys:
        raise ValueError("top_hits needs an explicit sort (score is bucket-free here)")
    w = Window.partitionBy("_bucket").orderBy(*_order_cols(keys))
    out = (
        df.withColumn("_bucket", bucket_key)
        .filter(F.col("_bucket").isNotNull())
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= size)
        .drop("_rk")
        .withColumnRenamed("_bucket", bucket_name)
    )
    source = body.get("_source")
    if source is not None:
        out = out.select(bucket_name, *source)
    return out


def _t_test_names(aggs_dsl: dict) -> list[str]:
    """Names of every ``t_test`` agg anywhere in the request subtree."""
    names: list[str] = []
    for n, s in aggs_dsl.items():
        if not isinstance(s, dict):
            continue
        if [k for k in s if k != "aggs"] == ["t_test"]:
            names.append(n)
        if isinstance(s.get("aggs"), dict):
            names += _t_test_names(s["aggs"])
    return names


def _attach_t_test_p(out: DataFrame, aggs_dsl: dict) -> DataFrame:
    """Attach each t_test's response ``value`` (the two-tailed p) next to
    its oracle-able ``{name}_t``/``{name}_df`` columns. The CDF lookup is
    the one non-aggregate step, evaluated by an Arrow pandas_udf over the
    REDUCED bucket relation (bucket-cardinality rows, never the corpus).
    Idempotent (skips names already attached) so the recursive
    sibling/sampler/global paths through es_aggregate stay safe."""
    names = [
        n for n in _t_test_names(aggs_dsl)
        if f"{n}_t" in out.columns and f"{n}_df" in out.columns
        and n not in out.columns
    ]
    if not names:
        return out

    def _p_batch(t, df_):
        return pd.Series([
            None if tv is None or dv is None or pd.isna(tv) or pd.isna(dv)
            else student_t_two_sided_p(float(tv), float(dv))
            for tv, dv in zip(t, df_)
        ], dtype="float64")

    _p = pandas_udf(_p_batch, "double")

    for n in names:
        out = out.withColumn(
            n, F.round(_p(F.col(f"{n}_t"), F.col(f"{n}_df")), 6)
        )
    return out


_RANGES = {"field", "missing", "ranges"}
_PATH = {"buckets_path"}
_WINDOW = {"buckets_path", "window", "shift"}
_SIGNIFICANT = {"field", "size", *_SIG_HEURISTICS}
# The keys each aggregation kind honours; ``_check_aggs`` refuses every
# other key and every other kind before a reader sees the request.
_AGG_KEYS = {
    # bucket kinds
    "terms": {"field", "missing", "size", "order", "min_doc_count",
              "include", "exclude"},
    "multi_terms": {"terms", "size", "order", "min_doc_count"},
    "date_histogram": {"field", "missing", "calendar_interval",
                       "fixed_interval", "interval", "min_doc_count",
                       "extended_bounds"},
    "histogram": {"field", "missing", "interval", "min_doc_count",
                  "extended_bounds"},
    "range": _RANGES,
    "date_range": _RANGES,
    "ip_range": _RANGES,
    "ip_prefix": {"field", "missing", "prefix_length", "is_ipv6",
                  "append_prefix_length"},
    "categorize_text": {"field", "missing", "max_matched_tokens"},
    "geo_distance": {"field", "origin", "ranges"},
    "geohash_grid": {"field", "precision"},
    "geotile_grid": {"field", "precision"},
    # metric kinds
    "sum": {"field", "missing"},
    "avg": {"field", "missing"},
    "min": {"field", "missing"},
    "max": {"field", "missing"},
    "value_count": {"field", "missing"},
    # precision_threshold bounds the error of ES's estimate; counting
    # here is exact at every cardinality
    "cardinality": {"field", "missing", "precision_threshold"},
    "percentiles": {"field", "percents", "tdigest", "hdr"},
    "percentile_ranks": {"field", "values"},
    "stats": {"field"},
    "extended_stats": {"field"},
    "weighted_avg": {"value", "weight"},
    "median_absolute_deviation": {"field", "compression", "execution_hint"},
    "string_stats": {"field"},
    "boxplot": {"field"},
    "top_metrics": {"metrics", "sort", "size"},
    "geo_centroid": {"field"},
    "geo_bounds": {"field", "wrap_longitude"},
    "matrix_stats": {"fields", "missing"},
    "t_test": {"a", "b", "type"},
    "scripted_metric": {"init_script", "map_script", "combine_script",
                        "reduce_script", "params"},
    "geo_line": {"point", "sort", "include_sort", "sort_order", "size"},
    "rate": {"field", "unit"},
    "top_hits": {"size", "sort", "_source"},
    "reverse_nested": set(),
    # parent pipeline kinds
    "cumulative_sum": _PATH,
    "derivative": _PATH,
    "serial_diff": {"buckets_path", "lag"},
    "moving_fn": _WINDOW | {"script"},
    "moving_percentiles": _WINDOW,
    "normalize": {"buckets_path", "method"},
    "bucket_script": {"buckets_path", "script"},
    "bucket_selector": {"buckets_path", "script"},
    "bucket_sort": {"sort", "from", "size"},
    "cumulative_cardinality": _PATH,
    "inference": {"buckets_path", "model"},
    # sibling pipeline kinds
    "avg_bucket": _PATH,
    "sum_bucket": _PATH,
    "min_bucket": _PATH,
    "max_bucket": _PATH,
    "stats_bucket": _PATH,
    "extended_stats_bucket": {"buckets_path", "sigma"},
    "percentiles_bucket": {"buckets_path", "percents"},
    "change_point": _PATH,
    # kinds with a reader of their own
    "frequent_item_sets": {"fields", "minimum_support", "minimum_set_size",
                           "maximum_set_size", "max_items_per_doc"},
    "auto_date_histogram": {"field", "buckets", "missing"},
    "variable_width_histogram": {"field", "buckets"},
    "random_sampler": {"probability", "seed", "id_field"},
    "sampler": {"sort_field", "tiebreak_field", "shard_size"},
    "diversified_sampler": {"sort_field", "tiebreak_field", "shard_size",
                            "field", "max_docs_per_value"},
    "rare_terms": {"field", "max_doc_count", "missing"},
    "time_series": {"dimensions", "size"},
    "filters": {"filters"},
    "adjacency_matrix": {"filters", "separator"},
    "composite": {"sources", "size", "after"},
    "nested": {"path"},
    "significant_terms": _SIGNIFICANT,
    "significant_text": _SIGNIFICANT,
    "missing": {"field"},
    "global": set(),
}


def _agg_node(spec: dict) -> tuple[str, dict]:
    """A named agg's ``(kind, body)``, its body checked against its kind's
    row of ``_AGG_KEYS``."""
    kind = _agg_kind(spec)
    if kind not in _AGG_KEYS:
        raise ValueError(f"unsupported aggregation type: {kind!r}")
    check_keys(spec[kind], _AGG_KEYS[kind], kind)
    return kind, spec[kind]


def _check_aggs(aggs_dsl: dict) -> None:
    """Check every named agg of a request subtree (``_agg_node``)."""
    for spec in aggs_dsl.values():
        _agg_node(spec)
        _check_aggs(spec.get("aggs", {}))


def es_aggregate(
    df: DataFrame, aggs_dsl: dict, fg_pred: Column | None = None,
    analyzers: dict[str, str] | None = None,
) -> DataFrame:
    """Compile one top-level named agg (ES ``"aggs": {name: {...}}``) to a
    groupBy plan and return the flattened leaf-bucket relation.
    ``fg_pred`` (set by es_request) carries the request query's predicate
    for aggs that need BOTH sides of the filter split (significant_terms
    compares foreground vs background); for every other agg the caller
    passes the already-filtered frame. t_test sub-aggs get their p
    ``value`` attached here, over the reduced bucket relation
    (_attach_t_test_p)."""
    return _attach_t_test_p(
        _es_aggregate_impl(df, aggs_dsl, fg_pred, analyzers), aggs_dsl
    )


def _es_aggregate_impl(
    df: DataFrame, aggs_dsl: dict, fg_pred: Column | None = None,
    analyzers: dict[str, str] | None = None,
) -> DataFrame:
    _check_aggs(aggs_dsl)
    siblings = {
        n: s for n, s in aggs_dsl.items()
        if isinstance(s, dict) and s and next(iter(s)) in _SIBLING_KINDS
    }
    primary = {n: s for n, s in aggs_dsl.items() if n not in siblings}
    if len(primary) != 1:
        raise ValueError(
            f"expected exactly one top-level (non-sibling) aggregation, "
            f"got {sorted(primary) or sorted(aggs_dsl)}"
        )
    if siblings:
        # ES sibling pipeline aggs (avg/sum/min/max_bucket): a scalar over
        # the parent agg's bucket list, requested NEXT TO the parent. The
        # flattened rendering annotates every bucket row with the scalar —
        # a 1-row broadcast cross join, the coordinator-side reduction's
        # distributed twin. buckets_path is "parent>metric" (_count →
        # doc_count); NULL metric cells (derivative's first bucket) are
        # skipped, ES's gap policy.
        out = es_aggregate(df, primary, fg_pred, analyzers)
        (pname,) = primary
        scalars = []
        cp_joins = []
        for sname, sspec in siblings.items():
            (skind, sbody), = sspec.items()
            parent, _, metric = sbody["buckets_path"].partition(">")
            if parent != pname or not metric:
                raise ValueError(
                    f"{skind} buckets_path must be '{pname}>metric', "
                    f"got {sbody['buckets_path']!r}"
                )
            col = "doc_count" if metric == "_count" else metric
            if col not in out.columns:
                raise ValueError(
                    f"{skind} metric {metric!r} is not a column of the "
                    f"parent bucket relation (have: {out.columns})"
                )
            c = F.col(col).cast("double")
            if skind == "change_point":
                # ES change_point (sibling pipeline): locate the split of
                # the ORDERED bucket metric series that maximizes the
                # CUSUM mean-shift statistic T(k) = sqrt(n_l·n_r/n)·
                # |mean_left − mean_right| — the deterministic step-change
                # detector (ES additionally classifies spikes/trends via
                # ML-adjacent heuristics; this engine reports the
                # maximizing bucket key and T, ties to the earliest key —
                # documented). Window math over the bucket relation
                # (bucket-cardinality, the coordinator-side shape), one
                # 1-row broadcast back onto the buckets as
                # {name}_key / {name}_stat.
                if _agg_kind(primary[pname]) not in (
                    "date_histogram", "histogram", "auto_date_histogram"
                ):
                    raise ValueError(
                        "change_point needs a histogram-family parent "
                        "(an ordered metric series)"
                    )

                w_all = Window.orderBy(F.col(pname).asc())
                w_cum = w_all.rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
                w_tot = Window.orderBy().rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
                stat = (
                    out.select(
                        F.col(pname),
                        F.row_number().over(w_all).alias("__i"),
                        F.sum(c).over(w_cum).alias("__cum"),
                        F.sum(c).over(w_tot).alias("__tot"),
                        F.count(F.lit(1)).over(w_tot).alias("__n"),
                    )
                    .filter(F.col("__i") < F.col("__n"))
                    .select(
                        F.col(pname).alias(f"{sname}_key"),
                        F.round(
                            F.sqrt(
                                F.col("__i").cast("double")
                                * (F.col("__n") - F.col("__i"))
                                / F.col("__n")
                            )
                            * F.abs(
                                F.col("__cum") / F.col("__i")
                                - (F.col("__tot") - F.col("__cum"))
                                / (F.col("__n") - F.col("__i"))
                            ),
                            6,
                        ).alias(f"{sname}_stat"),
                    )
                    .orderBy(
                        F.col(f"{sname}_stat").desc(),
                        F.col(f"{sname}_key").asc(),
                    )
                    .limit(1)
                )
                cp_joins.append(stat)
                continue
            if skind == "stats_bucket":
                # ES stats_bucket: the five-stat object over the parent's
                # metric list, flattened to {name}_{stat} scalar columns.
                scalars += [
                    F.count(c).alias(f"{sname}_count"),
                    F.round(F.min(c), 6).alias(f"{sname}_min"),
                    F.round(F.max(c), 6).alias(f"{sname}_max"),
                    F.round(F.avg(c), 6).alias(f"{sname}_avg"),
                    F.round(F.sum(c), 6).alias(f"{sname}_sum"),
                ]
            elif skind == "extended_stats_bucket":
                # ES extended_stats_bucket: the stats_bucket set plus
                # sum_of_squares / POPULATION variance & std-deviation /
                # avg ± sigma·std bounds (ES's extended_stats math,
                # coordinator-side over the bucket list), flattened to
                # {name}_{stat} scalars.
                sigma = float(sbody.get("sigma", 2.0))
                scalars += [
                    F.count(c).alias(f"{sname}_count"),
                    F.round(F.min(c), 6).alias(f"{sname}_min"),
                    F.round(F.max(c), 6).alias(f"{sname}_max"),
                    F.round(F.avg(c), 6).alias(f"{sname}_avg"),
                    F.round(F.sum(c), 6).alias(f"{sname}_sum"),
                    F.round(F.sum(c * c), 6)
                    .alias(f"{sname}_sum_of_squares"),
                    F.round(F.var_pop(c), 6).alias(f"{sname}_variance"),
                    F.round(F.stddev_pop(c), 6)
                    .alias(f"{sname}_std_deviation"),
                    F.round(F.avg(c) + F.lit(sigma) * F.stddev_pop(c), 6)
                    .alias(f"{sname}_std_upper"),
                    F.round(F.avg(c) - F.lit(sigma) * F.stddev_pop(c), 6)
                    .alias(f"{sname}_std_lower"),
                ]
            elif skind == "percentiles_bucket":
                # ES percentiles_bucket: exact interpolated percentiles of
                # the parent's metric list (ES itself is exact here — the
                # bucket list is coordinator-side), {name}_p{percent}.
                for p in sbody.get("percents", [25, 50, 75]):
                    label = str(p).replace(".", "_")
                    scalars.append(
                        F.round(F.percentile(c, float(p) / 100.0), 6)
                        .alias(f"{sname}_p{label}")
                    )
            else:
                scalars.append(
                    F.round(_SIBLING_KINDS[skind](c), 6).alias(sname)
                )
        if scalars:
            out = out.crossJoin(F.broadcast(out.agg(*scalars)))
        for stat in cp_joins:
            out = out.crossJoin(F.broadcast(stat))
        return out
    (name, spec), = primary.items()
    spec = dict(spec)
    sub = dict(spec.pop("aggs", {}))
    (kind, body), = spec.items()

    if kind == "frequent_item_sets":
        if sub:
            raise ValueError("frequent_item_sets does not take sub-aggs")
        return _frequent_item_sets(df, name, body)

    if kind == "auto_date_histogram":
        # ES auto_date_histogram: the engine PICKS the interval so the
        # bucket count stays <= `buckets`. The span probe is a bounded
        # driver-side 1-row aggregate (the justified-scalar pattern —
        # quantizer sampling, max_df caps); the pick walks a fixed-width
        # ladder (seconds..90d — ES's calendar-aware month/year rungs are
        # replaced by 30d/90d fixed widths, a documented divergence that
        # keeps the bucket key a portable epoch-floor expression). The
        # chosen interval is returned as a constant `interval` column,
        # ES's response metadata field.
        field = body["field"]
        target = int(body.get("buckets", 10))
        if target <= 0:
            raise ValueError("auto_date_histogram buckets must be > 0")
        lo, hi = df.agg(F.min(field), F.max(field)).first()
        ladder = [n * SECONDS[unit] for n, unit in map(read_compact, (
            "1s", "5s", "10s", "30s", "1m", "5m", "10m", "30m", "1h", "3h",
            "12h", "1d", "7d", "30d", "90d"))]
        if lo is None:
            secs = ladder[0]
        else:
            span = (hi - lo).total_seconds()
            secs = next(
                (s for s in ladder if span / s + 1 <= target), ladder[-1]
            )
        spec2: dict = {"date_histogram": {
            "field": field, "fixed_interval": f"{secs}s",
            **({"missing": body["missing"]} if "missing" in body else {}),
        }}
        if sub:
            spec2["aggs"] = sub
        return es_aggregate(df, {name: spec2}, fg_pred, analyzers) \
            .withColumn("interval", F.lit(f"{secs}s"))
    if kind == "variable_width_histogram":
        # ES variable_width_histogram: `buckets` data-adaptive buckets,
        # each reporting key (centroid), min, max, doc_count. ES places
        # buckets with ONLINE clustering — approximate and shard-order-
        # dependent, so not reproducible across engines. This engine
        # replaces the placement rule with a DETERMINISTIC equal-height
        # one: boundaries are the exact interpolated (j/k)-quantiles
        # (the same bounded 1-row probe auto_date_histogram uses), and a
        # value v lands in bucket Σ_j [v > B_j] — ties can never split
        # across buckets, both engines agree bit-for-bit. Documented
        # divergence: identical response SHAPE, reproducible (not ES's
        # cluster-seeded) bucket placement. Sub-aggs must be metrics
        # (they ride the same groupBy).
        k = int(body.get("buckets", 10))
        if not 1 <= k <= 1024:
            raise ValueError(
                f"variable_width_histogram buckets must be in [1, 1024], "
                f"got {k}"
            )
        if any(next(iter(s)) in _BUCKET_KINDS for s in sub.values()):
            raise ValueError(
                "variable_width_histogram sub-aggs must be metrics"
            )
        v = F.col(body["field"]).cast("double")
        bounds = df.agg(
            *[F.percentile(v, j / k) for j in range(1, k)]
        ).first() if k > 1 else []
        idx: Column = F.lit(0)
        for b in bounds:
            if b is not None:
                idx = idx + F.when(v > F.lit(float(b)), 1).otherwise(0)
        return (
            df.filter(v.isNotNull())
            .groupBy(idx.alias(name))
            .agg(
                F.count(F.lit(1)).alias("doc_count"),
                F.round(F.avg(v), 6).alias("key"),
                F.round(F.min(v), 6).alias("min"),
                F.round(F.max(v), 6).alias("max"),
                *_metric_cols(sub),
            )
            .orderBy(F.col(name).asc())
        )
    if kind == "random_sampler":
        # ES random_sampler (8.2+): run the sub-aggs over a random
        # `probability` fraction of the docs. ES samples with geometric
        # skipping over its internal doc ids — not reproducible across
        # engines — so this engine samples DETERMINISTICALLY by portable
        # hash: a doc is in iff hash60(id ':' seed) < p·2^60, which makes
        # the sample a pure scan predicate (pushdown-composable, stable
        # across partitioning/engines; the documented determinism
        # divergence, same trade as sampler's sort_field). `id_field` is
        # therefore required. Results are SAMPLE statistics — doc_count
        # is the sampled count and metrics are unscaled (ES's background
        # rescaling of doc_count-like values is the caller's 1/p
        # multiply here); the emitted `sampling_probability` column
        # carries p for that rescale.
        p = float(body["probability"])
        if not (0.0 < p < 0.5 or p == 1.0):
            raise ValueError(
                f"random_sampler probability must be in (0, 0.5) or "
                f"exactly 1 (ES's bound), got {p}"
            )
        idf = body.get("id_field")
        if idf is None:
            raise ValueError(
                "random_sampler needs an explicit 'id_field' (ES samples "
                "over internal doc ids, which are not reproducible "
                "across engines)"
            )
        if not sub:
            raise ValueError(
                "random_sampler needs sub-aggregations to run over the "
                "sample"
            )

        seed = int(body.get("seed", 0))
        threshold = int(p * (1 << 60))
        sample = df.filter(
            hash60(F.concat(F.col(idf).cast("string"), F.lit(f":{seed}")))
            < F.lit(threshold)
        )
        if all(
            _agg_kind(s) in _METRIC_KINDS
            for s in sub.values() if isinstance(s, dict) and s
        ):
            return sample.agg(
                F.count(F.lit(1)).alias("doc_count"), *_metric_cols(sub)
            ).withColumn("sampling_probability", F.lit(p))
        return es_aggregate(sample, sub, fg_pred, analyzers) \
            .withColumn("sampling_probability", F.lit(p))
    if kind in ("sampler", "diversified_sampler"):
        # ES sampler/diversified_sampler: run the sub-aggs over a SAMPLE —
        # the top `shard_size` documents, with diversified_sampler
        # additionally capping documents per `field` value (de-biasing a
        # dominant source before aggregating). ES orders the sample by
        # relevance score; a distributed engine needs an EXPLICIT,
        # reproducible order, so this engine requires `sort_field`
        # (desc, id-free ties broken by the field itself) — a documented
        # determinism-over-internal-score divergence. Plan shape: one
        # window rank per diversity key (riding a single exchange on that
        # key) + TakeOrderedAndProject for the sample, then the ordinary
        # sub-agg machinery over sample-cardinality rows.
        sort_field = body.get("sort_field")
        if sort_field is None:
            raise ValueError(
                f"{kind} needs an explicit 'sort_field' (ES samples by "
                "internal relevance order, which is not reproducible "
                "across engines)"
            )
        if not sub:
            raise ValueError(f"{kind} needs sub-aggregations to run over "
                             "the sample")
        shard_size = int(body.get("shard_size", 100))
        # a unique tiebreak makes the sample boundary reproducible — ties
        # in sort_field would otherwise select engine-dependently
        order = [F.col(sort_field).desc()]
        tb = body.get("tiebreak_field")
        if tb is not None:
            order.append(F.col(tb).asc())
        sample = df
        if kind == "diversified_sampler":
            cap = int(body.get("max_docs_per_value", 1))
            dfield = body["field"]
            w = Window.partitionBy(dfield).orderBy(*order)
            sample = (
                sample.filter(F.col(dfield).isNotNull())
                .withColumn("_srk", F.row_number().over(w))
                .filter(F.col("_srk") <= cap)
                .drop("_srk")
            )
        sample = sample.orderBy(*order).limit(shard_size)
        # metric-only sub-aggs aggregate the sample globally (one row,
        # doc_count = sample size — ES's sampler response shape); any
        # other sub shape routes through the ordinary dispatch
        if all(
            _agg_kind(s) in _METRIC_KINDS
            for s in sub.values() if isinstance(s, dict) and s
        ):
            return sample.agg(
                F.count(F.lit(1)).alias("doc_count"), *_metric_cols(sub)
            )
        return es_aggregate(sample, sub, fg_pred, analyzers)
    if kind == "rare_terms":
        # ES rare_terms: the LONG TAIL — buckets whose doc_count is at
        # most max_doc_count, ordered rarest-first (_count asc, key asc).
        # ES bounds memory with a CuckooFilter and documents false
        # negatives; this engine evaluates the tail EXACTLY from the same
        # one-groupBy relation terms uses (global counts, no per-shard
        # approximation) — the documented strictly-more-accurate
        # divergence. Metric sub-aggs ride the groupBy; there is no
        # ``size`` in ES's surface (the tail is the result).
        mdc = int(body.get("max_doc_count", 1))
        if not (1 <= mdc <= 100):
            raise ValueError(
                f"rare_terms max_doc_count must be in [1, 100] (ES's "
                f"bound), got {mdc}"
            )
        if any(next(iter(s)) in _BUCKET_KINDS for s in sub.values()):
            raise ValueError("rare_terms sub-aggs must be metrics")
        key = F.col(body["field"])
        if "missing" in body:
            key = F.coalesce(key, F.lit(body["missing"]))
        return (
            df.filter(key.isNotNull())
            .groupBy(key.alias(name))
            .agg(F.count(F.lit(1)).alias("doc_count"), *_metric_cols(sub))
            .filter(F.col("doc_count") <= mdc)
            .orderBy(F.col("doc_count").asc(), F.col(name).asc())
        )
    if kind == "time_series":
        # ES time_series agg (TSDB indices, 8.7+): one bucket per unique
        # time series — the distinct combination of the index's dimension
        # fields (the _tsid). Two documented divergences: (1) dimensions
        # come from the TSDB index MAPPING in ES; this engine reads raw
        # parquet, so the caller names them explicitly via 'dimensions'
        # (the same mapping-to-parameter move as random_sampler's
        # id_field); (2) ES orders buckets by the opaque _tsid hash —
        # not reproducible across engines — so this engine orders by the
        # dimension tuple ascending (deterministic; the same
        # determinism-over-internal-order trade as sampler). Null
        # contract: ES builds the _tsid from the dimensions PRESENT, so
        # a doc missing one dimension forms a different series; a
        # relational output with one column per dimension cannot key
        # "absent" distinctly from NULL, so rows missing ANY dimension
        # drop (loudly documented; pre-coalesce to keep them). Plan:
        # one hash aggregation on the dimension tuple + TakeOrdered for
        # the size cap — the terms-agg shape on a compound key.
        dims = body.get("dimensions")
        if not (isinstance(dims, list) and dims
                and all(isinstance(d, str) for d in dims)):
            raise ValueError(
                "time_series needs 'dimensions': [field, ...] (ES takes "
                "them from the TSDB index mapping; raw parquet has no "
                "mapping, so name them explicitly)"
            )
        size = int(body.get("size", 10000))
        if size < 1:
            raise ValueError(f"time_series size must be >= 1, got {size}")
        if any(next(iter(s)) in _BUCKET_KINDS for s in (sub or {}).values()):
            raise ValueError("time_series sub-aggs must be metrics")
        present = F.col(dims[0]).isNotNull()
        for d in dims[1:]:
            present = present & F.col(d).isNotNull()
        return (
            df.filter(present)
            .groupBy(*dims)
            .agg(F.count(F.lit(1)).alias("doc_count"), *_metric_cols(sub))
            .orderBy(*[F.col(d).asc() for d in dims])
            .limit(size)
        )
    if kind == "filters":
        return _filters_agg(df, name, body, sub)
    if kind == "adjacency_matrix":
        return _adjacency_matrix_agg(df, name, body, sub)
    if kind == "composite":
        return _composite_agg(df, body, sub)
    if kind == "nested":
        # ES nested AGG (the agg-side counterpart of the nested query):
        # buckets/metrics over the ELEMENTS of an array-of-structs field —
        # doc_count counts nested docs, not parents. Compiles to
        # explode(path) feeding the ordinary agg machinery; sub-agg field
        # paths carry the scope prefix (ES convention), stripped here and
        # resolved against the exploded element. The explode is a
        # projection (no shuffle); the sub-agg's groupBy is the only
        # exchange, exactly as for a top-level bucket agg.
        #
        # reverse_nested sub-aggs (ES: step back to the ROOT document and
        # count parents per bucket) compile to an exact count-distinct
        # over a synthetic parent id attached BEFORE the explode
        # (monotonically_increasing_id — unique per parent row within the
        # plan; only its distinct count reaches the output, so the
        # arbitrary values never leak). Stepping back to an intermediate
        # nested path (multi-level nesting) raises loudly.
        path = body["path"]
        if len(sub) != 1:
            raise ValueError("nested agg needs exactly one sub-aggregation")
        (sname, sspec), = sub.items()

        def replace_rn(obj):
            if isinstance(obj, dict):
                if set(obj) == {"reverse_nested"}:
                    return {"cardinality": {"field": "__parent"}}
                return {k: replace_rn(v) for k, v in obj.items()}
            return obj

        rewritten = replace_rn(sspec)
        has_rn = rewritten != sspec
        sspec = rewritten
        if has_rn:
            exploded = df.withColumn(
                "__parent", F.monotonically_increasing_id()
            ).select("__parent", F.explode(F.col(path)).alias("__nested"))
        else:
            exploded = df.select(F.explode(F.col(path)).alias("__nested"))

        def rewrite(spec: dict) -> dict:
            out = {}
            for k, v in spec.items():
                if isinstance(v, dict):
                    out[k] = rewrite(v)
                elif k == "field" and isinstance(v, str):
                    if v.startswith("__"):  # synthetic (reverse_nested)
                        out[k] = v
                        continue
                    leaf = v[len(path) + 1:] if v.startswith(path + ".") else v
                    out[k] = f"__nested.{leaf}"
                else:
                    out[k] = v
            return out

        return es_aggregate(exploded, {sname: rewrite(sspec)})
    if kind == "significant_terms":
        return _significant_terms(df, fg_pred, name, body, sub)
    if kind == "significant_text":
        return _significant_text(
            df, fg_pred, name, body, (analyzers or {}).get(body["field"]),
            sub,
        )
    if kind == "missing":
        # ES missing agg: documents with NO value for the field — the
        # inverse of the null contract every bucket agg applies. The
        # is-null predicate filters the scan (pushdown-eligible) and one
        # global aggregate evaluates the count plus any metric sub-aggs
        # over the missing docs — no shuffle beyond the agg.
        if any(next(iter(s)) in _BUCKET_KINDS for s in (sub or {}).values()):
            raise ValueError("missing agg sub-aggs must be metrics")
        return df.filter(F.col(body["field"]).isNull()).agg(
            F.count(F.lit(1)).alias("doc_count"), *_metric_cols(sub or {})
        )
    if kind == "global":
        # ES global agg: escape the request query's filter and aggregate
        # the WHOLE index. es_request routes the unfiltered frame here;
        # the wrapper contributes nothing but scope, so compile the inner
        # aggs directly.
        if len(sub) != 1:
            raise ValueError("global agg needs exactly one sub-aggregation")
        (_, sspec), = sub.items()
        if _agg_kind(sspec) in _METRIC_KINDS:
            # metric-only sub: one global row, like the sampler shape
            return df.agg(
                F.count(F.lit(1)).alias("doc_count"), *_metric_cols(sub)
            )
        # anything else (terms/histogram families, filters, missing,
        # composite, nested, sampler, ...) recurses through the ordinary
        # dispatch
        return es_aggregate(df, sub)

    pipes = {n: s for n, s in sub.items() if next(iter(s)) in _PIPELINE_KINDS}
    for n in pipes:
        sub.pop(n)

    # cumulative_cardinality cannot be derived from per-bucket
    # cardinalities (distinct counts don't sum); it splits off here and is
    # evaluated from the RAW relation after the bucket relation is built
    # — see the cc block near the end of this function.
    cc_pipes = {
        n: s for n, s in pipes.items()
        if next(iter(s)) == "cumulative_cardinality"
    }
    for n in cc_pipes:
        pipes.pop(n)

    # moving_percentiles needs the WINDOW'S VALUES, not the sibling
    # percentiles agg's per-bucket results (percentiles don't merge):
    # stage each referenced field's sorted value array as a hidden
    # per-bucket column; _apply_pipeline_aggs flattens it across the
    # window frame and drops it. Per-bucket state is O(bucket) — the
    # exactness trade documented for MAD/string_stats (ES merges
    # t-digest sketches instead; the sketch twin is percentile_approx).
    mp_hidden: list[Column] = []
    mp_seen: set[str] = set()
    for ps in pipes.values():
        if next(iter(ps)) != "moving_percentiles":
            continue
        path = ps["moving_percentiles"].get("buckets_path")
        ref = sub.get(path)
        if not (isinstance(ref, dict) and "percentiles" in ref):
            raise ValueError(
                "moving_percentiles buckets_path must name a sibling "
                f"percentiles agg, got {path!r}"
            )
        if path not in mp_seen:
            mp_seen.add(path)
            mp_hidden.append(
                F.sort_array(F.collect_list(
                    F.col(ref["percentiles"]["field"]).cast("double")
                )).alias(f"__mp_{path}")
            )

    # rate sub-agg: doc_count (or sum(field)) per bucket normalized to
    # `unit` — pure arithmetic on the bucket width, so it must sit under a
    # FIXED-WIDTH date_histogram (calendar month/year buckets vary in
    # length; ES handles them with per-bucket day counts — unsupported
    # here, raise rather than approximate).
    rates = {n: s for n, s in sub.items() if next(iter(s)) == "rate"}
    for n in rates:
        sub.pop(n)
    rate_cols: list[Column] = []
    if rates:
        if kind != "date_histogram":
            raise ValueError(
                f"rate needs a date_histogram parent, got {kind!r}"
            )
        width, wunit, _ = _histogram_interval(body)
        if wunit in CALENDAR:
            raise ValueError(
                f"rate under calendar_interval {wunit.lower()!r} is not "
                "fixed-width; use minute/hour/day or fixed_interval"
            )
        bucket_s = width * SECONDS[wunit]
        for rname, rspec in rates.items():
            rbody = rspec["rate"]
            factor = 1.0
            if rbody.get("unit") is not None:
                runit = unit_of(str(rbody["unit"]))
                if runit not in SECONDS:
                    raise ValueError(
                        f"rate unit {rbody['unit']!r} is not fixed-width")
                factor = bucket_s / SECONDS[runit]
            c = (
                F.sum(F.col(rbody["field"]).cast("double"))
                if "field" in rbody else F.count(F.lit(1))
            )
            rate_cols.append(
                F.round(c / F.lit(float(factor)), 6).alias(rname)
            )

    # top_hits: a different result shape (documents, not metrics) — it
    # must be the bucket's only sub-agg.
    th = [(n, s["top_hits"]) for n, s in sub.items() if "top_hits" in s]
    if th:
        if len(sub) != 1:
            raise ValueError("top_hits must be the bucket's only sub-agg")
        (_, th_body), = th
        return _top_hits(df, _bucket_key(kind, body), name, th_body)

    keys = [(_bucket_key(kind, body), name)]
    # ES's terms and multi_terms return the top 10 buckets by default
    size = body.get("size", 10) if kind in ("terms", "multi_terms") else None

    # one optional nested bucket level
    nested_bucket = [
        (n, s) for n, s in sub.items()
        if next(iter(s)) in ("terms", "multi_terms", "date_histogram",
                             "histogram", "range", "date_range")
    ]
    if len(nested_bucket) > 1:
        raise ValueError("at most one nested bucket aggregation is supported")
    sketch_mads = _pop_sketch_mads(sub)
    metrics = _metric_cols(sub) + rate_cols + mp_hidden
    if nested_bucket and (metrics or sketch_mads):
        # ES attaches same-level metrics to the PARENT bucket; this engine
        # returns the flattened leaf relation, where they would silently
        # change granularity — refuse instead of reinterpreting.
        raise ValueError(
            "metric sub-aggs next to a nested bucket agg are ambiguous in "
            "the flattened relation; put metrics under the innermost bucket"
        )
    if nested_bucket:
        (sub_name, sub_spec), = nested_bucket
        sub_spec = dict(sub_spec)
        # copy: _pop_sketch_mads mutates, and this dict is the CALLER's
        # nested aggs object — a reused request must not lose entries
        sub_sub = dict(sub_spec.pop("aggs", {}))
        (sub_kind, sub_body), = sub_spec.items()
        if any(next(iter(s)) in ("terms", "multi_terms", "date_histogram",
                                 "histogram", "range", "date_range")
               for s in sub_sub.values()):
            raise ValueError("bucket nesting deeper than two levels is unsupported")
        if sub_kind == "terms" and (
            "include" in sub_body or "exclude" in sub_body
        ):
            raise ValueError(
                "terms include/exclude on a nested sub-bucket is not "
                "applied by the flattened relation; filter the leaf in a "
                "separate request"
            )
        keys.append((_bucket_key(sub_kind, sub_body), sub_name))
        sketch_mads.update(_pop_sketch_mads(sub_sub))
        metrics = metrics + _metric_cols(sub_sub)

    # ES null contract: a document with no value for the bucket field
    # (and no `missing` substitute) belongs to no bucket. For plain-
    # column keys the isNotNull filter runs BEFORE the shuffle (parquet
    # pushdown prunes row groups); for EXPRESSION-heavy keys the
    # null bucket is dropped AFTER aggregation instead — semantically
    # identical (null keys hash into one bucket that partial agg
    # compacts to ~1 row per partition before the shuffle), but the key
    # expression evaluates ONCE: Spark has no cross-operator CSE, so a
    # pre-filter re-evaluates the whole key per row (measured 2x on the
    # IPv6 ip_prefix parse+mask+render chain).
    key_kinds = [kind] + ([sub_kind] if nested_bucket else [])
    keyed = df
    post_null: list[str] = []
    for (k, n), kd in zip(keys, key_kinds):
        if kd in _EXPENSIVE_KEY_KINDS:
            post_null.append(n)
        else:
            keyed = keyed.filter(k.isNotNull())
    # `__never` = max(NULL): an aggregate output that is always NULL at
    # runtime but that the optimizer cannot constant-fold. Referencing
    # it in the post-agg null drop stops Catalyst from pushing the
    # filter below the Aggregate — a pushed filter substitutes the
    # grouping EXPRESSION and re-evaluates the whole key per input row
    # (a plain `doc_count IS NULL` disjunct gets eliminated first:
    # count(1) is provably non-null). Costs one 4-byte always-null
    # column per group in the shuffle.
    fence = ([F.max(F.lit(None).cast("int")).alias("__never")]
             if post_null else [])
    out = (
        keyed.groupBy(*[k.alias(n) for k, n in keys])
        .agg(F.count(F.lit(1)).alias("doc_count"), *metrics, *fence)
    )
    for n in post_null:
        out = out.filter(
            F.col(n).isNotNull() | F.col("__never").isNotNull()
        )
    if post_null:
        out = out.drop("__never")
    if sketch_mads:
        out = _sketch_mad_join(out, keyed, keys, sketch_mads)
    if kind == "terms" and (
        "include" in body or "exclude" in body
    ):
        # ES terms include/exclude: whole-term Lucene regex or an exact
        # value list, applied while collecting (before size). The regex
        # goes through the Regexp node's Lucene-core translation, so
        # optional operators are rejected and ^/$ stay literals.

        if nested_bucket:
            raise ValueError(
                "terms include/exclude above a nested bucket is ambiguous "
                "in the flattened relation"
            )

        def term_pred(spec) -> Column:
            if isinstance(spec, list):
                return F.col(name).isin(list(spec))
            if not isinstance(spec, str):
                raise ValueError(
                    f"terms include/exclude must be a whole-term regex "
                    f"string or a value list, got {spec!r} (the "
                    "partitioned form {'partition': N, ...} is not "
                    "supported)"
                )
            return Regexp(name, spec).predicate(None)

        if "include" in body:
            out = out.filter(term_pred(body["include"]))
        if "exclude" in body:
            out = out.filter(~term_pred(body["exclude"]))
    if nested_bucket and body.get("min_doc_count") is not None:
        raise ValueError(
            "min_doc_count on a parent bucket above a nested bucket is "
            "ambiguous in the flattened relation; apply it to the "
            "innermost bucket"
        )
    leaf_body = sub_body if nested_bucket else body
    mdc = leaf_body.get("min_doc_count")
    if mdc is not None and int(mdc) == 0:
        # ES empty-bucket generation: min_doc_count=0 materializes every
        # bucket in the histogram's range (extended_bounds widens it) with
        # doc_count 0 and NULL metrics — what makes derivative/moving_fn
        # windows correct over gappy data. The grid is generated from the
        # 1-row bounds aggregate (broadcast cross join + sequence explode:
        # bucket-cardinality work, never corpus work) and left-joins the
        # real buckets.
        if nested_bucket:
            raise ValueError(
                "min_doc_count=0 under a nested bucket is ambiguous in "
                "the flattened relation"
            )
        out = _fill_empty_buckets(out, name, kind, leaf_body)
    elif mdc is not None:
        out = out.filter(F.col("doc_count") >= int(mdc))
    if size is not None:
        # ES terms-agg truncation: top-N buckets, default doc_count desc /
        # key asc; ``"order": {target: dir}`` overrides with ``_count``,
        # ``_key``, or a sibling metric name (ES's bucket-order contract).
        # With a nested level the bucket count is the SUM over its leaves.
        # Truncation runs BEFORE pipeline aggs: ES evaluates pipelines
        # over the RESPONSE buckets (the top-N), so a bucket_selector may
        # shrink the page below N but never backfills from lower-ranked
        # buckets, and a bucket_sort's order/size is final.
        order_body = body.get("order")
        if order_body is not None:
            if nested_bucket:
                raise ValueError(
                    "terms order above a nested bucket agg is ambiguous in "
                    "the flattened relation"
                )
            keys = []
            for target, d, nf in _sort_keys(order_body, "terms order"):
                col_name = {"_count": "doc_count", "_key": name}.get(target, target)
                if col_name not in out.columns:
                    raise ValueError(
                        f"terms order target {target!r} is not _key/_count or "
                        f"a sibling metric (have: {out.columns})"
                    )
                keys.append((col_name, d, nf))
            out = out.orderBy(
                *_order_cols(keys + [(name, False, True)])).limit(int(size))
        elif nested_bucket:
            top = (
                out.groupBy(name)
                .agg(F.sum("doc_count").alias("_n"))
                .orderBy(F.col("_n").desc(), F.col(name).asc())
                .limit(int(size))
                .select(name)
            )
            out = out.join(F.broadcast(top), name, "inner")
        else:
            out = out.orderBy(
                F.col("doc_count").desc(), F.col(name).asc()
            ).limit(int(size))
    sub_size = (sub_body.get("size", 10)
                if nested_bucket and sub_kind in ("terms", "multi_terms") else None)
    if sub_size is not None:
        # ES truncates a nested terms level PER PARENT bucket: top-size
        # leaves by doc_count desc / key asc. Runs after the parent
        # truncation, which ranks parents by their full doc_count.
        w_sub = Window.partitionBy(name).orderBy(
            F.col("doc_count").desc(), F.col(sub_name).asc()
        )
        out = (
            out.withColumn("__sub_rank", F.row_number().over(w_sub))
            .filter(F.col("__sub_rank") <= int(sub_size))
            .drop("__sub_rank")
        )
    if cc_pipes:
        # ES cumulative_cardinality: distinct entities seen in buckets
        # <= b. Per-bucket cardinalities don't merge, but the FIRST-SEEN
        # decomposition is exact and distributed: cc(b) = Σ_{b'<=b}
        # #entities whose earliest bucket is b'. One extra
        # groupBy(entity) → min(bucket) aggregation over the same keyed
        # scan (map-side partial min), a bucket-sized join, and a
        # running sum over the ordered bucket relation — never a
        # per-bucket distinct-set union. This is strictly cheaper than
        # ES's HLL-merge pipeline and exact.
        if nested_bucket:
            raise ValueError(
                "cumulative_cardinality with a nested bucket agg is "
                "unsupported"
            )
        if kind not in ("date_histogram", "histogram"):
            raise ValueError(
                "cumulative_cardinality needs a histogram-family parent "
                f"bucket (deterministic key order), got {kind!r}"
            )

        w_cc = (
            Window.orderBy(F.col(name).asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        for pname, pspec in cc_pipes.items():
            pbody = pspec["cumulative_cardinality"]
            path = pbody.get("buckets_path")
            ref = sub.get(path)
            if not (isinstance(ref, dict) and "cardinality" in ref):
                raise ValueError(
                    "cumulative_cardinality buckets_path must name a "
                    f"sibling cardinality agg, got {path!r}"
                )
            ent = F.col(ref["cardinality"]["field"])
            news = (
                keyed.filter(ent.isNotNull())
                .groupBy(ent.alias("__e"))
                .agg(F.min(keys[0][0]).alias(name))
                .groupBy(name)
                .agg(F.count(F.lit(1)).alias(f"__new_{pname}"))
            )
            out = (
                out.join(news, name, "left")
                .withColumn(
                    pname,
                    F.sum(
                        F.coalesce(F.col(f"__new_{pname}"), F.lit(0))
                    ).over(w_cc),
                )
                .drop(f"__new_{pname}")
            )
    if pipes:
        if nested_bucket:
            raise ValueError(
                "pipeline aggs with a nested bucket agg are unsupported"
            )
        out = _apply_pipeline_aggs(out, name, kind, pipes, sub)
    return out


# The keys a search request without a ``retriever`` honours.
_ENVELOPE_KEYS = {
    "query", "aggs", "aggregations", "knn", "sort", "search_after", "from",
    "size", "min_score", "rescore", "collapse", "_source", "script_fields",
    "highlight", "runtime_mappings",
}


def es_request(
    df: DataFrame,
    request: dict,
    *,
    tiebreak: str | None = None,
    **bindings,
) -> DataFrame:
    """Execute a full ES search-request envelope: optional ``query``
    (compiled by plans.search.from_es_json) filters the scan; ``aggs``
    returns the bucket relation; otherwise hits are returned — sorted by
    ``sort`` (``_sort_keys``' shapes) or by score when no sort is given,
    then offset by ``from`` and truncated to ``size``, projected to
    ``_source`` when present. Every hit list, sorted, relevance-ranked,
    rescored or ``knn``, ends in the same page: one order, offset, limit,
    which compiles to TakeOrderedAndProject, the per-partition-top-k /
    merge plan.

    ``bindings`` are ``from_es_json``'s keywords (``analyzers``,
    ``tokens_cols``, ``nested_paths``, ``id_field``, ``bm25_stats_for``,
    ...), passed to every query the request compiles, so a request scores
    exactly like ``from_es_json`` + ``search``."""
    analyzers = bindings.get("analyzers")
    body = dict(request)
    if "retriever" not in body:
        check_keys(body, _ENVELOPE_KEYS, "envelope")
    rt = body.get("runtime_mappings")
    if rt is not None:
        # ES runtime fields (7.11+): schema-on-read columns DEFINED IN THE
        # REQUEST, visible to query/sort/aggs exactly like mapped fields.
        # Each script is the Painless arithmetic subset compiled once to a
        # Catalyst expression and attached BEFORE query compilation, so a
        # filter on a runtime field pushes into the same scan predicate
        # pipeline as any column (Catalyst inlines the expression) — vs
        # ES, where runtime fields are evaluated per-doc at query time
        # with no index support.

        for fname, spec in rt.items():
            ftype = spec.get("type")
            if ftype not in ("double", "long"):
                raise ValueError(
                    f"runtime field {fname!r}: type must be double/long "
                    f"(the Painless arithmetic subset), got {ftype!r}"
                )
            script = spec["script"]
            src_txt = script["source"] if isinstance(script, dict) else script
            df = df.withColumn(
                fname,
                F.expr(compile_painless(src_txt, resolve_doc=_double_ref))
                .cast(ftype),
            )
    retr = body.get("retriever")
    if retr is not None:
        # ES 8.14 retriever envelope: the retriever tree REPLACES the
        # top-level query/knn/rank split — composition happens inside
        # the tree (rrf/linear/reranker nodes), so envelope features
        # that would re-order or re-shape its output are contradictions,
        # not extensions.

        conflict = set(body) & {
            "query", "knn", "aggs", "aggregations", "sort", "from",
            "search_after", "collapse", "rescore", "highlight",
        }
        if conflict:
            raise ValueError(
                f"'retriever' replaces {sorted(conflict)} (ES 8.14 "
                "contract: compose inside the retriever tree)"
            )
        # the retriever path returns the fixed (id, score[, n_legs])
        # shape, so result-shaping keys (_source, min_score, ...) raise
        check_keys(body, {"retriever", "size", "runtime_mappings"}, "envelope")
        if tiebreak is None:
            raise ValueError(
                "retriever requests need a tiebreak id column "
                "(deterministic ranks; ES's internal doc id is not "
                "reproducible)"
            )
        return es_retriever(
            df, retr, id_col=tiebreak, size=int(body.get("size", 10)),
            **bindings,
        )
    q = body.get("query")
    aggs = body.get("aggs", body.get("aggregations"))
    if q is not None:
        tree = from_es_json({"query": q}, **bindings)
    else:
        tree = None
    knn = body.get("knn")
    sort, rescore = body.get("sort"), body.get("rescore")
    min_score, source = body.get("min_score"), body.get("_source")
    frm, size = int(body.get("from", 0)), int(body.get("size", 10))
    if knn is not None:
        # ES 8 knn search: top-k by vector similarity with an optional
        # PRE-filter. ES runs HNSW with `num_candidates` per shard; this
        # engine evaluates the similarity EXACTLY over the (filtered) scan
        # — the documented strictly-more-accurate divergence, same as
        # cardinality/percentiles; the *_indexed ANN entries are the
        # demonstrated approximate scale path (stored LSH/IVF/PQ
        # structures). `num_candidates` is accepted for request parity and
        # noted as satisfied trivially (exact evaluation considers all).
        check_keys(knn, _RETRIEVER_KEYS["knn"], "knn")
        if tree is not None or aggs is not None:
            raise ValueError(
                "knn combines with neither 'query' nor 'aggs' here — "
                "fuse retrievers explicitly with plans.search.rrf_fuse"
            )
        # k is the page: reject the envelope features that would page,
        # order or reshape it
        unsupported = set(body) & {
            "sort", "collapse", "search_after", "from", "rescore",
            "highlight", "script_fields", "size",
        }
        if unsupported:
            raise ValueError(
                f"knn does not support {sorted(unsupported)} in this "
                "engine (k inside the knn body is the result size); "
                "post-process the returned DataFrame instead"
            )
        if tiebreak is None:
            raise ValueError("knn needs a tiebreak id column for "
                             "deterministic top-k")
        scan = df
        flt = knn.get("filter")
        if flt is not None:
            ftree = from_es_json(flt, **bindings)
            scan = scan.filter(ftree.predicate(df.sparkSession))
        sim = cosine(col_sql(knn["field"]), vec_sql(knn["query_vector"]))
        out = scan.withColumn("score", F.round(sim, 6))
        keys, size = _ranked_keys(tiebreak), int(knn.get("k", 10))
    elif aggs is not None:
        pred = None if tree is None else tree.predicate(df.sparkSession)
        if len(aggs) == 1:
            (_, spec0), = aggs.items()
            kinds = [k for k in spec0 if k != "aggs"]
            if kinds in (["significant_terms"], ["significant_text"]):
                # needs BOTH sides of the query split: the predicate marks
                # the foreground, the unfiltered frame is the background
                return es_aggregate(df, aggs, fg_pred=pred,
                                    analyzers=analyzers)
            if kinds == ["global"]:
                # global escapes the query filter: aggregate the whole index
                return es_aggregate(df, aggs)
        filtered = df if pred is None else df.filter(pred)
        return es_aggregate(filtered, aggs, analyzers=analyzers)
    elif tree is None:
        raise ValueError("request has neither 'query' nor 'aggs'")
    elif min_score is not None and (sort is not None or rescore is not None):
        # ES under an explicit sort only honors min_score with
        # track_scores, and rescore re-orders after the cut — both
        # compositions are ambiguous here; refuse rather than guess
        raise ValueError(
            "min_score applies to relevance ranking only (not under an "
            "explicit sort or rescore) in this engine"
        )
    elif sort is not None:
        if rescore is not None:
            raise ValueError(
                "rescore applies to relevance ranking; ES ignores it under "
                "an explicit sort — drop 'sort' or 'rescore'"
            )
        out = df.filter(tree.predicate(df.sparkSession))
        # the FULL hit relation, captured before any keyset cursor filter:
        # collapse.inner_hits must report each group's top-N over the
        # whole index (ES semantics), not over the current page's suffix
        all_hits = out
        keys = _sort_keys(sort, "sort")
        if tiebreak is not None:
            keys.append((tiebreak, False, True))
        after = body.get("search_after")
        if after is not None:
            # ES deep pagination: rows STRICTLY after the cursor in the
            # total sort order — the keyset predicate, which pushes down
            # to the scan instead of skipping `from` rows.
            if frm:
                raise ValueError(
                    "'from' and 'search_after' are mutually exclusive "
                    "(ES's contract: search_after replaces offset "
                    "pagination)"
                )
            if len(after) != len(keys):
                raise ValueError(
                    f"search_after needs one value per sort key "
                    f"(incl. tiebreak): got {len(after)}, sort has {len(keys)}"
                )
            out = out.filter(_keyset_after(keys, after))
        collapse = body.get("collapse")
        if collapse is not None:
            # ES field collapsing: keep only the best hit per collapse-field
            # group under the request sort, THEN rank globally — a window
            # rank over the collapse key (one exchange on that key), the
            # same per-group-top-1 plan top_hits uses, no self-join.
            cfield = collapse["field"]
            w = Window.partitionBy(cfield).orderBy(*_order_cols(keys))
            out = (
                out.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") == 1)
                .drop("_rk")
            )
            ih = collapse.get("inner_hits")
            if ih is not None:
                # ES collapse.inner_hits: each collapsed row also carries
                # its group's top-N hits (by the inner sort) as an array
                # of structs — computed over the FULL hit relation
                # (all_hits, pre-search_after: a group's top-N is a
                # property of the index, not of the page). The inner rank
                # window rides the SAME collapse-key exchange; _source is
                # required so the nested payload is explicit, never a
                # whole-row copy.
                isrc = ih.get("_source")
                if not isrc:
                    raise ValueError(
                        "collapse.inner_hits needs an explicit _source "
                        "column list (the nested payload must be bounded)"
                    )
                ikeys = _sort_keys(ih.get("sort", []), "inner_hits sort")
                # the tiebreak makes the inner top-N deterministic under
                # sort-key ties; no inner sort means the request sort
                if ikeys and tiebreak is not None:
                    ikeys.append((tiebreak, False, True))
                isize = int(ih.get("size", 3))
                w2 = Window.partitionBy(cfield).orderBy(*_order_cols(ikeys or keys))
                inner = (
                    all_hits.withColumn("_irk", F.row_number().over(w2))
                    .filter(F.col("_irk") <= isize)
                    .groupBy(cfield)
                    .agg(
                        F.array_sort(
                            F.collect_list(F.struct("_irk", *isrc))
                        ).alias("_ihits")
                    )
                    .select(
                        F.col(cfield).alias("_ckey"),
                        F.transform(
                            F.col("_ihits"), lambda s: s.dropFields("_irk")
                        ).alias(ih.get("name", "inner_hits")),
                    )
                )
                # null-safe: the NULL collapse group still gets its hits
                out = out.join(
                    inner, F.col(cfield).eqNullSafe(F.col("_ckey")), "left"
                ).drop("_ckey")
    else:
        if body.get("search_after") is not None:
            raise ValueError("search_after requires an explicit sort")
        if body.get("collapse") is not None:
            raise ValueError(
                "collapse requires an explicit sort (deterministic "
                "best-hit-per-group needs a total order)"
            )
        if rescore is not None:
            # ES two-phase ranking: re-score only the top `window_size`
            # hits of the first-pass ranking with a (costlier) secondary
            # query, combine the two scores, re-rank, then page. The
            # second pass runs on the WINDOW relation (window_size rows),
            # never the corpus — exactly ES's shard-top-window contract.
            check_keys(rescore, {"window_size", "query"}, "rescore")
            rbody = rescore["query"]
            check_keys(rbody, {"rescore_query", "query_weight",
                               "rescore_query_weight", "score_mode"}, "rescore")
            window = int(rescore.get("window_size", 10))
            if window < frm + size:
                raise ValueError(
                    f"rescore window_size {window} is smaller than "
                    f"from+size {frm + size}: the page would mix rescored "
                    "and first-pass scores nondeterministically"
                )
            qw = float(rbody.get("query_weight", 1.0))
            rqw = float(rbody.get("rescore_query_weight", 1.0))
            mode = rbody.get("score_mode", "total")
            rtree = from_es_json(rbody["rescore_query"], **bindings)
            win = search(df, tree, k=window, tiebreak=tiebreak)
            spark_ = df.sparkSession
            orig = F.col("score") * F.lit(qw)
            rs = rtree.score(spark_) * F.lit(rqw)
            combined = {
                "total": orig + rs,
                "multiply": orig * rs,
                "avg": (orig + rs) / F.lit(2.0),
                "max": F.greatest(orig, rs),
                "min": F.least(orig, rs),
            }.get(mode)
            if combined is None:
                raise ValueError(f"unsupported rescore score_mode: {mode!r}")
            # a doc the rescore query does NOT match keeps query_weight *
            # original only (ES's contract — no zero-score poisoning under
            # multiply/min)
            out = win.withColumn(
                "score",
                F.when(rtree.predicate(spark_), combined).otherwise(orig),
            )
        else:
            out = search(df, tree, k=None, tiebreak=tiebreak)
        keys = _ranked_keys(tiebreak)
    if min_score is not None:
        # ES min_score, on relevance and knn hits alike: drop hits scoring
        # below the floor BEFORE the page is taken (the page never
        # backfills in ES either)
        out = out.filter(F.col("score") >= float(min_score))
    # the page: one order, then ES offset pagination (`from` pays the
    # skip, as in ES; search_after is the scale path) and the size
    out = out.orderBy(*_order_cols(keys))
    if frm:
        out = out.offset(frm)
    out = out.limit(size)
    sfields = body.get("script_fields")
    if sfields is not None:
        # ES script_fields: computed output columns per hit. Each script
        # is the Painless arithmetic subset (doc['field'].value, numbers,
        # Math.*) compiled ONCE into a Catalyst expression riding the
        # ALREADY-TRUNCATED hit page — cost scales with page size, never
        # the corpus, and unlike ES the evaluation is codegen'd, not
        # scripted. _score is available when the hits carry a score
        # column (the relevance path).

        score_col = col_sql("score") if "score" in out.columns else None
        for fname, spec in sfields.items():
            script = spec["script"] if isinstance(spec, dict) else spec
            src_txt = script["source"] if isinstance(script, dict) else script
            out = out.withColumn(fname, F.expr(compile_painless(
                src_txt, score=score_col, resolve_doc=_double_ref,
            )))
    hl = body.get("highlight")
    if hl is not None:
        # ES highlighting: tag every analyzed query term for the
        # requested fields with the pre/post tags — ONE codegen'd
        # regexp_replace per field riding the (already top-k-truncated)
        # hit set, word-boundary + case-insensitive, the regex dialect
        # both engines share. number_of_fragments: 0 returns the whole
        # tagged field ({field}_highlight); N > 0 returns up to N
        # fixed-char-window snippets ({field}_fragments, array<string>):
        # the tagged text splits on the pre-tag, and fragment i carries
        # the last fragment_size//3 chars before match i plus the first
        # 2*fragment_size//3 chars from it — fragments in DOCUMENT order
        # (ES's unified highlighter scores fragments and snaps to
        # sentence boundaries; this fixed-window document-order variant
        # is the documented divergence, chosen because the exact same
        # arithmetic runs in SQL: string_split + list_zip + right/left).
        terms = match_terms_by_field(tree, df.sparkSession)
        pre = hl.get("pre_tags", ["<em>"])[0]
        post = hl.get("post_tags", ["</em>"])[0]
        for field, opts in hl["fields"].items():
            toks = terms.get(field)
            if not toks:
                raise ValueError(
                    f"highlight field {field!r} has no analyzed query "
                    "terms to tag (only analyzed match clauses highlight)"
                )
            pattern = r"(?i)\b(" + "|".join(re.escape(t) for t in toks) + r")\b"
            tagged = F.regexp_replace(F.col(field), pattern, f"{pre}$1{post}")
            nf = int((opts or {}).get("number_of_fragments", 0))
            if nf == 0:
                out = out.withColumn(f"{field}_highlight", tagged)
                continue
            fsize = int((opts or {}).get("fragment_size", 100))
            ctx = fsize // 3
            parts = F.split(tagged, re.escape(pre))
            n = F.greatest(
                F.least(F.size(parts) - 1, F.lit(nf)), F.lit(0)
            )
            frags = F.zip_with(
                F.slice(parts, F.lit(1), n),
                F.slice(parts, F.lit(2), n),
                lambda a, b: F.concat(
                    F.right(a, F.lit(ctx)),
                    F.lit(pre),
                    F.left(b, F.lit(fsize - ctx)),
                ),
            )
            out = out.withColumn(f"{field}_fragments", frags)
    if source is not None:
        # ES returns script_fields ALONGSIDE _source; keep their columns
        # through the projection
        extra = [n for n in (sfields or {}) if n not in source]
        out = out.select(*source, *extra)
    return out
