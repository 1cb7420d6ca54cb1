"""ES aggregations-DSL front-end (plans/aggs.py): bucket/metric semantics,
terms-size truncation, the envelope path, and refusal of ambiguous shapes."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings, strategies as st

from tweets_elastic_spark.plans.aggs import es_aggregate, es_request


@pytest.fixture(scope="module")
def sales(spark):
    rows = [
        # (id, region, product, amount)
        (1, "eu", "a", 10.0), (2, "eu", "a", 20.0), (3, "eu", "b", 5.0),
        (4, "us", "a", 7.0), (5, "us", "b", 9.0), (6, "us", "b", 11.0),
        (7, "us", "b", 13.0), (8, "ap", "a", 1.0),
    ]
    return spark.createDataFrame(rows, "id long, region string, product string, amount double")


def test_terms_with_metrics(spark, sales):
    got = {
        r["by_region"]: (r["doc_count"], r["total"], r["biggest"])
        for r in es_aggregate(sales, {
            "by_region": {
                "terms": {"field": "region"},
                "aggs": {
                    "total": {"sum": {"field": "amount"}},
                    "biggest": {"max": {"field": "amount"}},
                },
            }
        }).collect()
    }
    assert got == {"eu": (3, 35.0, 20.0), "us": (4, 40.0, 13.0), "ap": (1, 1.0, 1.0)}


def test_terms_size_truncates_by_count_then_key(spark, sales):
    got = [
        r["by_region"]
        for r in es_aggregate(sales, {
            "by_region": {"terms": {"field": "region", "size": 2}}
        }).orderBy("doc_count", ascending=False).collect()
    ]
    assert got == ["us", "eu"]


def test_terms_without_size_returns_the_top_10(spark):
    """ES's default ``size`` is 10, top level and nested, and ``order``
    picks which 10 survive."""
    counts = {f"k{i:02d}": i % 4 + 1 for i in range(12)}
    df = spark.createDataFrame(
        [("g", k) for k, n in counts.items() for _ in range(n)], "g string, k string")
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]

    def buckets(aggs, key="k"):
        return sorted(((r[key], r["doc_count"]) for r in es_aggregate(df, aggs).collect()),
                      key=lambda kv: (-kv[1], kv[0]))

    assert buckets({"k": {"terms": {"field": "k"}}}) == top
    assert buckets({"k": {"multi_terms": {
        "terms": [{"field": "g"}, {"field": "k"}]}}}) == [(f"g|{k}", n) for k, n in top]
    by_key = {r["k"] for r in es_aggregate(
        df, {"k": {"terms": {"field": "k", "order": {"_key": "desc"}}}}).collect()}
    assert by_key == set(sorted(counts)[2:])
    nested = es_aggregate(df, {"g": {"terms": {"field": "g"},
                                     "aggs": {"k": {"terms": {"field": "k"}}}}})
    assert sorted(((r["k"], r["doc_count"]) for r in nested.collect()),
                  key=lambda kv: (-kv[1], kv[0])) == top


def test_nested_bucket_flattened_relation(spark, sales):
    rows = {
        (r["by_region"], r["by_product"]): (r["doc_count"], r["n_ids"])
        for r in es_aggregate(sales, {
            "by_region": {
                "terms": {"field": "region"},
                "aggs": {
                    "by_product": {
                        "terms": {"field": "product"},
                        "aggs": {"n_ids": {"cardinality": {"field": "id"}}},
                    }
                },
            }
        }).collect()
    }
    assert rows[("us", "b")] == (3, 3) and rows[("eu", "a")] == (2, 2)
    assert len(rows) == 5


def test_terms_size_with_nested_bucket_counts_parent_level(spark, sales):
    """size applies to PARENT buckets by their total doc_count (sum over
    leaves), not to leaf rows."""
    rows = {
        (r["by_region"], r["by_product"])
        for r in es_aggregate(sales, {
            "by_region": {
                "terms": {"field": "region", "size": 1},
                "aggs": {"by_product": {"terms": {"field": "product"}}},
            }
        }).collect()
    }
    assert rows == {("us", "a"), ("us", "b")}


def test_nested_terms_size_keeps_top_leaves_per_histogram_bucket(spark, sales):
    """A nested terms ``size`` truncates PER PARENT bucket: the top-size
    leaves by doc_count desc, then key asc."""
    rows = {
        (r["by_amt"], r["by_product"], r["doc_count"])
        for r in es_request(sales, {"aggs": {"by_amt": {
            "histogram": {"field": "amount", "interval": 10},
            "aggs": {"by_product": {"terms": {"field": "product", "size": 1}}},
        }}}).collect()
    }
    # bucket 0: a=2, b=2 (tie -> key asc); bucket 10: b=2, a=1; bucket 20: a=1
    assert rows == {(0.0, "a", 2), (10.0, "b", 2), (20.0, "a", 1)}


def test_nested_terms_size_under_date_histogram(spark):
    from datetime import datetime

    d1, d2 = datetime(2024, 1, 1, 9), datetime(2024, 1, 2, 9)
    df = spark.createDataFrame(
        [(1, d1, "en"), (2, d1, "en"), (3, d1, "fr"),
         (4, d2, "fr"), (5, d2, "fr"), (6, d2, "en"), (7, d2, "de")],
        "id long, ts timestamp, lang string",
    )
    out = es_request(df, {"aggs": {"by_day": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {"by_lang": {"terms": {"field": "lang", "size": 1}}},
    }}})
    rows = sorted((r["by_day"], r["by_lang"], r["doc_count"]) for r in out.collect())
    assert [(lang, n) for _, lang, n in rows] == [("en", 2), ("fr", 2)]


def test_histogram_buckets(spark, sales):
    got = {
        r["by_amt"]: r["doc_count"]
        for r in es_aggregate(sales, {
            "by_amt": {"histogram": {"field": "amount", "interval": 10}}
        }).collect()
    }
    # 1,5,7,9 -> bucket 0; 10,11,13 -> 10; 20 -> 20
    assert got == {0.0: 4, 10.0: 3, 20.0: 1}


def test_envelope_query_filters_before_aggregating(spark, sales):
    got = {
        r["by_region"]: r["doc_count"]
        for r in es_request(sales, {
            "query": {"range": {"amount": {"gte": 9}}},
            "aggs": {"by_region": {"terms": {"field": "region"}}},
        }).collect()
    }
    assert got == {"eu": 2, "us": 3}


def test_ambiguous_and_unknown_shapes_raise(spark, sales):
    with pytest.raises(ValueError, match="ambiguous"):
        es_aggregate(sales, {
            "b": {
                "terms": {"field": "region"},
                "aggs": {
                    "m": {"sum": {"field": "amount"}},
                    "nested": {"terms": {"field": "product"}},
                },
            }
        })
    with pytest.raises(ValueError, match="unsupported aggregation type"):
        es_aggregate(sales, {"b": {"no_such_bucket":
                                   {"field": "amount", "ranges": []}}})
    # the geo bucket kinds are supported since r7/r8 but validate their
    # degree-column-pair field shape
    with pytest.raises(ValueError, match="lat.*lon"):
        es_aggregate(sales, {"b": {"geo_distance": {"field": "amount"}}})
    with pytest.raises(ValueError, match="lat.*lon"):
        es_aggregate(sales, {"b": {"geohash_grid": {"field": "amount"}}})
    with pytest.raises(ValueError, match="unsupported aggregation type"):
        es_aggregate(sales, {
            "b": {
                "terms": {"field": "region"},
                "aggs": {"m": {"no_such_metric": {"field": "amount"}}},
            }
        })
    with pytest.raises(ValueError, match="unsupported date_histogram interval"):
        es_aggregate(sales, {"b": {"date_histogram": {"field": "id", "calendar_interval": "fortnight"}}})
    with pytest.raises(ValueError, match="neither 'query' nor 'aggs'"):
        es_request(sales, {"size": 5})


def test_unhonoured_agg_and_envelope_keys_raise(spark, sales):
    """A key the aggregation or the envelope does not read raises. Each
    of these used to run and ignore it: ``histogram`` with ``offset: 0.5``
    keyed its buckets 3.0 and 4.0 where ES keys them 2.5 and 3.5."""
    terms = {"b": {"terms": {"field": "region"}}}
    for aggs_dsl, kind in (
        ({"b": {"histogram": {"field": "amount", "interval": 1,
                              "offset": 0.5}}}, "histogram"),
        ({"b": {"terms": {"field": "region", "bogus": 1}}}, "terms"),
        ({**terms, "m": {"avg_bucket": {"buckets_path": "b>_count",
                                        "bogus": 1}}}, "avg_bucket"),
    ):
        key = "offset" if kind == "histogram" else "bogus"
        with pytest.raises(ValueError, match=rf"unsupported {kind} keys: \['{key}'\]"):
            es_aggregate(sales, aggs_dsl)
    for key, value in (("track_total_hits", True), ("profile", True),
                       ("bogus", 1)):
        with pytest.raises(ValueError, match=rf"unsupported envelope keys: \['{key}'\]"):
            es_request(sales, {"query": {"match_all": {}}, key: value})


def test_envelope_sorted_hits_with_source(spark, sales):
    got = [
        tuple(r) for r in es_request(sales, {
            "query": {"term": {"region": "us"}},
            "sort": [{"amount": {"order": "desc"}}],
            "size": 2,
            "_source": ["id", "amount"],
        }, tiebreak="id").collect()
    ]
    assert got == [(7, 13.0), (6, 11.0)]


def test_envelope_sort_shapes_and_errors(spark, sales):
    # bare string field = asc; list of mixed shapes allowed
    got = [
        r["id"] for r in es_request(sales, {
            "query": {"match_all": {}},
            "sort": ["region", {"amount": "desc"}],
            "size": 3,
            "_source": ["id"],
        }, tiebreak="id").collect()
    ]
    assert got == [8, 2, 1]  # ap first, then eu by amount desc
    with pytest.raises(ValueError, match="bad sort direction"):
        es_request(sales, {
            "query": {"match_all": {}}, "sort": [{"amount": "down"}],
        })


def test_search_after_paginates_exactly(spark, sales):
    """Walking pages with search_after reproduces the full sorted stream
    with no overlap and no gap — ES deep pagination as a keyset predicate."""
    base = {
        "query": {"match_all": {}},
        "sort": [{"amount": "desc"}],
        "size": 3,
        "_source": ["id", "amount"],
    }
    page1 = [tuple(r) for r in es_request(sales, base, tiebreak="id").collect()]
    assert [i for i, _ in page1] == [2, 7, 6]
    cursor = [page1[-1][1], page1[-1][0]]  # (amount, id) of the last hit
    page2 = [
        tuple(r) for r in es_request(
            sales, {**base, "search_after": cursor}, tiebreak="id"
        ).collect()
    ]
    assert [i for i, _ in page2] == [1, 5, 4]
    cursor2 = [page2[-1][1], page2[-1][0]]
    page3 = [
        tuple(r) for r in es_request(
            sales, {**base, "search_after": cursor2}, tiebreak="id"
        ).collect()
    ]
    assert [i for i, _ in page3] == [3, 8]


def test_search_after_tie_handling_and_errors(spark, sales):
    # equal sort values: the tiebreak key must disambiguate, not duplicate
    df = spark.createDataFrame(
        [(1, 5.0), (2, 5.0), (3, 5.0)], "id long, amount double"
    )
    req = {"query": {"match_all": {}}, "sort": [{"amount": "desc"}],
           "size": 2, "_source": ["id"]}
    p1 = [r["id"] for r in es_request(df, req, tiebreak="id").collect()]
    assert p1 == [1, 2]
    p2 = [
        r["id"] for r in es_request(
            df, {**req, "search_after": [5.0, 2]}, tiebreak="id"
        ).collect()
    ]
    assert p2 == [3]
    with pytest.raises(ValueError, match="one value per sort key"):
        es_request(sales, {**req, "search_after": [5.0]}, tiebreak="id")
    with pytest.raises(ValueError, match="requires an explicit sort"):
        es_request(sales, {"query": {"match_all": {}}, "search_after": [1]})


# nulls and ties in both sort fields; ids 1..n are the tiebreak
_PAGED_ROWS = st.lists(
    st.tuples(st.sampled_from([None, 1, 2, 3]), st.sampled_from([None, 1, 2])),
    min_size=1, max_size=7,
)
_PAGED_SORT = st.lists(
    st.tuples(st.sampled_from(["a", "b"]), st.sampled_from(["asc", "desc"]),
              st.sampled_from([None, "_first", "_last"])),
    min_size=1, max_size=2, unique_by=lambda key: key[0],
)
_PROBE = [(5, None), (None, None), (3, None), (None, None), (1, None)]


def _sort_entry(field, direction, missing):
    if missing is None:
        return {field: direction}
    return {field: {"order": direction, "missing": missing}}


@settings(max_examples=10, deadline=None)
@given(rows=_PAGED_ROWS, sort=_PAGED_SORT, page=st.integers(1, 3))
@example(rows=_PROBE, sort=[("a", "asc", None)], page=2)
@example(rows=_PROBE, sort=[("a", "desc", None)], page=2)
@example(rows=_PROBE, sort=[("a", "asc", "_last")], page=2)
@example(rows=_PROBE, sort=[("a", "desc", "_first")], page=2)
def test_search_after_pages_concatenate_to_the_unpaged_hits(spark, rows, sort, page):
    """Walking ``search_after`` pages reaches every hit exactly once, in
    the unpaged order, also when a sort field is missing on some hits: a
    null key compares by its place in the order (``missing``, else first
    ascending and last descending), never by SQL NULL."""
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows, 1)], "id long, a long, b long")
    base = {"query": {"match_all": {}}, "sort": [_sort_entry(*key) for key in sort],
            "_source": ["id", "a", "b"]}
    whole = [r["id"] for r in es_request(
        df, {**base, "size": len(rows)}, tiebreak="id").collect()]
    paged, after = [], None
    for _ in range(len(rows) + 1):
        req = {**base, "size": page}
        if after is not None:
            req["search_after"] = after
        hits = es_request(df, req, tiebreak="id").collect()
        if not hits:
            break
        paged += [r["id"] for r in hits]
        after = [hits[-1][f] for f, _, _ in sort] + [hits[-1]["id"]]
    assert paged == whole
    assert sorted(whole) == list(range(1, len(rows) + 1))


def test_sort_missing_places_the_null_hits(spark):
    """``missing: _first/_last`` moves the hits without the sort field;
    any other option of the object form raises instead of being dropped."""
    df = spark.createDataFrame([(1, 2), (2, None), (3, 1)], "id long, a long")

    def ids(sort):
        return [r["id"] for r in es_request(df, {
            "query": {"match_all": {}}, "sort": sort, "_source": ["id"]},
            tiebreak="id").collect()]

    assert ids([{"a": {"order": "asc"}}]) == [2, 3, 1]
    assert ids([{"a": {"order": "asc", "missing": "_last"}}]) == [3, 1, 2]
    assert ids([{"a": {"order": "desc", "missing": "_first"}}]) == [2, 1, 3]
    assert ids([{"a": {"missing": "_last"}}]) == [3, 1, 2]
    for bad in ({"order": "asc", "mode": "min"},
                {"order": "asc", "unmapped_type": "long"}):
        with pytest.raises(ValueError, match="unsupported sort keys"):
            ids([{"a": bad}])
    with pytest.raises(ValueError, match="unsupported sort missing"):
        ids([{"a": {"order": "asc", "missing": 0}}])


def _geo_line_by(spark, d):
    df = spark.createDataFrame(
        [("a", 3.0, 30.0, 13.0), ("a", 1.0, 10.0, 11.0), ("a", 2.0, 20.0, 12.0)],
        "k string, s double, lon double, lat double",
    )
    return es_aggregate(df, {"g": {"terms": {"field": "k"}, "aggs": {"t": {
        "geo_line": {"point": {"field": {"lat": "lat", "lon": "lon"}},
                     "sort": {"field": "s"}, "sort_order": d}}}}}).head()["t_line"]


# each ES sort surface: (run it with direction d, its answer under "desc")
_SORT_SURFACES = {
    "sort": (lambda spark, sales, d: [r["id"] for r in es_request(sales, {
        "query": {"match_all": {}}, "sort": [{"amount": d}], "size": 3,
        "_source": ["id"]}, tiebreak="id").collect()], [2, 7, 6]),
    "inner_hits": (lambda spark, sales, d: sorted(
        (r["region"], [h["id"] for h in r["h"]]) for r in es_request(sales, {
            "query": {"match_all": {}}, "sort": [{"id": "asc"}],
            "collapse": {"field": "region", "inner_hits": {
                "name": "h", "size": 2, "sort": [{"amount": {"order": d}}],
                "_source": ["id"]}},
            "_source": ["region", "h"]}, tiebreak="id").collect()),
        [("ap", [8]), ("eu", [2, 1]), ("us", [7, 6])]),
    "top_hits": (lambda spark, sales, d: sorted(
        r["id"] for r in es_aggregate(sales, {"r": {
            "terms": {"field": "region"}, "aggs": {"h": {"top_hits": {
                "size": 1, "sort": [{"amount": d}], "_source": ["id"]}}}}}).collect()),
        [2, 7, 8]),
    "bucket_sort": (lambda spark, sales, d: [r["r"] for r in es_aggregate(sales, {"r": {
        "terms": {"field": "region"}, "aggs": {
            "total": {"sum": {"field": "amount"}},
            "s": {"bucket_sort": {"sort": [{"total": d}]}}}}}).collect()],
        ["us", "eu", "ap"]),
    "top_metrics": (lambda spark, sales, d: sorted(
        (r["r"], r["m_amount"]) for r in es_aggregate(sales, {"r": {
            "terms": {"field": "region"}, "aggs": {"m": {"top_metrics": {
                "metrics": {"field": "amount"}, "sort": {"id": d}}}}}}).collect()),
        [("ap", 1.0), ("eu", 5.0), ("us", 13.0)]),
    "terms_order": (lambda spark, sales, d: [r["r"] for r in es_aggregate(sales, {"r": {
        "terms": {"field": "region", "size": 3, "order": {"_key": d}}}}).collect()],
        ["us", "eu", "ap"]),
    "composite": (lambda spark, sales, d: [r["r"] for r in es_aggregate(sales, {"p": {
        "composite": {"sources": [{"r": {"terms": {
            "field": "region", "order": d}}}]}}}).collect()],
        ["us", "eu", "ap"]),
    "geo_line": (lambda spark, sales, d: _geo_line_by(spark, d),
                 [[30.0, 13.0], [20.0, 12.0], [10.0, 11.0]]),
}


@pytest.mark.parametrize("surface", sorted(_SORT_SURFACES))
def test_every_sort_surface_rejects_a_bad_direction(spark, sales, surface):
    """Each ES sort surface reads its direction through one rule: exactly
    "asc" or "desc". A misspelt direction raises instead of silently
    sorting ascending, and "desc" sorts descending."""
    run, descending = _SORT_SURFACES[surface]
    assert run(spark, sales, "desc") == descending
    for bad in ("DESC", "down"):
        with pytest.raises(ValueError, match="bad sort direction"):
            run(spark, sales, bad)


def test_top_hits_per_bucket(spark, sales):
    got = {
        (r["by_region"], r["id"])
        for r in es_aggregate(sales, {
            "by_region": {
                "terms": {"field": "region"},
                "aggs": {
                    "best": {
                        "top_hits": {
                            "size": 2,
                            "sort": [{"amount": "desc"}, "id"],
                            "_source": ["id", "amount"],
                        }
                    }
                },
            }
        }).collect()
    }
    # eu: 20, 10; us: 13, 11; ap: 1
    assert got == {("eu", 2), ("eu", 1), ("us", 7), ("us", 6), ("ap", 8)}


def test_top_hits_requires_sort_and_exclusivity(spark, sales):
    with pytest.raises(ValueError, match="explicit sort"):
        es_aggregate(sales, {
            "b": {"terms": {"field": "region"},
                  "aggs": {"h": {"top_hits": {"size": 1}}}}
        })
    with pytest.raises(ValueError, match="only sub-agg"):
        es_aggregate(sales, {
            "b": {"terms": {"field": "region"},
                  "aggs": {"h": {"top_hits": {"size": 1, "sort": ["id"]}},
                           "m": {"sum": {"field": "amount"}}}}
        })


def test_null_keys_dropped_unless_missing_param(spark):
    df = spark.createDataFrame(
        [(1, "en"), (2, None), (3, "de"), (4, None)], "id long, lang string"
    )
    got = {
        r["by_lang"]: r["doc_count"]
        for r in es_aggregate(df, {"by_lang": {"terms": {"field": "lang"}}}).collect()
    }
    assert got == {"en": 1, "de": 1}  # ES: missing-field docs leave the agg
    with_missing = {
        r["by_lang"]: r["doc_count"]
        for r in es_aggregate(df, {
            "by_lang": {"terms": {"field": "lang", "missing": "unknown"}}
        }).collect()
    }
    assert with_missing == {"en": 1, "de": 1, "unknown": 2}


def test_range_agg_buckets_and_labels(spark, sales):
    got = {
        r["by_amt"]: r["doc_count"]
        for r in es_aggregate(sales, {
            "by_amt": {"range": {"field": "amount", "ranges": [
                {"to": 8},
                {"from": 8, "to": 12, "key": "mid"},
                {"from": 12},
            ]}}
        }).collect()
    }
    # <8: 1,5,7 | [8,12): 9,10,11 | >=12: 13,20
    assert got == {"*-8": 3, "mid": 3, "12-*": 2}
    with pytest.raises(ValueError, match="non-overlapping"):
        es_aggregate(sales, {
            "b": {"range": {"field": "amount", "ranges": [
                {"to": 10}, {"from": 5, "to": 12},
            ]}}
        })


def test_es_request_on_tweet_documents(spark):
    """The ES surface against the reference's own document shape: a
    query+aggs request over the denormalized tweet documents — language
    buckets restricted to authors with real reach (the reference query's
    filter), with exact author cardinality; and a top_hits request for the
    most-liked tweets per language."""
    from tweets_elastic_spark.operators.denormalize import build_tweet_documents
    from tweets_elastic_spark.sources.fixtures import make_tweets_tables

    docs = build_tweet_documents(make_tweets_tables(spark, n_conversations=60))
    buckets = {
        r["by_lang"]: (r["doc_count"], r["n_authors"])
        for r in es_request(docs, {
            "query": {"range": {"author.followers_count": {"gt": 100}}},
            "aggs": {
                "by_lang": {
                    "terms": {"field": "language"},
                    "aggs": {"n_authors": {"cardinality": {"field": "author.id"}}},
                }
            },
        }).collect()
    }
    rows = docs.filter("author.followers_count > 100").collect()
    expected = {}
    for r in rows:
        lang = r["language"]
        c, s = expected.get(lang, (0, set()))
        s = s | {r["author"]["id"]}
        expected[lang] = (c + 1, s)
    assert buckets == {k: (c, len(s)) for k, (c, s) in expected.items()}
    assert len(buckets) > 1

    top = es_request(docs, {
        "aggs": {
            "by_lang": {
                "terms": {"field": "language"},
                "aggs": {
                    "hot": {
                        "top_hits": {
                            "size": 1,
                            "sort": [{"like_count": "desc"}, "id"],
                            "_source": ["id", "like_count"],
                        }
                    }
                },
            }
        }
    }).collect()
    best = {}
    for r in docs.collect():
        cur = best.get(r["language"])
        key = (-r["like_count"], r["id"])
        if cur is None or key < cur[0]:
            best[r["language"]] = (key, r["id"])
    assert {r["by_lang"]: r["id"] for r in top} == {k: v for k, (_, v) in best.items()}


def test_filters_agg_overlapping_buckets_one_scan(spark, sales):
    got = {
        (r["which"], r["doc_count"])
        for r in es_aggregate(sales, {
            "which": {"filters": {"filters": {
                "big": {"range": {"amount": {"gte": 10}}},
                "us_side": {"term": {"region": "us"}},
                "both": {"bool": {"filter": [
                    {"range": {"amount": {"gte": 10}}},
                    {"term": {"region": "us"}},
                ]}},
            }}}
        }).collect()
    }
    # big: 10,20,11,13 | us: 7,9,11,13 | both: 11,13 — overlap is fine
    assert got == {("big", 4), ("us_side", 4), ("both", 2)}


def test_filters_agg_metric_sub_aggs_and_empty_buckets(spark, sales):
    """Metric sub-aggs per filter bucket (r7): a doc feeds EVERY bucket
    it matches (overlap preserved), and a bucket matched by nothing keeps
    its zero-count row with ES's empty-bucket metric shape — sum/
    value_count/cardinality are 0, min/max/avg are NULL (r8 fix)."""
    rows = {
        r["w"]: (r["doc_count"], r["total"], r["hi"])
        for r in es_aggregate(sales, {
            "w": {"filters": {"filters": {
                "big": {"range": {"amount": {"gte": 10}}},
                "us_side": {"term": {"region": "us"}},
                "nothing": {"term": {"region": "zz"}},
            }},
                "aggs": {"total": {"sum": {"field": "amount"}},
                         "hi": {"max": {"field": "amount"}}}}
        }).collect()
    }
    assert rows["big"] == (4, 54.0, 20.0)       # 10+20+11+13
    assert rows["us_side"] == (4, 40.0, 13.0)   # 7+9+11+13
    assert rows["nothing"] == (0, 0.0, None)    # sum zero-fills, max NULL
    # r12: a bucket sub-agg no longer refuses — it takes the shared
    # nested-bucket path (full coverage in
    # test_filters_and_adjacency_nested_bucket_sub)
    got = es_aggregate(sales, {
        "w": {"filters": {"filters": {"a": {"match_all": {}}}},
              "aggs": {"b": {"terms": {"field": "region"}}}}
    })
    assert {(r["w"], r["b"]) for r in got.collect()} == \
        {("a", "eu"), ("a", "us"), ("a", "ap")}


def test_stats_metric_expands_five_columns(spark, sales):
    row = es_aggregate(sales, {
        "by_region": {
            "terms": {"field": "region"},
            "aggs": {"amt": {"stats": {"field": "amount"}}},
        }
    }).filter("by_region = 'eu'").head()
    assert (row["amt_count"], row["amt_min"], row["amt_max"]) == (3, 5.0, 20.0)
    assert abs(row["amt_sum"] - 35.0) < 1e-12
    assert abs(row["amt_avg"] - 35.0 / 3) < 1e-12


def test_fixed_interval_date_histogram(spark):
    import datetime as dt

    rows = [
        (1, dt.datetime(2026, 1, 1, 0, 10)), (2, dt.datetime(2026, 1, 1, 0, 40)),
        (3, dt.datetime(2026, 1, 1, 0, 50)), (4, dt.datetime(2026, 1, 1, 1, 5)),
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    got = {
        r["b"]: r["doc_count"]
        for r in es_aggregate(df, {
            "b": {"date_histogram": {"field": "ts", "fixed_interval": "30m"}}
        }).collect()
    }
    assert got == {
        "2026-01-01 00:00:00": 1, "2026-01-01 00:30:00": 2, "2026-01-01 01:00:00": 1,
    }
    with pytest.raises(ValueError, match="bad fixed_interval"):
        es_aggregate(df, {"b": {"date_histogram": {"field": "ts", "fixed_interval": "1w"}}})


@pytest.mark.parametrize("word,compact", [
    ("minute", "1m"), ("hour", "1h"), ("day", "1d"), ("month", "1M"), ("year", "1y")])
def test_calendar_interval_compact_form_matches_the_word(spark, word, compact):
    """ES's compact ``calendar_interval`` spellings give the word form's
    buckets; note ``1m`` is a minute and ``1M`` a month."""
    import datetime as dt

    df = spark.createDataFrame(
        [(1, dt.datetime(2023, 12, 31, 23, 59, 30)), (2, dt.datetime(2024, 1, 1, 0, 0, 10)),
         (3, dt.datetime(2024, 1, 1, 0, 0, 50))], "id long, ts timestamp")

    def buckets(interval):
        return sorted(tuple(r) for r in es_aggregate(df, {"b": {"date_histogram": {
            "field": "ts", "calendar_interval": interval}}}).collect())

    got = buckets(compact)
    assert got == buckets(word)
    assert [n for _, n in got] == [1, 2]  # each unit's boundary falls after row 1


def test_interval_spellings_without_a_key_format_stay_refused(spark):
    """Week and quarter have no date_histogram key format, and a fixed
    interval below a second has no grid (keys have seconds resolution)."""
    df = spark.createDataFrame([(1,)], "id long").selectExpr(
        "id", "timestamp'2024-01-01 00:00:00' AS ts")
    for interval in ("week", "1w", "quarter", "1q", "2d", "1fortnight"):
        with pytest.raises(ValueError, match="unsupported date_histogram interval"):
            es_aggregate(df, {"b": {"date_histogram": {
                "field": "ts", "calendar_interval": interval}}})
    with pytest.raises(ValueError, match="sub-second"):
        es_aggregate(df, {"b": {"date_histogram": {
            "field": "ts", "fixed_interval": "500ms"}}})


def test_date_histogram_refuses_offset_and_time_zone(spark):
    """Buckets are UTC-midnight-aligned, so an ``offset`` or a
    ``time_zone`` (which would move the 03:00 row into the previous day's
    bucket) raises instead of being ignored; so does any other key the
    aggregation does not read."""
    df = spark.createDataFrame([(1,), (2,)], "id long").selectExpr(
        "id", "CASE id WHEN 1 THEN timestamp'2024-01-01 03:00:00' "
        "ELSE timestamp'2024-01-01 09:00:00' END AS ts")
    body = {"field": "ts", "calendar_interval": "day"}
    got = es_aggregate(df, {"b": {"date_histogram": body}}).collect()
    assert [(r["b"], r["doc_count"]) for r in got] == [("2024-01-01", 2)]
    for extra in ({"offset": "+6h"}, {"time_zone": "-05:00"},
                  {"format": "yyyy"}, {"bogus": 1}):
        with pytest.raises(ValueError,
                           match="unsupported date_histogram keys"):
            es_aggregate(df, {"b": {"date_histogram": {**body, **extra}}})
    # a composite source's own keys are not date_histogram parameters
    comp = {"composite": {"sources": [{"d": {"date_histogram": {
        **body, "order": "desc", "missing_bucket": True}}}]}}
    assert es_aggregate(df, {"c": comp}).count() == 1


def test_min_doc_count_filters_buckets(spark, sales):
    got = {
        r["by_region"]
        for r in es_aggregate(sales, {
            "by_region": {"terms": {"field": "region", "min_doc_count": 2}}
        }).collect()
    }
    assert got == {"eu", "us"}  # ap has 1 doc
    with pytest.raises(ValueError, match="innermost bucket"):
        es_aggregate(sales, {
            "b": {"terms": {"field": "region", "min_doc_count": 2},
                  "aggs": {"p": {"terms": {"field": "product"}}}}
        })


# ---------------------------------------------------------------- composite


def test_composite_paginates_in_key_order(spark, sales):
    req = {
        "page": {
            "composite": {
                "size": 3,
                "sources": [
                    {"r": {"terms": {"field": "region"}}},
                    {"p": {"terms": {"field": "product"}}},
                ],
            },
            "aggs": {"total": {"sum": {"field": "amount"}}},
        }
    }
    page1 = es_aggregate(sales, req).collect()
    assert [(r["r"], r["p"]) for r in page1] == [
        ("ap", "a"), ("eu", "a"), ("eu", "b")
    ]
    assert page1[1]["doc_count"] == 2 and page1[1]["total"] == 30.0
    # resume from page 1's last key tuple: the next page continues exactly
    req["page"]["composite"]["after"] = {"r": "eu", "p": "b"}
    page2 = es_aggregate(sales, req).collect()
    assert [(r["r"], r["p"]) for r in page2] == [("us", "a"), ("us", "b")]


def test_composite_desc_source_and_errors(spark, sales):
    got = es_aggregate(sales, {
        "page": {"composite": {"size": 2, "sources": [
            {"r": {"terms": {"field": "region", "order": "desc"}}},
        ]}}
    }).collect()
    assert [r["r"] for r in got] == ["us", "eu"]
    with pytest.raises(ValueError, match="missing source keys"):
        es_aggregate(sales, {
            "page": {"composite": {"sources": [
                {"r": {"terms": {"field": "region"}}},
            ], "after": {"wrong": "eu"}}}
        })
    with pytest.raises(ValueError, match="metrics, not buckets"):
        es_aggregate(sales, {
            "page": {
                "composite": {"sources": [{"r": {"terms": {"field": "region"}}}]},
                "aggs": {"sub": {"terms": {"field": "product"}}},
            }
        })
    # a null cursor key is only legal when the source declares
    # missing_bucket (otherwise null buckets cannot exist)
    with pytest.raises(ValueError, match="no missing_bucket"):
        es_aggregate(sales, {
            "page": {"composite": {"sources": [
                {"r": {"terms": {"field": "region"}}},
            ], "after": {"r": None}}}
        })
    with pytest.raises(ValueError, match="missing_order"):
        es_aggregate(sales, {
            "page": {"composite": {"sources": [
                {"r": {"terms": {"field": "region", "missing_bucket": True,
                                 "missing_order": "sideways"}}},
            ]}}
        })


@pytest.fixture(scope="module")
def sales_nullable(spark):
    """sales with region missing on two docs — the missing_bucket corpus."""
    rows = [
        (1, "eu", "a", 10.0), (2, "eu", "a", 20.0), (3, None, "b", 5.0),
        (4, "us", "a", 7.0), (5, None, "a", 9.0), (6, "us", "b", 11.0),
        (7, "ap", "b", 13.0),
    ]
    return spark.createDataFrame(
        rows, "id long, region string, product string, amount double"
    )


def test_composite_missing_bucket_positions_and_cursor(spark, sales_nullable):
    """ES missing_order contract: null first when asc (default), last when
    desc (default), overridable; the after cursor accepts/crosses the null
    key in every position."""
    def page(sources, after=None, size=10):
        body = {"sources": sources, "size": size}
        if after is not None:
            body["after"] = after
        return [
            (r["r"], r["doc_count"])
            for r in es_aggregate(
                sales_nullable, {"w": {"composite": body}}).collect()
        ]

    asc = [{"r": {"terms": {"field": "region", "missing_bucket": True}}}]
    assert page(asc) == [(None, 2), ("ap", 1), ("eu", 2), ("us", 2)]
    # resume FROM the null bucket: strictly-after-null = all non-null
    assert page(asc, after={"r": None}) == [("ap", 1), ("eu", 2), ("us", 2)]
    desc = [{"r": {"terms": {"field": "region", "order": "desc",
                             "missing_bucket": True}}}]
    assert page(desc) == [("us", 2), ("eu", 2), ("ap", 1), (None, 2)]
    # null trails: a non-null cursor must still reach it...
    assert page(desc, after={"r": "ap"}) == [(None, 2)]
    # ...and after-null is the end of the walk
    assert page(desc, after={"r": None}) == []
    asc_last = [{"r": {"terms": {"field": "region", "missing_bucket": True,
                                 "missing_order": "last"}}}]
    assert page(asc_last) == [("ap", 1), ("eu", 2), ("us", 2), (None, 2)]
    assert page(asc_last, after={"r": "us"}) == [(None, 2)]
    desc_first = [{"r": {"terms": {"field": "region", "order": "desc",
                                   "missing_bucket": True,
                                   "missing_order": "first"}}}]
    assert page(desc_first) == [(None, 2), ("us", 2), ("eu", 2), ("ap", 1)]
    assert page(desc_first, after={"r": None}) == [
        ("us", 2), ("eu", 2), ("ap", 1)]
    # without missing_bucket the null docs are skipped (ES contract)
    plain = [{"r": {"terms": {"field": "region"}}}]
    assert page(plain) == [("ap", 1), ("eu", 2), ("us", 2)]


def test_composite_missing_bucket_full_walk(spark, sales_nullable):
    """Page-walking size=2 across the null/non-null boundary reproduces
    the one-shot bucket relation exactly — no gap, overlap, or NULL-
    propagation hole at the boundary; metrics ride along. Walked with the
    null bucket leading (asc) and trailing (desc)."""
    import pyspark.sql.functions as F

    for order, region_order in (
        ("asc", F.col("region").asc_nulls_first()),
        ("desc", F.col("region").desc_nulls_last()),
    ):
        base = {
            "sources": [
                {"r": {"terms": {"field": "region", "order": order,
                                 "missing_bucket": True}}},
                {"p": {"terms": {"field": "product", "order": order}}},
            ],
            "size": 2,
        }
        walked, after = [], None
        for _ in range(10):
            body = dict(base)
            if after is not None:
                body["after"] = after
            page = es_aggregate(sales_nullable, {
                "w": {"composite": body,
                      "aggs": {"total": {"sum": {"field": "amount"}}}}
            }).collect()
            if not page:
                break
            walked += [(r["r"], r["p"], r["doc_count"], r["total"]) for r in page]
            after = {"r": page[-1]["r"], "p": page[-1]["p"]}
        one_shot = (
            sales_nullable.groupBy("region", "product")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("amount").alias("t"))
            .orderBy(region_order, F.col("product").asc() if order == "asc"
                     else F.col("product").desc())
            .collect()
        )
        assert walked == [
            (r["region"], r["product"], r["n"], r["t"]) for r in one_shot
        ]
        assert walked[0 if order == "asc" else -1][:2] == (None, "a")


# -------------------------------------------------------------- percentiles


def test_percentiles_exact_interpolation(spark, sales):
    # us amounts: 7, 9, 11, 13 → p50 = 10 (midpoint), p25 = 8.5
    got = {
        r["by_region"]: (r["q_p25"], r["q_p50"])
        for r in es_aggregate(sales, {
            "by_region": {
                "terms": {"field": "region"},
                "aggs": {"q": {"percentiles": {
                    "field": "amount", "percents": [25, 50]}}},
            }
        }).collect()
    }
    assert got["us"] == (8.5, 10.0)
    assert got["eu"] == (7.5, 10.0)


# -------------------------------------------------------- significant_terms


def test_significant_terms_jlh_scoring(spark, sales):
    # foreground: amount > 8 → {us: 3 of 4, eu: 2 of 3, ap: 0 of 1},
    # fg_total = 5, bg_total = 8
    got = es_request(sales, {
        "query": {"range": {"amount": {"gt": 8}}},
        "aggs": {"sig": {"significant_terms": {"field": "region", "size": 5}}},
    }).collect()
    rows = {r["sig"]: r for r in got}
    assert set(rows) == {"us", "eu"}  # ap has fg=0 → dropped
    us = rows["us"]
    assert (us["doc_count"], us["bg_count"]) == (3, 4)
    fg_pct, bg_pct = 3 / 5, 4 / 8
    assert us["score"] == round((fg_pct - bg_pct) * (fg_pct / bg_pct), 6)
    # eu: fg% = 0.4, bg% = 0.375 → lower JLH than us's 0.12
    assert got[0]["sig"] == "us"


def test_significant_terms_requires_query(spark, sales):
    with pytest.raises(ValueError, match="foreground"):
        es_aggregate(sales, {
            "sig": {"significant_terms": {"field": "region"}}
        })


# ------------------------------------------------------------ pipeline aggs


def test_pipeline_cumulative_sum_and_derivative(spark, sales):
    got = es_aggregate(sales, {
        "h": {
            "histogram": {"field": "amount", "interval": 10.0},
            "aggs": {
                "total": {"sum": {"field": "amount"}},
                "cum": {"cumulative_sum": {"buckets_path": "total"}},
                "delta": {"derivative": {"buckets_path": "doc_count"}},
            },
        }
    }).orderBy("h").collect()
    # buckets: [0,10): 1,5,7,9 ; [10,20): 10,11,13 ; [20,30): 20
    assert [r["h"] for r in got] == [0.0, 10.0, 20.0]
    assert [r["cum"] for r in got] == [22.0, 56.0, 76.0]
    assert [r["delta"] for r in got] == [None, -1, -2]


def test_pipeline_requires_histogram_parent_and_valid_path(spark, sales):
    with pytest.raises(ValueError, match="histogram-family parent"):
        es_aggregate(sales, {
            "t": {
                "terms": {"field": "region"},
                "aggs": {"cum": {"cumulative_sum": {"buckets_path": "doc_count"}}},
            }
        })
    with pytest.raises(ValueError, match="not a sibling metric"):
        es_aggregate(sales, {
            "h": {
                "histogram": {"field": "amount", "interval": 10.0},
                "aggs": {"cum": {"cumulative_sum": {"buckets_path": "nope"}}},
            }
        })


# ----------------------------------------------------------------- collapse


def test_collapse_keeps_best_hit_per_group(spark, sales):
    got = es_request(sales, {
        "query": {"match_all": {}},
        "collapse": {"field": "region"},
        "sort": [{"amount": "desc"}],
        "size": 3,
        "_source": ["id", "region", "amount"],
    }, tiebreak="id").collect()
    # best per region: us→13, eu→20, ap→1; globally sorted desc
    assert [(r["region"], r["amount"]) for r in got] == [
        ("eu", 20.0), ("us", 13.0), ("ap", 1.0)
    ]


def test_collapse_requires_sort(spark, sales):
    with pytest.raises(ValueError, match="collapse requires an explicit sort"):
        es_request(sales, {
            "query": {"match_all": {}},
            "collapse": {"field": "region"},
        })


def test_terms_order_by_metric_key_and_errors(spark, sales):
    by_metric = es_aggregate(sales, {
        "b": {"terms": {"field": "region", "size": 2,
                        "order": {"total": "asc"}},
              "aggs": {"total": {"sum": {"field": "amount"}}}}
    }).collect()
    assert [(r["b"], r["total"]) for r in by_metric] == [("ap", 1.0), ("eu", 35.0)]
    by_key = es_aggregate(sales, {
        "b": {"terms": {"field": "region", "size": 2, "order": {"_key": "desc"}}}
    }).collect()
    assert [r["b"] for r in by_key] == ["us", "eu"]
    by_count = es_aggregate(sales, {
        "b": {"terms": {"field": "region", "size": 1, "order": {"_count": "desc"}}}
    }).collect()
    assert [r["b"] for r in by_count] == ["us"]
    with pytest.raises(ValueError, match="not _key/_count or a sibling"):
        es_aggregate(sales, {
            "b": {"terms": {"field": "region", "size": 2, "order": {"nope": "desc"}}}
        })
    with pytest.raises(ValueError, match="ambiguous"):
        es_aggregate(sales, {
            "b": {"terms": {"field": "region", "size": 2, "order": {"_key": "asc"}},
                  "aggs": {"sub": {"terms": {"field": "product"}}}}
        })


def test_composite_full_walk_equals_one_shot(spark, sales):
    """Paginating composite to exhaustion reproduces the whole bucket
    relation exactly once — no overlap, no gap, order preserved."""
    base = {
        "sources": [
            {"r": {"terms": {"field": "region"}}},
            {"p": {"terms": {"field": "product"}}},
        ],
        "size": 2,
    }
    walked = []
    after = None
    for _ in range(10):
        body = dict(base)
        if after is not None:
            body["after"] = after
        page = es_aggregate(sales, {"w": {"composite": body}}).collect()
        if not page:
            break
        walked += [(r["r"], r["p"], r["doc_count"]) for r in page]
        after = {"r": page[-1]["r"], "p": page[-1]["p"]}
    one_shot = (
        sales.groupBy("region", "product").count()
        .orderBy("region", "product").collect()
    )
    assert walked == [(r["region"], r["product"], r["count"]) for r in one_shot]


def test_nested_agg_counts_elements_not_parents(spark):
    rows = [
        (1, [{"d": "x", "w": 1.0}, {"d": "x", "w": 2.0}, {"d": "y", "w": 3.0}]),
        (2, [{"d": "x", "w": 4.0}]),
        (3, []),
    ]
    df = spark.createDataFrame(
        rows, "id long, anns array<struct<d string, w double>>"
    )
    got = {
        r["by_d"]: (r["doc_count"], r["top"])
        for r in es_aggregate(df, {
            "ca": {
                "nested": {"path": "anns"},
                "aggs": {"by_d": {
                    "terms": {"field": "anns.d"},
                    "aggs": {"top": {"max": {"field": "anns.w"}}},
                }},
            }
        }).collect()
    }
    # 3 x elements (not 2 parent docs), scope prefix stripped, metric rides
    assert got == {"x": (3, 4.0), "y": (1, 3.0)}
    with pytest.raises(ValueError, match="exactly one sub-aggregation"):
        es_aggregate(df, {"ca": {"nested": {"path": "anns"}}})


def test_missing_agg_counts_null_field_docs(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "b")], "id long, tag string"
    )
    got = es_aggregate(df, {"no_tag": {"missing": {"field": "tag"}}}).collect()
    assert [r["doc_count"] for r in got] == [2]
    # metric sub-aggs aggregate the MISSING docs (r7)
    row = es_aggregate(df, {"m": {"missing": {"field": "tag"},
                                  "aggs": {"hi": {"max": {"field": "id"}}}}}
                       ).collect()[0]
    assert (row["doc_count"], row["hi"]) == (2, 3)
    with pytest.raises(ValueError, match="must be metrics"):
        es_aggregate(df, {"m": {"missing": {"field": "tag"},
                                "aggs": {"x": {"terms": {"field": "id"}}}}})


def test_global_agg_escapes_the_query_filter(spark, sales):
    got = es_request(sales, {
        "query": {"term": {"region": "us"}},
        "aggs": {"all_docs": {
            "global": {},
            "aggs": {"by_region": {"terms": {"field": "region"}}},
        }},
    }).collect()
    # the filter would leave only us; global sees every region
    assert {r["by_region"]: r["doc_count"] for r in got} == {
        "us": 4, "eu": 3, "ap": 1
    }
    with pytest.raises(ValueError, match="unsupported global keys"):
        es_aggregate(sales, {"g": {"global": {"field": "x"},
                                   "aggs": {"b": {"terms": {"field": "region"}}}}})
    with pytest.raises(ValueError, match="exactly one sub-aggregation"):
        es_aggregate(sales, {"g": {"global": {}}})


def test_highlight_tags_analyzed_terms(spark):
    df = spark.createDataFrame(
        [(1, "Spark and MERGE win", 10.0), (2, "nothing here", 5.0)],
        "id long, text string, amount double",
    )
    req = {
        "query": {"match": {"text": {"query": "spark merge"}}},
        "sort": [{"amount": "desc"}],
        "size": 5,
        "highlight": {"fields": {"text": {"number_of_fragments": 0}}},
    }
    got = es_request(df, req, analyzers={"text": "standard"},
                     tiebreak="id").collect()
    assert [r["text_highlight"] for r in got] == [
        "<em>Spark</em> and <em>MERGE</em> win"
    ]
    # custom tags honored
    req2 = {**req, "highlight": {"pre_tags": ["["], "post_tags": ["]"],
                                 "fields": {"text": {"number_of_fragments": 0}}}}
    got2 = es_request(df, req2, analyzers={"text": "standard"},
                      tiebreak="id").collect()
    assert got2[0]["text_highlight"] == "[Spark] and [MERGE] win"
    with pytest.raises(ValueError, match="no analyzed query terms"):
        es_request(df, {
            "query": {"term": {"id": 1}},
            "sort": [{"amount": "desc"}],
            "highlight": {"fields": {"text": {"number_of_fragments": 0}}},
        })


def test_match_terms_by_field_walks_all_node_types(spark):
    from tweets_elastic_spark.plans.search import (
        Bm25Stats, Bool, Boosting, ConstantScore, DisMax, FunctionScore,
        Match, MatchPhrase, Pinned, ScriptScore, Term, from_es_json,
        match_terms_by_field,
    )

    tree = FunctionScore(Bool(
        must=[Match("text", "spark merge", analyzer="standard")],
        filter=[Term("lang", "en")],
        should=[
            (MatchPhrase("title", "fast join", analyzer="standard"), 2.0),
            # an overlap multi_match: tag has no analyzer binding ->
            # keyword, skipped
            (from_es_json({"multi_match": {"query": "scan",
                                           "fields": ["body", "tag"]}},
                          analyzers={"body": "standard"}), 1.0),
        ],
    ))
    got = match_terms_by_field(tree, spark)
    assert got == {
        "text": ["spark", "merge"],
        "title": ["fast", "join"],
        "body": ["scan"],
    }
    # every container reaches its clauses
    leaf = Match("text", "spark", analyzer="standard")
    for container in (
        DisMax([leaf]),
        ConstantScore(leaf, 2.0),
        Boosting(Term("lang", "en"), leaf),
        Pinned([1], leaf),
        ScriptScore(leaf, "_score * 2"),
    ):
        assert match_terms_by_field(container, spark) == {"text": ["spark"]}
    # a BM25 multi_match over two bound fields (a DisMax of BM25 legs) and
    # a combined_fields (one BM25 node over both fields)
    bound = dict(
        analyzers={"a": "standard", "b": "standard"},
        tokens_cols={"a": "a__t", "b": "b__t"},
        bm25_stats_for=lambda cols, an, tx: Bm25Stats(1.0, 1.0, {}),
    )
    for kind in ("multi_match", "combined_fields"):
        q = from_es_json({kind: {"query": "spark", "fields": ["a", "b"]}},
                         **bound)
        assert match_terms_by_field(q, spark) == {
            "a": ["spark"], "b": ["spark"]
        }


def test_highlight_through_containers_and_multi_match(spark):
    """es_request highlighting finds the analyzed terms under dis_max,
    constant_score and boosting, and through a two-field multi_match."""
    df = spark.createDataFrame(
        [(1, "Spark wins", "merge here", 10.0), (2, "nothing", "x", 5.0)],
        "id long, text string, title string, amount double",
    )
    leaf = {"match": {"text": "spark"}}
    for query in (
        {"dis_max": {"queries": [leaf]}},
        {"constant_score": {"filter": leaf}},
        {"boosting": {"positive": leaf, "negative": {"term": {"id": 2}},
                      "negative_boost": 0.5}},
        {"multi_match": {"query": "spark merge",
                         "fields": ["text", "title"]}},
    ):
        got = es_request(df, {
            "query": query, "sort": [{"amount": "desc"}],
            "highlight": {"fields": {"text": {"number_of_fragments": 0}}},
        }, analyzers={"text": "standard", "title": "standard"},
            tiebreak="id").collect()
        assert [r["text_highlight"] for r in got] == ["<em>Spark</em> wins"]


def test_extended_stats_population_moments(spark, sales):
    r = es_aggregate(sales, {
        "all": {
            "terms": {"field": "region"},
            "aggs": {"a": {"extended_stats": {"field": "amount"}}},
        }
    }).filter("all = 'eu'").collect()[0]
    # eu amounts: 10, 20, 5 -> mean 35/3, pop variance = E[x^2] - mean^2
    vals = [10.0, 20.0, 5.0]
    mean = sum(vals) / 3
    var = sum(v * v for v in vals) / 3 - mean * mean
    assert r["a_count"] == 3 and r["a_min"] == 5.0 and r["a_max"] == 20.0
    assert r["a_sum"] == 35.0
    assert r["a_sum_of_squares"] == pytest.approx(525.0)
    assert r["a_variance"] == pytest.approx(var, abs=1e-6)
    assert r["a_std_deviation"] == pytest.approx(var ** 0.5, abs=1e-6)


def test_percentile_ranks_exact(spark, sales):
    r = es_aggregate(sales, {
        "all": {
            "terms": {"field": "region"},
            "aggs": {"p": {"percentile_ranks": {"field": "amount",
                                                "values": [9.0, 100]}}},
        }
    }).filter("all = 'us'").collect()[0]
    # us amounts: 7, 9, 11, 13 -> <=9 is 2/4, <=100 is 4/4
    assert r["p_rank_9_0"] == 50.0
    assert r["p_rank_100"] == 100.0
    with pytest.raises(ValueError, match="non-empty 'values'"):
        es_aggregate(sales, {
            "all": {"terms": {"field": "region"},
                    "aggs": {"p": {"percentile_ranks": {"field": "amount"}}}}
        })


@pytest.fixture(scope="module")
def daily(spark):
    # histogram parent for pipeline semantics: key 0..4, doc_counts 1..5
    rows = []
    i = 0
    for day, n in [(0.0, 1), (1.0, 2), (2.0, 3), (3.0, 4), (4.0, 5)]:
        for _ in range(n):
            rows.append((i, day))
            i += 1
    return spark.createDataFrame(rows, "id long, day double")


def _hist_pipes(daily, pipes):
    return es_aggregate(daily, {
        "d": {
            "histogram": {"field": "day", "interval": 1.0},
            "aggs": pipes,
        }
    })


def test_moving_fn_window_and_shift(spark, daily):
    rows = {r["d"]: r for r in _hist_pipes(daily, {
        "excl": {"moving_fn": {
            "buckets_path": "_count", "window": 2,
            "script": "MovingFunctions.unweightedAvg(values)"}},
        "incl": {"moving_fn": {
            "buckets_path": "_count", "window": 2, "shift": 1,
            "script": "MovingFunctions.max(values)"}},
    }).collect()}
    # shift=0: avg of the 2 buckets BEFORE each; first bucket -> NULL
    assert rows[0.0]["excl"] is None
    assert rows[1.0]["excl"] == 1.0
    assert rows[2.0]["excl"] == 1.5
    assert rows[4.0]["excl"] == 3.5
    # shift=1: window includes the current bucket
    assert rows[0.0]["incl"] == 1.0
    assert rows[4.0]["incl"] == 5.0
    with pytest.raises(ValueError, match="unsupported moving_fn script"):
        _hist_pipes(daily, {"x": {"moving_fn": {
            "buckets_path": "_count", "window": 2,
            "script": "MovingFunctions.stdDev(values)"}}}).collect()
    with pytest.raises(ValueError, match="shift"):
        _hist_pipes(daily, {"x": {"moving_fn": {
            "buckets_path": "_count", "window": 2, "shift": 3,
            "script": "MovingFunctions.sum(values)"}}}).collect()


def test_bucket_script_and_selector(spark, daily):
    rows = {r["d"]: r["double_n"] for r in _hist_pipes(daily, {
        "double_n": {"bucket_script": {
            "buckets_path": {"n": "_count"},
            "script": "params.n * 2"}},
        "keep": {"bucket_selector": {
            "buckets_path": {"n": "_count"},
            "script": "params.n >= 3"}},
    }).collect()}
    # selector dropped buckets 0 and 1 (counts 1, 2); script ran first
    assert rows == {2.0: 6.0, 3.0: 8.0, 4.0: 10.0}
    with pytest.raises(ValueError, match="must be a dict"):
        _hist_pipes(daily, {"x": {"bucket_script": {
            "buckets_path": "_count", "script": "params.n"}}}).collect()
    with pytest.raises(ValueError, match="unknown params"):
        _hist_pipes(daily, {"x": {"bucket_script": {
            "buckets_path": {"n": "_count"},
            "script": "params.q * 2"}}}).collect()


def test_bucket_sort_truncates_and_orders(spark, daily):
    got = [r["d"] for r in _hist_pipes(daily, {
        "top": {"bucket_sort": {"sort": [{"_count": "desc"}], "size": 2}},
    }).collect()]
    assert got == [4.0, 3.0]
    # bucket_selector/bucket_script/bucket_sort work on a TERMS parent too
    # (no sequential order needed)
    out = es_aggregate(spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "id long, k string"
    ), {
        "t": {"terms": {"field": "k"},
              "aggs": {"top": {"bucket_sort": {
                  "sort": [{"_count": "desc"}], "size": 1}}}}
    })
    assert [r["t"] for r in out.collect()] == ["a"]
    # ...but moving_fn still requires a histogram-family parent
    with pytest.raises(ValueError, match="histogram-family"):
        es_aggregate(spark.createDataFrame(
            [(1, "a")], "id long, k string"
        ), {
            "t": {"terms": {"field": "k"},
                  "aggs": {"m": {"moving_fn": {
                      "buckets_path": "_count", "window": 2,
                      "script": "MovingFunctions.sum(values)"}}}}
        }).collect()


def test_sibling_bucket_aggs_annotate_scalar(spark, daily):
    out = es_aggregate(daily, {
        "d": {"histogram": {"field": "day", "interval": 1.0}},
        "avg_n": {"avg_bucket": {"buckets_path": "d>_count"}},
        "max_n": {"max_bucket": {"buckets_path": "d>_count"}},
    })
    rows = out.collect()
    assert len(rows) == 5
    assert all(r["avg_n"] == 3.0 and r["max_n"] == 5.0 for r in rows)
    with pytest.raises(ValueError, match="buckets_path must be"):
        es_aggregate(daily, {
            "d": {"histogram": {"field": "day", "interval": 1.0}},
            "avg_n": {"avg_bucket": {"buckets_path": "other>_count"}},
        })
    with pytest.raises(ValueError, match="not a column"):
        es_aggregate(daily, {
            "d": {"histogram": {"field": "day", "interval": 1.0}},
            "avg_n": {"avg_bucket": {"buckets_path": "d>nope"}},
        })


def test_rescore_reranks_window_and_spares_nonmatches(spark):
    df = spark.createDataFrame(
        [(1, "spark text here", 500),   # orig 2.0, no boost
         (2, "merge text here", 500),   # orig 1.0, no boost
         (3, "merge note", 100),        # orig 1.0, rescore boost +3
         (4, "nothing relevant", 100)],
        "doc_id long, text string, n long",
    )
    request = {
        "query": {"bool": {"should": [
            {"query": {"match": {"text": "spark"}}, "weight": 2},
            {"query": {"match": {"text": "merge"}}, "weight": 1},
        ]}},
        "rescore": {"window_size": 10, "query": {
            "rescore_query": {"range": {"n": {"lte": 200}}},
            "rescore_query_weight": 3.0,
        }},
        "size": 3,
    }
    out = es_request(df, request, analyzers={"text": "standard"},
                     tiebreak="doc_id").collect()
    got = [(r["doc_id"], r["score"]) for r in out]
    # doc3: 1 + 3 = 4 overtakes doc1 (2.0); doc4 never matched the query
    assert got == [(3, 4.0), (1, 2.0), (2, 1.0)]


def test_rescore_multiply_skips_nonmatching_docs(spark):
    df = spark.createDataFrame(
        [(1, "spark a", 100), (2, "spark b", 900)],
        "doc_id long, text string, n long",
    )
    request = {
        "query": {"match": {"text": "spark"}},
        "rescore": {"window_size": 5, "query": {
            "rescore_query": {"range": {"n": {"lte": 200}}},
            "rescore_query_weight": 5.0,
            "score_mode": "multiply",
        }},
        "size": 2,
    }
    out = es_request(df, request, analyzers={"text": "standard"},
                     tiebreak="doc_id").collect()
    got = {r["doc_id"]: r["score"] for r in out}
    # doc1 matched: 1*1 * 5*1 = 5; doc2 unmatched keeps qw*orig = 1 (NOT 0)
    assert got == {1: 5.0, 2: 1.0}


def test_rescore_guards(spark, sales):
    base = {"query": {"term": {"region": "eu"}}}
    with pytest.raises(ValueError, match="ignores it under"):
        es_request(sales, {**base, "sort": [{"id": "asc"}],
                           "rescore": {"window_size": 5, "query": {
                               "rescore_query": {"match_all": {}}}}})
    with pytest.raises(ValueError, match="smaller than"):
        es_request(sales, {**base, "size": 10, "rescore": {
            "window_size": 5,
            "query": {"rescore_query": {"match_all": {}}}}})
    with pytest.raises(ValueError, match="unsupported rescore keys"):
        es_request(sales, {**base, "rescore": {"window_size": 50, "query": {
            "rescore_query": {"match_all": {}}, "rescore_mode": "x"}}})


def test_from_offset_pagination(spark, sales):
    # sorted path: rows [2, 4) of the id-ordered hits
    got = [r["id"] for r in es_request(sales, {
        "query": {"match_all": {}}, "sort": [{"id": "asc"}],
        "from": 2, "size": 2,
    }).collect()]
    assert got == [3, 4]
    # score path: offset applies to the relevance ranking
    got2 = [r["id"] for r in es_request(sales, {
        "query": {"term": {"region": "us"}}, "from": 1, "size": 2,
    }, tiebreak="id").collect()]
    assert got2 == [5, 6]
    with pytest.raises(ValueError, match="mutually exclusive"):
        es_request(sales, {
            "query": {"match_all": {}}, "sort": [{"id": "asc"}],
            "from": 2, "search_after": [4],
        })


def test_significant_text_tokens_and_contracts(spark):
    df = spark.createDataFrame(
        [(1, "zh", "dragon noodle tea"), (2, "zh", "dragon tea"),
         (3, "en", "tea biscuit"), (4, "en", "dragon dragon dragon")],
        "id long, lang string, text string",
    )
    out = es_request(df, {
        "query": {"term": {"lang": "zh"}},
        "aggs": {"sig": {"significant_text": {"field": "text", "size": 10}}},
    }, analyzers={"text": "standard"})
    rows = {r["sig"]: r for r in out.collect()}
    # dedup counting: doc 4's triple 'dragon' counts once -> bg_count 3
    assert rows["dragon"]["bg_count"] == 3
    assert rows["dragon"]["doc_count"] == 2
    # foreground-only token ranks above an evenly spread one
    assert rows["noodle"]["score"] > rows["tea"]["score"]
    # tokens absent from the foreground don't appear
    assert "biscuit" not in rows
    with pytest.raises(ValueError, match="analyzer binding"):
        es_request(df, {
            "query": {"term": {"lang": "zh"}},
            "aggs": {"sig": {"significant_text": {"field": "text"}}},
        })
    with pytest.raises(ValueError, match="foreground"):
        es_aggregate(df, {"sig": {"significant_text": {"field": "text"}}},
                     analyzers={"text": "standard"})


def test_weighted_avg_and_date_range(spark):
    from datetime import datetime

    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 5), 10.0, 1.0),
         (2, datetime(2024, 1, 5), 20.0, 3.0),
         (3, datetime(2024, 1, 25), 5.0, None),   # missing weight drops
         (4, None, 9.0, 1.0)],                    # null ts -> no bucket
        "id long, ts timestamp, v double, w double",
    )
    out = es_aggregate(df, {
        "p": {"date_range": {"field": "ts", "ranges": [
            {"key": "a", "to": "2024-01-10 00:00:00"},
            {"key": "b", "from": "2024-01-10 00:00:00"},
        ]},
            "aggs": {"wa": {"weighted_avg": {
                "value": {"field": "v"}, "weight": {"field": "w"}}}},
        }
    })
    rows = {r["p"]: r for r in out.collect()}
    assert rows["a"]["doc_count"] == 2
    assert rows["a"]["wa"] == pytest.approx((10 + 60) / 4.0)
    # bucket b has only the weight-less doc -> weighted_avg NULL
    assert rows["b"]["doc_count"] == 1 and rows["b"]["wa"] is None
    assert None not in rows and len(rows) == 2
    with pytest.raises(ValueError, match="non-overlapping"):
        es_aggregate(df, {"p": {"date_range": {"field": "ts", "ranges": [
            {"from": "2024-01-01", "to": "2024-01-20"},
            {"from": "2024-01-10"},
        ]}}})


def test_script_fields_computed_per_hit(spark, sales):
    out = es_request(sales, {
        "query": {"term": {"region": "us"}},
        "sort": [{"id": "asc"}],
        "size": 2,
        "_source": ["id", "amount"],
        "script_fields": {
            "doubled": {"script": {"source": "doc['amount'].value * 2"}},
            "logged": {"script": "Math.log(doc['amount'].value)"},
        },
    }).collect()
    import math
    assert [(r["id"], r["doubled"]) for r in out] == [(4, 14.0), (5, 18.0)]
    assert out[0]["logged"] == pytest.approx(math.log(7.0))
    # _score binds on the relevance path
    out2 = es_request(sales, {
        "query": {"term": {"region": "us"}},
        "size": 1,
        "script_fields": {"s2": {"script": {"source": "_score * 3"}}},
    }, tiebreak="id").collect()
    assert out2[0]["s2"] == 3.0
    # sorted path has no score column -> _score raises loudly
    with pytest.raises(ValueError, match="_score is not available"):
        es_request(sales, {
            "query": {"match_all": {}}, "sort": [{"id": "asc"}],
            "script_fields": {"x": {"script": {"source": "_score"}}},
        }).collect()


def test_knn_request_prefilter_and_guards(spark):
    emb = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    out = es_request(emb, {
        "knn": {"field": "embedding", "query_vector": [1.0, 0, 0, 0],
                "k": 2, "filter": {"range": {"vec_id": {"gte": 1}}}},
    }, tiebreak="vec_id").collect()
    # vec 0 (the exact match) is excluded by the PRE-filter
    assert [r["vec_id"] for r in out] == [1, 2]
    with pytest.raises(ValueError, match="tiebreak"):
        es_request(emb, {"knn": {"field": "embedding",
                                 "query_vector": [1.0, 0, 0, 0]}})
    with pytest.raises(ValueError, match="rrf_fuse"):
        es_request(emb, {
            "query": {"match_all": {}},
            "knn": {"field": "embedding", "query_vector": [1.0, 0, 0, 0]},
        }, tiebreak="vec_id")
    with pytest.raises(ValueError, match="unsupported knn keys"):
        es_request(emb, {"knn": {"field": "embedding",
                                 "query_vector": [1.0], "boost": 2}},
                   tiebreak="vec_id")


def test_knn_honours_min_score(spark):
    """``min_score`` drops knn hits below the floor, as it does relevance
    hits (scores here: 1.0, 0.707107, 0.0)."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 1.0]), (3, [0.0, 1.0])], "id long, v array<float>")
    knn = {"field": "v", "query_vector": [1, 0], "k": 3}
    assert [r["score"] for r in es_request(df, {"knn": knn}, tiebreak="id").collect()] \
        == [1.0, 0.707107, 0.0]
    hits = es_request(df, {"knn": knn, "min_score": 0.99}, tiebreak="id").collect()
    assert [(r["id"], r["score"]) for r in hits] == [(1, 1.0)]


def test_min_doc_count_zero_fills_empty_buckets(spark):
    from datetime import datetime

    df = spark.createDataFrame(
        [(1, 0.0, datetime(2024, 1, 1)), (2, 0.5, datetime(2024, 1, 1)),
         (3, 3.2, datetime(2024, 1, 4))],
        "id long, v double, ts timestamp",
    )
    out = es_aggregate(df, {"h": {"histogram": {
        "field": "v", "interval": 1.0, "min_doc_count": 0}}})
    rows = sorted((r["h"], r["doc_count"]) for r in out.collect())
    assert rows == [(0.0, 2), (1.0, 0), (2.0, 0), (3.0, 1)]

    out2 = es_aggregate(df, {"d": {"date_histogram": {
        "field": "ts", "calendar_interval": "day", "min_doc_count": 0,
        "extended_bounds": {"min": "2023-12-30", "max": "2024-01-05"}}}})
    rows2 = sorted((r["d"], r["doc_count"]) for r in out2.collect())
    assert len(rows2) == 7
    assert rows2[0] == ("2023-12-30", 0) and rows2[-1] == ("2024-01-05", 0)
    assert ("2024-01-02", 0) in rows2 and ("2024-01-01", 2) in rows2

    # the point of gap filling: derivative sees the empty buckets
    out3 = es_aggregate(df, {"h": {
        "histogram": {"field": "v", "interval": 1.0, "min_doc_count": 0},
        "aggs": {"delta": {"derivative": {"buckets_path": "_count"}}}}})
    rows3 = {r["h"]: r["delta"] for r in out3.collect()}
    assert rows3 == {0.0: None, 1.0: -2, 2.0: 0, 3.0: 1}

    with pytest.raises(ValueError, match="histogram-family"):
        es_aggregate(df, {"t": {"terms": {"field": "id",
                                          "min_doc_count": 0}}})
    with pytest.raises(ValueError, match="'day'"):
        es_aggregate(df, {"d": {"date_histogram": {
            "field": "ts", "calendar_interval": "month",
            "min_doc_count": 0}}})


def test_terms_include_exclude(spark, sales):
    got = {r["r"] for r in es_aggregate(sales, {
        "r": {"terms": {"field": "region", "include": "e.|u."}}
    }).collect()}
    assert got == {"eu", "us"}
    got2 = {r["r"] for r in es_aggregate(sales, {
        "r": {"terms": {"field": "region", "include": ["eu", "us", "xx"],
                        "exclude": "u."}}
    }).collect()}
    assert got2 == {"eu"}
    # include runs BEFORE size: the top-1 among included, not globally
    got3 = [r["r"] for r in es_aggregate(sales, {
        "r": {"terms": {"field": "region", "exclude": "us", "size": 1}}
    }).collect()]
    assert got3 == ["eu"]


def test_adjacency_matrix_counts_intersections(spark, sales):
    out = es_aggregate(sales, {
        "m": {"adjacency_matrix": {"filters": {
            "big": {"range": {"amount": {"gte": 9}}},
            "us": {"term": {"region": "us"}},
            "ap": {"term": {"region": "ap"}},
        }}}
    })
    got = {r["m"]: r["doc_count"] for r in out.collect()}
    # amounts >= 9: ids 1(10),2(20),5(9),6(11),7(13) -> 5 docs; us: 4; ap: 1
    assert got["big"] == 5 and got["us"] == 4 and got["ap"] == 1
    assert got["big&us"] == 3          # us amounts 9, 11, 13
    assert "ap&big" not in got         # empty intersection dropped
    assert "ap&us" not in got
    # pair keys are NORMALIZED by sorted filter name (ES's contract),
    # independent of request order
    out2 = es_aggregate(sales, {
        "m": {"adjacency_matrix": {"filters": {
            "us": {"term": {"region": "us"}},
            "big": {"range": {"amount": {"gte": 9}}},
        }, "separator": "|"}}
    })
    got2 = {r["m"]: r["doc_count"] for r in out2.collect()}
    assert got2["big|us"] == 3 and "us|big" not in got2
    # metric sub-aggs (r7): tag-explode path, pair cells carry metrics too
    got3 = {
        r["m"]: (r["doc_count"], r["total"])
        for r in es_aggregate(sales, {"m": {
            "adjacency_matrix": {"filters": {
                "us": {"term": {"region": "us"}},
                "big": {"range": {"amount": {"gte": 9}}},
            }},
            "aggs": {"total": {"sum": {"field": "amount"}}},
        }}).collect()
    }
    # us: 7+9+11+13=40; big: 10,20,9,11,13=63; big&us: 9+11+13=33
    assert got3 == {"us": (4, 40.0), "big": (5, 63.0), "big&us": (3, 33.0)}
    with pytest.raises(ValueError, match=">= 2"):
        es_aggregate(sales, {"m": {"adjacency_matrix": {
            "filters": {"only": {"term": {"region": "us"}}}}}})
    with pytest.raises(ValueError, match="separator"):
        es_aggregate(sales, {"m": {"adjacency_matrix": {"filters": {
            "a&b": {"term": {"region": "us"}},
            "c": {"term": {"region": "eu"}},
        }}}})
    with pytest.raises(ValueError, match="partitioned form"):
        es_aggregate(sales, {"r": {"terms": {
            "field": "region",
            "include": {"partition": 0, "num_partitions": 2}}}}).collect()
    with pytest.raises(ValueError, match="nested sub-bucket"):
        es_aggregate(sales, {"g": {"terms": {"field": "product"},
                                   "aggs": {"r": {"terms": {
                                       "field": "region",
                                       "exclude": "us"}}}}})


# ---------------------------------------------------------------- r6 wave 3


def test_multi_terms_key_and_null_contract(spark):
    rows = [(1, "eu", "a"), (2, "eu", "a"), (3, "us", None), (4, None, "b"),
            (5, "us", "b")]
    df = spark.createDataFrame(rows, "id long, region string, product string")
    got = {
        r["combo"]: r["doc_count"]
        for r in es_aggregate(df, {"combo": {"multi_terms": {
            "terms": [{"field": "region"}, {"field": "product"}]}}}).collect()
    }
    # a doc missing ANY source leaves the aggregation
    assert got == {"eu|a": 2, "us|b": 1}


def test_multi_terms_missing_substitute(spark):
    rows = [(1, "eu", None), (2, "eu", "a")]
    df = spark.createDataFrame(rows, "id long, region string, product string")
    got = {
        r["combo"]: r["doc_count"]
        for r in es_aggregate(df, {"combo": {"multi_terms": {
            "terms": [{"field": "region"},
                      {"field": "product", "missing": "n/a"}]}}}).collect()
    }
    assert got == {"eu|n/a": 1, "eu|a": 1}


def test_mad_odd_and_even_buckets(spark):
    rows = [("a", 1.0), ("a", 2.0), ("a", 4.0), ("a", 100.0),
            ("b", 1.0), ("b", 5.0), ("b", 9.0)]
    df = spark.createDataFrame(rows, "k string, x double")
    got = {
        r["k"]: r["m"]
        for r in es_aggregate(df, {"k": {
            "terms": {"field": "k"},
            "aggs": {"m": {"median_absolute_deviation": {"field": "x"}}},
        }}).collect()
    }
    # a: median 3, |devs| sorted [1,1,2,97] -> 1.5 ; b: median 5 -> devs [0,4,4] -> 4
    assert got == {"a": 1.5, "b": 4.0}


def test_mad_sketch_path_small_buckets_exact(spark):
    """At tiny bucket sizes the GK summary holds every value, so the
    sketch path must agree with the exact path's hand-computed values
    up to the interpolation convention (GK returns an OBSERVED value;
    exact interpolates even-count medians)."""
    rows = [("a", 1.0), ("a", 2.0), ("a", 4.0),
            ("b", 1.0), ("b", 5.0), ("b", 9.0)]
    df = spark.createDataFrame(rows, "k string, x double")
    got = {
        r["k"]: r["m"]
        for r in es_aggregate(df, {"k": {
            "terms": {"field": "k"},
            "aggs": {"m": {"median_absolute_deviation": {
                "field": "x", "execution_hint": "sketch"}}},
        }}).collect()
    }
    # a: median 2, devs [1,0,2] -> 1 ; b: median 5, devs [4,0,4] -> 4
    assert got == {"a": 1.0, "b": 4.0}
    # execution_hint "exact" is accepted and stripped
    exact = {
        r["k"]: r["m"]
        for r in es_aggregate(df, {"k": {
            "terms": {"field": "k"},
            "aggs": {"m": {"median_absolute_deviation": {
                "field": "x", "execution_hint": "exact"}}},
        }}).collect()
    }
    assert exact == {"a": 1.0, "b": 4.0}
    with pytest.raises(ValueError, match="execution_hint"):
        es_aggregate(df, {"k": {
            "terms": {"field": "k"},
            "aggs": {"m": {"median_absolute_deviation": {
                "field": "x", "execution_hint": "sideways"}}},
        }})
    # the sketch path needs the terms/histogram groupBy site: under
    # composite it reaches _metric_cols and refuses loudly
    with pytest.raises(ValueError, match="sketch path"):
        es_aggregate(df, {"page": {
            "composite": {"sources": [{"k": {"terms": {"field": "k"}}}]},
            "aggs": {"m": {"median_absolute_deviation": {
                "field": "x", "compression": 100}}},
        }}).collect()


def test_mad_zipf_skew_exact_vs_sketch(spark):
    """Zipf-skewed bucket key (one bucket holds ~87% of rows — the shape
    that OOMs the exact path's per-bucket value buffer at 100 TB): the
    exact path still answers exactly (vs a NumPy-computed MAD) and the
    sketch path lands within the GK rank-error bound of it on EVERY
    bucket, including the giant one."""
    import numpy as np

    rng = np.random.default_rng(7)
    n = 20_000
    # Zipf(2.0) over 8 bucket ids: bucket k1 holds ~61% of rows
    ranks = np.minimum(rng.zipf(2.0, n), 8)
    vals = rng.lognormal(mean=5.0, sigma=1.0, size=n)
    df = spark.createDataFrame(
        [(f"k{int(r)}", float(v)) for r, v in zip(ranks, vals)],
        "k string, x double",
    )
    share = float((ranks == 1).mean())
    assert share > 0.55  # the skew premise: one bucket dominates

    def run(spec):
        return {
            r["k"]: (r["doc_count"], r["m"])
            for r in es_aggregate(df, {"k": {
                "terms": {"field": "k", "size": 8},
                "aggs": {"m": {"median_absolute_deviation": spec}},
            }}).collect()
        }

    exact = run({"field": "x"})
    sketch = run({"field": "x", "compression": 200})  # accuracy 20000
    by_bucket: dict[str, list[float]] = {}
    for r, v in zip(ranks, vals):
        by_bucket.setdefault(f"k{int(r)}", []).append(float(v))
    assert set(exact) == set(sketch) == set(by_bucket)
    for k, xs in by_bucket.items():
        xs = np.array(xs)
        med = np.median(xs)
        want = float(np.median(np.abs(xs - med)))
        assert abs(exact[k][1] - round(want, 6)) < 1e-6, k
        # GK error: the sketch returns a value whose RANK is within
        # eps*n of the target; bound the VALUE error via the deviations'
        # order statistics at that rank distance (double eps: median and
        # deviation are both sketched)
        devs = np.sort(np.abs(xs - med))
        eps = 2.0 / 20000
        ndev = len(devs)
        lo = devs[max(0, int(np.floor(0.5 * ndev - 3 * eps * ndev)) - 2)]
        hi = devs[min(ndev - 1, int(np.ceil(0.5 * ndev + 3 * eps * ndev)) + 2)]
        # the sketched median can itself be off by eps in rank, shifting
        # every deviation; allow that shift on top of the rank window
        med_lo = np.sort(xs)[max(0, int(0.5 * ndev - 3 * eps * ndev) - 2)]
        med_hi = np.sort(xs)[min(ndev - 1, int(0.5 * ndev + 3 * eps * ndev) + 2)]
        slack = float(med_hi - med_lo)
        got = sketch[k][1]
        assert lo - slack - 1e-9 <= got <= hi + slack + 1e-9, (
            k, got, lo, hi, slack)
        assert exact[k][0] == sketch[k][0] == ndev


def test_rare_terms_tail_and_guards(spark, sales):
    # region counts: eu 3, us 4, ap 1 → max_doc_count=3 keeps ap, eu;
    # rarest first
    got = [(r["k"], r["doc_count"]) for r in es_aggregate(sales, {"k": {
        "rare_terms": {"field": "region", "max_doc_count": 3},
    }}).collect()]
    assert got == [("ap", 1), ("eu", 3)]
    # metric sub-agg rides the groupBy
    row = es_aggregate(sales, {"k": {
        "rare_terms": {"field": "region"},
        "aggs": {"m": {"max": {"field": "amount"}}},
    }}).collect()
    assert [(r["k"], r["doc_count"], r["m"]) for r in row] == [("ap", 1, 1.0)]
    with pytest.raises(ValueError, match="max_doc_count"):
        es_aggregate(sales, {"k": {
            "rare_terms": {"field": "region", "max_doc_count": 0}}})
    with pytest.raises(ValueError, match="must be metrics"):
        es_aggregate(sales, {"k": {
            "rare_terms": {"field": "region"},
            "aggs": {"p": {"terms": {"field": "product"}}},
        }})


def test_simple_metric_missing_and_unknown_params(spark):
    rows = [("k", 1.0), ("k", None), ("k", 3.0)]
    df = spark.createDataFrame(rows, "k string, x double")
    got = es_aggregate(df, {"k": {
        "terms": {"field": "k"},
        "aggs": {
            "a": {"avg": {"field": "x", "missing": 5.0}},
            "n": {"value_count": {"field": "x"}},
            "c": {"cardinality": {"field": "x",
                                  "precision_threshold": 100}},
        },
    }}).collect()[0]
    assert got["a"] == 3.0      # (1 + 5 + 3) / 3: missing substitutes
    assert got["n"] == 2        # without missing, nulls drop
    assert got["c"] == 2        # exact despite the (satisfied) threshold
    with pytest.raises(ValueError, match="unsupported avg keys"):
        es_aggregate(df, {"k": {
            "terms": {"field": "k"},
            "aggs": {"a": {"avg": {"field": "x", "script": "bad"}}},
        }})


def test_boxplot_exact_quartiles(spark, sales):
    # us amounts: 7, 9, 11, 13 → interpolated (quantile_cont) quartiles:
    # q1 @ rank 0.75 → 8.5, q2 @ 1.5 → 10, q3 @ 2.25 → 11.5
    row = {r["k"]: r for r in es_aggregate(sales.withColumnRenamed(
        "region", "k"), {"k": {
            "terms": {"field": "k"},
            "aggs": {"b": {"boxplot": {"field": "amount"}}},
        }}).collect()}["us"]
    assert (row["b_min"], row["b_max"]) == (7.0, 13.0)
    assert (row["b_q1"], row["b_q2"], row["b_q3"]) == (8.5, 10.0, 11.5)
    with pytest.raises(ValueError, match="unsupported boxplot keys"):
        es_aggregate(sales, {"k": {
            "terms": {"field": "region"},
            "aggs": {"b": {"boxplot": {"field": "amount",
                                       "compression": 50}}},
        }})


def test_top_metrics_value_at_top_sorted_doc(spark):
    rows = [("a", 1, 10.0), ("a", 3, 30.0), ("a", 2, 20.0),
            ("b", 5, 50.0), ("b", 4, 40.0)]
    df = spark.createDataFrame(rows, "k string, t long, v double")
    got = {
        r["k"]: (r["latest_v"], r["first_v"])
        for r in es_aggregate(df, {"k": {
            "terms": {"field": "k"},
            "aggs": {
                "latest": {"top_metrics": {"metrics": {"field": "v"},
                                           "sort": {"t": "desc"}}},
                "first": {"top_metrics": {"metrics": {"field": "v"},
                                          "sort": {"t": "asc"}}},
            },
        }}).collect()
    }
    assert got == {"a": (30.0, 10.0), "b": (50.0, 40.0)}
    with pytest.raises(ValueError, match="asc/desc"):
        es_aggregate(df, {"k": {
            "terms": {"field": "k"},
            "aggs": {"m": {"top_metrics": {"metrics": {"field": "v"},
                                           "sort": {"t": "down"}}}},
        }})


def test_top_metrics_size_gt_1_arrays_in_sort_order(spark):
    """size>1 (r8, formerly a refusal): each metric renders as an array of
    the values at the bucket's top `size` docs, in sort order; a bucket
    smaller than size yields its whole membership; NULL sort drops the
    doc; multiple metrics share one collect buffer; size>10 (ES's cap)
    still raises."""
    rows = [("a", 1, 10.0, 1.5), ("a", 3, 30.0, 3.5), ("a", 2, 20.0, 2.5),
            ("a", None, 99.0, 9.5), ("b", 5, 50.0, 5.5)]
    df = spark.createDataFrame(rows, "k string, t long, v double, w double")
    got = {
        r["k"]: (r["m_v"], r["m_w"])
        for r in es_aggregate(df, {"k": {
            "terms": {"field": "k"},
            "aggs": {"m": {"top_metrics": {
                "metrics": [{"field": "v"}, {"field": "w"}],
                "sort": {"t": "desc"}, "size": 2,
            }}},
        }}).collect()
    }
    assert got["a"] == ([30.0, 20.0], [3.5, 2.5])  # t=None doc dropped
    assert got["b"] == ([50.0], [5.5])             # bucket smaller than size
    # asc sort direction
    asc = {r["k"]: r["m_v"] for r in es_aggregate(df, {"k": {
        "terms": {"field": "k"},
        "aggs": {"m": {"top_metrics": {"metrics": {"field": "v"},
                                       "sort": {"t": "asc"}, "size": 3}}},
    }}).collect()}
    assert asc["a"] == [10.0, 20.0, 30.0]
    with pytest.raises(ValueError, match=r"size must be in \[1, 10\]"):
        es_aggregate(df, {"k": {
            "terms": {"field": "k"},
            "aggs": {"m": {"top_metrics": {"metrics": {"field": "v"},
                                           "sort": {"t": "desc"},
                                           "size": 11}}},
        }})


def test_string_stats_known_entropy(spark):
    df = spark.createDataFrame([("k", "aab"), ("k", "b")], "k string, s string")
    row = es_aggregate(df, {"k": {
        "terms": {"field": "k"},
        "aggs": {"s": {"string_stats": {"field": "s"}}},
    }}).collect()[0]
    # chars a,a,b,b -> entropy exactly 1 bit; lengths 3 and 1
    assert (row["s_count"], row["s_min_length"], row["s_max_length"]) == (2, 1, 3)
    assert row["s_avg_length"] == 2.0
    assert row["s_entropy"] == 1.0


def test_rate_requires_fixed_width_parent(spark, sales):
    with pytest.raises(ValueError, match="date_histogram parent"):
        es_aggregate(sales, {"k": {
            "terms": {"field": "region"},
            "aggs": {"r": {"rate": {"unit": "hour"}}},
        }})


def test_rate_rejects_variable_calendar(spark):
    df = spark.createDataFrame([(1,)], "id long").selectExpr(
        "id", "timestamp'2024-01-01 00:00:00' as ts")
    with pytest.raises(ValueError, match="not fixed-width"):
        es_aggregate(df, {"m": {
            "date_histogram": {"field": "ts", "calendar_interval": "month"},
            "aggs": {"r": {"rate": {"unit": "day"}}},
        }})


def test_rate_default_unit_is_bucket_width(spark):
    df = spark.createDataFrame(
        [(i,) for i in range(48)], "h long"
    ).selectExpr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,h) as ts")
    got = {r["d"]: r["r"] for r in es_aggregate(df, {"d": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {"r": {"rate": {}}},
    }}).collect()}
    assert got == {"2024-01-01": 24.0, "2024-01-02": 24.0}


def test_serial_diff_lag_and_validation(spark):
    df = spark.createDataFrame(
        [(i, i * i) for i in range(5)], "d long, v long"
    ).selectExpr("timestamp'2024-01-01' + make_interval(0,0,0,d) as ts", "v")
    out = es_aggregate(df, {"d": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {
            "vsum": {"sum": {"field": "v"}},
            "sd": {"serial_diff": {"buckets_path": "vsum", "lag": 2}},
        },
    }}).orderBy("d").collect()
    assert [r["sd"] for r in out] == [None, None, 4, 8, 12]
    with pytest.raises(ValueError, match="lag must be"):
        es_aggregate(df, {"d": {
            "date_histogram": {"field": "ts", "calendar_interval": "day"},
            "aggs": {"sd": {"serial_diff": {"buckets_path": "_count",
                                            "lag": 0}}},
        }})


def test_auto_date_histogram_picks_interval(spark):
    # 100 events over ~50 hours; target 6 buckets -> 12h rung
    df = spark.createDataFrame(
        [(i,) for i in range(100)], "i long"
    ).selectExpr(
        "timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,0,i*30) as ts")
    out = es_aggregate(df, {"a": {
        "auto_date_histogram": {"field": "ts", "buckets": 6}}})
    rows = out.collect()
    assert {r["interval"] for r in rows} == {"43200s"}
    assert 1 <= len(rows) <= 6
    assert sum(r["doc_count"] for r in rows) == 100


def test_stats_bucket_validates_path(spark, sales):
    with pytest.raises(ValueError, match="buckets_path"):
        es_aggregate(sales, {
            "by_region": {"terms": {"field": "region"}},
            "sb": {"stats_bucket": {"buckets_path": "wrong>_count"}},
        })


def test_sampler_requires_sort_and_subaggs(spark, sales):
    with pytest.raises(ValueError, match="sort_field"):
        es_aggregate(sales, {"s": {"sampler": {"shard_size": 3},
                                   "aggs": {"m": {"sum": {"field": "amount"}}}}})
    with pytest.raises(ValueError, match="sub-agg"):
        es_aggregate(sales, {"s": {"sampler": {
            "shard_size": 3, "sort_field": "amount"}}})


def test_sampler_top_n_only(spark, sales):
    # top-3 amounts: 20, 13, 11 -> all 'a'/'b' products mixed
    row = es_aggregate(sales, {"s": {
        "sampler": {"shard_size": 3, "sort_field": "amount",
                    "tiebreak_field": "id"},
        "aggs": {"m": {"sum": {"field": "amount"}}},
    }}).collect()
    # sampler wraps a metric-only sub-agg -> expect a single global row
    assert len(row) == 1
    assert row[0]["m"] == 20.0 + 13.0 + 11.0


def test_diversified_sampler_caps_per_value(spark, sales):
    # cap 1 per region, top-3 by amount: eu->20, us->13, ap->1
    got = {r["by_product"]: r["doc_count"] for r in es_aggregate(sales, {
        "s": {
            "diversified_sampler": {
                "field": "region", "max_docs_per_value": 1,
                "shard_size": 3, "sort_field": "amount",
                "tiebreak_field": "id",
            },
            "aggs": {"by_product": {"terms": {"field": "product"}}},
        }
    }).collect()}
    assert got == {"a": 2, "b": 1}


def test_tdigest_percentiles_within_rank_error(spark):
    """The sketch path (tdigest -> percentile_approx) must land within the
    GK rank-error bound of the exact percentiles on real data."""
    from tweets_elastic_spark.sources.catalog import load_table

    ev = load_table(spark, "/root/testdata/sf0.01", "events")
    spec = {"field": "value", "percents": [50, 90, 99]}
    exact = es_aggregate(ev, {"t": {"terms": {"field": "event_type"},
                                    "aggs": {"p": {"percentiles": spec}}}})
    approx = es_aggregate(ev, {"t": {
        "terms": {"field": "event_type"},
        "aggs": {"p": {"percentiles": {**spec,
                                       "tdigest": {"compression": 100}}}}}})
    e = {r["t"]: r for r in exact.collect()}
    a = {r["t"]: r for r in approx.collect()}
    assert set(e) == set(a) and e
    # rank error 1/accuracy = 1e-4; on these distributions that means the
    # sketch value sits within a tight neighborhood of the exact one
    for k in e:
        for col in ("p_p50", "p_p90", "p_p99"):
            lo, hi = sorted((e[k][col], a[k][col]))
            spread = abs(e[k]["p_p99"] - e[k]["p_p50"]) + 1e-9
            assert hi - lo <= 0.05 * spread + 1e-6, (k, col, e[k][col], a[k][col])


def test_significance_heuristics(spark):
    """MI is ~0 when term and foreground are independent, positive when
    associated; chi_square agrees on the ranking; bad heuristics raise."""
    # term 'a' strongly associated with fg (value>=10); 'b' independent;
    # 'c' background noise (with only TWO terms, each term's contingency
    # table is the other's complement and MI ties by symmetry)
    rows = [("a", 20.0)] * 8 + [("a", 1.0)] * 2 + \
           [("b", 20.0)] * 5 + [("b", 1.0)] * 5 + \
           [("c", 20.0)] * 10 + [("c", 1.0)] * 10
    df = spark.createDataFrame(
        [(i, t, v) for i, (t, v) in enumerate(rows)],
        "id long, term string, amount double")
    req = {"query": {"range": {"amount": {"gte": 10}}}}

    def scores(heur):
        return {
            r["s"]: r["score"] for r in es_request(df, {
                **req, "aggs": {"s": {"significant_terms": {
                    "field": "term", "size": 10, **({heur: {}} if heur else {}),
                }}},
            }).collect()
        }

    mi = scores("mutual_information")
    assert mi["a"] > mi["b"]
    chi = scores("chi_square")
    assert chi["a"] > chi["b"]
    jlh = scores(None)
    assert jlh["a"] > jlh["b"]
    with pytest.raises(ValueError, match="choose one"):
        es_request(df, {**req, "aggs": {"s": {"significant_terms": {
            "field": "term", "chi_square": {}, "jlh": {}}}}})


def test_runtime_mappings_visible_to_query_sort_and_aggs(spark, sales):
    out = es_request(sales, {
        "runtime_mappings": {
            "amount_eur": {"type": "double",
                           "script": "doc['amount'].value * 0.9"},
        },
        "query": {"range": {"amount_eur": {"gte": 9.0}}},
        "sort": [{"amount_eur": "desc"}],
        "size": 3,
        "_source": ["id", "amount_eur"],
    }, tiebreak="id").collect()
    assert [(r["id"], round(r["amount_eur"], 6)) for r in out] == [
        (2, 18.0), (7, 11.7), (6, 9.9)]
    agg = es_request(sales, {
        "runtime_mappings": {
            "amount_l": {"type": "long",
                         "script": "doc['amount'].value * 10"},
        },
        "aggs": {"m": {"global": {}, "aggs": {
            "s": {"sum": {"field": "amount_l"}}}}},
    }).collect()
    assert agg[0]["s"] == 760
    with pytest.raises(ValueError, match="double/long"):
        es_request(sales, {
            "runtime_mappings": {"x": {"type": "keyword", "script": "1"}},
            "query": {"match_all": {}},
        })


# ------------------------------------------- second-review regressions


def test_global_bucket_subagg_still_recurses(spark, sales):
    """global with a filters (or any non-metric) sub must recurse, and an
    'aggs'-first key order must not silently drop the bucket agg."""
    got = {r["f"]: r["doc_count"] for r in es_aggregate(sales, {
        "g": {"global": {}, "aggs": {"f": {"filters": {"filters": {
            "big": {"range": {"amount": {"gte": 10}}},
            "small": {"range": {"amount": {"lt": 10}}},
        }}}}},
    }).collect()}
    assert got == {"big": 4, "small": 4}
    # aggs listed BEFORE the kind inside the sub spec
    rows = es_aggregate(sales, {"g": {"global": {}, "aggs": {
        "t": {"aggs": {"m": {"sum": {"field": "amount"}}},
              "terms": {"field": "region"}},
    }}}).collect()
    assert {r["t"] for r in rows} == {"eu", "us", "ap"}


def test_chi_square_degenerate_tables_score_zero_not_null(spark, sales):
    # query matches EVERY doc -> fg == bg -> empty not-fg marginal
    rows = es_request(sales, {
        "query": {"range": {"amount": {"gte": 0}}},
        "aggs": {"s": {"significant_terms": {
            "field": "region", "chi_square": {}}}},
    }).collect()
    assert rows and all(r["score"] == 0.0 for r in rows)


def test_mi_is_signed_for_underrepresented_terms(spark, sales):
    # fg = amount>=11 -> {20(a), 11(b), 13(b)}: 'a' is 1/3 of fg but 1/2
    # of the index -> negative; 'b' 2/3 vs 1/2 -> positive
    got = {r["s"]: r["score"] for r in es_request(sales, {
        "query": {"range": {"amount": {"gte": 11}}},
        "aggs": {"s": {"significant_terms": {
            "field": "product", "mutual_information": {}}}},
    }).collect()}
    assert got["a"] < 0 < got["b"]


def test_significant_terms_metric_sub_aggs_over_foreground(spark, sales):
    """Metric sub-aggs under significant_terms aggregate the bucket's
    FOREGROUND docs only (ES: the bucket IS its matching docs; background
    prices significance), riding the same single groupBy."""
    out = {
        r["s"]: (r["doc_count"], r["bg_count"], r["fg_total"], r["fg_max"])
        for r in es_request(sales, {
            "query": {"range": {"amount": {"gte": 10}}},
            "aggs": {"s": {"significant_terms": {"field": "region"},
                           "aggs": {"fg_total": {"sum": {"field": "amount"}},
                                    "fg_max": {"max": {"field": "amount"}}}}},
        }).collect()
    }
    # fg: eu {10, 20}, us {11, 13}; bg: eu 3, us 4 docs
    assert out == {"eu": (2, 3, 30.0, 20.0), "us": (2, 4, 24.0, 13.0)}
    with pytest.raises(ValueError, match="must be metrics"):
        es_request(sales, {
            "query": {"range": {"amount": {"gte": 10}}},
            "aggs": {"s": {"significant_terms": {"field": "region"},
                           "aggs": {"b": {"terms": {"field": "product"}}}}},
        })


def test_significant_text_metric_sub_aggs_over_foreground(spark):
    """Metric sub-aggs under significant_text aggregate the token's
    FOREGROUND docs (once per distinct token per doc, the doc-frequency
    convention the counts use)."""
    rows = [
        (1, "alpha beta", 10.0), (2, "alpha", 20.0),
        (3, "beta", 5.0), (4, "alpha gamma", 1.0),
    ]
    df = spark.createDataFrame(rows, "id long, text string, amount double")
    out = {
        r["t"]: (r["doc_count"], r["bg_count"], r["fg_sum"])
        for r in es_request(df, {
            "query": {"range": {"amount": {"gte": 10}}},
            "aggs": {"t": {"significant_text": {"field": "text"},
                           "aggs": {"fg_sum": {"sum": {"field": "amount"}}}}},
        }, analyzers={"text": "standard"}).collect()
    }
    # fg docs (amount >= 10): 1, 2 → alpha fg {10, 20}, beta fg {10}
    assert out["alpha"] == (2, 3, 30.0)
    assert out["beta"] == (1, 2, 10.0)
    with pytest.raises(ValueError, match="must be metrics"):
        es_request(df, {
            "query": {"range": {"amount": {"gte": 10}}},
            "aggs": {"t": {"significant_text": {"field": "text"},
                           "aggs": {"b": {"terms": {"field": "id"}}}}},
        }, analyzers={"text": "standard"})


def test_gnd_heuristic_hand_computed(spark, sales):
    """gnd = exp(-NGD) with fx=term bg df, fy=fg size, fxy=term fg df,
    N=bg size (Cilibrasi & Vitányi's formula), hand-computed on sales."""
    import math

    got = {r["s"]: r["score"] for r in es_request(sales, {
        "query": {"range": {"amount": {"gte": 11}}},
        "aggs": {"s": {"significant_terms": {
            "field": "region", "gnd": {}}}},
    }).collect()}
    # fg = amount>=11 -> docs 2(eu), 6(us), 7(us): fg_total=3, bg_total=8
    # eu: fxy=1, fx=3; us: fxy=2, fx=4; ap: fxy=0 (filtered by doc_count>0)

    def ngd(fxy, fx, fy=3.0, n=8.0):
        num = max(math.log(fx), math.log(fy)) - math.log(fxy)
        den = math.log(n) - min(math.log(fx), math.log(fy))
        return round(math.exp(-num / den), 6)

    assert got == {"eu": ngd(1, 3), "us": ngd(2, 4)}
    assert got["us"] > got["eu"]  # smaller distance ranks higher


def test_script_heuristic_reproduces_percentage(spark, sales):
    """A script of subset_freq/superset_freq must equal the built-in
    percentage heuristic bucket-for-bucket — pins the params binding."""
    req = {"query": {"range": {"amount": {"gte": 11}}}}
    script = {**req, "aggs": {"s": {"significant_terms": {
        "field": "region",
        "script_heuristic": {"script":
                             "params._subset_freq / params._superset_freq"},
    }}}}
    pct = {**req, "aggs": {"s": {"significant_terms": {
        "field": "region", "percentage": {}}}}}
    a = sorted((r["s"], r["score"]) for r in es_request(sales, script).collect())
    b = sorted((r["s"], r["score"]) for r in es_request(sales, pct).collect())
    assert a == b and len(a) == 2
    # unknown variables stay loud
    with pytest.raises(ValueError, match="unknown params"):
        es_request(sales, {**req, "aggs": {"s": {"significant_terms": {
            "field": "region",
            "script_heuristic": {"script": "params._shard_freq"}}}}}
        ).collect()


def test_unknown_heuristics_and_params_raise(spark, sales):
    req = {"query": {"range": {"amount": {"gte": 10}}}}
    with pytest.raises(ValueError, match="unsupported gnd keys"):
        es_request(sales, {**req, "aggs": {"s": {"significant_terms": {
            "field": "region", "gnd": {"shard_size": 5}}}}})
    with pytest.raises(ValueError, match="needs a 'script'"):
        es_request(sales, {**req, "aggs": {"s": {"significant_terms": {
            "field": "region", "script_heuristic": {}}}}})
    with pytest.raises(ValueError, match="include_negatives=true"):
        es_request(sales, {**req, "aggs": {"s": {"significant_terms": {
            "field": "region",
            "mutual_information": {"include_negatives": False}}}}})
    with pytest.raises(ValueError, match="unsupported chi_square keys"):
        es_request(sales, {**req, "aggs": {"s": {"significant_terms": {
            "field": "region", "chi_square": {"shard_size": 10}}}}})


def test_significant_text_mi_uses_document_totals(spark):
    """MI under significant_text must build its 2x2 from DOC counts, not
    token-incidence sums: a token present in every fg doc and no bg-only
    doc must score positive."""
    rows = [
        (1, "alpha beta gamma delta", 20.0),
        (2, "alpha beta mixed", 20.0),
        (3, "mixed words only", 1.0),
        (4, "mixed words again here", 1.0),
    ]
    df = spark.createDataFrame(rows, "id long, text string, amount double")
    got = {r["s"]: r["score"] for r in es_request(df, {
        "query": {"range": {"amount": {"gte": 10}}},
        "aggs": {"s": {"significant_text": {
            "field": "text", "size": 20, "mutual_information": {}}}},
    }, analyzers={"text": "standard"}).collect()}
    # 'alpha': every fg doc, no bg doc -> strongly positive
    assert got["alpha"] > 0
    # 'mixed': 1/2 of fg docs but 3/4 of the index -> under-represented;
    # under the broken token-incidence totals this came out POSITIVE
    # (incidence fg share 1/6 vs doc share 1/2 distorts every cell)
    assert got["mixed"] < 0
    # bg-only tokens don't appear (doc_count=0 filter, ES's contract)
    assert "words" not in got


def test_percentage_heuristic(spark, sales):
    got = {r["s"]: r["score"] for r in es_request(sales, {
        "query": {"range": {"amount": {"gte": 11}}},
        "aggs": {"s": {"significant_terms": {
            "field": "product", "percentage": {}}}},
    }).collect()}
    # a: 1 of 4 occurrences in fg; b: 2 of 4
    assert got == {"a": 0.25, "b": 0.5}


def test_collapse_inner_hits(spark, sales):
    out = es_request(sales, {
        "query": {"match_all": {}},
        "sort": [{"amount": "desc"}],
        "collapse": {"field": "region", "inner_hits": {
            "name": "top_sales", "size": 2,
            "sort": [{"amount": "desc"}],
            "_source": ["id", "amount"],
        }},
        "size": 10,
        "_source": ["id", "region", "amount", "top_sales"],
    }, tiebreak="id").collect()
    got = {r["region"]: (r["id"], [(h["id"], h["amount"])
                                   for h in r["top_sales"]]) for r in out}
    # best hit per region + that region's top-2 by amount
    assert got["eu"] == (2, [(2, 20.0), (1, 10.0)])
    assert got["us"] == (7, [(7, 13.0), (6, 11.0)])
    assert got["ap"] == (8, [(8, 1.0)])
    with pytest.raises(ValueError, match="_source"):
        es_request(sales, {
            "query": {"match_all": {}}, "sort": [{"amount": "desc"}],
            "collapse": {"field": "region", "inner_hits": {"size": 2}},
        }, tiebreak="id")


def test_inner_hits_ties_bad_direction_null_group_and_pages(spark):
    rows = [
        (1, "eu", 10.0), (2, "eu", 10.0), (3, "eu", 5.0),
        (4, None, 9.0), (5, None, 1.0),
        (6, "us", 20.0),
    ]
    df = spark.createDataFrame(rows, "id long, region string, amount double")
    base = {
        "query": {"match_all": {}},
        "sort": [{"amount": "desc"}],
        "collapse": {"field": "region", "inner_hits": {
            "name": "h", "size": 2, "sort": [{"amount": "desc"}],
            "_source": ["id"],
        }},
        "size": 10,
        "_source": ["id", "region", "h"],
    }
    out = {r["region"]: [h["id"] for h in r["h"]]
           for r in es_request(df, base, tiebreak="id").collect()}
    # tie at amount=10 in eu: tiebreak id asc makes the inner order [1, 2]
    assert out["eu"] == [1, 2]
    # NULL collapse group still carries its inner hits (null-safe join)
    assert out[None] == [4, 5]
    # bad inner direction raises instead of silently sorting ascending
    with pytest.raises(ValueError, match="inner_hits sort"):
        es_request(df, {**base, "collapse": {"field": "region",
                   "inner_hits": {"sort": [{"amount": "DESC"}],
                                  "_source": ["id"]}}}, tiebreak="id")
    # page 2 via search_after: group representatives change, but each
    # group's inner hits stay the INDEX-wide top-N, not the page suffix
    page2 = es_request(df, {**base, "search_after": [20.0, 6]},
                       tiebreak="id").collect()
    got = {r["region"]: [h["id"] for h in r["h"]] for r in page2}
    assert got["eu"] == [1, 2]  # unchanged despite the cursor


def test_normalize_methods_rescale100_mean_and_guards(spark):
    """The two normalize methods the oracle-gated query doesn't cover
    (rescale_0_100, mean), hand-computed, plus the loud guard surface."""
    from tweets_elastic_spark.plans.aggs import es_aggregate

    df = spark.createDataFrame(
        [(0.0, 1.0), (1.0, 2.0), (2.0, 5.0)], "h double, v double"
    )
    out = es_aggregate(df, {"b": {
        "histogram": {"field": "h", "interval": 1},
        "aggs": {
            "m": {"max": {"field": "v"}},
            "r100": {"normalize": {"buckets_path": "m",
                                   "method": "rescale_0_100"}},
            "mn": {"normalize": {"buckets_path": "m", "method": "mean"}},
        },
    }}).orderBy("b").collect()
    # values 1,2,5: min 1, max 5, mean 8/3
    assert [round(r["r100"], 6) for r in out] == [0.0, 25.0, 100.0]
    assert [round(r["mn"], 6) for r in out] == [
        round((v - 8 / 3) / 4, 6) for v in (1.0, 2.0, 5.0)
    ]
    with pytest.raises(ValueError, match="unsupported normalize method"):
        es_aggregate(df, {"b": {
            "histogram": {"field": "h", "interval": 1},
            "aggs": {"m": {"max": {"field": "v"}},
                     "n": {"normalize": {"buckets_path": "m",
                                         "method": "median"}}},
        }})
    with pytest.raises(ValueError, match="unsupported normalize keys"):
        es_aggregate(df, {"b": {
            "histogram": {"field": "h", "interval": 1},
            "aggs": {"m": {"max": {"field": "v"}},
                     "n": {"normalize": {"buckets_path": "m",
                                         "method": "mean", "window": 3}}},
        }})


def test_matrix_stats_missing_contract_and_guards(spark):
    """Docs missing ANY field drop entirely (ES's contract); ``missing``
    substitutes per field before the validity check; <2 fields and
    unknown params raise."""
    from tweets_elastic_spark.plans.aggs import es_aggregate

    df = spark.createDataFrame(
        [("a", 1.0, 10.0), ("a", 2.0, 20.0), ("a", 3.0, None),
         ("a", 4.0, 40.0)],
        "k string, x double, y double",
    )
    row = es_aggregate(df, {"g": {
        "terms": {"field": "k"},
        "aggs": {"ms": {"matrix_stats": {"fields": ["x", "y"]}}},
    }}).head()
    assert row["ms_count"] == 3  # the (3.0, NULL) doc is excluded
    assert row["ms_x_mean"] == round((1 + 2 + 4) / 3, 6)
    # missing substitution revives the dropped doc
    row = es_aggregate(df, {"g": {
        "terms": {"field": "k"},
        "aggs": {"ms": {"matrix_stats": {"fields": ["x", "y"],
                                         "missing": {"y": 30.0}}}},
    }}).head()
    assert row["ms_count"] == 4
    assert row["ms_y_mean"] == 25.0
    with pytest.raises(ValueError, match="LIST of >= 2 fields"):
        es_aggregate(df, {"g": {"terms": {"field": "k"},
                                "aggs": {"ms": {"matrix_stats": {
                                    "fields": ["x"]}}}}})
    with pytest.raises(ValueError, match="unsupported matrix_stats"):
        es_aggregate(df, {"g": {"terms": {"field": "k"},
                                "aggs": {"ms": {"matrix_stats": {
                                    "fields": ["x", "y"], "mode": "u"}}}}})


def test_t_test_paired_homoscedastic_and_p_anchors(spark):
    """paired and homoscedastic variants vs an independent numpy
    computation; the attached p value vs the Student-CDF anchors; the
    guard surface (paired+filter, unknown type, bad leg keys)."""
    import numpy as np

    from tweets_elastic_spark.functions.studentt import student_t_two_sided_p
    from tweets_elastic_spark.plans.aggs import es_aggregate

    a = [3.1, 4.2, 2.8, 5.0, 3.9, 4.4]
    b = [2.0, 3.1, 2.2, 4.1, 2.9, 3.0]
    df = spark.createDataFrame(
        [("k", x, y) for x, y in zip(a, b)], "k string, a double, b double"
    )
    row = es_aggregate(df, {"g": {
        "terms": {"field": "k"},
        "aggs": {"tt": {"t_test": {"a": {"field": "a"}, "b": {"field": "b"},
                                   "type": "paired"}}},
    }}).head()
    d = np.array(a) - np.array(b)
    t_exp = d.mean() / np.sqrt(d.var(ddof=1) / len(d))
    assert row["tt_t"] == round(float(t_exp), 6)
    assert row["tt_df"] == 5.0
    assert row["tt"] == round(student_t_two_sided_p(round(float(t_exp), 6), 5.0), 6)

    row = es_aggregate(df, {"g": {
        "terms": {"field": "k"},
        "aggs": {"tt": {"t_test": {"a": {"field": "a"}, "b": {"field": "b"},
                                   "type": "homoscedastic"}}},
    }}).head()
    na = nb = len(a)
    sp2 = ((np.array(a).var(ddof=1) * (na - 1))
           + (np.array(b).var(ddof=1) * (nb - 1))) / (na + nb - 2)
    t_exp = (np.mean(a) - np.mean(b)) / np.sqrt(sp2 * (1 / na + 1 / nb))
    assert row["tt_t"] == round(float(t_exp), 6)
    assert row["tt_df"] == float(na + nb - 2)

    # CDF anchors (published table values)
    assert round(student_t_two_sided_p(2.0, 10), 6) == 0.073388
    assert round(student_t_two_sided_p(12.7062047, 1), 6) == 0.05
    assert student_t_two_sided_p(0.0, 7) == 1.0
    assert (student_t_two_sided_p(-1.5, 9)
            == student_t_two_sided_p(1.5, 9))

    with pytest.raises(ValueError, match="paired t_test cannot"):
        es_aggregate(df, {"g": {"terms": {"field": "k"}, "aggs": {
            "tt": {"t_test": {
                "a": {"field": "a", "filter": {"term": {"k": "k"}}},
                "b": {"field": "b"}, "type": "paired"}}}}})
    with pytest.raises(ValueError, match="unsupported t_test type"):
        es_aggregate(df, {"g": {"terms": {"field": "k"}, "aggs": {
            "tt": {"t_test": {"a": {"field": "a"}, "b": {"field": "b"},
                              "type": "welch"}}}}})
    with pytest.raises(ValueError, match="unsupported t_test.a keys"):
        es_aggregate(df, {"g": {"terms": {"field": "k"}, "aggs": {
            "tt": {"t_test": {"a": {"field": "a", "script": "x"},
                              "b": {"field": "b"}}}}}})


def test_geo_line_order_truncation_and_guards(spark):
    """geo_line hand-computed: sort order (asc/desc), size truncation +
    complete flag, incomplete points dropped, include_sort, guards."""
    from tweets_elastic_spark.plans.aggs import es_aggregate

    df = spark.createDataFrame(
        [("a", 3.0, 30.0, 13.0), ("a", 1.0, 10.0, 11.0),
         ("a", 2.0, 20.0, 12.0), ("a", 4.0, None, 14.0)],
        "k string, s double, lon double, lat double",
    )

    def run(body):
        return es_aggregate(df, {"g": {
            "terms": {"field": "k"},
            "aggs": {"t": {"geo_line": dict(
                {"point": {"field": {"lat": "lat", "lon": "lon"}},
                 "sort": {"field": "s"}}, **body)}},
        }}).head()

    r = run({"include_sort": True})
    assert r["t_line"] == [[10.0, 11.0], [20.0, 12.0], [30.0, 13.0]]
    assert r["t_sort_values"] == [1.0, 2.0, 3.0]
    assert r["t_complete"] is True  # the NULL-lon point dropped, 3 <= 10000
    r = run({"sort_order": "desc", "size": 2})
    assert r["t_line"] == [[30.0, 13.0], [20.0, 12.0]]
    assert r["t_complete"] is False  # 3 valid points > size 2

    with pytest.raises(ValueError, match="geo_line needs 'point'"):
        es_aggregate(df, {"g": {"terms": {"field": "k"}, "aggs": {
            "t": {"geo_line": {"point": {"field": "lon"},
                               "sort": {"field": "s"}}}}}})
    with pytest.raises(ValueError, match="geo_line needs 'sort'"):
        run.__wrapped__ if False else es_aggregate(df, {"g": {
            "terms": {"field": "k"}, "aggs": {"t": {"geo_line": {
                "point": {"field": {"lat": "lat", "lon": "lon"}}}}}}})
    with pytest.raises(ValueError, match="size must be in"):
        run({"size": 20000})
    with pytest.raises(ValueError, match="unsupported sort_order"):
        run({"sort_order": "up"})


def test_variable_width_histogram_equal_height_and_guards(spark):
    """The deterministic equal-height placement: quantile boundaries,
    ties never split, response shape key/min/max/doc_count ascending."""
    from tweets_elastic_spark.plans.aggs import es_aggregate

    df = spark.createDataFrame(
        [(float(v),) for v in [1, 1, 2, 3, 4, 5, 6, 7, 8, 100]],
        "v double",
    )
    rows = es_aggregate(df, {"vw": {
        "variable_width_histogram": {"field": "v", "buckets": 2},
    }}).collect()
    # boundary = interpolated median = (4+5)/2 = 4.5
    assert [(r["vw"], r["doc_count"], r["min"], r["max"]) for r in rows] == [
        (0, 5, 1.0, 4.0), (1, 5, 5.0, 100.0),
    ]
    assert rows[0]["key"] == round((1 + 1 + 2 + 3 + 4) / 5, 6)

    with pytest.raises(ValueError, match="unsupported variable_width"):
        es_aggregate(df, {"vw": {"variable_width_histogram": {
            "field": "v", "buckets": 2, "initial_buffer": 100}}})
    with pytest.raises(ValueError, match="buckets must be in"):
        es_aggregate(df, {"vw": {"variable_width_histogram": {
            "field": "v", "buckets": 0}}})
    with pytest.raises(ValueError, match="sub-aggs must be metrics"):
        es_aggregate(df, {"vw": {
            "variable_width_histogram": {"field": "v", "buckets": 2},
            "aggs": {"t": {"terms": {"field": "v"}}}}})


def test_moving_percentiles_hand_computed_and_guards(spark):
    """Exact windowed percentiles over hand data; shift=1 includes the
    current bucket; guards (bad buckets_path, window, parent kind)."""
    from tweets_elastic_spark.plans.aggs import es_aggregate

    rows = [(0.0, v) for v in (1.0, 3.0)] \
         + [(1.0, v) for v in (5.0, 7.0)] \
         + [(2.0, v) for v in (9.0, 11.0)]
    df = spark.createDataFrame(rows, "h double, v double")

    def run(window, shift=0):
        return es_aggregate(df, {"b": {
            "histogram": {"field": "h", "interval": 1},
            "aggs": {
                "p": {"percentiles": {"field": "v", "percents": [50]}},
                "mp": {"moving_percentiles": {
                    "buckets_path": "p", "window": window,
                    **({"shift": shift} if shift else {})}},
            },
        }}).orderBy("b").collect()

    out = run(2)
    # shift=0: window is the 2 buckets BEFORE current
    assert [r["mp_p50"] for r in out] == [None, 2.0, 4.0]
    out = run(2, shift=1)
    # shift=1: current + previous; median of [1,3,5,7] = 4
    assert [r["mp_p50"] for r in out] == [2.0, 4.0, 8.0]
    assert "__mp_p" not in {c for r in out for c in r.asDict()}

    with pytest.raises(ValueError, match="must name a sibling"):
        es_aggregate(df, {"b": {
            "histogram": {"field": "h", "interval": 1},
            "aggs": {"s": {"sum": {"field": "v"}},
                     "mp": {"moving_percentiles": {
                         "buckets_path": "s", "window": 2}}}}})
    with pytest.raises(ValueError, match="window must be > 0"):
        run(0)
    with pytest.raises(ValueError, match="histogram-family parent"):
        es_aggregate(df, {"b": {
            "terms": {"field": "h"},
            "aggs": {"p": {"percentiles": {"field": "v"}},
                     "mp": {"moving_percentiles": {
                         "buckets_path": "p", "window": 2}}}}})


def test_random_sampler_deterministic_and_guards(spark):
    """random_sampler: the hash-threshold sample is deterministic
    (same seed -> same sample; different seed -> different sample),
    sub-aggs run over the sample only, and the guard surface is loud."""
    from tweets_elastic_spark.plans.aggs import es_aggregate

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(200)], "id long, v double"
    )

    def run(seed):
        return es_aggregate(df, {"s": {
            "random_sampler": {"probability": 0.3, "seed": seed,
                               "id_field": "id"},
            "aggs": {"n": {"value_count": {"field": "v"}}},
        }}).head()

    a, b = run(1), run(1)
    assert a["n"] == b["n"] and a["doc_count"] == b["doc_count"]
    assert a["sampling_probability"] == 0.3
    assert 0 < a["doc_count"] < 200  # a real, proper subset
    assert run(2)["n"] != a["n"] or run(3)["n"] != a["n"]

    with pytest.raises(ValueError, match="probability must be in"):
        es_aggregate(df, {"s": {
            "random_sampler": {"probability": 0.7, "id_field": "id"},
            "aggs": {"n": {"value_count": {"field": "v"}}}}})
    with pytest.raises(ValueError, match="explicit 'id_field'"):
        es_aggregate(df, {"s": {
            "random_sampler": {"probability": 0.3},
            "aggs": {"n": {"value_count": {"field": "v"}}}}})
    with pytest.raises(ValueError, match="needs sub-aggregations"):
        es_aggregate(df, {"s": {
            "random_sampler": {"probability": 0.3, "id_field": "id"}}})


def test_scripted_metric_custom_sum_and_guards(spark):
    """scripted_metric's supported custom-sum shape vs a hand sum, and
    the loud guard surface for every script slot."""
    from tweets_elastic_spark.plans.aggs import es_aggregate

    df = spark.createDataFrame(
        [("a", 2.0), ("a", 3.0), ("b", 10.0), ("a", None)],
        "k string, v double",
    )

    def run(**over):
        body = {
            "init_script": "state.t = 0",
            "map_script": "state.t += doc['v'].value * params.m",
            "combine_script": "return state.t",
            "reduce_script":
                "double t = 0; for (s in states) { t += s } return t",
            "params": {"m": 3},
        }
        body.update(over)
        return es_aggregate(df, {"g": {
            "terms": {"field": "k"},
            "aggs": {"sm": {"scripted_metric": body}},
        }}).orderBy("g").collect()

    rows = run()
    # NULL v drops out of the sum (documented divergence from ES's throw)
    assert [(r["g"], r["sm"]) for r in rows] == [("a", 15.0), ("b", 30.0)]

    with pytest.raises(ValueError, match="init_script must be"):
        run(init_script="state.t = []")
    with pytest.raises(ValueError, match="init value must be 0"):
        run(init_script="state.t = 5")
    with pytest.raises(ValueError, match="map_script must be"):
        run(map_script="state.other += doc['v'].value")
    with pytest.raises(ValueError, match="combine_script must be"):
        run(combine_script="return state.t * 2")
    with pytest.raises(ValueError, match="canonical sum-over-states"):
        run(reduce_script="return states.stream().max()")
    with pytest.raises(ValueError, match="unsupported scripted_metric"):
        run(weird=1)


def test_percentiles_hdr_option_routes_to_sketch(spark):
    """The hdr option (significant value digits) routes to the same
    mergeable sketch path as tdigest; results stay within rank-error of
    the exact percentile; tdigest+hdr together raise."""
    from tweets_elastic_spark.plans.aggs import es_aggregate

    df = spark.createDataFrame(
        [(float(i),) for i in range(1000)], "v double"
    )
    rows = es_aggregate(df, {"g": {
        "histogram": {"field": "v", "interval": 1000},
        "aggs": {"p": {"percentiles": {
            "field": "v", "percents": [50],
            "hdr": {"number_of_significant_value_digits": 3}}}},
    }}).head()
    assert abs(rows["p_p50"] - 499.5) <= 1.0  # rank error << 1e-3

    with pytest.raises(ValueError, match="tdigest OR hdr"):
        es_aggregate(df, {"g": {
            "histogram": {"field": "v", "interval": 1000},
            "aggs": {"p": {"percentiles": {
                "field": "v", "tdigest": {}, "hdr": {}}}}}})
    with pytest.raises(ValueError, match="significant_value_digits"):
        es_aggregate(df, {"g": {
            "histogram": {"field": "v", "interval": 1000},
            "aggs": {"p": {"percentiles": {
                "field": "v",
                "hdr": {"number_of_significant_value_digits": 9}}}}}})


def test_geo_bounds_wrap_and_regular(spark):
    pts = spark.createDataFrame(
        [(1, "wrap", 10.0, 179.0), (2, "wrap", -5.0, -179.0),
         (3, "wrap", 2.0, 175.0),
         (4, "reg", 40.0, -10.0), (5, "reg", 50.0, 30.0)],
        "id long, grp string, lat double, lon double",
    )
    dsl = {"g": {"terms": {"field": "grp"},
                 "aggs": {"b": {"geo_bounds": {
                     "field": {"lat": "lat", "lon": "lon"}}}}}}
    got = {r["g"]: r.asDict() for r in es_aggregate(pts, dsl).collect()}
    # wrap group spans [175, 179] ∪ [-179]: the antimeridian box
    # (width 6) beats the regular box (width 358) → left > right
    assert got["wrap"]["b_left"] == 175.0
    assert got["wrap"]["b_right"] == -179.0
    assert got["wrap"]["b_top"] == 10.0 and got["wrap"]["b_bottom"] == -5.0
    # regular group never wraps
    assert got["reg"]["b_left"] == -10.0 and got["reg"]["b_right"] == 30.0

    # wrap_longitude=False forces the regular box even across the seam
    dsl_nw = {"g": {"terms": {"field": "grp"},
                    "aggs": {"b": {"geo_bounds": {
                        "field": {"lat": "lat", "lon": "lon"},
                        "wrap_longitude": False}}}}}
    got_nw = {r["g"]: r.asDict() for r in es_aggregate(pts, dsl_nw).collect()}
    assert got_nw["wrap"]["b_left"] == -179.0
    assert got_nw["wrap"]["b_right"] == 179.0

    # null in either coordinate drops the point; field-shape guard raises
    with_null = spark.createDataFrame(
        [(1, "g", 1.0, None), (2, "g", 3.0, 7.0)],
        "id long, grp string, lat double, lon double",
    )
    row = es_aggregate(with_null, {"g": {
        "terms": {"field": "grp"},
        "aggs": {"b": {"geo_bounds": {
            "field": {"lat": "lat", "lon": "lon"}}}}}}).collect()[0]
    assert row["b_left"] == 7.0 and row["b_top"] == 3.0
    with pytest.raises(ValueError, match="lat.*lon"):
        es_aggregate(pts, {"g": {"terms": {"field": "grp"},
                                 "aggs": {"b": {"geo_bounds":
                                                {"field": "lon"}}}}})


def test_cumulative_cardinality(spark):
    rows = [
        # (day-bucket via ts double histogram) — entity u first-seen days:
        # u1@d0, u2@d0, u1@d1 (not new), u3@d2
        (1, 0.0, "u1"), (2, 10.0, "u2"),
        (3, 100.0, "u1"),
        (4, 200.0, "u3"), (5, 210.0, None),  # null entity never counts
    ]
    df = spark.createDataFrame(rows, "id long, t double, u string")
    out = es_aggregate(df, {"b": {
        "histogram": {"field": "t", "interval": 100},
        "aggs": {
            "du": {"cardinality": {"field": "u"}},
            "cc": {"cumulative_cardinality": {"buckets_path": "du"}},
        },
    }}).orderBy("b").collect()
    assert [(r["b"], r["du"], r["cc"]) for r in out] == [
        (0.0, 2, 2), (100.0, 1, 2), (200.0, 1, 3),
    ]
    with pytest.raises(ValueError, match="cardinality agg"):
        es_aggregate(df, {"b": {
            "histogram": {"field": "t", "interval": 100},
            "aggs": {"cc": {"cumulative_cardinality":
                            {"buckets_path": "nope"}}},
        }})
    with pytest.raises(ValueError, match="histogram-family"):
        es_aggregate(df, {"b": {
            "terms": {"field": "u"},
            "aggs": {
                "du": {"cardinality": {"field": "u"}},
                "cc": {"cumulative_cardinality": {"buckets_path": "du"}},
            },
        }})


def test_ip_range_semantics(spark):
    df = spark.createDataFrame(
        [(1, "10.0.0.5"), (2, "10.0.0.128"), (3, "10.0.1.0"),
         (4, "not-an-ip"), (5, "10.0.0.300"), (6, None)],
        "id long, ip string",
    )
    dsl = {"b": {"ip_range": {"field": "ip", "ranges": [
        {"to": "10.0.0.128"},
        {"mask": "10.0.0.128/25"},  # 10.0.0.128 - 10.0.1.0
        {"from": "10.0.1.0"},
    ]}}}
    got = {r["b"]: r["doc_count"] for r in es_aggregate(df, dsl).collect()}
    # to is exclusive; malformed / out-of-range octet / NULL land nowhere
    assert got == {"*-10.0.0.128": 1, "10.0.0.128/25": 1, "10.0.1.0-*": 1}
    # mask normalizes to the network start
    dsl_m = {"b": {"ip_range": {"field": "ip", "ranges": [
        {"mask": "10.0.0.77/25"}]}}}  # host bits stripped -> 10.0.0.0/25
    got = {r["b"]: r["doc_count"] for r in es_aggregate(df, dsl_m).collect()}
    assert got == {"10.0.0.77/25": 1}
    # overlap and bad addresses refuse
    with pytest.raises(ValueError, match="non-overlapping"):
        es_aggregate(df, {"b": {"ip_range": {"field": "ip", "ranges": [
            {"to": "10.0.1.0"}, {"from": "10.0.0.128"}]}}})
    with pytest.raises(ValueError, match="bad IPv4"):
        es_aggregate(df, {"b": {"ip_range": {"field": "ip", "ranges": [
            {"from": "10.0.0"}]}}})
    # an IPv6 spec no longer refuses — it dispatches to the v6 path
    # (all-IPv4 column values then land in no bucket)
    got6 = es_aggregate(df, {"b": {"ip_range": {"field": "ip", "ranges": [
        {"from": "::1"}]}}}).filter("b IS NOT NULL").count()
    assert got6 == 0


def test_categorize_text_semantics(spark):
    df = spark.createDataFrame(
        [(1, "Node 3 shutting down"), (2, "Node 7 shutting down"),
         (3, "User admin logged in"), (4, "12345 67"), (5, None)],
        "id long, msg string",
    )
    dsl = {"cat": {"categorize_text": {"field": "msg"}}}
    got = {r["cat"]: r["doc_count"] for r in es_aggregate(df, dsl).collect()}
    # digit-bearing tokens are variables; all-variable messages and NULLs
    # land in no bucket
    assert got == {"Node shutting down": 2, "User admin logged in": 1}
    # max_matched_tokens truncates the key
    dsl2 = {"cat": {"categorize_text": {"field": "msg",
                                        "max_matched_tokens": 2}}}
    got = {r["cat"]: r["doc_count"] for r in es_aggregate(df, dsl2).collect()}
    assert got == {"Node shutting": 2, "User admin": 1}
    with pytest.raises(ValueError, match="similarity_threshold"):
        es_aggregate(df, {"cat": {"categorize_text": {
            "field": "msg", "similarity_threshold": 70}}})


def test_change_point_sibling(spark):
    df = spark.createDataFrame(
        [(i, float(b) * 100, v) for i, (b, v) in enumerate(
            [(0, 1.0), (1, 1.0), (2, 1.0), (3, 9.0), (4, 9.0)])],
        "id long, t double, v double",
    )
    out = es_aggregate(df, {
        "b": {"histogram": {"field": "t", "interval": 100},
              "aggs": {"m": {"sum": {"field": "v"}}}},
        "cp": {"change_point": {"buckets_path": "b>m"}},
    }).collect()
    import math
    want = round(math.sqrt(3 * 2 / 5) * 8.0, 6)
    assert all(r["cp_key"] == 200.0 and r["cp_stat"] == want for r in out)
    assert len(out) == 5
    with pytest.raises(ValueError, match="histogram-family"):
        es_aggregate(df, {
            "b": {"terms": {"field": "t"},
                  "aggs": {"m": {"sum": {"field": "v"}}}},
            "cp": {"change_point": {"buckets_path": "b>m"}},
        })


def test_frequent_item_sets(spark):
    df = spark.createDataFrame(
        [(1, ["milk", "bread", "beer"]),
         (2, ["milk", "bread"]),
         (3, ["milk", "eggs"]),
         (4, ["bread", "milk", "milk"]),  # dup item counts once per doc
         (5, [])],
        "id long, tags array<string>",
    )
    got = {tuple(r["sets"]): (r["doc_count"], r["support"])
           for r in es_aggregate(df, {"sets": {"frequent_item_sets": {
               "fields": [{"field": "tags"}],
               "minimum_support": 0.5,
           }}}).collect()}
    # n = 5 docs; milk 4/5, bread 3/5, (bread, milk) 3/5 — sorted keys
    assert got == {("milk",): (4, 0.8), ("bread",): (3, 0.6),
                   ("bread", "milk"): (3, 0.6)}
    # minimum_set_size=2 drops singles
    got2 = {tuple(r["sets"]) for r in es_aggregate(df, {"sets": {
        "frequent_item_sets": {"fields": [{"field": "tags"}],
                               "minimum_support": 0.5,
                               "minimum_set_size": 2}}}).collect()}
    assert got2 == {("bread", "milk")}
    with pytest.raises(ValueError, match="unsupported"):
        es_aggregate(df, {"s": {"frequent_item_sets": {
            "fields": [{"field": "tags"}], "maximum_set_size": 3}}})
    with pytest.raises(ValueError, match="exactly one"):
        es_aggregate(df, {"s": {"frequent_item_sets": {
            "fields": [{"field": "a"}, {"field": "b"}]}}})


def test_ip_prefix_semantics(spark):
    from tweets_elastic_spark.plans.aggs import es_aggregate

    df = spark.createDataFrame(
        [(1, "10.0.0.5"), (2, "10.0.0.200"), (3, "10.0.1.7"),
         (4, "192.168.3.9"), (5, "not-an-ip"), (6, "10.0.0.300"), (7, None)],
        "id long, ip string",
    )
    dsl = {"b": {"ip_prefix": {"field": "ip", "prefix_length": 24}}}
    got = {r["b"]: r["doc_count"] for r in es_aggregate(df, dsl).collect()}
    # /24 networks; malformed / out-of-range / NULL land nowhere
    assert got == {"10.0.0.0": 2, "10.0.1.0": 1, "192.168.3.0": 1}
    dsl2 = {"b": {"ip_prefix": {"field": "ip", "prefix_length": 16,
                                "append_prefix_length": True}}}
    got = {r["b"]: r["doc_count"] for r in es_aggregate(df, dsl2).collect()}
    assert got == {"10.0.0.0/16": 3, "192.168.0.0/16": 1}
    with pytest.raises(ValueError, match="prefix_length"):
        es_aggregate(df, {"b": {"ip_prefix": {
            "field": "ip", "prefix_length": 33}}})


def test_ip_prefix_ipv6_semantics(spark):
    """is_ipv6 (r12, formerly a loud refusal): group-wise masking + RFC
    5952 canonical keys; malformed / IPv4 / zoned / embedded-quad
    addresses land in no bucket."""
    from tweets_elastic_spark.plans.aggs import es_aggregate

    df = spark.createDataFrame(
        [(1, "2001:db8::1"), (2, "2001:DB8:0:0:0:0:0:2"),   # same /64
         (3, "2001:db8:0:1::5"),                             # next /64
         (4, "fe80::1%eth0"), (5, "::ffff:1.2.3.4"),         # refused forms
         (6, "10.0.0.1"), (7, "not-an-ip"), (8, None),
         (9, "::"), (10, "1:0:0:2:3:0:0:4")],                # tie: leftmost
        "id long, ip string",
    )
    dsl = {"b": {"ip_prefix": {"field": "ip", "prefix_length": 64,
                               "is_ipv6": True}}}
    got = {r["b"]: r["doc_count"] for r in es_aggregate(df, dsl).collect()
           if r["b"] is not None}
    assert got == {"2001:db8::": 2, "2001:db8:0:1::": 1, "::": 1,
                   "1:0:0:2::": 1}
    # partial-group mask + append_prefix_length + leftmost-tie render
    dsl2 = {"b": {"ip_prefix": {"field": "ip", "prefix_length": 20,
                                "is_ipv6": True,
                                "append_prefix_length": True}}}
    got2 = {r["b"]: r["doc_count"] for r in es_aggregate(df, dsl2).collect()
            if r["b"] is not None}
    # 0x0db8's top 4 bits are 0, so the 2001:db8 rows mask to 2001::
    assert got2 == {"2001::/20": 3, "::/20": 1, "1::/20": 1}
    with pytest.raises(ValueError, match="prefix length"):
        es_aggregate(df, {"b": {"ip_prefix": {
            "field": "ip", "prefix_length": 129, "is_ipv6": True}}})


def test_ip_range_ipv6_semantics(spark):
    """IPv6 ip_range (r12): [from, to) group-wise compare, CIDR masks,
    unbounded ends, malformed-address policy, mixed-spec refusal."""
    from tweets_elastic_spark.plans.aggs import es_aggregate

    df = spark.createDataFrame(
        [(1, "2001:db8::1"), (2, "2001:db8::ffff"),      # inside /64
         (3, "2001:db8:0:1::"),                           # == to: excluded
         (4, "2001:db7:ffff:ffff:ffff:ffff:ffff:ffff"),  # just below from
         (5, "ffff::1"),                                  # top bucket
         (6, "10.0.0.1"), (7, "nope"), (8, None)],
        "id long, ip string",
    )
    dsl = {"b": {"ip_range": {"field": "ip", "ranges": [
        {"to": "2001:db8::", "key": "below"},
        {"from": "2001:db8::", "to": "2001:db8:0:1::", "key": "net"},
        {"from": "fe00::", "key": "top"},
    ]}}}
    got = {r["b"]: r["doc_count"] for r in es_aggregate(df, dsl).collect()
           if r["b"] is not None}
    assert got == {"below": 1, "net": 2, "top": 1}
    # CIDR mask + default label + whole-space upper bound
    dsl2 = {"b": {"ip_range": {"field": "ip", "ranges": [
        {"mask": "2001:db8::/64"},
        {"from": "2001:db8:0:1::"},
    ]}}}
    got2 = {r["b"]: r["doc_count"] for r in es_aggregate(df, dsl2).collect()
            if r["b"] is not None}
    assert got2 == {"2001:db8::/64": 2, "2001:db8:0:1::-*": 2}
    with pytest.raises(ValueError, match="mixed"):
        es_aggregate(df, {"b": {"ip_range": {"field": "ip", "ranges": [
            {"mask": "10.0.0.0/8"}, {"from": "2001:db8::"}]}}})
    with pytest.raises(ValueError, match="sorted and non-overlapping"):
        es_aggregate(df, {"b": {"ip_range": {"field": "ip", "ranges": [
            {"from": "2001:db8::"}, {"from": "2001:db9::"}]}}})
    with pytest.raises(ValueError, match="bad IPv6"):
        es_aggregate(df, {"b": {"ip_range": {"field": "ip", "ranges": [
            {"from": "2001:zz::"}]}}})


def test_ipv6_canonical_matches_python_ipaddress(spark):
    """The parse→mask→render chain is pinned against the stdlib
    ipaddress module over structured-random addresses biased toward
    zero runs (compression edge cases) at several prefix lengths —
    the independent-decoder check for functions/ip.py."""
    import ipaddress
    import random

    from pyspark.sql import functions as F

    from tweets_elastic_spark.functions.ip import (
        ipv6_canonical, ipv6_groups, ipv6_mask,
    )

    random.seed(12)
    addrs = []
    for _ in range(120):
        gs = [random.choice([0, 0, 0, 1, 0xFFFF, random.getrandbits(16)])
              for _ in range(8)]
        addrs.append(str(ipaddress.IPv6Address(
            bytes(b for g in gs for b in g.to_bytes(2, "big")))))
    addrs += ["2001:0DB8:0:0:0:0:0:1", "0:0:0:0:0:0:0:0",
              "1:0:0:2:3:0:0:4", "a:b:c:d:e:f:1:2", "fe80:0:0:0:1:0:0:1"]
    df = spark.createDataFrame([(a,) for a in addrs], "addr string")
    for bits in (0, 1, 15, 16, 17, 64, 68, 127, 128):
        got = df.select("addr", ipv6_canonical(
            ipv6_mask(ipv6_groups(F.col("addr")), bits)).alias("k")
        ).collect()
        for r in got:
            want = str(ipaddress.ip_network(
                f"{r['addr']}/{bits}", strict=False).network_address)
            assert r["k"] == want, (r["addr"], bits, r["k"], want)


def test_extended_stats_bucket_sibling(spark):
    from tweets_elastic_spark.plans.aggs import es_aggregate

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a"), (4, "b")], "id long, g string"
    )
    out = es_aggregate(df, {
        "t": {"terms": {"field": "g"}},
        "xb": {"extended_stats_bucket": {"buckets_path": "t>_count"}},
    }).collect()
    row = {r["t"]: r for r in out}
    # bucket counts [3, 1]: avg 2, pop variance 1, std 1, bounds 2±2
    r = row["a"]
    assert (r["xb_count"], r["xb_avg"], r["xb_sum"]) == (2, 2.0, 4.0)
    assert (r["xb_sum_of_squares"], r["xb_variance"]) == (10.0, 1.0)
    assert (r["xb_std_deviation"], r["xb_std_upper"], r["xb_std_lower"]) \
        == (1.0, 4.0, 0.0)
    # custom sigma
    out2 = es_aggregate(df, {
        "t": {"terms": {"field": "g"}},
        "xb": {"extended_stats_bucket": {"buckets_path": "t>_count",
                                         "sigma": 1.0}},
    }).collect()[0]
    assert (out2["xb_std_upper"], out2["xb_std_lower"]) == (3.0, 1.0)


def test_reverse_nested_counts_parents(spark):
    from tweets_elastic_spark.plans.aggs import es_aggregate

    df = spark.createDataFrame(
        [
            (1, [{"tag": "x"}, {"tag": "x"}, {"tag": "y"}]),
            (2, [{"tag": "x"}]),
            (3, [{"tag": "y"}]),
        ],
        "id long, anns array<struct<tag:string>>",
    )
    dsl = {"ca": {"nested": {"path": "anns"}, "aggs": {
        "by_tag": {"terms": {"field": "anns.tag"},
                   "aggs": {"parents": {"reverse_nested": {}}}},
    }}}
    got = {r["by_tag"]: (r["doc_count"], r["parents"])
           for r in es_aggregate(df, dsl).collect()}
    # x: 3 elements across 2 parents; y: 2 elements across 2 parents
    assert got == {"x": (3, 2), "y": (2, 2)}
    with pytest.raises(ValueError, match=r"unsupported reverse_nested keys: \['path'\]"):
        es_aggregate(df, {"ca": {"nested": {"path": "anns"}, "aggs": {
            "by_tag": {"terms": {"field": "anns.tag"},
                       "aggs": {"p": {"reverse_nested": {"path": "anns"}}}},
        }}})


def test_highlight_fragments(spark):
    """r11 fragment mode (number_of_fragments > 0): fixed-char windows
    around each match in document order — last fsize//3 chars of prefix
    + pre-tag + first fsize - fsize//3 chars from the match on."""
    from tweets_elastic_spark.plans.aggs import es_request

    text = ("aaaa spark bbbb cccc dddd eeee ffff spark gggg hhhh "
            "iiii jjjj kkkk llll spark mmmm")
    df = spark.createDataFrame([(1, text, 1.0)],
                               "id long, text string, amount double")
    req = {
        "query": {"match": {"text": {"query": "spark"}}},
        "sort": [{"amount": "desc"}],
        "highlight": {"fields": {"text": {
            "number_of_fragments": 2, "fragment_size": 30,
        }}},
    }
    (row,) = es_request(df, req, analyzers={"text": "standard"},
                        tiebreak="id").collect()
    frags = row["text_fragments"]
    assert len(frags) == 2  # first two matches, document order
    for f in frags:
        assert "<em>spark</em>" in f
        # window arithmetic: <= 10 chars context, then the re-added
        # pre-tag + <= 20 chars from the match on
        pre_len = f.index("<em>")
        assert pre_len <= 10 and len(f) - pre_len <= len("<em>") + 20
    assert frags[0].startswith("aaaa <em>spark")  # only 5 chars before
    # more fragments requested than matches -> all matches, no padding
    req["highlight"]["fields"]["text"]["number_of_fragments"] = 9
    (row,) = es_request(df, req, analyzers={"text": "standard"},
                        tiebreak="id").collect()
    assert len(row["text_fragments"]) == 3
    # no match in the field -> empty fragment list, row still returned
    df2 = spark.createDataFrame([(1, "nothing here", 1.0)],
                                "id long, text string, amount double")
    req2 = {
        "query": {"match": {"text": {"query": "spark nothing"}}},
        "sort": [{"amount": "desc"}],
        "highlight": {"fields": {"text": {"number_of_fragments": 2}}},
    }
    (row,) = es_request(df2, req2, analyzers={"text": "standard"},
                        tiebreak="id").collect()
    assert row["text_fragments"] == ["<em>nothing</em> here"]


def test_filters_and_adjacency_nested_bucket_sub(spark):
    """r12: filters / adjacency_matrix accept ONE nested BUCKET sub-agg
    (shared _tagged_nested_bucket): rows explode on matching cells, one
    (cell, inner-key) groupBy evaluates the inner bucket + its metrics.
    Overlapping docs feed every cell they match; empty cells drop."""
    from tweets_elastic_spark.plans.aggs import es_aggregate

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 30.0), (3, "b", 30.0),
         (4, "b", 50.0), (5, None, 30.0)],
        "id long, k string, v double",
    )
    got = {(r["f"], r["ks"]): (r["doc_count"], r["avg_v"])
           for r in es_aggregate(df, {"f": {
               "filters": {"filters": {
                   "lo": {"range": {"v": {"lt": 40}}},
                   "hi": {"range": {"v": {"gte": 30}}},
               }},
               "aggs": {"ks": {"terms": {"field": "k"},
                               "aggs": {"avg_v": {"avg": {"field": "v"}}}}},
           }}).collect()}
    # NULL k drops (inner null contract); overlap: v=30 rows hit both
    assert got == {
        ("lo", "a"): (2, 20.0), ("lo", "b"): (1, 30.0),
        ("hi", "a"): (1, 30.0), ("hi", "b"): (2, 40.0),
    }
    # adjacency: pair cells feed the same inner bucket; empty pairs drop
    got2 = {(r["adj"], r["ks"]): r["doc_count"]
            for r in es_aggregate(df, {"adj": {
                "adjacency_matrix": {"filters": {
                    "lo": {"range": {"v": {"lt": 40}}},
                    "hi": {"range": {"v": {"gte": 30}}},
                }},
                "aggs": {"ks": {"terms": {"field": "k"}}},
            }}).collect()}
    assert got2 == {
        ("lo", "a"): 2, ("lo", "b"): 1, ("hi", "a"): 1, ("hi", "b"): 2,
        ("hi&lo", "a"): 1, ("hi&lo", "b"): 1,  # the v=30 overlap rows
    }
    # inner histogram works through the same path
    got3 = {(r["adj"], r["hv"]): r["doc_count"]
            for r in es_aggregate(df, {"adj": {
                "adjacency_matrix": {"filters": {
                    "lo": {"range": {"v": {"lt": 40}}},
                    "hi": {"range": {"v": {"gte": 30}}},
                }},
                "aggs": {"hv": {"histogram": {"field": "v",
                                              "interval": 25}}},
            }}).collect()}
    # the NULL-k row participates here: the inner key is v, not k
    assert got3 == {("lo", 0.0): 1, ("lo", 25.0): 3, ("hi", 25.0): 3,
                    ("hi", 50.0): 1, ("hi&lo", 25.0): 3}
    # refusals: metrics NEXT TO a bucket sub; >1 bucket sub; 3 levels
    with pytest.raises(ValueError, match="exactly ONE bucket sub-agg"):
        es_aggregate(df, {"f": {
            "filters": {"filters": {"lo": {"range": {"v": {"lt": 40}}}}},
            "aggs": {"ks": {"terms": {"field": "k"}},
                     "m": {"avg": {"field": "v"}}},
        }})
    with pytest.raises(ValueError, match="deeper than two levels"):
        es_aggregate(df, {"f": {
            "filters": {"filters": {"lo": {"range": {"v": {"lt": 40}}}}},
            "aggs": {"ks": {"terms": {"field": "k"},
                            "aggs": {"k2": {"terms": {"field": "k"}}}}},
        }})
    with pytest.raises(ValueError, match="include/exclude"):
        es_aggregate(df, {"f": {
            "filters": {"filters": {"lo": {"range": {"v": {"lt": 40}}}}},
            "aggs": {"ks": {"terms": {"field": "k", "include": "a.*"}}},
        }})


def test_time_series_buckets_and_guards(spark, sales):
    # one bucket per distinct (region, product) dimension tuple, ordered
    # by the tuple ascending; metric sub-aggs ride the groupBy
    got = [
        (r["region"], r["product"], r["doc_count"], r["m"])
        for r in es_aggregate(sales, {"s": {
            "time_series": {"dimensions": ["region", "product"]},
            "aggs": {"m": {"max": {"field": "amount"}}},
        }}).collect()
    ]
    assert got == [
        ("ap", "a", 1, 1.0), ("eu", "a", 2, 20.0), ("eu", "b", 1, 5.0),
        ("us", "a", 1, 7.0), ("us", "b", 3, 13.0),
    ]
    # size caps the series list AFTER the dimension-tuple order
    capped = es_aggregate(sales, {"s": {
        "time_series": {"dimensions": ["region", "product"], "size": 2},
    }}).collect()
    assert [(r["region"], r["product"]) for r in capped] == \
        [("ap", "a"), ("eu", "a")]
    # null contract: a row missing ANY dimension forms no series
    rows = [("eu", None, 1.0), ("eu", "a", 2.0), (None, "a", 3.0)]
    df = spark.createDataFrame(rows, "region string, product string, v double")
    only = es_aggregate(df, {"s": {
        "time_series": {"dimensions": ["region", "product"]},
    }}).collect()
    assert [(r["region"], r["product"], r["doc_count"]) for r in only] == \
        [("eu", "a", 1)]
    # refusals: missing/empty dimensions, bad size, bucket sub-agg,
    # unknown parameters
    with pytest.raises(ValueError, match="dimensions"):
        es_aggregate(sales, {"s": {"time_series": {}}})
    with pytest.raises(ValueError, match="dimensions"):
        es_aggregate(sales, {"s": {"time_series": {"dimensions": []}}})
    with pytest.raises(ValueError, match="size must be >= 1"):
        es_aggregate(sales, {"s": {
            "time_series": {"dimensions": ["region"], "size": 0}}})
    with pytest.raises(ValueError, match="must be metrics"):
        es_aggregate(sales, {"s": {
            "time_series": {"dimensions": ["region"]},
            "aggs": {"p": {"terms": {"field": "product"}}},
        }})
    with pytest.raises(ValueError, match="unsupported time_series"):
        es_aggregate(sales, {"s": {
            "time_series": {"dimensions": ["region"], "keyed": True}}})


def test_inference_pipeline_models_and_guards(spark, sales):
    # regression: linear response over bucket metrics (here: amount sum
    # and count per region) — verified against hand arithmetic
    got = {
        r["k"]: r["pred"]
        for r in es_aggregate(sales, {"k": {
            "terms": {"field": "region"},
            "aggs": {
                "s": {"sum": {"field": "amount"}},
                "pred": {"inference": {
                    "buckets_path": {"s": "s", "n": "_count"},
                    "model": {"type": "regression",
                              "weights": {"s": 2.0, "n": -1.0},
                              "intercept": 0.5},
                }},
            },
        }}).collect()
    }
    # eu: sum 35, n 3 -> 2*35 - 3 + 0.5 = 67.5; us: sum 40, n 4 -> 76.5;
    # ap: sum 1, n 1 -> 1.5
    assert got == {"eu": 67.5, "us": 76.5, "ap": 1.5}
    # classification: sigmoid probability + 0/1 prediction at 0.5
    rows = es_aggregate(sales, {"k": {
        "terms": {"field": "region"},
        "aggs": {"cls": {"inference": {
            "buckets_path": {"n": "_count"},
            "model": {"type": "classification",
                      "weights": {"n": 1.0}, "intercept": -2.0},
        }}},
    }}).collect()
    import math
    for r in rows:
        p = 1.0 / (1.0 + math.exp(-(r["doc_count"] - 2.0)))
        assert abs(r["cls_prediction_probability"] - p) < 1e-12
        assert r["cls"] == (1 if p >= 0.5 else 0)
    # guards: no model, bad type, weight naming an absent feature
    with pytest.raises(ValueError, match="inference needs 'model'"):
        es_aggregate(sales, {"k": {
            "terms": {"field": "region"},
            "aggs": {"p": {"inference": {"buckets_path": {"n": "_count"}}}},
        }})
    with pytest.raises(ValueError, match="unsupported inference model"):
        es_aggregate(sales, {"k": {
            "terms": {"field": "region"},
            "aggs": {"p": {"inference": {
                "buckets_path": {"n": "_count"},
                "model": {"type": "ltr", "weights": {"n": 1.0}},
            }}},
        }})
    with pytest.raises(ValueError, match="outside buckets_path"):
        es_aggregate(sales, {"k": {
            "terms": {"field": "region"},
            "aggs": {"p": {"inference": {
                "buckets_path": {"n": "_count"},
                "model": {"type": "regression", "weights": {"x": 1.0}},
            }}},
        }})

def test_inference_null_feature_propagates_null(spark):
    # Documented NULL-feature contract: an all-NULL bucket's avg is
    # NULL and the inference response propagates it (SQL three-valued
    # arithmetic) — classification's probability and 0/1 prediction go
    # NULL too — instead of ES's per-bucket inference failure.
    df = spark.createDataFrame(
        [("a", 2.0), ("a", 4.0), ("b", None)],
        "region string, amount double")
    rows = {r["k"]: r for r in es_aggregate(df, {"k": {
        "terms": {"field": "region"},
        "aggs": {
            "m": {"avg": {"field": "amount"}},
            "pred": {"inference": {
                "buckets_path": {"m": "m"},
                "model": {"type": "classification",
                          "weights": {"m": 1.0}, "intercept": -3.0},
            }},
        },
    }}).collect()}
    assert rows["a"]["pred"] in (0, 1)
    assert rows["a"]["pred_prediction_probability"] is not None
    assert rows["b"]["m"] is None
    assert rows["b"]["pred"] is None
    assert rows["b"]["pred_prediction_probability"] is None
