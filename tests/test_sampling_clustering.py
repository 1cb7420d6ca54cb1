"""Near-dup clustering (connected components) and deterministic corpus
splitting — the ship-stage training-data ops on top of pairwise dedup."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from tweets_elastic_spark.operators import dedup as D
from tweets_elastic_spark.operators.sampling import (
    deterministic_split,
    split_thresholds,
)
from tweets_elastic_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.01"


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


def test_connected_components_merges_transitively(spark):
    # a 6-node path (needs several propagation rounds) + an isolated pair
    path = [(i, i + 1) for i in range(1, 6)]
    comp = D.connected_components(_pairs(spark, path + [(10, 11)]))
    got = {r["id"]: r["cluster_id"] for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10}


@pytest.mark.parametrize("max_iter", [0, -1])
def test_connected_components_rejects_max_iter_below_one(spark, max_iter):
    with pytest.raises(ValueError, match="max_iter"):
        D.connected_components(_pairs(spark, [(1, 2)]), max_iter=max_iter)


def test_connected_components_pointer_doubling_round_bound(spark, monkeypatch):
    # Spark path (bound 0): pointer doubling makes rounds O(log d), not
    # O(d). A 9-node path (diameter 8) must converge in <= 4 loop
    # iterations INCLUDING the final no-change confirmation: labels go
    # x-1 -> max(1, x-3) -> max(1, x-7) -> all-1 (changed) -> confirm.
    # Plain one-hop propagation needs 5+ iterations on the same graph.
    monkeypatch.setattr(D, "_DRIVER_CC_MAX_EDGES", 0)
    path9 = [(i, i + 1) for i in range(1, 9)]
    comp = D.connected_components(_pairs(spark, path9))
    got = {r["id"]: r["cluster_id"] for r in comp.collect()}
    assert got == {i: 1 for i in range(1, 10)}
    assert D.CC_LAST_ROUNDS <= 4, D.CC_LAST_ROUNDS


def test_connected_components_min_label_any_orientation(spark):
    # min id sits in the middle; labels must flow both directions
    comp = D.connected_components(_pairs(spark, [(5, 2), (2, 9), (9, 7)]))
    got = {r["id"]: r["cluster_id"] for r in comp.collect()}
    assert got == {2: 2, 5: 2, 7: 2, 9: 2}


def _cc_graphs():
    rng = random.Random(15)
    graphs = [
        ("path_d64", [(i, i + 1) for i in range(1, 65)], LongType(), True),
        ("isolated_pairs", [(2 * i, 2 * i + 1) for i in range(1, 8)],
         LongType(), True),
        ("self_loops", [(3, 3), (3, 4), (7, 7), (4, 3)], IntegerType(), True),
        ("empty", [], LongType(), True),
        ("non_nullable", [(1, 2), (2, 3), (5, 6)], LongType(), False),
    ]
    for g in range(6):
        n = rng.randint(2, 40)
        edges = [
            (rng.randint(1, n), rng.randint(1, n))
            for _ in range(rng.randint(1, 2 * n))
        ]
        id_type = IntegerType() if g % 2 else LongType()
        graphs.append((f"random_{g}", edges + edges[:2], id_type, True))
    return graphs


_CC_GRAPHS = _cc_graphs()


@pytest.mark.parametrize(
    "edges,id_type,nullable",
    [g[1:] for g in _CC_GRAPHS],
    ids=[g[0] for g in _CC_GRAPHS],
)
def test_connected_components_driver_path_equals_spark_path(
    spark, monkeypatch, edges, id_type, nullable
):
    # same rows, schema and nullability from driver union-find and from
    # the Spark path (forced with a bound of 0); both columns are
    # nullable whatever the pair columns are
    pairs = spark.createDataFrame(edges, StructType([
        StructField("id_a", id_type, nullable),
        StructField("id_b", id_type, nullable),
    ]))
    driver = D.connected_components(pairs)
    assert D.CC_LAST_ROUNDS == 0
    with monkeypatch.context() as m:
        m.setattr(D, "_DRIVER_CC_MAX_EDGES", 0)
        via_spark = D.connected_components(pairs, max_iter=80)
        assert via_spark.schema == driver.schema
        assert sorted(via_spark.collect()) == sorted(driver.collect())
    assert [(f.name, f.nullable) for f in driver.schema.fields] == [
        ("id", True), ("cluster_id", True)
    ]
    assert driver.schema["id"].dataType == id_type


@pytest.mark.parametrize("bound", [10, 1], ids=["driver", "spark"])
def test_connected_components_refuses_null_id(spark, monkeypatch, bound):
    # one partition, null pair last: with a bound of 1 the probe reads the
    # two clean pairs, takes the Spark path, and the raise comes from the
    # edge localCheckpoint; with a bound of 10 it comes from the collect
    monkeypatch.setattr(D, "_DRIVER_CC_MAX_EDGES", bound)
    pairs = spark.range(1, 4, numPartitions=1).select(
        F.when(F.col("id") < 3, F.col("id")).alias("id_a"),
        (F.col("id") + 1).alias("id_b"),
    )
    checkpoints = []
    local_checkpoint = type(pairs).localCheckpoint

    def spy(df, *args, **kwargs):
        checkpoints.append(df)
        return local_checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(type(pairs), "localCheckpoint", spy)
    with pytest.raises(Exception, match="null id"):
        D.connected_components(pairs).collect()
    assert len(checkpoints) == (bound == 1)
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 5)], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="null id"):
        D.dedup_near_survivors(docs, pairs).collect()


def test_connected_components_small_graph_job_budget(spark, spark_jobs):
    # the driver path: one collect of the edges, then the caller's jobs
    pairs = _pairs(spark, [(i, i + 1) for i in range(1, 6)])
    with spark_jobs() as n:
        D.connected_components(pairs).collect()
    assert n[0] <= 3, n[0]
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 20)], "doc_id long, text string"
    )
    with spark_jobs() as n:
        D.dedup_near_survivors(docs, pairs).count()
    assert n[0] <= 6, n[0]


def test_dedup_near_survivors_transitive_drop(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 6)], "doc_id long, text string"
    )
    out = D.dedup_near_survivors(docs, _pairs(spark, [(1, 2), (2, 3)]))
    assert {r["doc_id"] for r in out.collect()} == {1, 4, 5}


def test_split_deterministic_and_partition_independent(spark):
    docs = load_table(spark, SF, "documents").select("doc_id")
    a = {r["doc_id"]: r["split"]
         for r in deterministic_split(docs, "doc_id").collect()}
    b = {r["doc_id"]: r["split"]
         for r in deterministic_split(docs.repartition(7), "doc_id").collect()}
    assert a == b  # no seed, no partition dependence
    # roughly the declared proportions on 500 ids (md5 is uniform)
    n = len(a)
    train = sum(1 for s in a.values() if s == "train") / n
    assert 0.72 <= train <= 0.88
    assert set(a.values()) == {"train", "val", "test"}


def test_split_salt_decorrelates(spark):
    docs = load_table(spark, SF, "documents").select("doc_id")
    a = {r["doc_id"]: r["split"]
         for r in deterministic_split(docs, "doc_id", salt="split").collect()}
    b = {r["doc_id"]: r["split"]
         for r in deterministic_split(docs, "doc_id", salt="other").collect()}
    assert a != b


def test_split_thresholds_validate():
    with pytest.raises(ValueError):
        split_thresholds({"train": 0.5, "val": 0.1})
    ths = split_thresholds({"train": 0.8, "val": 0.1, "test": 0.1})
    assert [n for n, _ in ths] == ["train", "val", "test"]
    assert ths[-1][1] == "gggggggg"  # catch-all sorts above any hex


def test_stable_under_corpus_growth(spark):
    """A doc's split never changes when new docs arrive — the property
    randomSplit lacks."""
    half = spark.range(0, 250).withColumnRenamed("id", "doc_id")
    full = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"]
         for r in deterministic_split(half, "doc_id").collect()}
    b = {r["doc_id"]: r["split"]
         for r in deterministic_split(full, "doc_id").collect()}
    assert all(b[k] == v for k, v in a.items())


def _alloc(spark, totals, budget, max_epochs):
    from tweets_elastic_spark.operators.sampling import unimax_allocation

    df = spark.createDataFrame(totals, "lang string, n_tok long")
    return {
        r["lang"]: r["quota"]
        for r in unimax_allocation(df, budget, max_epochs).collect()
    }


def test_unimax_waterfill_caps_small_languages(spark):
    # caps at 2 epochs: a=4, b=20, c=20; budget 24 -> a capped at 4,
    # b and c split the remaining 20 evenly
    got = _alloc(spark, [("a", 2), ("b", 10), ("c", 10)], 24.0, 2.0)
    assert got == {"a": 4.0, "b": 10.0, "c": 10.0}
    # budget below every cap: pure uniform split
    got = _alloc(spark, [("a", 2), ("b", 10), ("c", 10)], 6.0, 2.0)
    assert got == {"a": 2.0, "b": 2.0, "c": 2.0}
    # budget above the sum of caps: every language sits at its cap
    got = _alloc(spark, [("a", 2), ("b", 10)], 1000.0, 2.0)
    assert got == {"a": 4.0, "b": 20.0}
    # cascade: two small languages cap, the big one absorbs the surplus
    got = _alloc(spark, [("a", 1), ("b", 2), ("c", 100)], 30.0, 2.0)
    assert got == {"a": 2.0, "b": 4.0, "c": 24.0}
    with pytest.raises(ValueError, match="must be > 0"):
        _alloc(spark, [("a", 1)], -1.0, 2.0)


def test_unimax_sample_epochs_and_budget(spark):
    from tweets_elastic_spark.operators.sampling import unimax_sample

    rows = []
    for i in range(4):
        rows.append((i, "small", "three short words"))        # 3 tok each
    for i in range(4, 44):
        rows.append((i, "big", "one two three four five"))    # 5 tok each
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    # totals: small=12, big=200; caps(2ep)=24,400; budget 74
    # -> small capped at 24 (2 epochs of every doc), big gets 50 (partial)
    out = unimax_sample(docs, budget=74.0, max_epochs=2.0).collect()
    small = [r for r in out if r["lang"] == "small"]
    big = [r for r in out if r["lang"] == "big"]
    assert len(small) == 4 and all(r["epochs"] == 2 for r in small)
    assert all(r["epochs"] == 1 for r in big)
    big_tok = sum(r["n_tok"] for r in big)
    assert big_tok == 50  # the greedy hash-order prefix fills the quota
    # determinism across runs
    out2 = unimax_sample(docs, budget=74.0, max_epochs=2.0).collect()
    assert sorted((r["doc_id"], r["epochs"]) for r in out) == \
        sorted((r["doc_id"], r["epochs"]) for r in out2)
