"""The ANN candidate→rerank pipeline (operators/similarity.py): entry
points that share a candidate rule return the same rows."""

from __future__ import annotations

import pytest

from tweets_elastic_spark import indexing
from tweets_elastic_spark.operators import similarity as S
from tweets_elastic_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_correct):
    return load_table(spark, sf_correct, "embeddings")


@pytest.fixture(scope="module")
def enriched(emb):
    return indexing.enrich_embeddings(emb, S.portable_seed_centroids(emb))


@pytest.mark.parametrize("probe_bits", [0, 1, 2, 3])
def test_inline_lsh_matches_stored_signature_filter(emb, enriched, probe_bits):
    """ann_lsh_topk (signatures computed inline) and ann_lsh_topk_indexed
    (signatures written by enrich_embeddings) apply the same Hamming
    filter: a k above the corpus size compares the whole candidate set."""
    qvec = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    k = emb.count() + 1
    inline = S.ann_lsh_topk(emb, qvec, k=k, probe_bits=probe_bits).collect()
    indexed = S.ann_lsh_topk_indexed(
        enriched, qvec, k=k, probe_bits=probe_bits, sig_cols=indexing.SIG_COLS
    ).collect()
    assert inline, "the query vector is always its own candidate"
    assert [(r["vec_id"], r["score"]) for r in inline] == [
        (r["vec_id"], r["score"]) for r in indexed
    ]


def test_deeper_probes_only_add_candidates(emb):
    qvec = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    k = emb.count() + 1
    sizes = [
        S.ann_lsh_topk(emb, qvec, k=k, probe_bits=p).count() for p in range(4)
    ]
    assert sizes == sorted(sizes) and sizes[3] > sizes[2]
