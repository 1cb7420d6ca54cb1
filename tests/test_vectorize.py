"""Hashed TF-IDF vectorizer (operators/vectorize.py)."""

from __future__ import annotations

import pytest

from tweets_elastic_spark.operators.vectorize import hashed_tfidf_sparse
from tweets_elastic_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").limit(120)


def test_dim_guard(spark, docs):
    with pytest.raises(ValueError, match="dim"):
        hashed_tfidf_sparse(docs, dim=0)
