from tweets_elastic_spark.operators.denormalize import (
    build_tweet_documents,
    denormalize_orders,
)

__all__ = [
    "build_tweet_documents",
    "denormalize_orders",
]
