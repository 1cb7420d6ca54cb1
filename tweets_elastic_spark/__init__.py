"""tweets_elastic_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference project kuko6/tweets-elastic (relational denormalization into nested
documents, text-analyzer pipelines, an ES-DSL-like search layer, id-keyed
batched sinks, incremental ingestion), re-expressed Spark-first on the
DataFrame / SQL / Structured Streaming APIs, plus the large-scale
training-data-pipeline operators (dedup, similarity search, text analysis,
multimodal plumbing) such an engine needs at 100 TB.

Layout:
    session.py            SparkSession factory with scale-aware defaults
    schemas.py            declared StructTypes (strict schemas, SURVEY §1.2)
    sources/              table catalog, fixture synthesis, keyset
                          watermark, WARC records
    operators/            denormalize, dedup, similarity/ANN, curation,
                          DSIR/BPE/sampling, percolate, vectorize
    functions/            analyzers, text stats, hashing, vector math,
                          PII, multimodal, IP addresses, time units
    plans/                search-query layer (JSON DSL + Lucene
                          query-string front-ends → DataFrame plans),
                          aggregations DSL + request envelope, REST-API
                          surface (_count/_msearch/_field_caps/
                          _termvectors)
    streaming/            windowed aggs (one function for batch and
                          streaming DataFrames)
    indexing.py           analyze-once index build/increment/compact,
                          suggesters, stats
    queries/ registry.py  the named-query corpus + DuckDB oracles the
                          driver and tests/test_oracle_parity.py verify
    sinks.py              id-keyed writer with quarantine channel
"""

__version__ = "0.1.0"
