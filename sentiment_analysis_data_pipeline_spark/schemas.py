"""Typed StructType schemas for every record shape in the system.

The reference is schemaless (MongoDB collections + point validation,
SURVEY.md §1); the closest thing to a declared schema is the Elasticsearch
mapping (reference configs/elasticsearch_config.py:32-113). Here every shape
is an explicit Spark schema so scans prune columns, predicates push down, and
corrupt records are quarantined instead of crashing consumers.

Record shapes (provenance):
  ARTICLE / ENVELOPE  -- raw Kafka envelope built at
                         producers/newsapi_producer.py:59-63 and
                         producers/gnews_producer.py:60-64; ``inserted_at``
                         added at database/mongodb_handler.py:51.
  SENTIMENT           -- sub-doc built at dags/sentiment_analysis_dag.py:89-94.
  PROCESSED           -- processed_news shape, dags/sentiment_analysis_dag.py:83-96.
  INDEX_DOC           -- flattened analytic doc, dags/sentiment_analysis_dag.py:119-126,
                         typed by configs/elasticsearch_config.py:35-113 (including the
                         declared-but-never-computed ``stats`` block, which this engine
                         actually computes -- SURVEY.md §2.7 F12).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Nested article source object: NewsAPI has {id, name}, GNews has {name, url};
# unified superset (SURVEY.md §2.6 union reconciliation).
SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("url", T.StringType()),
    ]
)

ARTICLE_SCHEMA = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("publishedAt", T.TimestampType()),
        T.StructField("author", T.StringType()),
        T.StructField("source", SOURCE_SCHEMA),
        # NewsAPI calls it urlToImage, GNews calls it image; unified superset.
        T.StructField("urlToImage", T.StringType()),
        T.StructField("image", T.StringType()),
    ]
)

# Raw envelope as landed in `raw_news` (reference stores fetched_at as an ISO
# string and compares lexicographically; the engine uses real timestamps --
# SURVEY.md §1 "Spark mapping").
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("source_api", T.StringType(), nullable=False),
        T.StructField("fetched_at", T.TimestampType()),
        T.StructField("inserted_at", T.TimestampType()),
        T.StructField("article", ARTICLE_SCHEMA),
    ]
)

SENTIMENT_SCHEMA = T.StructType(
    [
        T.StructField("overall", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("vader_compound", T.DoubleType()),
        T.StructField("textblob_polarity", T.DoubleType()),
    ]
)

PROCESSED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), nullable=False),
        T.StructField("source_api", T.StringType()),
        T.StructField("fetched_at", T.TimestampType()),
        T.StructField("processed_at", T.TimestampType()),
        T.StructField("article", ARTICLE_SCHEMA),
        T.StructField("sentiment", SENTIMENT_SCHEMA),
    ]
)

STATS_SCHEMA = T.StructType(
    [
        T.StructField("word_count", T.IntegerType()),
        T.StructField("char_count", T.IntegerType()),
        T.StructField("has_content", T.BooleanType()),
    ]
)

INDEX_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), nullable=False),
        T.StructField("title", T.StringType()),
        T.StructField("content", T.StringType()),  # truncated to 1000 chars
        T.StructField("url", T.StringType()),
        T.StructField("published_at", T.TimestampType()),
        T.StructField("sentiment", SENTIMENT_SCHEMA),
        T.StructField("stats", STATS_SCHEMA),
        T.StructField("tokens", T.ArrayType(T.StringType())),
        T.StructField("timestamp", T.TimestampType()),
    ]
)

# Multimodal: opaque binary payload + typed metadata (north-star extension;
# decode is stubbed, plumbing is real -- operators/multimodal.py).
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), nullable=False),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)
