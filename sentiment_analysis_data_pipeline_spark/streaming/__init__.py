from .ingest import (
    attributed_clicks,
    file_article_stream,
    kafka_article_stream,
    enrich_with_dim,
    hopping_activity,
    merge_into_parquet,
    run_file_ingest,
    run_sentiment_stream,
    split_valid_corrupt,
    sessionized_activity,
    with_stream_dedup,
)

__all__ = [
    "attributed_clicks",
    "file_article_stream",
    "kafka_article_stream",
    "enrich_with_dim",
    "hopping_activity",
    "merge_into_parquet",
    "run_file_ingest",
    "run_sentiment_stream",
    "split_valid_corrupt",
    "sessionized_activity",
    "with_stream_dedup",
]
