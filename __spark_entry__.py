"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

The real implementations live in ``sentiment_analysis_data_pipeline_spark``
(see SURVEY.md for the operator inventory this covers); this module is a
thin adapter.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the reference's hourly
    sentiment ETL (EP3) as one Spark plan -- validate -> lexicon kernel ->
    classify -> sentiment-distribution terms agg."""
    from sentiment_analysis_data_pipeline_spark.queries import REGISTRY

    return REGISTRY["sentiment_terms_agg"][0](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ north-star
    extensions). Each callable takes (spark, sf_dir) and returns a DataFrame."""
    from sentiment_analysis_data_pipeline_spark.queries import spark_queries

    return spark_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query, generated from the same dual-dialect
    fragment definitions as the Spark side (parity by construction)."""
    from sentiment_analysis_data_pipeline_spark.queries import oracle_sqls

    return oracle_sqls()
