"""The flagship pipeline: the reference's hourly sentiment ETL (EP3,
SURVEY.md §3) as ONE Spark logical plan.

Reference shape (dags/sentiment_analysis_dag.py): three Airflow tasks --
extract (Mongo scan + Python-set anti-join, :31-49) -> analyze (per-row
VADER/TextBlob loop, :54-99) -> save (per-row insert + ES index, :101-130) --
with full-list XCom serialization between each. Here the same semantics are
one Spark plan: scan -> validate -> kernel + classify -> write. The kernel
is not restated here: `sentiment_enrich` runs the registry's SQL
(functions/sentiment.kernel_join_sql) over any DataFrame, and the streaming
epochs score through it too. Catalyst fuses the projections and pushes the
filters into the parquet scan, and there is no serialization boundary at all.

The driver's `documents` table stands in for the article corpus (FIXTURES.md
§B mapping): text = article body, a deterministic synthetic URL per doc
exercises the URL-validation/id-hash path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dialect as D
from ..functions import sentiment as S
from ..operators import validate

# Deterministic synthetic URL so P1/P2/F3 run on the documents corpus.
DOC_URL_SQL = {
    D.SPARK: "concat('https://', source, '.example.com/', cast(doc_id as string))",
    D.DUCKDB: "concat('https://', source, '.example.com/', cast(doc_id as varchar))",
}


def documents_as_articles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the documents table to the article-envelope surface (P10 analog):
    doc_id, url, title (leading slice), text."""
    from ..sources.tables import scattered

    docs = scattered(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return docs.select(
        "doc_id",
        F.expr(DOC_URL_SQL[D.SPARK]).alias("url"),
        F.expr("substring(coalesce(text, ''), 1, 64)").alias("title"),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        "source",
        "lang",
        "n_chars",
    )


def sentiment_enrich(df: DataFrame, text_expr: str = "text", id_col: str = "doc_id") -> DataFrame:
    """U1+U2+F8-F11: `df`'s columns (`id_col` first) followed by
    vader_compound, textblob_polarity, avg_score, overall and confidence,
    scoring `text_expr`. Runs the registry's kernel SQL
    (functions/sentiment.kernel_join_sql) over `df`, so the streaming epochs
    and the processed table score with the same code the DuckDB oracle
    checks. `id_col` must be unique per row (it keys the join-back).

    `df` reaches the SQL through spark.sql's DataFrame argument: a temp
    view under a fresh name, dropped once the query is analyzed, so two
    callers on one session never see each other's input."""
    cols = [id_col, *(c for c in df.columns if c != id_col)]
    cols += ["vader_compound", "textblob_polarity", "avg_score", "overall", "confidence"]
    final = "SELECT " + ", ".join(f"`{c}`" for c in cols)
    sql = S.kernel_join_sql(D.SPARK, "SELECT * FROM {df}", id_col, final, text=text_expr)
    return df.sparkSession.sql(sql, df=df)


def processed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validated + scored corpus with the PROCESSED shape's sentiment struct
    (F11) and md5 surrogate id (F3)."""
    articles = documents_as_articles(spark, sf_dir)
    valid = articles.filter(
        validate.non_empty_text(F.col("text")) & validate.valid_url(F.col("url"))
    )
    scored = sentiment_enrich(valid)
    return scored.select(
        F.md5("url").alias("doc_id_hash"),
        "doc_id",
        "url",
        "title",
        "text",
        F.struct(
            F.col("overall"),
            F.col("confidence"),
            F.col("vader_compound"),
            F.col("textblob_polarity"),
        ).alias("sentiment"),
    )


def write_processed(spark: SparkSession, sf_dir: str, target_path: str) -> None:
    """S7/S8: land the processed corpus as a date-partitioned, token-enriched
    analytic table -- the engine's replacement for the ES index + Mongo
    processed_news pair (SURVEY.md §2.1).

    Partitioning by processed_date gives partition pruning for the
    time-range monitors (P4/P5) -- the analog of the reference's
    fetched_at/processed_at secondary indexes (database/init-mongo.js:8-14);
    the pre-tokenized `tokens` column is the materialized analyzer output
    (Q3) so search queries never re-tokenize.
    """
    from ..operators.search import with_tokens

    docs = processed_docs(spark, sf_dir)
    enriched = with_tokens(docs, "text").withColumn(
        "processed_date", F.to_date(F.current_timestamp())
    )
    (
        enriched.write.mode("overwrite")
        .partitionBy("processed_date")
        .parquet(target_path)
    )
