"""Row validation & sanitization operators (SURVEY.md §2.2).

  P1  required fields      utilities/data_validator.py:8-19 (newsapi) / :22-33 (gnews)
  P2  URL regex            utilities/data_validator.py:15-16,29-30
  P3  envelope shape       consumers/mongodb_consumer.py:42-47 (streaming/ingest._parse_envelopes)
  P7  non-empty text       dags/sentiment_analysis_dag.py:69-70
  P11 sanitize map         utilities/data_validator.py:36-44

All pure Column predicates -- they fuse into the parquet scan as pushed
filters (Catalyst), which is the at-scale win over the reference's per-row
Python checks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Reference regex (utilities/data_validator.py:15): Python re.match anchors at
# the start; Spark rlike doesn't, so the anchor is explicit.
URL_PATTERN = r"^https?://(?:[-\w.])+(?:[:\d]+)?(?:/(?:[\w/_.])*(?:\?(?:[\w&=%.])*)?(?:#(?:[\w.])*)?)?$"


def required_fields(title: Column, url: Column, published_at: Column) -> Column:
    """P1: title/url non-null & non-empty, publishedAt present."""
    return (
        title.isNotNull()
        & (F.trim(title) != "")
        & url.isNotNull()
        & (F.trim(url) != "")
        & published_at.isNotNull()
    )


def valid_url(url: Column) -> Column:
    """P2: anchored http(s) URL regex."""
    return url.rlike(URL_PATTERN)


def non_empty_text(text: Column) -> Column:
    """P7: concatenated text non-blank after trim."""
    return F.trim(text) != ""


def sanitize_str(c: Column) -> Column:
    """P11/F4: drop NUL bytes, trim surrounding whitespace."""
    return F.trim(F.regexp_replace(c, "\x00", ""))


def scrub_pii(df: DataFrame, cols: list[str]) -> DataFrame:
    """Redact emails/phones/IPv4 in the given string columns (the pass a
    training pipeline runs before text is stored anywhere). Pure projection:
    works identically on batch and streaming DataFrames and stays inside
    whole-stage codegen; the patterns are the oracle-checked ones from
    queries.pii_redact (functions/text.py PII_TAGS)."""
    from ..functions.text import PII_TAGS

    out = df
    for c in cols:
        col = F.col(c)
        for pat, tag in PII_TAGS:
            col = F.regexp_replace(col, pat, tag)
        out = out.withColumn(c, col)
    return out


def validate_articles(df: DataFrame, title: str = "title", url: str = "url", published_at: str = "publishedAt") -> DataFrame:
    """P1+P2 combined, as the producers apply them before publishing."""
    return df.filter(
        required_fields(F.col(title), F.col(url), F.col(published_at)) & valid_url(F.col(url))
    )
