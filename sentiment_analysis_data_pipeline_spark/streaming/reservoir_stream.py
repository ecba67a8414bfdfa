"""Streaming weighted reservoir -- the continuous twin of the batch
`weighted_sample` query, built on operators/sketch.es_key_sql.

Efraimidis & Spirakis 2006: the k smallest -ln(u)/w keys ARE a weighted
sample without replacement, and the key set is MERGEABLE -- the k smallest
keys of a union of partials equal the k smallest over the union. That
algebra is the whole design: each micro-batch collapses its docs to ONE
per-stratum top-k partial (<= k rows per stratum, however large the
batch), stamped with the epoch id and appended to a sample log; the
SERVED sample is a top-k over the log. Because the keys are deterministic
(md5-derived u), streamed == batch is an EXACT equality, not a
distributional claim -- the test asserts the streamed reservoir equals
the one-shot batch sample over the union of all drops, row for row.

Fourth member of the streaming accumulator family (sketch_stream =
Count-Min frequency, hll_stream = distinct, hdr_stream = quantiles, this
= weighted sample). Same delivery contract: replay-idempotent append by
batch-stamp drop; `compact_samples` folds the epoch log back to one
k-row-per-stratum partial (LSM-ish maintenance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions import dialect as D
from ..operators.sketch import es_key_sql
from ._log import compact_log, drain, guarded_append

RESERVOIR_K = 20  # sample size per stratum (matches queries.WS_K)
SAMPLE_SCHEMA = (
    "segment string, doc_id bigint, weight bigint, es_key bigint, batch_id bigint"
)
DOC_STREAM_SCHEMA = "doc_id long, source string, n_chars long"


def batch_sample(docs: DataFrame, k: int = RESERVOIR_K) -> DataFrame:
    """(segment, doc_id, weight, es_key) -- the k smallest ES keys per
    source stratum of `docs`. Works on any batch DataFrame; the streaming
    twin applies it per micro-batch inside foreachBatch, and the read side
    applies the SAME top-k to the union of partials (mergeability)."""
    docs.createOrReplaceTempView("es_reservoir_in")
    key = es_key_sql(D.SPARK, "kh", "greatest(n_chars, 1)")
    return docs.sparkSession.sql(
        f"""
        WITH keyed AS (
            SELECT source AS segment, doc_id,
                   cast(greatest(n_chars, 1) as bigint) AS weight,
                   {key} AS es_key
            FROM (SELECT doc_id, source, n_chars,
                         md5({D.cast_str(D.SPARK, "doc_id")}) AS kh
                  FROM es_reservoir_in) h
        ),
        ranked AS (
            SELECT segment, doc_id, weight, es_key,
                   row_number() OVER (PARTITION BY segment
                                      ORDER BY es_key ASC, doc_id ASC) AS rnk
            FROM keyed
        )
        SELECT segment, doc_id, weight, es_key
        FROM ranked WHERE rnk <= {k}
        """
    )


def append_batch_sample(
    spark: SparkSession, batch: DataFrame, sample_path: str, batch_id: int
) -> None:
    """Collapse one micro-batch to its k-per-stratum partial and append
    it, replay-idempotently: if this epoch's id is already in the log (a
    foreachBatch retry after a successful write), land nothing."""
    # replay-idempotence + append/compact mutual exclusion live in
    # _log.guarded_append (round-9: the ingest-pause contract is mechanical)
    guarded_append(spark, sample_path, SAMPLE_SCHEMA, batch_id, batch_sample(batch))


def read_sample(spark: SparkSession, sample_path: str, k: int = RESERVOIR_K) -> DataFrame:
    """The served reservoir: top-k per stratum over every appended
    partial -- by the ES merge property, exactly the sample the batch
    query computes over the union of all drops."""
    spark.read.schema(SAMPLE_SCHEMA).parquet(sample_path).createOrReplaceTempView(
        "es_reservoir_log"
    )
    return spark.sql(
        f"""
        SELECT segment, doc_id, weight, es_key FROM (
            SELECT segment, doc_id, weight, es_key,
                   row_number() OVER (PARTITION BY segment
                                      ORDER BY es_key ASC, doc_id ASC) AS rnk
            FROM es_reservoir_log
        ) r WHERE rnk <= {k}
        """
    )


def compact_samples(spark: SparkSession, sample_path: str) -> None:
    """Fold the epoch log back to one merged partial (batch_id = -1):
    bounded read-side work after many epochs. Crash-safe via the shared
    stage-then-atomic-rename swap (_log.compact_log); run only in an
    ingest pause (_log.py contract)."""
    compact_log(spark, sample_path, lambda: read_sample(spark, sample_path))


def run_streaming_reservoir(
    spark: SparkSession,
    source_dir: str,
    sample_path: str,
    checkpoint_dir: str,
):
    """File-source streaming reservoir maintenance: json docs land in
    `source_dir`; each epoch appends its k-per-stratum partial to
    `sample_path`."""
    stream = spark.readStream.schema(DOC_STREAM_SCHEMA).json(source_dir)

    def epoch(batch: DataFrame, batch_id: int) -> None:
        append_batch_sample(batch.sparkSession, batch, sample_path, batch_id)

    return drain(stream, checkpoint_dir, epoch)


__all__ = [
    "DOC_STREAM_SCHEMA",
    "RESERVOIR_K",
    "SAMPLE_SCHEMA",
    "append_batch_sample",
    "batch_sample",
    "compact_samples",
    "read_sample",
    "run_streaming_reservoir",
]
