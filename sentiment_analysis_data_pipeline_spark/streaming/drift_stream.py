"""Streaming PSI drift accumulator -- the continuous twin of the batch
`psi_drift` gate (queries.py), fifth member of the accumulator family
(Count-Min, HLL, HDR, weighted reservoir, this).

100 TB design: distribution state that never grows with the corpus. Each
micro-batch collapses its documents to per-band counts (band = length
div PSI_BAND_WIDTH -- at most a few dozen rows however large the batch)
appended to a band log. The serving read folds the log with one (band)
sum and scores it against a FROZEN reference distribution (the training
corpus the production model saw) through EXACTLY the same SQL tail the
batch query uses (queries.psi_tail_sql) -- identical text, identical IEEE
chains, bit-identical PSI on identical counts, which the parity test
asserts row-for-row.

Delivery (replay-idempotent append, crash-safe compaction) is
`_log.Accumulator`'s.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries import PSI_BAND_WIDTH, psi_tail_sql
from ._log import Accumulator

BANDS_SCHEMA = "band bigint, n bigint, batch_id bigint"
DOC_STREAM_SCHEMA = "doc_id long, text string"


def batch_bands(batch: DataFrame) -> DataFrame:
    """(band, n) length-distribution partial of `batch`'s `text` -- at most
    (max_len / PSI_BAND_WIDTH) rows regardless of batch size."""
    return (
        batch.select(
            F.expr(
                f"cast(length(coalesce(text, '')) div {PSI_BAND_WIDTH} as long)"
            ).alias("band")
        )
        .groupBy("band")
        .agg(F.count("*").cast("long").alias("n"))
    )


# the merged live distribution: per-band sum over every partial
BANDS = Accumulator(
    DOC_STREAM_SCHEMA,
    BANDS_SCHEMA,
    batch_bands,
    lambda log: log.groupBy("band").agg(F.sum("n").alias("n")),
)


def read_psi(
    spark: SparkSession, log_path: str, reference: DataFrame
) -> DataFrame:
    """Score the accumulated live distribution against a frozen reference
    `reference(band, n)` -- per-band PSI contributions through the SAME
    SQL tail as the batch psi_drift gate (old = reference, new = live).
    Bands seen by only one side FULL-OUTER-join to zero counts, exactly
    like the batch query's GROUP BY over the union corpus."""
    binned = """binned AS (
            SELECT coalesce(r.band, l.band) AS band,
                   cast(coalesce(r.n, 0) as bigint) AS n_old,
                   cast(coalesce(l.n, 0) as bigint) AS n_new
            FROM {ref} r FULL OUTER JOIN {live} l ON r.band = l.band
        )"""
    return spark.sql(
        psi_tail_sql(binned), ref=reference, live=BANDS.read(spark, log_path)
    )
