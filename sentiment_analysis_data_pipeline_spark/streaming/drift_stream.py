"""Streaming PSI drift accumulator -- the continuous twin of the batch
`psi_drift` gate (queries.py), fifth member of the accumulator family
(Count-Min, HLL, HDR, weighted reservoir, this).

100 TB design: distribution state that never grows with the corpus. Each
micro-batch collapses its documents to per-band counts (band = length
div PSI_BAND_WIDTH -- at most a few dozen rows however large the batch),
stamped with the epoch id and appended to a band log via the shared
replay-idempotent protocol (_log.guarded_append: path-absent is an FS
check, real read errors propagate). The serving read folds the log with
one (band) sum and scores it against a FROZEN reference distribution
(the training corpus the production model saw) through EXACTLY the same
SQL tail the batch query uses (queries.psi_tail_sql) -- identical text,
identical IEEE chains, bit-identical PSI on identical counts, which the
parity test asserts row-for-row.

The LSM-ish maintenance step (`compact_bands`) and the crash-safe swap
come from _log.compact_log; the ingest-pause precondition is stated
there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries import PSI_BAND_WIDTH, psi_tail_sql
from ._log import COMPACTED_STAMP, compact_log, drain, guarded_append  # noqa: F401 (re-exported)

BANDS_SCHEMA = "band bigint, n bigint, batch_id bigint"
DOC_STREAM_SCHEMA = "doc_id long, text string"


def batch_bands(batch: DataFrame, text_col: str = "text") -> DataFrame:
    """(band, n) length-distribution partial for one micro-batch -- at most
    (max_len / PSI_BAND_WIDTH) rows regardless of batch size."""
    return (
        batch.select(
            F.expr(
                f"cast(length(coalesce({text_col}, '')) div {PSI_BAND_WIDTH} as long)"
            ).alias("band")
        )
        .groupBy("band")
        .agg(F.count("*").cast("long").alias("n"))
    )


def append_batch_bands(
    spark: SparkSession, batch: DataFrame, log_path: str, batch_id: int
) -> None:
    """Collapse one micro-batch to its band partial and append it,
    replay-idempotently (shared _log protocol)."""
    guarded_append(spark, log_path, BANDS_SCHEMA, batch_id, batch_bands(batch))


def read_bands(spark: SparkSession, log_path: str) -> DataFrame:
    """The merged live distribution: per-band sum over every partial."""
    return (
        spark.read.schema(BANDS_SCHEMA)
        .parquet(log_path)
        .groupBy("band")
        .agg(F.sum("n").alias("n"))
    )


def read_psi(
    spark: SparkSession, log_path: str, reference: DataFrame
) -> DataFrame:
    """Score the accumulated live distribution against a frozen reference
    `reference(band, n)` -- per-band PSI contributions through the SAME
    SQL tail as the batch psi_drift gate (old = reference, new = live).
    Bands seen by only one side FULL-OUTER-join to zero counts, exactly
    like the batch query's GROUP BY over the union corpus."""
    reference.createOrReplaceTempView("_drift_ref")
    read_bands(spark, log_path).createOrReplaceTempView("_drift_live")
    binned = """binned AS (
            SELECT coalesce(r.band, l.band) AS band,
                   cast(coalesce(r.n, 0) as bigint) AS n_old,
                   cast(coalesce(l.n, 0) as bigint) AS n_new
            FROM _drift_ref r FULL OUTER JOIN _drift_live l ON r.band = l.band
        )"""
    return spark.sql(psi_tail_sql(binned))


def compact_bands(spark: SparkSession, log_path: str) -> None:
    """Fold the epoch log back to one merged partial (the shared crash-safe
    swap; run only in an ingest pause -- _log.py contract)."""
    compact_log(spark, log_path, lambda: read_bands(spark, log_path))


def run_streaming_drift(
    spark: SparkSession,
    source_dir: str,
    log_path: str,
    checkpoint_dir: str,
):
    """File-source streaming drift maintenance: json docs land in
    `source_dir`; each epoch appends its band partial to `log_path`."""
    stream = spark.readStream.schema(DOC_STREAM_SCHEMA).json(source_dir)

    def epoch(batch: DataFrame, batch_id: int) -> None:
        append_batch_bands(batch.sparkSession, batch, log_path, batch_id)

    return drain(stream, checkpoint_dir, epoch)
