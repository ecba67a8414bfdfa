"""Streaming CLASSIFIER-CALIBRATION MONITOR -- the continuous twin of the
batch classifier-evaluation suite (queries.classifier_calibration /
average_precision / cumulative_gains / isotonic_calibration): the whole
suite folds ONE bounded sufficient statistic, the per-source
quantized-score histogram (source, sq, pos, n), so a stream of documents
can maintain exactly that histogram and serve every eval read from it --
the quality-drift watchdog a production curation classifier needs
("did this week's crawl shift the score distribution / break
calibration?") without ever rescanning the corpus.

100 TB design, one log:

* HISTOGRAM log -- each micro-batch scores its documents through the
  IDENTICAL expression chain the batch queries use
  (queries._clf_scored_sql over the epoch view -- same 2^-20 sigmoid
  floor, same literals) and collapses them to (source, sq, pos, n)
  partial cells: at most sources x distinct-sq rows per epoch however
  large the batch. Cells are integer-exact and cell-wise summable, so
  epoch partials MERGE exactly; the append goes through the shared
  replay-idempotent protocol (_log.guarded_append: batch-stamp drop +
  append/compact mutual exclusion).

* SERVING -- every read folds the log with one (source, sq) sum and runs
  the batch queries' EXACT SQL tails (queries.ap_hist_tail_sql /
  gains_hist_tail_sql / iso_hist_tail_sql / calibration_hist_tail_sql --
  the sprt_tail_sql convention), so streamed == batch is an EQUALITY on
  identical documents, not a tolerance test; the parity tests assert
  row-for-row equality including the doubles.

Compaction (`compact_hist`) folds the epoch log back to one merged
histogram under the crash-safe swap + ingest-pause contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import queries as Q
from ..functions import dialect as D
from ._log import compact_log, drain, guarded_append

HIST_SCHEMA = "source string, sq bigint, pos_s bigint, n_s bigint, batch_id bigint"
# the document stream carries the envelope fields the scorer consumes
DOC_STREAM_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

_EPOCH_VIEW = "_cal_epoch_docs"


def batch_hist(batch: DataFrame) -> DataFrame:
    """(source, sq, pos_s, n_s) partial cells for one micro-batch --
    scored through the batch suite's exact expression chain."""
    spark = batch.sparkSession
    batch.createOrReplaceTempView(_EPOCH_VIEW)
    return spark.sql(
        Q._clf_hist_from_scored(
            D.SPARK, Q._clf_scored_sql(D.SPARK, src=_EPOCH_VIEW)
        )
    )


def append_batch(
    spark: SparkSession, batch: DataFrame, hist_path: str, batch_id: int
) -> None:
    """Land one epoch's histogram partial (replay-idempotent by stamp)."""
    guarded_append(spark, hist_path, HIST_SCHEMA, batch_id, batch_hist(batch))


def read_hist(spark: SparkSession, hist_path: str) -> DataFrame:
    """The merged histogram: per-(source, sq) sums over every epoch
    partial -- the batch suite's sufficient statistic, reconstructed."""
    from pyspark.sql import functions as F

    return (
        spark.read.schema(HIST_SCHEMA)
        .parquet(hist_path)
        .groupBy("source", "sq")
        .agg(
            F.sum("pos_s").cast("long").alias("pos_s"),
            F.sum("n_s").cast("long").alias("n_s"),
        )
    )


_HIST_VIEW = "_cal_hist"
_HIST_SRC = f"SELECT source, sq, pos_s, n_s FROM {_HIST_VIEW}"


def _serve(spark: SparkSession, hist_path: str, tail_sql: str) -> DataFrame:
    read_hist(spark, hist_path).createOrReplaceTempView(_HIST_VIEW)
    return spark.sql(tail_sql)


def read_average_precision(spark: SparkSession, hist_path: str) -> DataFrame:
    return _serve(spark, hist_path, Q.ap_hist_tail_sql(D.SPARK, _HIST_SRC))


def read_cumulative_gains(spark: SparkSession, hist_path: str) -> DataFrame:
    return _serve(spark, hist_path, Q.gains_hist_tail_sql(D.SPARK, _HIST_SRC))


def read_isotonic(spark: SparkSession, hist_path: str) -> DataFrame:
    return _serve(spark, hist_path, Q.iso_hist_tail_sql(D.SPARK, _HIST_SRC))


def read_calibration(spark: SparkSession, hist_path: str) -> DataFrame:
    return _serve(
        spark, hist_path, Q.calibration_hist_tail_sql(D.SPARK, _HIST_SRC)
    )


def compact_hist(spark: SparkSession, hist_path: str) -> None:
    """Fold the epoch log back to one merged histogram (crash-safe swap +
    ingest-pause mutual exclusion -- the shared _log contract)."""
    compact_log(spark, hist_path, lambda: read_hist(spark, hist_path))


def run_calibration_monitor(
    spark: SparkSession,
    source_dir: str,
    hist_path: str,
    checkpoint_dir: str,
):
    """File-source streaming histogram maintenance: json documents land
    in `source_dir`; each epoch appends its scored partial cells."""
    stream = spark.readStream.schema(DOC_STREAM_SCHEMA).json(source_dir)

    def epoch(batch: DataFrame, batch_id: int) -> None:
        append_batch(batch.sparkSession, batch, hist_path, batch_id)

    return drain(stream, checkpoint_dir, epoch)
