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
  (queries._clf_scored_sql over the epoch batch -- same 2^-20 sigmoid
  floor, same literals) and collapses them to (source, sq, pos, n)
  partial cells: at most sources x distinct-sq rows per epoch however
  large the batch. Cells are integer-exact and cell-wise summable, so
  epoch partials MERGE exactly.

* SERVING -- every read folds the log with one (source, sq) sum and runs
  the batch queries' EXACT SQL tails (queries.ap_hist_tail_sql /
  gains_hist_tail_sql / iso_hist_tail_sql / calibration_hist_tail_sql --
  the sprt_tail_sql convention), so streamed == batch is an EQUALITY on
  identical documents, not a tolerance test; the parity tests assert
  row-for-row equality including the doubles.

Delivery (replay-idempotent append, crash-safe compaction) is
`_log.Accumulator`'s.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import queries as Q
from ..functions import dialect as D
from ._log import Accumulator

HIST_SCHEMA = "source string, sq bigint, pos_s bigint, n_s bigint, batch_id bigint"
# the document stream carries the envelope fields the scorer consumes
DOC_STREAM_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def batch_hist(batch: DataFrame) -> DataFrame:
    """(source, sq, pos_s, n_s) partial cells for one micro-batch --
    scored through the batch suite's exact expression chain."""
    return batch.sparkSession.sql(
        Q._clf_hist_from_scored(D.SPARK, Q._clf_scored_sql(D.SPARK, src="{batch}")),
        batch=batch,
    )


# the merged histogram: per-(source, sq) sums over every epoch partial --
# the batch suite's sufficient statistic, reconstructed
HIST = Accumulator(
    DOC_STREAM_SCHEMA,
    HIST_SCHEMA,
    batch_hist,
    lambda log: log.groupBy("source", "sq").agg(
        F.sum("pos_s").cast("long").alias("pos_s"),
        F.sum("n_s").cast("long").alias("n_s"),
    ),
)

_HIST_SRC = "SELECT source, sq, pos_s, n_s FROM {hist}"


def _serve(spark: SparkSession, hist_path: str, tail_sql: str) -> DataFrame:
    return spark.sql(tail_sql, hist=HIST.read(spark, hist_path))


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
