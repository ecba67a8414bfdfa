"""Streaming HDR-histogram accumulator -- the continuous twin of the batch
`hdr_quantiles` audit (queries.py), built on operators/sketch.hdr_cells.
Completes the streaming sketch trio: sketch_stream (Count-Min, frequency),
hll_stream (HLL, distinct), this (HDR, quantiles).

100 TB design: quantile state that never grows with value cardinality.
Each micro-batch collapses its events to ONE histogram partial (at most
~16 * 60 bucket rows per segment, however large the batch), stamped with
the epoch id and appended to a cell log. The merged histogram is a
(segment, idx) sum over the log -- any date-range or all-time percentile
is answered from cell merge without rescanning raw events. Unlike the
HLL stream the structure is EXACT integer arithmetic, so a replayed
stream rebuilds it bit-for-bit and streamed == batch is an equality
test, not a tolerance test.

Delivery: the append is replay-idempotent by batch-stamp drop (the
dedup_stream index-append contract) -- a foreachBatch retry that fires
after the cell write sees its own epoch id in the log and lands nothing,
so a replay cannot double-count a batch's events. `compact_cells` folds
the epoch log back to one partial (LSM-ish maintenance, same as the
Count-Min stream's).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dialect as D
from ..operators.sketch import HDR_SUB_BITS, hdr_cells, hdr_lower_sql
from ._log import compact_log, drain, guarded_append

CELLS_SCHEMA = "segment string, idx bigint, cnt bigint, batch_id bigint"
EVENT_STREAM_SCHEMA = "event_id long, event_type string, value double"


def append_batch_cells(
    spark: SparkSession, batch: DataFrame, cells_path: str, batch_id: int
) -> None:
    """Collapse one micro-batch to its histogram partial and append it,
    replay-idempotently: if this epoch's id is already in the log (a
    foreachBatch retry after a successful write), land nothing."""
    # replay-idempotence + append/compact mutual exclusion live in
    # _log.guarded_append (round-9: the ingest-pause contract is mechanical)
    guarded_append(spark, cells_path, CELLS_SCHEMA, batch_id, hdr_cells(batch))


def read_hist(spark: SparkSession, cells_path: str) -> DataFrame:
    """The merged histogram: (segment, idx) sum over every partial."""
    return (
        spark.read.schema(CELLS_SCHEMA)
        .parquet(cells_path)
        .groupBy("segment", "idx")
        .agg(F.sum("cnt").alias("cnt"))
    )


def quantiles_from_hist(hist: DataFrame, percent: int = 50) -> DataFrame:
    """Serve a percentile per segment from merged cells only (raw events
    are never consulted): (segment, n, p_est floor-cents). `percent` is an
    integer 1-99; the rank is the exact ceil(p*n/100) both engines use."""
    hist.createOrReplaceTempView("hdr_hist_serve")
    k = D.int_div(D.SPARK, f"({percent} * n + 99)", "100")
    lo = hdr_lower_sql("i")
    return hist.sparkSession.sql(
        f"""
        WITH tot AS (
            SELECT segment, cast(sum(cnt) as bigint) AS n
            FROM hdr_hist_serve GROUP BY segment
        ),
        cum AS (
            SELECT segment, idx,
                   sum(cnt) OVER (PARTITION BY segment ORDER BY idx) AS cum
            FROM hdr_hist_serve
        ),
        pick AS (
            SELECT t.segment, t.n,
                   min(case when c.cum >= {k} then c.idx end) AS i
            FROM tot t JOIN cum c ON c.segment = t.segment
            GROUP BY t.segment, t.n
        )
        SELECT segment, n, cast({lo} as bigint) AS p_est FROM pick
        """
    )


def compact_cells(spark: SparkSession, cells_path: str) -> None:
    """Fold the epoch log back to one merged partial (batch_id = -1):
    bounded read-side work after many epochs. Crash-safe via the shared
    stage-then-atomic-rename swap (_log.compact_log); run only in an
    ingest pause (_log.py contract)."""
    compact_log(spark, cells_path, lambda: read_hist(spark, cells_path))


def run_streaming_hdr(
    spark: SparkSession,
    source_dir: str,
    cells_path: str,
    checkpoint_dir: str,
):
    """File-source streaming histogram maintenance: json events land in
    `source_dir`; each epoch appends its histogram partial to
    `cells_path`."""
    stream = spark.readStream.schema(EVENT_STREAM_SCHEMA).json(source_dir)

    def epoch(batch: DataFrame, batch_id: int) -> None:
        append_batch_cells(batch.sparkSession, batch, cells_path, batch_id)

    return drain(stream, checkpoint_dir, epoch)


__all__ = [
    "CELLS_SCHEMA",
    "EVENT_STREAM_SCHEMA",
    "HDR_SUB_BITS",
    "append_batch_cells",
    "compact_cells",
    "quantiles_from_hist",
    "read_hist",
    "run_streaming_hdr",
]
