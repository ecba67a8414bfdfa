"""Streaming Count-Min accumulator -- the continuous twin of the batch
`countmin_heavy_hitters` audit (queries.py), built on operators/sketch.

100 TB design: frequency state that never grows with the vocabulary. Each
micro-batch collapses its token stream to ONE sketch partial (at most
CM_DEPTH * CM_WIDTH = 2048 cell rows, however large the batch), stamped
with the epoch id and appended to a cell log. The merged sketch is a
(j, col) sum over the log -- the mergeability that makes the sketch the
right distributed structure is exactly the read-side GROUP BY. The log is
an LSM-ish structure: `compact_cells` folds it back to one partial when
the epoch count grows, the same maintenance step the bucketed band index
gets from compact_bucketed.

Delivery: the append is replay-idempotent by batch-stamp drop (the
dedup_stream index-append contract) -- a foreachBatch retry that fires
after the cell write sees its own epoch id in the log and lands nothing,
so a replay cannot double-count a batch's tokens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketch import countmin_cells
from ._log import compact_log, drain, guarded_append

CELLS_SCHEMA = "j bigint, col bigint, cnt bigint, batch_id bigint"
DOC_STREAM_SCHEMA = "doc_id long, text string"


def append_batch_cells(
    spark: SparkSession, batch: DataFrame, cells_path: str, batch_id: int
) -> None:
    """Collapse one micro-batch to its sketch partial and append it,
    replay-idempotently: if this epoch's id is already in the log (a
    foreachBatch retry after a successful write), land nothing."""
    # replay-idempotence + append/compact mutual exclusion live in
    # _log.guarded_append (round-9: the ingest-pause contract is mechanical)
    guarded_append(spark, cells_path, CELLS_SCHEMA, batch_id, countmin_cells(batch))


def read_sketch(spark: SparkSession, cells_path: str) -> DataFrame:
    """The merged sketch: cell-wise sum over every appended partial."""
    return (
        spark.read.schema(CELLS_SCHEMA)
        .parquet(cells_path)
        .groupBy("j", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )


def compact_cells(spark: SparkSession, cells_path: str) -> None:
    """Fold the epoch log back to one merged partial (batch_id = -1):
    bounded read-side work after many epochs. Crash-safe via the shared
    stage-then-atomic-rename swap (_log.compact_log); run only in an
    ingest pause -- the contract stated in _log.py."""
    compact_log(spark, cells_path, lambda: read_sketch(spark, cells_path))


def run_streaming_countmin(
    spark: SparkSession,
    source_dir: str,
    cells_path: str,
    checkpoint_dir: str,
):
    """File-source streaming sketch maintenance: json docs land in
    `source_dir`; each epoch appends its sketch partial to `cells_path`."""
    stream = spark.readStream.schema(DOC_STREAM_SCHEMA).json(source_dir)

    def epoch(batch: DataFrame, batch_id: int) -> None:
        append_batch_cells(batch.sparkSession, batch, cells_path, batch_id)

    return drain(stream, checkpoint_dir, epoch)
