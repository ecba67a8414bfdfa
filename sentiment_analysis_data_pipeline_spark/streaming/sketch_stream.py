"""Streaming Count-Min accumulator -- the continuous twin of the batch
`countmin_heavy_hitters` audit (queries.py), built on operators/sketch.

100 TB design: frequency state that never grows with the vocabulary. Each
micro-batch collapses its token stream to ONE sketch partial (at most
CM_DEPTH * CM_WIDTH = 2048 cell rows, however large the batch) appended to
a cell log. The merged sketch is a (j, col) sum over the log -- the
mergeability that makes the sketch the right distributed structure is
exactly the read-side GROUP BY.

Delivery (replay-idempotent append, crash-safe compaction) is
`_log.Accumulator`'s.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.sketch import countmin_cells
from ._log import Accumulator

CELLS_SCHEMA = "j bigint, col bigint, cnt bigint, batch_id bigint"
DOC_STREAM_SCHEMA = "doc_id long, text string"

# the merged sketch: cell-wise sum over every appended partial
CELLS = Accumulator(
    DOC_STREAM_SCHEMA,
    CELLS_SCHEMA,
    countmin_cells,
    lambda log: log.groupBy("j", "col").agg(F.sum("cnt").alias("cnt")),
)
