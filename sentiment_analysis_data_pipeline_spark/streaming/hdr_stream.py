"""Streaming HDR-histogram accumulator -- the continuous twin of the batch
`hdr_quantiles` audit (queries.py), built on operators/sketch.hdr_cells.
Completes the streaming sketch trio: sketch_stream (Count-Min, frequency),
hll_stream (HLL, distinct), this (HDR, quantiles).

100 TB design: quantile state that never grows with value cardinality.
Each micro-batch collapses its events to ONE histogram partial (at most
~16 * 60 bucket rows per segment, however large the batch) appended to a
cell log. The merged histogram is a (segment, idx) sum over the log --
any date-range or all-time percentile is answered from cell merge without
rescanning raw events. Unlike the HLL stream the structure is EXACT
integer arithmetic, so a replayed stream rebuilds it bit-for-bit and
streamed == batch is an equality test, not a tolerance test.

Delivery (replay-idempotent append, crash-safe compaction) is
`_log.Accumulator`'s.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import dialect as D
from ..operators.sketch import hdr_cells, hdr_lower_sql
from ._log import Accumulator

CELLS_SCHEMA = "segment string, idx bigint, cnt bigint, batch_id bigint"
EVENT_STREAM_SCHEMA = "event_id long, event_type string, value double"

# the merged histogram: (segment, idx) sum over every partial
CELLS = Accumulator(
    EVENT_STREAM_SCHEMA,
    CELLS_SCHEMA,
    hdr_cells,
    lambda log: log.groupBy("segment", "idx").agg(F.sum("cnt").alias("cnt")),
)


def quantiles_from_hist(hist: DataFrame, percent: int = 50) -> DataFrame:
    """Serve a percentile per segment from merged cells only (raw events
    are never consulted): (segment, n, p_est floor-cents). `percent` is an
    integer 1-99; the rank is the exact ceil(p*n/100) both engines use."""
    k = D.int_div(D.SPARK, f"({percent} * n + 99)", "100")
    lo = hdr_lower_sql("i")
    return hist.sparkSession.sql(
        f"""
        WITH tot AS (
            SELECT segment, cast(sum(cnt) as bigint) AS n
            FROM {{hist}} GROUP BY segment
        ),
        cum AS (
            SELECT segment, idx,
                   sum(cnt) OVER (PARTITION BY segment ORDER BY idx) AS cum
            FROM {{hist}}
        ),
        pick AS (
            SELECT t.segment, t.n,
                   min(case when c.cum >= {k} then c.idx end) AS i
            FROM tot t JOIN cum c ON c.segment = t.segment
            GROUP BY t.segment, t.n
        )
        SELECT segment, n, cast({lo} as bigint) AS p_est FROM pick
        """,
        hist=hist,
    )
