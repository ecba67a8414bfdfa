"""Streaming HLL distinct-count accumulator -- the continuous twin of the
batch `hll_partition_merge` merge-algebra audit (queries.py), and the
distinct-count sibling of the Count-Min frequency stream (sketch_stream).

100 TB design: distinct-user state that never grows with the user
population. Each micro-batch collapses its event stream to ONE datasketches
HLL sketch per segment (event_type) -- a few KB regardless of how many
distinct users the batch carries -- appended to a sketch log. The merged
answer is `hll_union_agg` over the log: the sketch union IS the read-side
GROUP BY, which is exactly why the sketch is the right distributed
structure (no raw-event rescan for any date-range / all-time distinct
query).

Delivery (replay-idempotent append, crash-safe compaction) is
`_log.Accumulator`'s. HLL insertion is idempotent per user anyway; the
batch stamp keeps the LOG canonical: one partial per (segment, epoch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._log import Accumulator

SKETCH_SCHEMA = "event_type string, sk binary, batch_id bigint"
EVENT_STREAM_SCHEMA = "event_type string, user_id long"


def batch_sketches(batch: DataFrame) -> DataFrame:
    """(event_type, sk): one HLL sketch per segment over one batch."""
    return batch.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )


# the merged log: one sketch union per segment
SKETCH = Accumulator(
    EVENT_STREAM_SCHEMA,
    SKETCH_SCHEMA,
    batch_sketches,
    lambda log: log.groupBy("event_type").agg(F.expr("hll_union_agg(sk)").alias("sk")),
)


def read_estimates(spark: SparkSession, log_path: str) -> DataFrame:
    """(event_type, distinct_users): the estimate of each segment's merged
    sketch. Raw events are never rescanned."""
    return SKETCH.read(spark, log_path).select(
        "event_type",
        F.expr("cast(hll_sketch_estimate(sk) as bigint)").alias("distinct_users"),
    )


def read_global_estimate(spark: SparkSession, log_path: str) -> int:
    """All-segments distinct estimate by unioning every segment's merged
    sketch -- the date-range/all-time query pattern, one row out."""
    row = (
        SKETCH.read(spark, log_path)
        .agg(F.expr("cast(hll_sketch_estimate(hll_union_agg(sk)) as bigint)").alias("d"))
        .collect()[0]
    )
    return int(row["d"])
