"""Streaming HLL distinct-count accumulator -- the continuous twin of the
batch `hll_partition_merge` merge-algebra audit (queries.py), and the
distinct-count sibling of the Count-Min frequency stream (sketch_stream).

100 TB design: distinct-user state that never grows with the user
population. Each micro-batch collapses its event stream to ONE datasketches
HLL sketch per segment (event_type) -- a few KB regardless of how many
distinct users the batch carries -- stamped with the epoch id and appended
to a sketch log. The merged answer is `hll_union_agg` over the log: the
sketch union IS the read-side GROUP BY, which is exactly why the sketch is
the right distributed structure (no raw-event rescan for any date-range /
all-time distinct query). `compact_sketches` folds the epoch log back to
one partial per segment when the epoch count grows (the LSM-ish maintenance
step sketch_stream.compact_cells and compact_bucketed established).

Delivery: replay-idempotent by batch-stamp drop (the dedup_stream
index-append contract) -- a foreachBatch retry that fires after a
successful sketch write sees its own epoch id in the log and lands
nothing, so a replay cannot re-insert a batch's users (HLL insertion is
idempotent per user, but the stamp keeps the LOG canonical: one partial
per (segment, epoch), so compaction and audits see exact epoch counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ._log import compact_log, drain, guarded_append

SKETCH_SCHEMA = "event_type string, sk binary, batch_id bigint"
EVENT_STREAM_SCHEMA = "event_type string, user_id long"


def batch_sketches(batch: DataFrame) -> DataFrame:
    """(event_type, sk): one HLL sketch per segment over one batch."""
    return batch.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )


def append_batch_sketches(
    spark: SparkSession, batch: DataFrame, log_path: str, batch_id: int
) -> None:
    """Collapse one micro-batch to its per-segment sketch partials and
    append them, replay-idempotently: if this epoch's id is already in the
    log (a foreachBatch retry after a successful write), land nothing."""
    # replay-idempotence + append/compact mutual exclusion live in
    # _log.guarded_append (round-9: the ingest-pause contract is mechanical)
    guarded_append(spark, log_path, SKETCH_SCHEMA, batch_id, batch_sketches(batch))


def read_estimates(spark: SparkSession, log_path: str) -> DataFrame:
    """(event_type, distinct_users): the merged answer -- sketch union per
    segment over every appended partial, then the estimate. Raw events are
    never rescanned."""
    return (
        spark.read.schema(SKETCH_SCHEMA)
        .parquet(log_path)
        .groupBy("event_type")
        .agg(F.expr("hll_union_agg(sk)").alias("sk"))
        .select(
            "event_type",
            F.expr("cast(hll_sketch_estimate(sk) as bigint)").alias("distinct_users"),
        )
    )


def read_global_estimate(spark: SparkSession, log_path: str) -> int:
    """All-segments distinct estimate by unioning EVERY partial -- the
    date-range/all-time query pattern, one row out."""
    row = (
        spark.read.schema(SKETCH_SCHEMA)
        .parquet(log_path)
        .agg(F.expr("cast(hll_sketch_estimate(hll_union_agg(sk)) as bigint)").alias("d"))
        .collect()[0]
    )
    return int(row["d"])


def compact_sketches(spark: SparkSession, log_path: str) -> None:
    """Fold the epoch log back to one partial per segment (batch_id = -1).
    Crash-safe via the shared stage-then-atomic-rename swap
    (_log.compact_log); run only in an ingest pause (_log.py contract)."""
    compact_log(
        spark,
        log_path,
        lambda: (
            spark.read.schema(SKETCH_SCHEMA)
            .parquet(log_path)
            .groupBy("event_type")
            .agg(F.expr("hll_union_agg(sk)").alias("sk"))
        ),
    )


def run_streaming_hll(
    spark: SparkSession,
    source_dir: str,
    log_path: str,
    checkpoint_dir: str,
):
    """File-source streaming distinct-count maintenance: json events land
    in `source_dir`; each epoch appends its per-segment sketch partials to
    `log_path`."""
    stream = spark.readStream.schema(EVENT_STREAM_SCHEMA).json(source_dir)

    def epoch(batch: DataFrame, batch_id: int) -> None:
        append_batch_sketches(batch.sparkSession, batch, log_path, batch_id)

    return drain(stream, checkpoint_dir, epoch)
