"""The append/compact mutual-exclusion protocol (streaming/_log.py, round 9).

The round-8 verdict flagged that the epoch-log compaction's "run only in an
ingest pause" precondition was documented but not enforced: compaction folds
every stamp to COMPACTED_STAMP, so an epoch appended concurrently with a
compaction could be silently dropped by the swap or double-counted by its
own foreachBatch retry. These tests interleave the two paths through the
flag files directly and assert the contract: one side fails LOUDLY, and the
merged totals never drop or double-count a partial.
"""

from __future__ import annotations

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from sentiment_analysis_data_pipeline_spark.streaming import _log, drift_stream, hll_stream

SCHEMA = drift_stream.BANDS_SCHEMA


def _partial(spark, band: int, n: int, batch_id: int):
    return spark.createDataFrame([(band, n, batch_id)], SCHEMA)


def _total(spark, log_path: str) -> int:
    return (
        spark.read.schema(SCHEMA)
        .parquet(log_path)
        .agg(F.sum("n").alias("t"))
        .collect()[0]["t"]
    )


def test_append_then_compact_roundtrip(spark, tmp_path):
    log = str(tmp_path / "log")
    assert _log.guarded_append(spark, log, SCHEMA, 0, _partial(spark, 1, 10, 0))
    assert _log.guarded_append(spark, log, SCHEMA, 1, _partial(spark, 1, 5, 1))
    # replay of an already-logged epoch: idempotent no-op, returns False
    assert not _log.guarded_append(spark, log, SCHEMA, 1, _partial(spark, 1, 5, 1))
    assert _total(spark, log) == 15
    merged = (
        spark.read.schema(SCHEMA)
        .parquet(log)
        .groupBy("band")
        .agg(F.sum("n").alias("n"))
        .withColumn("batch_id", F.lit(_log.COMPACTED_STAMP).cast("long"))
    )
    _log.compact_log(spark, log, lambda: merged)
    assert _total(spark, log) == 15
    # both flags released after the happy path
    assert not _log._flag_exists(spark, log + "__compacting")
    assert _log._appending_markers(spark, log) == []


def test_append_refused_while_compacting(spark, tmp_path):
    log = str(tmp_path / "log")
    _log.guarded_append(spark, log, SCHEMA, 0, _partial(spark, 1, 10, 0))
    assert _log._create_flag(spark, log + "__compacting")
    try:
        with pytest.raises(_log.CompactionInProgress):
            _log.guarded_append(spark, log, SCHEMA, 1, _partial(spark, 1, 5, 1))
    finally:
        _log._remove_flag(spark, log + "__compacting")
    # the refused epoch landed NOTHING (no partial write, no marker leak)
    assert _total(spark, log) == 10
    assert _log._appending_markers(spark, log) == []
    # after the compaction flag clears, the retry of the same epoch lands once
    assert _log.guarded_append(spark, log, SCHEMA, 1, _partial(spark, 1, 5, 1))
    assert _total(spark, log) == 15


def test_compact_refused_while_appending(spark, tmp_path):
    log = str(tmp_path / "log")
    _log.guarded_append(spark, log, SCHEMA, 0, _partial(spark, 1, 10, 0))
    # simulate an in-flight epoch append: its marker exists, rows not yet in
    marker = log + "__appending_7"
    assert _log._create_flag(spark, marker)
    merged = (
        spark.read.schema(SCHEMA)
        .parquet(log)
        .withColumn("batch_id", F.lit(_log.COMPACTED_STAMP).cast("long"))
    )
    try:
        with pytest.raises(_log.IngestInFlight):
            _log.compact_log(spark, log, lambda: merged)
    finally:
        _log._remove_flag(spark, marker)
    # the refusal released the compaction flag, so ingest can proceed
    assert not _log._flag_exists(spark, log + "__compacting")
    assert _log.guarded_append(spark, log, SCHEMA, 7, _partial(spark, 2, 3, 7))
    assert _total(spark, log) == 13
    # and compaction now succeeds with identical totals
    merged2 = (
        spark.read.schema(SCHEMA)
        .parquet(log)
        .groupBy("band")
        .agg(F.sum("n").alias("n"))
        .withColumn("batch_id", F.lit(_log.COMPACTED_STAMP).cast("long"))
    )
    _log.compact_log(spark, log, lambda: merged2)
    assert _total(spark, log) == 13


def test_concurrent_compactions_exclude(spark, tmp_path):
    log = str(tmp_path / "log")
    _log.guarded_append(spark, log, SCHEMA, 0, _partial(spark, 1, 10, 0))
    merged = (
        spark.read.schema(SCHEMA)
        .parquet(log)
        .withColumn("batch_id", F.lit(_log.COMPACTED_STAMP).cast("long"))
    )
    assert _log._create_flag(spark, log + "__compacting")
    try:
        with pytest.raises(_log.IngestInFlight):
            _log.compact_log(spark, log, lambda: merged)
    finally:
        _log._remove_flag(spark, log + "__compacting")


def test_stale_flag_reclaimed(spark, tmp_path):
    log = str(tmp_path / "log")
    _log.guarded_append(spark, log, SCHEMA, 0, _partial(spark, 1, 10, 0))
    flag = log + "__compacting"
    assert _log._create_flag(spark, flag)
    old = time.time() - _log.STALE_FLAG_SEC - 60
    os.utime(flag, (old, old))
    # a crash leftover must not wedge ingest forever
    assert _log.guarded_append(spark, log, SCHEMA, 1, _partial(spark, 1, 5, 1))
    assert _total(spark, log) == 15
    assert not os.path.exists(flag)


def test_compaction_reads_fresh_listing_not_stale_snapshot(spark, tmp_path):
    """Round-10 soak regression: an epoch that lands COMPLETELY between a
    would-be compactor's read planning and its flag acquisition must
    survive the fold. compact_log takes a BUILDER and plans the read
    inside the critical section, so the late epoch is in the listing;
    the old DataFrame-argument form pinned the parquet file listing at
    construction time and silently erased the late epoch in the swap
    (observed as a 100-row loss in the processingTime soak)."""
    log = str(tmp_path / "log")
    _log.guarded_append(spark, log, SCHEMA, 0, _partial(spark, 1, 10, 0))

    def fresh_merged():
        return (
            spark.read.schema(SCHEMA)
            .parquet(log)
            .groupBy("band")
            .agg(F.sum("n").alias("n"))
            .withColumn("batch_id", F.lit(_log.COMPACTED_STAMP).cast("long"))
        )

    # the race, deterministically: epoch 1 lands AFTER the compactor's
    # intent is formed but BEFORE the flag is taken (its guarded checks
    # all legitimately pass -- no flag exists yet)
    _log.guarded_append(spark, log, SCHEMA, 1, _partial(spark, 2, 5, 1))
    _log.compact_log(spark, log, fresh_merged)
    assert _total(spark, log) == 15  # the late epoch survived the fold
    rows = spark.read.schema(SCHEMA).parquet(log).collect()
    assert {r["batch_id"] for r in rows} == {_log.COMPACTED_STAMP}


def test_compaction_killed_mid_swap_rolls_back(spark, tmp_path):
    """A compaction killed between swap_directory's two renames leaves no
    live log: the old one sits in `<log>__old_<app>`, the staged fold in
    `<log>__compact_tmp`. The next append rolls the old log back instead of
    starting a fresh one, so no landed user is lost and nothing is left
    behind."""
    epochs = [
        spark.range(i * 1000, (i + 1) * 1000).selectExpr("'view' AS event_type", "id AS user_id")
        for i in range(3)
    ]
    crashed, clean = str(tmp_path / "crashed"), str(tmp_path / "clean")
    for log in (crashed, clean):
        for i, batch in enumerate(epochs[:2]):
            hll_stream.SKETCH.append(spark, batch, log, i)
    app = spark.sparkContext.applicationId.replace("-", "_").replace(".", "_")
    shutil.copytree(crashed, crashed + "__compact_tmp")
    os.rename(crashed, f"{crashed}__old_{app}")
    for log in (crashed, clean):
        assert hll_stream.SKETCH.append(spark, epochs[2], log, 2)
    want = hll_stream.read_global_estimate(spark, clean)
    assert want > 2_000
    assert hll_stream.read_global_estimate(spark, crashed) == want
    assert sorted(os.listdir(tmp_path)) == ["clean", "crashed"]
