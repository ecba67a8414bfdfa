"""The streaming contract, decided once for every foreachBatch stream in
this package: how an epoch is triggered and checkpointed (`drain`), how a
sink guard reads what already landed (`landed_keys`), and the epoch log
the accumulators (sketch/hll/hdr/reservoir/drift/calibration/experiment)
append to (`Accumulator`, over `guarded_append` and `compact_log`).
End-to-end exactly-once needs both halves: a replayable, checkpointed
source (`drain`) and a sink whose guard turns a replayed epoch into a
no-op (`landed_keys`, the batch_id stamp).

- `Accumulator` is one streamed accumulator: a micro-batch collapses to a
  mergeable partial (`partial`), the log reads back through one merge
  (`merge`), and compaction folds the log with that same merge. Each
  stream module declares its value and keeps only its partial builder,
  merge, schemas and serving reads.

- `drain` runs an epoch function over a stream with a checkpoint and the
  availableNow trigger (drain what is present, then stop), or a
  processingTime trigger when one is given.

- `landed_keys` is the one sink-existence check. Path-absent (the first
  epoch) is an FS existence check, not a swallowed exception, so a real
  read error (a corrupt part file, a transient object-store failure)
  propagates and the foreachBatch retry re-checks. Swallowing it would
  silently skip the guard and land the epoch twice. The explicit schema
  keeps a dir that holds only a killed first append's `_temporary/`
  files readable as zero rows; schema inference fails on it.

- `guarded_append` stamps each partial with its epoch id and skips an
  epoch the log already holds (`log_has_epoch`), so a replay cannot
  double-count a batch.

- `compact_log` stamps the merged partial COMPACTED_STAMP, stages it in a
  tmp dir and swaps it into place with two renames
  (sources.tables.swap_directory -- the compact_bucketed protocol). A
  process killed between the renames leaves no live log, only the old
  one in `<log>__old_<app>` and the staged fold in `<log>__compact_tmp`;
  the next append or compaction that gets past the flags below (a killed
  compactor's `__compacting` flag expires after STALE_FLAG_SEC) rolls it
  back (`_recover_log`): under the flags no live compactor can be
  between its renames.

Concurrency contract: compaction folds every stamp to COMPACTED_STAMP,
which defeats an IN-FLIGHT epoch's replay check, and an append landing
between the read and the swap is dropped by the swap. The "run compaction
only in an ingest pause" precondition is made mechanical by a pair of
filesystem flags (Dekker-style -- each side sets its own flag, then
checks the other's):

- an appender first checks `<log>__compacting` (raise if present), then
  creates `<log>__appending_<epoch>`, then RE-checks the compaction flag
  (raise + clean up if it appeared -- the compactor may not have seen our
  marker), then appends and removes its marker;
- `compact_log` creates `<log>__compacting` atomically (raise if one
  already exists), then refuses loudly if ANY `__appending_*` marker
  exists, so a mid-append epoch can never be silently dropped by the
  swap nor double-counted after the stamp fold.

Either interleaving therefore ends in a LOUD error on one side (the
foreachBatch retry re-runs the epoch later; compaction is a maintenance
call the operator re-issues), never a dropped or double-counted partial.
tests/test_log_guard.py interleaves the two paths and asserts exactly
that; tests/test_experiment_soak.py runs a processingTime stream against
live compactions. Markers left by a crashed process are expired after
STALE_FLAG_SEC (appends and compactions are seconds-long).
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..sources.tables import _fs_for, swap_directory

# Stamp for compacted (merged) partials: never a real epoch id.
COMPACTED_STAMP = -1

# A __compacting / __appending_* flag older than this is a crash leftover
# (both operations complete in seconds), reclaimed instead of honored.
STALE_FLAG_SEC = 600.0


def drain(
    stream: DataFrame,
    checkpoint_dir: str,
    epoch: Callable[[DataFrame, int], None],
    processing_time: str | None = None,
) -> StreamingQuery:
    """Run `epoch(batch, batch_id)` on every micro-batch of `stream`,
    checkpointed in `checkpoint_dir`. The default availableNow trigger
    drains what is present, then stops (the test/backfill mode); pass
    `processing_time` (e.g. "5 minutes") for a timer-driven cadence.

    foreachBatch hands each batch to a CLONED session: temp views an epoch
    registers live there, so every read and sql call inside `epoch` must
    go through `batch.sparkSession`, not the session that built `stream`."""
    writer = stream.writeStream.foreachBatch(epoch).option(
        "checkpointLocation", checkpoint_dir
    )
    if processing_time is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def landed_keys(
    spark: SparkSession, path: str, schema: str | StructType
) -> DataFrame | None:
    """What a parquet sink already holds, read with `schema` (name only the
    key columns a guard joins on), or None iff the path does not exist
    (module docstring: why this is an existence check, not a caught read
    error)."""
    fs, hpath = _fs_for(spark, path)
    if not fs.exists(hpath):
        return None
    return spark.read.schema(schema).parquet(path)


def _flag_path(log_path: str, suffix: str) -> str:
    return log_path.rstrip("/") + suffix


def _flag_exists(spark: SparkSession, flag: str) -> bool:
    """True iff the flag file exists AND is fresh; a stale flag is deleted
    (crash leftover) and reported absent."""
    fs, hpath = _fs_for(spark, flag)
    if not fs.exists(hpath):
        return False
    try:
        age = time.time() - fs.getFileStatus(hpath).getModificationTime() / 1000.0
    except Exception:
        return True  # raced with the owner's delete: treat as live
    if age > STALE_FLAG_SEC:
        fs.delete(hpath, False)
        return False
    return True


def _create_flag(spark: SparkSession, flag: str) -> bool:
    """Atomically create the flag file; False if it already exists (fresh).
    A stale leftover is reclaimed first."""
    _flag_exists(spark, flag)  # expire a stale flag so createNewFile can win
    fs, hpath = _fs_for(spark, flag)
    return bool(fs.createNewFile(hpath))


def _remove_flag(spark: SparkSession, flag: str) -> None:
    fs, hpath = _fs_for(spark, flag)
    if fs.exists(hpath):
        fs.delete(hpath, False)


def _appending_markers(spark: SparkSession, log_path: str) -> list[str]:
    """Fresh `__appending_*` markers beside the log (stale ones expired)."""
    parent = log_path.rstrip("/")
    prefix = parent.rsplit("/", 1)[-1] + "__appending_"
    fs, hdir = _fs_for(spark, parent.rsplit("/", 1)[0] or "/")
    if not fs.exists(hdir):
        return []
    out = []
    for st in fs.listStatus(hdir):
        name = st.getPath().getName()
        if name.startswith(prefix):
            full = parent.rsplit("/", 1)[0] + "/" + name
            if _flag_exists(spark, full):
                out.append(full)
    return out


class CompactionInProgress(RuntimeError):
    """An epoch append refused because a compaction holds the log."""


class IngestInFlight(RuntimeError):
    """A compaction refused because an epoch append is mid-write."""


def guarded_append(
    spark: SparkSession,
    log_path: str,
    schema: str,
    batch_id: int,
    partial: DataFrame,
) -> bool:
    """Append one epoch partial, stamped `batch_id = batch_id`,
    replay-idempotently UNDER the append/compact mutual-exclusion protocol
    (module docstring). Returns False when the epoch was already logged
    (idempotent replay), True when appended.
    Raises CompactionInProgress (loudly -- the foreachBatch retry re-runs
    the epoch) instead of ever racing a compaction swap."""
    compacting = _flag_path(log_path, "__compacting")
    if _flag_exists(spark, compacting):
        raise CompactionInProgress(
            f"epoch {batch_id}: compaction holds {log_path}; retry the batch"
        )
    marker = _flag_path(log_path, f"__appending_{batch_id}")
    if not _create_flag(spark, marker):
        # a concurrent retry of the SAME epoch is mid-append; the replay
        # check below would miss its in-flight rows -- fail to the retry
        raise CompactionInProgress(
            f"epoch {batch_id}: another append of this epoch is in flight"
        )
    try:
        # re-check AFTER our marker is visible: the compactor either sees
        # the marker and aborts, or we see its flag here and abort
        if _flag_exists(spark, compacting):
            raise CompactionInProgress(
                f"epoch {batch_id}: compaction started under us on {log_path}"
            )
        _recover_log(spark, log_path)
        if log_has_epoch(spark, log_path, schema, batch_id):
            return False
        partial.withColumn("batch_id", F.lit(batch_id).cast("long")).write.mode(
            "append"
        ).parquet(log_path)
        return True
    finally:
        _remove_flag(spark, marker)


def _recover_log(spark: SparkSession, log_path: str) -> None:
    """Roll back a compaction killed between swap_directory's two renames:
    when `<log>` is absent and a `<log>__old_*` dir exists, rename the
    newest one back to `<log>` and delete `<log>__compact_tmp`. The fold
    is recomputable from the old log, so rolling back loses nothing. Call
    only under the flag protocol (module docstring)."""
    fs, hlog = _fs_for(spark, log_path.rstrip("/"))
    if fs.exists(hlog) or not fs.exists(hlog.getParent()):
        return
    prefix = hlog.getName() + "__old_"
    olds = [
        st for st in fs.listStatus(hlog.getParent()) if st.getPath().getName().startswith(prefix)
    ]
    if olds:
        newest = max(olds, key=lambda st: st.getModificationTime())
        fs.rename(newest.getPath(), hlog)
        fs.delete(hlog.suffix("__compact_tmp"), True)


def log_has_epoch(
    spark: SparkSession, log_path: str, schema: str, batch_id: int
) -> bool:
    """True iff `batch_id`'s partial is already in the epoch log (read
    through `landed_keys`: an absent log is the first epoch, a read error
    propagates)."""
    log = landed_keys(spark, log_path, schema)
    return log is not None and bool(log.filter(F.col("batch_id") == batch_id).take(1))


def compact_log(
    spark: SparkSession,
    log_path: str,
    merged_builder: "Callable[[], DataFrame]",
) -> None:
    """Fold the epoch log to the single merged partial built by
    `merged_builder`, stamped `batch_id = COMPACTED_STAMP`: stage to a tmp
    dir, then rename-swap into the live path (module docstring: the crash
    window between the two renames).

    Mutual exclusion (round 9, module docstring): takes the
    `__compacting` flag first and refuses with IngestInFlight if any
    fresh `__appending_*` marker exists -- the documented ingest-pause
    precondition is now a mechanical check, not a comment.

    `merged_builder` is a THUNK, not a DataFrame (round 10 -- the
    processingTime soak caught silent data loss with the DataFrame form):
    `spark.read.parquet(log)` pins its FILE LISTING when the DataFrame is
    constructed, so a merged relation built before this function takes
    the `__compacting` flag reads a stale snapshot -- an epoch that lands
    COMPLETELY between that listing and the flag (all its guarded_append
    checks legitimately pass: no flag existed yet) is then erased by the
    swap with no error on either side. Building the read inside the
    critical section closes the window: any append after the flag exists
    raises CompactionInProgress on the appender side, and everything
    before it is in the listing."""
    compacting = _flag_path(log_path, "__compacting")
    if not _create_flag(spark, compacting):
        raise IngestInFlight(f"another compaction already holds {log_path}")
    try:
        markers = _appending_markers(spark, log_path)
        if markers:
            raise IngestInFlight(
                f"compaction refused: epoch append(s) in flight on {log_path}:"
                f" {[m.rsplit('/', 1)[-1] for m in markers]}"
            )
        _recover_log(spark, log_path)
        tmp = log_path.rstrip("/") + "__compact_tmp"
        # the listing AND the materialization both happen inside the
        # critical section: writing to tmp fully materializes the merged
        # read of the live log BEFORE the live path changes; the swap then
        # needs no second copy
        merged_builder().withColumn(
            "batch_id", F.lit(COMPACTED_STAMP).cast("long")
        ).write.mode("overwrite").parquet(tmp)
        swap_directory(spark, tmp, log_path.rstrip("/"))
    finally:
        _remove_flag(spark, compacting)


@dataclass(frozen=True)
class Accumulator:
    """One streamed accumulator over an epoch log. `partial(batch)` collapses
    a micro-batch to a mergeable partial (the log's columns minus
    `batch_id`); `merge(log)` folds any set of logged partials to the
    merged answer, and compaction folds with that same merge."""

    stream_schema: str
    log_schema: str
    partial: Callable[[DataFrame], DataFrame]
    merge: Callable[[DataFrame], DataFrame]

    def append(
        self, spark: SparkSession, batch: DataFrame, log_path: str, batch_id: int
    ) -> bool:
        """Land `batch`'s partial as epoch `batch_id`; False on a replay."""
        return guarded_append(
            spark, log_path, self.log_schema, batch_id, self.partial(batch)
        )

    def read(self, spark: SparkSession, log_path: str) -> DataFrame:
        """The merged answer over every logged partial."""
        return self.merge(spark.read.schema(self.log_schema).parquet(log_path))

    def compact(self, spark: SparkSession, log_path: str) -> None:
        """Fold the log to its merged partial (`compact_log`)."""
        compact_log(spark, log_path, lambda: self.read(spark, log_path))

    def run(
        self, spark: SparkSession, source_dir: str, log_path: str, checkpoint_dir: str
    ) -> StreamingQuery:
        """Drain the json files in `source_dir`, appending each epoch's
        partial to `log_path`."""

        def epoch(batch: DataFrame, batch_id: int) -> None:
            self.append(batch.sparkSession, batch, log_path, batch_id)

        stream = spark.readStream.schema(self.stream_schema).json(source_dir)
        return drain(stream, checkpoint_dir, epoch)
