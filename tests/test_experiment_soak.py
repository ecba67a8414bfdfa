"""processingTime soak of the streaming experiment monitor (round-9 verdict
item 8): timer-driven epochs overlapping live DAILY.compact calls must end
in either a clean fold or a LOUD flag-file error -- never a silently
dropped or double-counted partial. The availableNow tests prove the happy
path on sequential epochs; this one proves the mutual-exclusion contract
under the cadence a production deployment actually runs."""

from __future__ import annotations

import json
import time

import pyspark.sql.functions as F

from sentiment_analysis_data_pipeline_spark import queries as Q
from sentiment_analysis_data_pipeline_spark.streaming import experiment_stream as X
from sentiment_analysis_data_pipeline_spark.streaming._log import (
    COMPACTED_STAMP,
    CompactionInProgress,
    IngestInFlight,
)

SF = "/root/testdata/sf0.001"
N_DROPS = 10


def _event_rows(spark):
    Q._events_view(spark, SF)
    return spark.sql(
        "SELECT event_id, ts div 1000 AS ts_us, user_id, event_type FROM events"
    ).collect()


def _write_drop(source, name: str, chunk) -> None:
    with open(source / name, "w") as f:
        for r in chunk:
            f.write(
                json.dumps(
                    {
                        "event_id": r["event_id"],
                        "ts_us": r["ts_us"],
                        "user_id": r["user_id"],
                        "event_type": r["event_type"],
                    }
                )
                + "\n"
            )


def test_processing_time_soak_with_live_compaction(spark, tmp_path):
    source = tmp_path / "incoming"
    source.mkdir()
    daily = str(tmp_path / "daily")
    users = str(tmp_path / "users")
    ckpt = str(tmp_path / "ckpt")

    rows = _event_rows(spark)
    per = len(rows) // N_DROPS
    assert per > 0

    t0 = time.time()
    q = X.run_experiment_monitor(
        spark, str(source), daily, users, ckpt, processing_time="300 milliseconds"
    )
    compactions_ok = 0
    compactions_refused = 0
    epoch_failures = 0
    try:
        for i in range(N_DROPS):
            chunk = rows[i * per : (i + 1) * per] if i < N_DROPS - 1 else rows[
                (N_DROPS - 1) * per :
            ]
            _write_drop(source, f"drop_{i:02d}.json", chunk)
            # interleave a maintenance compaction with the live timer --
            # the race this soak exists to exercise. Any outcome but a
            # loud error or a clean fold is a contract violation.
            if i % 2 == 1:
                try:
                    X.DAILY.compact(spark, daily)
                    compactions_ok += 1
                except (IngestInFlight, CompactionInProgress):
                    compactions_refused += 1
                except Exception as exc:  # the daily log may not exist yet
                    if "PATH_NOT_FOUND" not in str(exc) and "Path does not" not in str(
                        exc
                    ):
                        raise
            time.sleep(0.7)
        # drain: wait until every drop's rows are visible or the query dies
        deadline = time.time() + 90
        while time.time() < deadline:
            if not q.isActive:
                # an epoch lost a race to a compaction -- the documented
                # loud path. Restart from the checkpoint: the replay must
                # land the missed epoch exactly once.
                epoch_failures += 1
                q = X.run_experiment_monitor(
                    spark,
                    str(source),
                    daily,
                    users,
                    ckpt,
                    processing_time="300 milliseconds",
                )
            try:
                got = X.DAILY.read(spark, daily).agg(F.sum("n")).collect()[0][0]
            except Exception:
                got = 0
            if got == len(rows):
                break
            time.sleep(1.0)
    finally:
        if q.isActive:
            q.stop()
    wall = time.time() - t0

    # ZERO replay/compaction violations: exact totals, whatever interleaving
    # happened (drops lose rows; double-counts add them -- both move sums).
    daily_df = X.DAILY.read(spark, daily)
    assert daily_df.agg(F.sum("n")).collect()[0][0] == len(rows)
    n_purchases = sum(1 for r in rows if r["event_type"] == "purchase")
    assert daily_df.agg(F.sum("c")).collect()[0][0] == n_purchases

    # first-seen user log: one row per distinct user, ever
    log = spark.read.schema(X.USERS_SCHEMA).parquet(users)
    assert log.count() == log.select("user_id").distinct().count()
    assert log.count() == len({r["user_id"] for r in rows})

    # a final quiescent compaction always succeeds and changes nothing
    board_before = [tuple(r) for r in X.read_sprt(spark, daily).collect()]
    X.DAILY.compact(spark, daily)
    assert [tuple(r) for r in X.read_sprt(spark, daily).collect()] == board_before
    stamps = (
        spark.read.schema(X.DAILY_SCHEMA)
        .parquet(daily)
        .select("batch_id")
        .distinct()
        .collect()
    )
    assert [r["batch_id"] for r in stamps] == [COMPACTED_STAMP]

    print(
        f"SOAK: {N_DROPS} drops / wall {wall:.1f}s / compactions ok="
        f"{compactions_ok} refused={compactions_refused} "
        f"epoch_failures_restarted={epoch_failures}"
    )
