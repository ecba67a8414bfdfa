"""Streaming experiment monitor (streaming/experiment_stream.py): bounded
daily partials + a first-seen user log; the served SPRT board and SRM
guardrail equal the hash-green batch queries BIT-FOR-BIT on the same
events (shared sprt_tail_sql / srm_tail_sql); replay cannot double-count;
compaction is the crash-safe swap."""

from __future__ import annotations

import json

import pyspark.sql.functions as F

from sentiment_analysis_data_pipeline_spark import queries as Q
from sentiment_analysis_data_pipeline_spark.streaming import experiment_stream as X

SF = "/root/testdata/sf0.001"


def _events_us(spark):
    """The test corpus as (event_id, ts_us, user_id, event_type) with the
    engine's epoch-us convention."""
    Q._events_view(spark, SF)
    return spark.sql(
        "SELECT event_id, ts div 1000 AS ts_us, user_id, event_type FROM events"
    )


def _land(spark, batch, daily: str, users: str, batch_id: int) -> None:
    """One epoch as run_experiment_monitor lands it: daily partial, then
    first-seen users."""
    X.DAILY.append(spark, batch, daily, batch_id)
    X.append_users(spark, batch, users, batch_id)


def test_streamed_sprt_and_srm_equal_batch_bit_for_bit(spark, tmp_path):
    ev = _events_us(spark)
    daily = str(tmp_path / "daily")
    users = str(tmp_path / "users")
    # the corpus lands in three epochs split by event_id
    for i in range(3):
        _land(spark, ev.filter(F.col("event_id") % 3 == i), daily, users, i)

    streamed = [tuple(r) for r in X.read_sprt(spark, daily).collect()]
    batch = [tuple(r) for r in Q.REGISTRY["sprt_ab"][0](spark, SF).collect()]
    assert streamed == batch  # EXACT equality incl. llr doubles

    s_srm = X.read_srm(spark, users).collect()[0]
    b_srm = Q.REGISTRY["srm_check"][0](spark, SF).collect()[0]
    assert tuple(s_srm) == tuple(b_srm)


def test_first_seen_user_log_never_duplicates(spark, tmp_path):
    ev = _events_us(spark)
    daily = str(tmp_path / "daily")
    users = str(tmp_path / "users")
    # two epochs with heavily overlapping users
    _land(spark, ev.filter(F.col("event_id") % 2 == 0), daily, users, 0)
    _land(spark, ev.filter(F.col("event_id") % 2 == 1), daily, users, 1)
    log = spark.read.schema(X.USERS_SCHEMA).parquet(users)
    n_rows = log.count()
    n_distinct = log.select("user_id").distinct().count()
    assert n_rows == n_distinct  # first-seen means ONE row per user, ever
    assert n_distinct == ev.select("user_id").distinct().count()


def test_replayed_epoch_lands_nothing(spark, tmp_path):
    ev = _events_us(spark).filter(F.col("event_id") % 5 == 0)
    daily = str(tmp_path / "daily")
    users = str(tmp_path / "users")
    _land(spark, ev, daily, users, 0)
    before_d = {tuple(r) for r in X.DAILY.read(spark, daily).collect()}
    before_u = spark.read.schema(X.USERS_SCHEMA).parquet(users).count()
    _land(spark, ev, daily, users, 0)  # foreachBatch retry
    assert {tuple(r) for r in X.DAILY.read(spark, daily).collect()} == before_d
    assert spark.read.schema(X.USERS_SCHEMA).parquet(users).count() == before_u


def test_stream_end_to_end_and_compaction(spark, tmp_path):
    source = tmp_path / "incoming"
    source.mkdir()
    daily = str(tmp_path / "daily")
    users = str(tmp_path / "users")
    ckpt = str(tmp_path / "ckpt")
    rows = _events_us(spark).limit(400).collect()
    half = len(rows) // 2
    for name, chunk in (("a.json", rows[:half]), ("b.json", rows[half:])):
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
    q = X.run_experiment_monitor(spark, str(source), daily, users, ckpt)
    q.awaitTermination(120)

    board = X.read_sprt(spark, daily).collect()
    assert len(board) == 2 * len({r["ts_us"] // Q.DAY_US for r in rows})
    n = sum(r["n_events"] for r in board) // 2  # each design sees every day
    assert n == len(rows)

    # compaction folds the epoch log; the served board is unchanged
    before = [tuple(r) for r in board]
    X.DAILY.compact(spark, daily)
    assert [tuple(r) for r in X.read_sprt(spark, daily).collect()] == before
    log = spark.read.schema(X.DAILY_SCHEMA).parquet(daily)
    assert log.select("batch_id").distinct().count() == 1  # one merged stamp
