"""Streaming EXPERIMENT MONITOR -- the continuous twin of the batch
experimentation suite (queries.srm_check + queries.sprt_ab): sample-ratio
guardrail and mirrored-pair Wald SPRT served from bounded accumulator
state, because sequential tests are the streaming-native statistic (the
whole point of an SPRT is to look after EVERY batch).

100 TB design, two logs:

* DAILY log -- an `_log.Accumulator`: each micro-batch collapses its
  events to (dd, n, c) daily partials (calendar-bounded rows however
  large the batch). The serving read folds the log with one (dd) sum and
  runs EXACTLY the batch query's SQL tail (queries.sprt_tail_sql --
  identical integer literals, identical windows), so streamed == batch is
  an EQUALITY test on identical events, not a tolerance test.
* FIRST-SEEN USER log -- exact SRM needs distinct users, so each epoch
  appends only the users it sees for the FIRST time (anti-join against
  the accumulated log -- the incremental_dedup pattern; state grows with
  the USER universe, the honest lower bound for an exact distinct, never
  with event volume). The anti-join reads the log itself, so this append
  calls `_log.guarded_append` directly. The log is one row per user and
  needs no folding. The guardrail read counts the log per variant
  through the batch query's chi-square tail (queries.srm_tail_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries import DAY_US, sprt_tail_sql, srm_tail_sql
from ._log import Accumulator, drain, guarded_append, landed_keys

DAILY_SCHEMA = "dd bigint, n bigint, c bigint, batch_id bigint"
USERS_SCHEMA = "user_id bigint, batch_id bigint"
# the stream carries epoch-MICROSECOND timestamps as long (JSON-friendly;
# matches the engine's internal `ts div 1000` convention)
EVENT_STREAM_SCHEMA = "event_id long, ts_us long, user_id long, event_type string"


def batch_daily(batch: DataFrame) -> DataFrame:
    """(dd, n, c) daily-conversion partial for one micro-batch -- at most
    one row per calendar day regardless of batch size."""
    return (
        batch.select(F.expr(f"ts_us div {DAY_US}").alias("dd"), "event_type")
        .groupBy("dd")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.expr("case when event_type = 'purchase' then 1 else 0 end"))
            .cast("long")
            .alias("c"),
        )
    )


# the merged daily-conversion relation: per-day sums over every partial
DAILY = Accumulator(
    EVENT_STREAM_SCHEMA,
    DAILY_SCHEMA,
    batch_daily,
    lambda log: log.groupBy("dd").agg(
        F.sum("n").cast("long").alias("n"), F.sum("c").cast("long").alias("c")
    ),
)


def append_users(
    spark: SparkSession, batch: DataFrame, users_path: str, batch_id: int
) -> bool:
    """Land the epoch's FIRST-SEEN users (anti-join against the
    accumulated user log), replay-idempotently by batch stamp."""
    epoch_users = batch.select(F.col("user_id").cast("long")).distinct()
    seen = landed_keys(spark, users_path, "user_id bigint")
    if seen is not None:
        epoch_users = epoch_users.join(seen, "user_id", "left_anti")
    return guarded_append(spark, users_path, USERS_SCHEMA, batch_id, epoch_users)


def read_sprt(spark: SparkSession, daily_path: str) -> DataFrame:
    """The live SPRT board: the accumulated daily relation through the
    SAME tail the batch sprt_ab query uses -- bit-identical decisions on
    identical counts (parity test asserts row-for-row equality)."""
    return spark.sql(
        sprt_tail_sql("SELECT dd, n, c FROM {daily}"),
        daily=DAILY.read(spark, daily_path),
    )


def read_srm(spark: SparkSession, users_path: str) -> DataFrame:
    """The live SRM guardrail over the first-seen user log, through the
    batch chi-square tail."""
    return spark.sql(
        srm_tail_sql("SELECT DISTINCT user_id FROM {users}"),
        users=spark.read.schema(USERS_SCHEMA).parquet(users_path),
    )


def run_experiment_monitor(
    spark: SparkSession,
    source_dir: str,
    daily_path: str,
    users_path: str,
    checkpoint_dir: str,
    processing_time: str | None = None,
):
    """File-source streaming experiment maintenance: json events land in
    `source_dir`; each epoch appends its daily partial, then its
    first-seen users. Each append is independently replay-idempotent by
    batch stamp, so a retry after a partial failure converges: the
    already-landed log skips, the missing one lands. `processing_time` as
    in _log.drain. Under the timer an epoch can overlap a maintenance
    `DAILY.compact` call -- the _log flag-file contract turns that race
    into a LOUD error on one side (CompactionInProgress fails the epoch ->
    the restarted query replays it idempotently; IngestInFlight makes the
    operator re-issue the compaction), never a dropped or double-counted
    partial (tests/test_experiment_soak.py drives exactly this)."""
    stream = spark.readStream.schema(EVENT_STREAM_SCHEMA).json(source_dir)

    def epoch(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession
        DAILY.append(sp, batch, daily_path, batch_id)
        append_users(sp, batch, users_path, batch_id)

    return drain(stream, checkpoint_dir, epoch, processing_time)
