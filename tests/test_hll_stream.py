"""Streaming HLL distinct-count accumulator (streaming/hll_stream.py):
each micro-batch appends ONE bounded sketch partial per segment; the
streamed union equals the batch-mode union of the same per-batch sketches
(merge determinism), estimates are exact at test cardinalities (far below
the lgConfigK=12 sparse-mode limit), and a replayed epoch cannot re-land
its partial (batch-stamp drop)."""

from __future__ import annotations

import json

import pyspark.sql.functions as F

from sentiment_analysis_data_pipeline_spark.streaming import hll_stream

# batch A: click users {1,2,3}, view users {1,10}
EVENTS_A = [("click", 1), ("click", 2), ("click", 3), ("view", 1), ("view", 10)]
# batch B: click users {3,4}, view users {10}, buy users {7}
EVENTS_B = [("click", 3), ("click", 4), ("view", 10), ("buy", 7)]


def _write_drop(path: str, rows: list[tuple[str, int]]) -> None:
    with open(path, "w") as f:
        for et, uid in rows:
            f.write(json.dumps({"event_type": et, "user_id": uid}) + "\n")


def _est(df) -> dict[str, int]:
    return {r["event_type"]: r["distinct_users"] for r in df.collect()}


def test_streamed_estimates_exact_and_mergeable(spark, tmp_path):
    source = tmp_path / "incoming"
    source.mkdir()
    log = str(tmp_path / "hll_log")
    ckpt = str(tmp_path / "ckpt")

    _write_drop(str(source / "a.json"), EVENTS_A)
    q = hll_stream.SKETCH.run(spark, str(source), log, ckpt)
    q.awaitTermination(120)
    _write_drop(str(source / "b.json"), EVENTS_B)
    q = hll_stream.SKETCH.run(spark, str(source), log, ckpt)
    q.awaitTermination(120)

    # two epochs landed, one partial per (segment, epoch)
    partials = spark.read.schema(hll_stream.SKETCH_SCHEMA).parquet(log).collect()
    assert {r["batch_id"] for r in partials} == {0, 1}
    assert len(partials) == 2 + 3  # a: click/view; b: click/view/buy
    # at these cardinalities HLL sparse mode is exact
    assert _est(hll_stream.read_estimates(spark, log)) == {
        "click": 4,  # {1,2,3,4}
        "view": 2,  # {1,10}
        "buy": 1,  # {7}
    }
    # cross-epoch + cross-segment union: distinct users overall {1,2,3,4,7,10}
    assert hll_stream.read_global_estimate(spark, log) == 6


def test_streamed_union_equals_batch_union(spark, tmp_path):
    # merge determinism: union of streamed per-epoch partials == union of
    # the SAME sketches computed in batch mode over the same splits
    log = str(tmp_path / "hll_log")
    ba = spark.createDataFrame(EVENTS_A, hll_stream.EVENT_STREAM_SCHEMA)
    bb = spark.createDataFrame(EVENTS_B, hll_stream.EVENT_STREAM_SCHEMA)
    hll_stream.SKETCH.append(spark, ba, log, batch_id=0)
    hll_stream.SKETCH.append(spark, bb, log, batch_id=1)
    streamed = _est(hll_stream.read_estimates(spark, log))
    batch = {
        r["event_type"]: r["d"]
        for r in hll_stream.batch_sketches(ba)
        .unionByName(hll_stream.batch_sketches(bb))
        .groupBy("event_type")
        .agg(F.expr("cast(hll_sketch_estimate(hll_union_agg(sk)) as bigint)").alias("d"))
        .collect()
    }
    assert streamed == batch


def test_replayed_epoch_lands_nothing_and_compact(spark, tmp_path):
    log = str(tmp_path / "hll_log")
    ba = spark.createDataFrame(EVENTS_A, hll_stream.EVENT_STREAM_SCHEMA)
    hll_stream.SKETCH.append(spark, ba, log, batch_id=0)
    n_before = spark.read.schema(hll_stream.SKETCH_SCHEMA).parquet(log).count()
    # a foreachBatch retry re-runs the epoch with the SAME batch_id
    hll_stream.SKETCH.append(spark, ba, log, batch_id=0)
    assert spark.read.schema(hll_stream.SKETCH_SCHEMA).parquet(log).count() == n_before
    # a NEW epoch still lands; estimates unchanged by the replay
    bb = spark.createDataFrame(EVENTS_B, hll_stream.EVENT_STREAM_SCHEMA)
    hll_stream.SKETCH.append(spark, bb, log, batch_id=1)
    before = _est(hll_stream.read_estimates(spark, log))
    # compaction folds the log to one partial per segment, same answers
    hll_stream.SKETCH.compact(spark, log)
    folded = spark.read.schema(hll_stream.SKETCH_SCHEMA).parquet(log).collect()
    assert {r["batch_id"] for r in folded} == {-1}
    assert len(folded) == 3  # click/view/buy
    assert _est(hll_stream.read_estimates(spark, log)) == before
