"""Streaming calibration monitor (streaming/calibration_stream.py): the
bounded (source, sq) histogram log reconstructs the classifier-eval
suite's sufficient statistic, and every served read (AP / gains /
isotonic / calibration) equals the hash-green batch query BIT-FOR-BIT on
the same documents (shared *_hist_tail_sql); replay cannot double-count;
compaction is invariant."""

from __future__ import annotations

import json

import pyspark.sql.functions as F

from sentiment_analysis_data_pipeline_spark import queries as Q
from sentiment_analysis_data_pipeline_spark.streaming import calibration_stream as C

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


def _batch_outputs(spark):
    return {
        "ap": [tuple(r) for r in Q.REGISTRY["average_precision"][0](spark, SF).collect()],
        "gains": [tuple(r) for r in Q.REGISTRY["cumulative_gains"][0](spark, SF).collect()],
        "iso": [tuple(r) for r in Q.REGISTRY["isotonic_calibration"][0](spark, SF).collect()],
        "cal": [tuple(r) for r in Q.REGISTRY["classifier_calibration"][0](spark, SF).collect()],
    }


def _served_outputs(spark, hist):
    return {
        "ap": [tuple(r) for r in C.read_average_precision(spark, hist).collect()],
        "gains": [tuple(r) for r in C.read_cumulative_gains(spark, hist).collect()],
        "iso": [tuple(r) for r in C.read_isotonic(spark, hist).collect()],
        "cal": [tuple(r) for r in C.read_calibration(spark, hist).collect()],
    }


def test_streamed_suite_equals_batch_bit_for_bit(spark, tmp_path):
    docs = _docs(spark)
    hist = str(tmp_path / "hist")
    # the corpus lands in three epochs split by doc_id
    for i in range(3):
        C.HIST.append(spark, docs.filter(F.col("doc_id") % 3 == i), hist, i)
    assert _served_outputs(spark, hist) == _batch_outputs(spark)


def test_histogram_log_is_bounded_and_exact(spark, tmp_path):
    docs = _docs(spark)
    hist = str(tmp_path / "hist")
    for i in range(4):
        C.HIST.append(spark, docs.filter(F.col("doc_id") % 4 == i), hist, i)
    log = spark.read.schema(C.HIST_SCHEMA).parquet(hist)
    # bounded: at most (sources x distinct sq) cells per epoch
    Q._view(spark, SF, "documents")
    from sentiment_analysis_data_pipeline_spark.functions import dialect as D

    scored = spark.sql(Q._clf_scored_sql(D.SPARK))
    n_cells = scored.select("source", "sq").distinct().count()
    assert log.count() <= 4 * n_cells
    # exact: merged cells equal the batch histogram
    merged = {
        (r["source"], r["sq"]): (r["pos_s"], r["n_s"])
        for r in C.HIST.read(spark, hist).collect()
    }
    batch = {
        (r["source"], r["sq"]): (r["pos_s"], r["n_s"])
        for r in spark.sql(
            Q._clf_hist_from_scored(D.SPARK, Q._clf_scored_sql(D.SPARK))
        ).collect()
    }
    assert merged == batch


def test_replayed_epoch_lands_nothing(spark, tmp_path):
    docs = _docs(spark).filter(F.col("doc_id") % 5 == 0)
    hist = str(tmp_path / "hist")
    C.HIST.append(spark, docs, hist, 0)
    before = {tuple(r) for r in C.HIST.read(spark, hist).collect()}
    C.HIST.append(spark, docs, hist, 0)  # foreachBatch retry
    assert {tuple(r) for r in C.HIST.read(spark, hist).collect()} == before


def test_stream_end_to_end_and_compaction(spark, tmp_path):
    source = tmp_path / "incoming"
    source.mkdir()
    hist = str(tmp_path / "hist")
    ckpt = str(tmp_path / "ckpt")
    rows = _docs(spark).collect()
    half = len(rows) // 2
    for name, chunk in (("a.json", rows[:half]), ("b.json", rows[half:])):
        with open(source / name, "w") as f:
            for r in chunk:
                f.write(json.dumps(r.asDict()) + "\n")
    q = C.HIST.run(spark, str(source), hist, ckpt)
    q.awaitTermination(120)
    served = _served_outputs(spark, hist)
    assert served == _batch_outputs(spark)
    # compaction folds the log without changing any served read
    C.HIST.compact(spark, hist)
    assert _served_outputs(spark, hist) == served
    log = spark.read.schema(C.HIST_SCHEMA).parquet(hist)
    assert log.select("batch_id").distinct().count() == 1  # one folded stamp
