"""Streaming PSI drift accumulator (streaming/drift_stream.py): bounded
per-epoch band partials; the served PSI equals the hash-green batch gate
BIT-FOR-BIT on the same corpus split (shared psi_tail_sql); replay cannot
double-count; compaction is the crash-safe swap."""

from __future__ import annotations

import json

import pyspark.sql.functions as F

from sentiment_analysis_data_pipeline_spark.streaming import drift_stream
from sentiment_analysis_data_pipeline_spark.streaming._log import COMPACTED_STAMP

SF = "/root/testdata/sf0.001"


def _write_drop(path: str, rows) -> None:
    with open(path, "w") as f:
        for doc_id, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def test_streamed_psi_equals_batch_gate_bit_for_bit(spark, tmp_path):
    """Reference = the corpus old half (doc_id even), live stream = the new
    half arriving in two epochs. The accumulator's read_psi must equal
    psi_drift on the full corpus row-for-row -- same bands, same counts,
    same doubles (shared SQL tail; identical IEEE chains)."""
    from sentiment_analysis_data_pipeline_spark import queries as Q

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    log = str(tmp_path / "bands")
    # reference: old half, pre-binned exactly like the accumulator bins
    reference = drift_stream.batch_bands(docs.filter(F.col("doc_id") % 2 == 0))
    # live: the new half lands in two epochs
    new_half = docs.filter(F.col("doc_id") % 2 == 1)
    for i, part in enumerate((new_half.filter(F.col("doc_id") % 4 == 1),
                              new_half.filter(F.col("doc_id") % 4 == 3))):
        drift_stream.BANDS.append(spark, part, log, i)

    streamed = [tuple(r) for r in drift_stream.read_psi(spark, log, reference).collect()]
    batch = [tuple(r) for r in Q.REGISTRY["psi_drift"][0](spark, SF).collect()]
    assert streamed == batch  # EXACT equality incl. the psi doubles


def test_replayed_epoch_lands_nothing(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    log = str(tmp_path / "bands")
    drift_stream.BANDS.append(spark, docs, log, 0)
    before = {(r["band"], r["n"]) for r in drift_stream.BANDS.read(spark, log).collect()}
    drift_stream.BANDS.append(spark, docs, log, 0)  # foreachBatch retry
    assert {(r["band"], r["n"]) for r in drift_stream.BANDS.read(spark, log).collect()} == before
    drift_stream.BANDS.append(spark, docs, log, 1)  # new epoch lands
    after = {(r["band"], r["n"]) for r in drift_stream.BANDS.read(spark, log).collect()}
    assert after == {(b, 2 * n) for b, n in before}


def test_stream_end_to_end_and_compaction(spark, tmp_path):
    source = tmp_path / "incoming"
    source.mkdir()
    log = str(tmp_path / "bands")
    ckpt = str(tmp_path / "ckpt")
    _write_drop(str(source / "a.json"), [(1, "x" * 120), (2, "y" * 49)])
    q = drift_stream.BANDS.run(spark, str(source), log, ckpt)
    q.awaitTermination(120)
    _write_drop(str(source / "b.json"), [(3, "z" * 120)])
    q = drift_stream.BANDS.run(spark, str(source), log, ckpt)
    q.awaitTermination(120)
    merged = {(r["band"], r["n"]) for r in drift_stream.BANDS.read(spark, log).collect()}
    assert merged == {(2, 2), (0, 1)}  # 120//50=2 twice, 49//50=0 once
    # bounded state: each epoch appended band-count rows, not doc rows
    per_epoch = (
        spark.read.schema(drift_stream.BANDS_SCHEMA)
        .parquet(log).groupBy("batch_id").count().collect()
    )
    assert len(per_epoch) == 2
    assert all(r["count"] <= 2 for r in per_epoch)
    drift_stream.BANDS.compact(spark, log)
    assert {(r["band"], r["n"]) for r in drift_stream.BANDS.read(spark, log).collect()} == merged
    ids = spark.read.schema(drift_stream.BANDS_SCHEMA).parquet(log).select("batch_id").distinct().collect()
    assert [r["batch_id"] for r in ids] == [COMPACTED_STAMP]
