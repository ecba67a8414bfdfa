"""Streaming weighted reservoir (streaming/reservoir_stream.py): each
micro-batch appends ONE k-per-stratum partial; because ES keys are
deterministic and mergeable, the streamed reservoir EXACTLY equals the
one-shot batch sample over the union of all drops (row-for-row equality,
not a distributional claim); a replayed epoch cannot double-append, and
compaction preserves the served sample."""

from __future__ import annotations

import json

from sentiment_analysis_data_pipeline_spark.streaming import reservoir_stream as RS

# 60 docs across two strata with a spread of weights; ids disjoint per drop
DROP_A = [(i, "s0" if i % 2 == 0 else "s1", (i * 31) % 500 + 10) for i in range(30)]
DROP_B = [(i, "s0" if i % 2 == 0 else "s1", (i * 17) % 700 + 5) for i in range(30, 60)]

SCHEMA = "doc_id long, source string, n_chars long"


def _write_drop(path: str, rows) -> None:
    with open(path, "w") as f:
        for doc_id, source, n_chars in rows:
            f.write(json.dumps({"doc_id": doc_id, "source": source, "n_chars": n_chars}) + "\n")


def _rows(df) -> set[tuple]:
    return {(r["segment"], r["doc_id"], r["weight"], r["es_key"]) for r in df.collect()}


def test_streamed_reservoir_equals_batch_sample(spark, tmp_path):
    source = tmp_path / "incoming"
    source.mkdir()
    sample = str(tmp_path / "sample")
    ckpt = str(tmp_path / "ckpt")

    _write_drop(str(source / "a.json"), DROP_A)
    q = RS.SAMPLE.run(spark, str(source), sample, ckpt)
    q.awaitTermination(120)
    _write_drop(str(source / "b.json"), DROP_B)
    q = RS.SAMPLE.run(spark, str(source), sample, ckpt)
    q.awaitTermination(120)

    streamed = _rows(RS.SAMPLE.read(spark, sample))
    batch = _rows(
        RS.batch_sample(spark.createDataFrame(DROP_A + DROP_B, SCHEMA))
    )
    # the ES merge property: k smallest of (k smallest per drop) == k
    # smallest over the union -- EXACT equality
    assert streamed == batch
    # bounded state: each epoch appended <= k rows per stratum
    import pyspark.sql.functions as F

    per = (
        spark.read.schema(RS.SAMPLE_SCHEMA)
        .parquet(sample)
        .groupBy("batch_id", "segment")
        .count()
        .collect()
    )
    assert all(r["count"] <= RS.RESERVOIR_K for r in per)


def test_replayed_epoch_lands_nothing(spark, tmp_path):
    sample = str(tmp_path / "sample")
    batch = spark.createDataFrame(DROP_A, SCHEMA)
    RS.SAMPLE.append(spark, batch, sample, batch_id=0)
    before = _rows(RS.SAMPLE.read(spark, sample))
    RS.SAMPLE.append(spark, batch, sample, batch_id=0)  # retry
    assert _rows(RS.SAMPLE.read(spark, sample)) == before


def test_compaction_preserves_sample_and_weighted_semantics(spark, tmp_path):
    sample = str(tmp_path / "sample")
    for i, drop in enumerate((DROP_A, DROP_B)):
        RS.SAMPLE.append(spark, spark.createDataFrame(drop, SCHEMA), sample, i)
    before = _rows(RS.SAMPLE.read(spark, sample))
    RS.SAMPLE.compact(spark, sample)
    assert _rows(RS.SAMPLE.read(spark, sample)) == before
    ids = (
        spark.read.schema(RS.SAMPLE_SCHEMA)
        .parquet(sample)
        .select("batch_id")
        .distinct()
        .collect()
    )
    assert [r["batch_id"] for r in ids] == [-1]
    # weighted semantics ride along: a later giant-weight doc displaces a
    # reservoir member when it arrives
    giant = spark.createDataFrame([(999, "s0", 10_000_000)], SCHEMA)
    RS.SAMPLE.append(spark, giant, sample, batch_id=7)
    after = {r["doc_id"] for r in RS.SAMPLE.read(spark, sample).collect()}
    assert 999 in after


def test_stream_matches_registry_batch_query(spark, tmp_path):
    """Parity with the hash-green registry query: the reservoir over the
    real documents table serves the same ids the oracle-checked
    weighted_sample reports (k and key formula shared)."""
    from sentiment_analysis_data_pipeline_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    want = {
        (r["source"], r["doc_id"])
        for r in Q.REGISTRY["weighted_sample"][0](spark, sf).collect()
    }
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    sample = str(tmp_path / "sample")
    RS.SAMPLE.append(spark, docs, sample, batch_id=0)
    got = {(r["segment"], r["doc_id"]) for r in RS.SAMPLE.read(spark, sample).collect()}
    assert got == want
