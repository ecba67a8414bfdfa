"""Composed streaming ingest (streaming/full_pipeline.py): validate ->
curation gate -> dedup probe -> sentiment in ONE foreachBatch epoch, with
component-for-component BATCH parity on the same drops -- the round-7
composition of the individually-parity-tested twins."""

from __future__ import annotations

import json
import uuid

import pyspark.sql.functions as F

from sentiment_analysis_data_pipeline_spark.functions.sentiment import CLASSIFY_THRESHOLD, _py_kernel
from sentiment_analysis_data_pipeline_spark.operators.dedup import minhash_band_keys, minhash_signatures
from sentiment_analysis_data_pipeline_spark.sources.tables import write_bucketed
from sentiment_analysis_data_pipeline_spark.streaming import dedup_stream, full_pipeline
from sentiment_analysis_data_pipeline_spark.streaming.curation_stream import curation_gate
from sentiment_analysis_data_pipeline_spark.sources.tables import drop_table_with_files as _drop_with_files

# gate-clean base texts (verified: every flag false -- low repetition,
# >= 10 words, English-classified, quality above the bound)
BASE = (
    "every morning brings fresh coffee and quiet conversation about distant "
    "mountains where eager travelers discover hidden valleys beneath golden "
    "sunlight while children play near rivers full of shining fish"
)
ALT = (
    "completely different material concerning engine rooms with broadcast joins "
    "running across many executors at considerable scale during long nights "
    "when operators watch dashboards showing steady progress everywhere"
)
FLAGS = ["too_short", "too_repetitive", "low_quality", "non_english", "kept"]


def _classify(avg):
    if avg >= CLASSIFY_THRESHOLD:
        return "positive"
    return "negative" if avg <= -CLASSIFY_THRESHOLD else "neutral"


def _write_batch(path, rows):
    with open(path, "w") as f:
        for doc_id, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def _bootstrap(spark, table, corpus_path):
    corpus = spark.createDataFrame([(1, BASE), (2, ALT)], "doc_id long, text string")
    corpus.write.parquet(corpus_path)
    write_bucketed(
        minhash_band_keys(corpus, "text", "doc_id"),
        table,
        "band_key",
        dedup_stream.INDEX_BUCKETS,
    )


def test_composed_stream_matches_batch_components(spark, tmp_path):
    table = f"full_pipe_idx_{uuid.uuid4().hex[:8]}"
    batch_table = f"full_pipe_idx_b_{uuid.uuid4().hex[:8]}"
    source = tmp_path / "incoming"
    source.mkdir()
    corpus_path = str(tmp_path / "corpus")
    batch_corpus_path = str(tmp_path / "corpus_batch")
    pairs_path = str(tmp_path / "pairs")
    curated_path = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ckpt")

    # identical bootstrapped state for the stream and the batch replica
    _bootstrap(spark, table, corpus_path)
    _bootstrap(spark, batch_table, batch_corpus_path)

    drop = [
        (101, BASE + " v2"),                     # near-dup of corpus doc 1 -> kept, paired
        (102, "great excellent best work by the fine team with a happy win today"),
        (103, "short text"),                      # too_short -> rejected, NO dedup probe
        (104, "spam " * 40),                      # too_repetitive -> rejected
        (2, ALT),                                 # re-crawl of corpus doc 2 -> dropped entirely
    ]
    try:
        _write_batch(str(source / "b1.json"), drop)
        q = full_pipeline.run_curated_ingest(
            spark, str(source), table, corpus_path, pairs_path, curated_path, ckpt
        )
        q.awaitTermination(180)

        curated = spark.read.parquet(curated_path)
        got_rows = {r["doc_id"]: r for r in curated.collect()}
        # the re-crawled id 2 must not re-land; everything else lands with flags
        assert set(got_rows) == {101, 102, 103, 104}

        # --- batch parity: curation flags + sentiment on the SAME drop ---
        batch_df = spark.createDataFrame(
            [(i, t) for i, t in drop if i != 2], "doc_id long, text string"
        )
        exp_flags = {
            r["doc_id"]: tuple(r[f] for f in FLAGS)
            for r in curation_gate(batch_df).collect()
        }
        got_flags = {i: tuple(got_rows[i][f] for f in FLAGS) for i in got_rows}
        assert got_flags == exp_flags
        assert got_flags[103][0] is True      # too_short
        assert got_flags[104][1] is True      # too_repetitive
        assert got_flags[101][4] and got_flags[102][4]  # kept

        # the epoch scores with the registry's kernel SQL; check it against
        # the independent Python reference, not against that same SQL
        exp_sent = {}
        for i, t in drop:
            vc, tb = _py_kernel(t)
            exp_sent[i] = (vc, tb, _classify((vc + tb) / 2.0))
        for i, row in got_rows.items():
            s = row["sentiment"]
            assert (s["vader_compound"], s["textblob_polarity"], s["overall"]) == exp_sent[i], i
        assert got_rows[102]["sentiment"]["overall"] == "positive"

        # --- batch parity: dedup pairs over the KEPT docs on the replica ---
        kept_df = batch_df.filter(F.col("doc_id").isin(101, 102))
        exp_pairs = {
            (r["id_a"], r["id_b"], r["kind"], round(r["jaccard"], 12))
            for r in dedup_stream.dedup_micro_batch(
                spark,
                *minhash_signatures(kept_df, "text", "doc_id"),
                batch_table,
                batch_corpus_path,
            ).collect()
        }
        got_pairs = {
            (r["id_a"], r["id_b"], r["kind"], round(r["jaccard"], 12))
            for r in spark.read.parquet(pairs_path).collect()
        }
        assert got_pairs == exp_pairs
        assert any(p[:3] == (101, 1, "corpus") for p in got_pairs)
        # rejected docs must never reach the dedup probe or the stores
        assert not any(103 in p[:2] or 104 in p[:2] for p in got_pairs)
        store_ids = {r["doc_id"] for r in spark.read.parquet(corpus_path).collect()}
        assert store_ids == {1, 2, 101, 102}

        # --- epoch 2: near-dup of a KEPT epoch-1 doc -> the index grew;
        # near-dup of a REJECTED epoch-1 doc -> no pair (it was never indexed)
        _write_batch(
            str(source / "b2.json"),
            [(201, BASE + " v3"), (202, "spam " * 40 + "x")],
        )
        q = full_pipeline.run_curated_ingest(
            spark, str(source), table, corpus_path, pairs_path, curated_path, ckpt
        )
        q.awaitTermination(180)
        pairs2 = {
            (r["id_a"], r["id_b"], r["kind"])
            for r in spark.read.parquet(pairs_path).filter("batch_id > 0").collect()
        }
        assert any(a == 201 and b in (1, 101) and k == "corpus" for a, b, k in pairs2)
        assert not any(202 in (a, b) for a, b, _ in pairs2)
        curated2 = spark.read.parquet(curated_path)
        assert {r["doc_id"] for r in curated2.collect()} == {101, 102, 103, 104, 201, 202}
    finally:
        _drop_with_files(spark, table)
        _drop_with_files(spark, batch_table)


def test_composed_epoch_replay_is_idempotent(spark, tmp_path):
    """Re-running the SAME epoch (foreachBatch retry semantics) must not
    duplicate curated rows, corpus rows, or index signatures; pairs carry
    the batch_id stamp for downstream replay dedupe."""
    table = f"full_pipe_idx_{uuid.uuid4().hex[:8]}"
    corpus_path = str(tmp_path / "corpus")
    pairs_path = str(tmp_path / "pairs")
    curated_path = str(tmp_path / "curated")
    _bootstrap(spark, table, corpus_path)
    batch = spark.createDataFrame(
        [(101, BASE + " v2"), (103, "short text")], "doc_id long, text string"
    )
    for _ in range(2):  # original + replay
        full_pipeline.curated_epoch(
            spark, batch, 0, table, corpus_path, pairs_path, curated_path
        )
    try:
        assert spark.read.parquet(curated_path).groupBy("doc_id").count().filter(
            "count > 1"
        ).count() == 0
        assert spark.read.parquet(corpus_path).groupBy("doc_id").count().filter(
            "count > 1"
        ).count() == 0
        sig_dupes = (
            spark.table(table)
            .groupBy("doc", "band_key")
            .count()
            .filter("count > 1")
            .count()
        )
        assert sig_dupes == 0
        # the replay re-emitted its pairs under the SAME batch_id: a
        # downstream exactly-once consumer dedupes on (batch_id, id_a, id_b)
        pairs = spark.read.parquet(pairs_path)
        assert pairs.select("batch_id").distinct().count() == 1
    finally:
        _drop_with_files(spark, table)


def test_epoch_lands_over_a_killed_first_append(spark, tmp_path):
    """A first curated append killed mid-write leaves only its _temporary/
    files. The landing guard must read that dir as zero rows so the replay
    lands the batch; schema inference over it fails on every replay."""
    import shutil

    table = f"full_pipe_idx_{uuid.uuid4().hex[:8]}"
    corpus_path = str(tmp_path / "corpus")
    pairs_path = str(tmp_path / "pairs")
    curated_path = tmp_path / "curated"
    _bootstrap(spark, table, corpus_path)
    partial = tmp_path / "partial"
    spark.createDataFrame([(101, "x")], "doc_id long, text string").coalesce(1).write.parquet(
        str(partial)
    )
    orphan = curated_path / "_temporary" / "0" / "_temporary"
    orphan.mkdir(parents=True)
    shutil.copy(next(partial.glob("part-*.parquet")), orphan / "part-0.parquet")
    batch = spark.createDataFrame(
        [(101, BASE + " v2"), (103, "short text")], "doc_id long, text string"
    )
    try:
        full_pipeline.curated_epoch(
            spark, batch, 0, table, corpus_path, pairs_path, str(curated_path)
        )
        landed = sorted(r["doc_id"] for r in spark.read.parquet(str(curated_path)).collect())
        assert landed == [101, 103]
    finally:
        _drop_with_files(spark, table)


def _janino_compiles(spark) -> int:
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_second_epoch_reuses_generated_code(spark, tmp_path):
    """A steady epoch finds its generated classes in the codegen cache:
    only per-epoch literals (the batch_id stamp) compile anew. With a cache
    smaller than one epoch's working set, every epoch recompiled ~90."""
    table = f"full_pipe_idx_{uuid.uuid4().hex[:8]}"
    corpus_path = str(tmp_path / "corpus")
    pairs_path = str(tmp_path / "pairs")
    curated_path = str(tmp_path / "curated")
    _bootstrap(spark, table, corpus_path)

    def drop(base):
        return spark.createDataFrame(
            [
                (base + 1, BASE + f" v{base}"),  # near-dup of corpus doc 1
                (base + 2, ALT + f" x{base}"),   # near-dup of corpus doc 2
                (base + 3, "short text"),        # gate reject
                (base + 4, "spam " * 40),        # gate reject
            ],
            "doc_id long, text string",
        )

    try:
        for batch_id, base in enumerate((1000, 2000)):
            before = _janino_compiles(spark)
            full_pipeline.curated_epoch(
                spark, drop(base), batch_id, table, corpus_path, pairs_path, curated_path
            )
        assert _janino_compiles(spark) - before < 10
    finally:
        _drop_with_files(spark, table)


def test_signature_once_epoch_matches_separate_pieces(spark, tmp_path):
    """dedup_micro_batch over one set of batch signatures must give exactly
    the pairs the separately-signaturing public pieces give --
    new_batch_candidates + verify_candidates for batch-vs-corpus,
    minhash_pairs for in-batch -- and the index append must land exactly
    minhash_band_keys(batch), once, also when replayed."""
    from sentiment_analysis_data_pipeline_spark.operators.dedup import minhash_pairs
    from sentiment_analysis_data_pipeline_spark.operators.dedup_index import new_batch_candidates

    table = f"full_pipe_idx_{uuid.uuid4().hex[:8]}"
    corpus_path = str(tmp_path / "corpus")
    _bootstrap(spark, table, corpus_path)
    batch = spark.createDataFrame(
        [
            (101, BASE + " v2"),   # vs-corpus near-dup of doc 1
            (102, ALT + " x"),     # near-dup of corpus doc 2 and of 103
            (103, ALT + " y"),
            (104, "great excellent best work by the fine team with a happy win today"),
        ],
        "doc_id long, text string",
    )

    def key(r):
        return (r["id_a"], r["id_b"], r["kind"], round(r["jaccard"], 12))

    try:
        shingled, banded = minhash_signatures(batch, "text", "doc_id")
        got = {key(r) for r in dedup_stream.dedup_micro_batch(
            spark, shingled, banded, table, corpus_path
        ).collect()}

        cands = new_batch_candidates(spark, batch, table=table).selectExpr(
            "new_doc AS id_a", "corpus_doc AS id_b"
        )
        members = batch.unionByName(
            spark.read.parquet(corpus_path).join(
                cands.select(F.col("id_b").alias("doc_id")), "doc_id", "left_semi"
            )
        )
        vs_corpus = dedup_stream.verify_candidates(spark, cands, members).withColumn(
            "kind", F.lit("corpus")
        )
        in_batch = minhash_pairs(batch, "text", "doc_id").withColumn("kind", F.lit("batch"))
        want = {key(r) for r in vs_corpus.unionByName(in_batch).collect()}
        assert got == want
        kinds = {(a, b, k) for a, b, k, _ in got}
        assert {(101, 1, "corpus"), (102, 2, "corpus"), (102, 103, "batch")} <= kinds

        batch_ids = [101, 102, 103, 104]
        want_index = sorted(tuple(r) for r in minhash_band_keys(batch, "text", "doc_id").collect())
        for _ in range(2):  # original + replay
            dedup_stream.append_to_band_index(spark, banded, table)
            landed = sorted(
                tuple(r)
                for r in spark.table(table)
                .filter(F.col("doc").isin(batch_ids))
                .select("doc", "band_key")
                .collect()
            )
            assert landed == want_index
    finally:
        _drop_with_files(spark, table)
