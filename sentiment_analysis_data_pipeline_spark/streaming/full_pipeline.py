"""The composed streaming twins, end-to-end (round 7, VERDICT r6 item 8):
ingest -> validate -> curation gate -> near-dup probe -> sentiment in ONE
foreachBatch epoch -- every piece is the already-parity-tested component,
chained the way a continuous training-data ingest actually runs.

Epoch shape per micro-batch:

  1. VALIDATE: in-batch id dedup, null-text drop, then the re-crawl /
     replay guard (anti-join the doc store's ids -- a doc already landed
     keeps its original record and signatures).
  2. CURATION GATE (streaming/curation_stream.curation_gate): the
     stateless flag projection -- too_short / too_repetitive /
     low_quality / non_english / kept -- flag-for-flag equal to the batch
     filter_reasons semantics.
  3. DEDUP PROBE (streaming/dedup_stream.dedup_micro_batch) over the KEPT
     docs only (curation upstream of dedup, as in the batch
     curation_pipeline): batch-vs-corpus pairs via the persisted band
     index (corpus never re-signatured) plus in-batch pairs.
  4. SENTIMENT (plans/pipeline.sentiment_enrich, which runs the
     registry's kernel SQL, functions/sentiment.kernel_join_sql) over ALL
     gated rows -- rejected docs keep their scores too, so the curated
     store stays fully explainable without a re-run.
  5. LAND, in this order: pairs batch_id-stamped (replay-dedupable
     downstream; dedup_stream.land_pairs, right after the probe); curated
     rows (flags + sentiment struct) guarded by an anti-join on the
     curated store's ids (_log.landed_keys); index append (internally
     idempotent, append_to_band_index's anti-join); doc-store append LAST
     (dedup_stream.land_docs) -- the probe-before-append ordering means a
     replayed epoch re-emits the same pairs rather than missing any, and
     every write is individually idempotent under replay (the dedup_stream
     delivery contract, extended to the curated sink).

Per-epoch cost: the kept batch is tokenized, shingled and MinHash-signatured
once (dedup.minhash_signatures); the probe, the in-batch self-join, the
verify and the index append read those two materialized relations. There
is no streaming aggregation state and no watermark -- the only cross-batch
state is the persisted index + stores, exactly the artifacts a deployment
already maintains. Not every read is sized by the batch, though: five are
sized by the HISTORY and grow with it --
  - the re-crawl guard anti-joins every corpus file's doc_id;
  - the curated landing guard does the same over the curated store;
  - append_to_band_index's replay guard sweeps the index's doc column
    (a distinct, so one more shuffle);
  - the candidate-text fetch semi-joins every corpus file;
  - the probe joins the batch's band keys against every index file (a
    batch touches all buckets, so bucket pruning cannot help).
Each epoch also appends files to the index, corpus, curated and pairs
stores, and nothing compacts them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._log import drain, landed_keys
from .curation_stream import curation_gate
from .dedup_stream import DOC_STREAM_SCHEMA, land_docs, land_pairs, recrawl_guard


def curated_epoch(
    bs: SparkSession,
    batch: DataFrame,
    batch_id: int,
    index_table: str,
    corpus_path: str,
    pairs_path: str,
    curated_path: str,
    threshold: float = 0.5,
) -> None:
    """One composed epoch (factored out so tests can drive it directly on a
    batch frame; `bs` is the batch's session, _log.drain)."""
    from ..plans.pipeline import sentiment_enrich

    # like dedup_stream, the pipeline starts from a BOOTSTRAPPED corpus
    # snapshot + band index (possibly empty relations, but existing) -- so
    # the re-crawl guard reads unconditionally
    batch = recrawl_guard(bs, batch, corpus_path)
    if batch is None:
        return

    gated = curation_gate(batch).localCheckpoint(eager=True)
    kept = gated.filter("kept").select("doc_id", "text")
    banded = land_pairs(bs, batch_id, kept, index_table, corpus_path, pairs_path, threshold)

    scored = sentiment_enrich(gated).select(
        "doc_id",
        "text",
        "too_short",
        "too_repetitive",
        "low_quality",
        "non_english",
        "kept",
        F.struct(
            F.col("overall"),
            F.col("confidence"),
            F.col("vader_compound"),
            F.col("textblob_polarity"),
        ).alias("sentiment"),
    )
    landed = landed_keys(bs, curated_path, "doc_id long")
    if landed is not None:
        scored = scored.join(landed, "doc_id", "left_anti")
    scored.write.mode("append").parquet(curated_path)
    land_docs(bs, kept, banded, index_table, corpus_path)


def run_curated_ingest(
    spark: SparkSession,
    source_dir: str,
    index_table: str,
    corpus_path: str,
    pairs_path: str,
    curated_path: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
):
    """File-source composed ingest: json docs (doc_id, text) land in
    `source_dir`; each run drains what is present, then stops."""
    stream = spark.readStream.schema(DOC_STREAM_SCHEMA).json(source_dir)

    def epoch(batch: DataFrame, batch_id: int) -> None:
        curated_epoch(
            batch.sparkSession,
            batch,
            batch_id,
            index_table,
            corpus_path,
            pairs_path,
            curated_path,
            threshold,
        )

    return drain(stream, checkpoint_dir, epoch)
