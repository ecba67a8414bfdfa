"""Streaming twin of the curation gate (round 6, VERDICT r5 item 8):
filter_reasons' per-document audit flags applied AT INGEST, completing
"curation at ingest" alongside the pii_redact stream.

The batch query computes the repetition signal with an explode ->
(doc, token) count -> per-doc max aggregate -- the right shape for a batch
scan, but an aggregation is not stateless-stream-safe (it would force
update mode + watermark bookkeeping for a signal that only ever needs the
row's OWN tokens). Here the same number -- the maximum token multiplicity
-- comes from a per-row run-length fold over the SORTED token array:
sort groups equal tokens into runs, the fold tracks the longest run. Pure
projection, so the gate composes with any stream (append mode, no state,
no watermark) and with any batch frame identically.

Parity is exact, not approximate: max-multiplicity == longest-run-in-
sorted-order, and every other gate (word count, quality score, language
ID) is already a projection shared verbatim with the batch SQL --
tests/test_curation_stream.py asserts flag-for-flag equality against the
batch filter_reasons query on the same documents.

100 TB note: the fold is an interpreted HOF (CodegenFallback), fine for
micro-batch volumes; the batch query keeps the explode/agg shape where
whole-stage codegen and map-side partial aggregation matter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dialect as D
from ..functions import text as TX

REPETITION_BOUND = 0.2
MIN_WORDS = 10
MIN_QUALITY = 0.5


def top_token_count_sql(toks_col: str) -> str:
    """Maximum token multiplicity as a per-row fold: longest run in the
    sorted array (bigint; 0 for an empty array)."""
    step = (
        "(acc, t) -> named_struct("
        "'prev', t, "
        "'run', CASE WHEN acc.prev IS NOT NULL AND t = acc.prev "
        "THEN acc.run + 1 ELSE cast(1 as bigint) END, "
        "'best', greatest(acc.best, CASE WHEN acc.prev IS NOT NULL AND t = acc.prev "
        "THEN acc.run + 1 ELSE cast(1 as bigint) END))"
    )
    init = (
        "named_struct('prev', cast(null as string), "
        "'run', cast(0 as bigint), 'best', cast(0 as bigint))"
    )
    return f"aggregate(array_sort({toks_col}), {init}, {step}, acc -> acc.best)"


def curation_gate(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the filter_reasons flag columns (too_short / too_repetitive /
    low_quality / non_english / kept) as a stateless projection -- works on
    a streaming or batch DataFrame alike."""
    txt = f"coalesce({text_col}, '')"  # same null guard as the batch base
    toks = TX.tokenize(D.SPARK, txt)
    wc = TX.word_count(D.SPARK, txt)
    q = TX.quality_score(D.SPARK, txt)
    pred = TX.lang_id(D.SPARK, "_toks")
    rep = (
        f"(size(_toks) > 0 AND cast({top_token_count_sql('_toks')} as double)"
        f" / cast(size(_toks) as double) > {REPETITION_BOUND!r})"
    )
    out = (
        df.withColumn("_toks", F.expr(toks))
        .withColumn("too_short", F.expr(f"({wc} < {MIN_WORDS})"))
        .withColumn("too_repetitive", F.expr(rep))
        .withColumn("low_quality", F.expr(f"({q} < {MIN_QUALITY!r})"))
        .withColumn("non_english", F.expr(f"({pred} <> 'en')"))
    )
    return out.withColumn(
        "kept",
        F.expr("(NOT too_short AND NOT too_repetitive AND NOT low_quality AND NOT non_english)"),
    ).drop("_toks")


def run_curation_stream(
    spark: SparkSession,
    source_dir: str,
    out_path: str,
    checkpoint_dir: str,
):
    """File-source curation-at-ingest: json docs (doc_id, text) land in
    `source_dir`; every doc is appended to `out_path` WITH its audit flags
    (the auditability contract: rejected data stays explainable without a
    re-run -- dropped rows are a `WHERE kept` away, never silently gone).
    availableNow trigger: drains what is present, then stops."""
    stream = spark.readStream.schema("doc_id long, text string").json(source_dir)
    gated = curation_gate(stream)
    # a file sink, not _log.drain: its _spark_metadata log makes it exactly-once
    return (
        gated.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
