"""Streaming weighted reservoir -- the continuous twin of the batch
`weighted_sample` query, built on operators/sketch.es_key_sql.

Efraimidis & Spirakis 2006: the k smallest -ln(u)/w keys ARE a weighted
sample without replacement, and the key set is MERGEABLE -- the k smallest
keys of a union of partials equal the k smallest over the union. That
algebra is the whole design: each micro-batch collapses its docs to ONE
per-stratum top-k partial (<= k rows per stratum, however large the
batch) appended to a sample log; the SERVED sample is the same top-k over
the log. Because the keys are deterministic (md5-derived u), streamed ==
batch is an EXACT equality, not a distributional claim -- the test
asserts the streamed reservoir equals the one-shot batch sample over the
union of all drops, row for row.

Fourth member of the streaming accumulator family (sketch_stream =
Count-Min frequency, hll_stream = distinct, hdr_stream = quantiles, this
= weighted sample). Delivery (replay-idempotent append, crash-safe
compaction) is `_log.Accumulator`'s.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions import dialect as D
from ..operators.sketch import es_key_sql
from ._log import Accumulator

RESERVOIR_K = 20  # sample size per stratum (matches queries.WS_K)
SAMPLE_SCHEMA = (
    "segment string, doc_id bigint, weight bigint, es_key bigint, batch_id bigint"
)
DOC_STREAM_SCHEMA = "doc_id long, source string, n_chars long"


def _top_k(keyed: DataFrame) -> DataFrame:
    """The RESERVOIR_K smallest ES keys per segment of `keyed` (ties by
    doc_id): the per-batch sample and, by mergeability, the merge."""
    return keyed.sparkSession.sql(
        f"""
        SELECT segment, doc_id, weight, es_key FROM (
            SELECT segment, doc_id, weight, es_key,
                   row_number() OVER (PARTITION BY segment
                                      ORDER BY es_key ASC, doc_id ASC) AS rnk
            FROM {{keyed}}
        ) r WHERE rnk <= {RESERVOIR_K}
        """,
        keyed=keyed,
    )


def batch_sample(docs: DataFrame) -> DataFrame:
    """(segment, doc_id, weight, es_key) -- the k smallest ES keys per
    source stratum of `docs`. Works on any batch DataFrame."""
    key = es_key_sql(D.SPARK, "kh", "greatest(n_chars, 1)")
    keyed = docs.sparkSession.sql(
        f"""
        SELECT source AS segment, doc_id,
               cast(greatest(n_chars, 1) as bigint) AS weight,
               {key} AS es_key
        FROM (SELECT doc_id, source, n_chars,
                     md5({D.cast_str(D.SPARK, "doc_id")}) AS kh
              FROM {{docs}}) h
        """,
        docs=docs,
    )
    return _top_k(keyed)


SAMPLE = Accumulator(DOC_STREAM_SCHEMA, SAMPLE_SCHEMA, batch_sample, _top_k)
