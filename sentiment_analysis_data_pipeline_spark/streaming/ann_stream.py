"""Streaming vector ingest into the persisted IVF index -- the ANN sibling
of streaming/dedup_stream.py.

Each micro-batch of embeddings is (1) deduped against the ids already in
the index (anti-join on the assignments' vec_id column only -- parquet
prunes to the one column, never the vectors), then (2) assigned against the
FROZEN codebook and appended into its cells' partition directories
(operators/ann_index.append_to_ivf_index). The historical index is never
re-read or rewritten; queries see new vectors at the next probe with
partition pruning intact. Codebook drift is handled by periodic re-training
as a separate snapshot build -- FAISS add-after-train semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.ann_index import append_to_ivf_index
from ._log import drain
from .dedup_stream import recrawl_guard

VEC_STREAM_SCHEMA = "vec_id long, embedding array<float>, label int"


def run_streaming_vector_ingest(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
):
    """json vector files land in `source_dir`; the IVF index at `index_dir`
    grows in place."""
    stream = spark.readStream.schema(VEC_STREAM_SCHEMA).json(source_dir)

    def epoch(batch: DataFrame, batch_id: int) -> None:
        bs = batch.sparkSession
        fresh = recrawl_guard(bs, batch, f"{index_dir}/assignments", "vec_id", "embedding")
        if fresh is not None:
            append_to_ivf_index(bs, fresh, index_dir)

    return drain(stream, checkpoint_dir, epoch)
