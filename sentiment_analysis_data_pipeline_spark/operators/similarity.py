"""Embedding similarity search (north-star extension, SURVEY.md §4 note):
brute-force cosine top-k, the correctness baseline. The query vector set is
broadcast (it is small by construction); each partition scores its rows and
TakeOrderedAndProject keeps k -- no shuffle of the corpus, ever.

The approximate paths are registry rows: banded-LSH `ann_lsh`, multi-probe
IVF `ivf_ann` and PQ `pq_ann` (persisted as operators/ann_index.py and
operators/pq_index.py); `ann_recall_report` scores them against this
baseline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import dialect as D
from ..functions import vectors


def brute_force_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Top-k cosine neighbors of one corpus vector (excluding itself).

    The query row is reduced to a literal via a broadcast-style crossJoin of
    a 1-row DataFrame -- Catalyst turns it into BroadcastNestedLoopJoin with
    a single broadcast row; the corpus side streams with no shuffle.
    """
    emb = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.expr(vectors.to_double_array(D.SPARK, vec_col)).alias("v"),
    )
    q = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "vec_id",
            F.expr(vectors.cosine(D.SPARK, "v", "qv", dim)).alias("cosine"),
        )
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(k)

