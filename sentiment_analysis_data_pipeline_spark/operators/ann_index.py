"""Persisted IVF ANN index: build once, query many.

The registry's `ivf_ann` demonstrates the IVF *plan* end-to-end in one
statement; production ANN at 100 TB never rebuilds the codebook per query.
This module persists the two IVF relations the way a deployment would:

- `centroids.parquet` -- the codebook: tiny (nlist rows), broadcast/collected
  at query time.
- `assignments/` -- (vec_id, v, nv, cell), **written partitionBy(cell)**: a
  multi-probe query filters `cell IN (probes)` and the scan PRUNES to the
  probed cells' directories -- the inverted-file property expressed directly
  in the storage layout, so each query reads ~n_probe/nlist of the corpus
  (asserted against PartitionFilters in tests/test_ann_index.py).

Both relations come from the registry's own SQL (`queries._ivf_assign_ctes`,
the CTEs `ivf_ann` and `ivf_cell_balance` run and the DuckDB oracle checks):
the codebook is its label-column means (deterministic floor-quantized exact
centroids -- a k-means stand-in whose cells are reproducible at any
parallelism), and the assignment is its max-cosine cell, computed against
the persisted codebook so appends see the frozen one. Per-vector norms are
computed once at BUILD time and stored, so queries never touch raw-vector
math beyond one dot per candidate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import queries as Q
from ..functions import dialect as D
from ..functions import vectors as V
from ..functions.vectors import EMB_DIM

# The registry's IVF assignment CTEs of the `{emb}` argument against the
# persisted codebook `{centroids}` (read in as its centv0(label, cv)):
# assign(vec_id, v, nv, cell).
FROZEN_ASSIGN_CTES = Q._ivf_assign_ctes(
    D.SPARK, "centv0 AS (SELECT cell AS label, cv FROM {centroids})", rel="{emb}"
)


def write_centroids(spark: SparkSession, emb: DataFrame, index_dir: str) -> DataFrame:
    """Write the coarse codebook (`centroids.parquet`, nlist rows) of an
    embeddings DataFrame (vec_id, label, embedding array<float>) -- the
    registry's codebook CTEs -- and return it read back from disk. Shared
    by the IVF build and the IVF-PQ build (pq_index.py)."""
    cent = spark.sql(
        f"WITH {Q._ivf_assign_ctes(D.SPARK, rel='{emb}')}\n"
        "SELECT label AS cell, cv FROM centv0",
        emb=emb,
    )
    cent.coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/centroids.parquet")
    return spark.read.parquet(f"{index_dir}/centroids.parquet")


def build_ivf_index(spark: SparkSession, emb: DataFrame, index_dir: str) -> None:
    """Build the persisted index from an embeddings DataFrame
    (vec_id, label, embedding array<float>)."""
    _write_assignments(spark, emb, write_centroids(spark, emb, index_dir), index_dir, "overwrite")


def append_to_ivf_index(spark: SparkSession, new_emb: DataFrame, index_dir: str) -> None:
    """Incremental vector ingest -- the ANN twin of the incremental-dedup
    workflow: NEW vectors are assigned against the EXISTING codebook
    (broadcast, nlist rows) and appended into their cells' partition
    directories. The historical corpus is never re-read, re-assigned, or
    re-shuffled; partition pruning at query time is unchanged because the
    new files land inside the same cell=... directories.

    The codebook is intentionally frozen (standard IVF practice -- FAISS
    `add` after `train`): drift is handled by periodic re-training as a
    separate snapshot build, not per-append. Appended vec_ids are the
    caller's responsibility to keep unique (upstream exact/near dedup)."""
    cents = spark.read.parquet(f"{index_dir}/centroids.parquet")
    _write_assignments(spark, new_emb, cents, index_dir, "append")


def _write_assignments(
    spark: SparkSession, emb: DataFrame, cents: DataFrame, index_dir: str, mode: str
) -> None:
    """(vec_id, v, nv, cell) nearest-centroid assignment of `emb` against
    the persisted codebook `cents`, written partitionBy(cell)."""
    assign = spark.sql(
        f"WITH {FROZEN_ASSIGN_CTES}\nSELECT vec_id, v, nv, cell FROM assign",
        emb=emb,
        centroids=cents,
    )
    assign.write.mode(mode).partitionBy("cell").parquet(f"{index_dir}/assignments")


def _probe_cells(spark: SparkSession, index_dir: str, query_vec: list[float], n_probe: int) -> list[str]:
    """Rank cells by centroid cosine against the query -- the codebook is
    nlist rows, so this is a driver-side computation over a tiny collect."""
    import math

    cents = spark.read.parquet(f"{index_dir}/centroids.parquet").collect()
    qn = math.sqrt(sum(x * x for x in query_vec))
    scored = []
    for r in cents:
        cv = r["cv"]
        cn = math.sqrt(sum(x * x for x in cv))
        cos = 0.0 if qn == 0.0 or cn == 0.0 else sum(a * b for a, b in zip(query_vec, cv)) / (qn * cn)
        scored.append((cos, r["cell"]))
    scored.sort(key=lambda t: (-t[0], t[1]))
    return [cell for _, cell in scored[:n_probe]]


def ivf_query(
    spark: SparkSession,
    index_dir: str,
    query_vec: list[float],
    k: int = 5,
    n_probe: int = 3,
) -> DataFrame:
    """Top-k cosine neighbors from the persisted index. The assignments scan
    carries `cell IN (probes)` as a PARTITION filter -- only the probed
    directories are read."""
    probes = _probe_cells(spark, index_dir, query_vec, n_probe)
    assign = spark.read.parquet(f"{index_dir}/assignments").where(F.col("cell").isin(probes))
    qlit = "array(" + ", ".join(repr(float(x)) for x in query_vec) + ")"
    dot = V.dot(D.SPARK, "a.v", "q.qv", EMB_DIM)
    return spark.sql(
        f"""
        WITH q AS (SELECT {qlit} AS qv),
        qn AS (SELECT qv, {V.norm(D.SPARK, "qv", EMB_DIM)} AS qnv FROM q),
        cand AS (
            SELECT a.vec_id,
                   (case when a.nv = 0.0 or q.qnv = 0.0 then 0.0
                         else {dot} / (a.nv * q.qnv) end) AS cosine
            FROM {{probe}} a CROSS JOIN qn q
        )
        SELECT vec_id, cosine,
               cast(row_number() OVER (ORDER BY cosine DESC, vec_id ASC) as bigint) AS rnk
        FROM cand ORDER BY rnk LIMIT {k}
        """,
        probe=assign,
    )
