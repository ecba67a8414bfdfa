"""Persisted IVF-PQ ANN index: coarse cells + residual product-quantization
codes -- the memory-bounded composition a 100 TB vector corpus actually
deploys (FAISS IndexIVFPQ; Jegou, Douze, Schmid 2011).

Layout on disk:

- ``centroids.parquet``  -- the coarse codebook (nlist rows), shared with
  the plain IVF index (`ann_index.write_centroids`).
- ``pq_codebook.parquet`` -- M x K x SUBDIM residual centroids (1024 rows
  at the defaults): PQ is trained on RESIDUALS (v - coarse centroid), the
  detail the flat-PQ registry query (`pq_ann`) omits -- residual energy is
  what's left after the coarse quantizer, so the same 8-bit budget buys a
  much finer reconstruction.
- ``codes/``             -- one row per vector: (vec_id, nv, codes array<int>)
  **partitionBy(cell)**. NO raw vector is stored: a 64-float (256-byte)
  embedding persists as 16 four-bit codes + one norm (~16 B) -- the whole
  point.
  Multi-probe queries prune to the probed cells' directories AND read only
  the code columns (both asserted in tests/test_pq_index.py).

Query-time ADC: the probed cells' codes are scanned once; approximate
dot(q, v) = dot(q, coarse_centroid[cell]) + sum_m LUT[m, code_m] where the
per-query M x K LUT of query x residual-centroid dot products is computed
DRIVER-side from the collected (tiny) codebooks and broadcast-joined in.
All dot products are floor-quantized to 2^-30 fixed point (the pq_ann
discipline), so scores are deterministic at any parallelism.

Training and encoding are the registry's `pq_ann` SQL
(`queries._pq_train_sql` and `queries._pq_enc_sql`) run over the residual
components instead of the raw ones; this module only adds the residual
step and packs each vector's codes into one array.

Like the IVF index, both codebooks are frozen after training (FAISS
add-after-train); `append_to_ivfpq_index` encodes new vectors against the
frozen codebooks and appends into their cell partitions without touching
the historical corpus.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import queries as Q
from ..functions import dialect as D
from ..queries import PQ_SCALE, PQ_SUBDIM
from .ann_index import FROZEN_ASSIGN_CTES, _probe_cells, write_centroids

# The persisted PQ codebook as the registry's `cent` relation.
_FROZEN_PQ_CODEBOOK = "SELECT m, code, j, c FROM {pq_codebook}"

# One row per vector: the argmin codes of its subspaces, in m order.
_PACK_CODES = """,
        packed AS (
            SELECT vec_id,
                   transform(array_sort(collect_list(struct(m, code))),
                             s -> cast(s.code as int)) AS codes
            FROM enc GROUP BY vec_id
        )
        SELECT r.vec_id, r.nv, r.cell, p.codes
        FROM res r JOIN packed p ON p.vec_id = r.vec_id"""


# CTE text ending in vx(vec_id, m, j, x): the residuals (v - coarse
# centroid) of the `{emb}` argument against the persisted `{centroids}`, as
# res(vec_id, nv, cell, v), flattened per subspace by the registry's
# _pq_vx_ctes.
_RESIDUAL_VX = f"""{FROZEN_ASSIGN_CTES},
        res AS (
            SELECT a.vec_id, a.nv, a.cell,
                   zip_with(a.v, c.cv, (x, y) -> x - y) AS v
            FROM assign a JOIN centv0 c ON c.label = a.cell
        ),
        {Q._pq_vx_ctes(D.SPARK, "res")}"""


def _write_codes(
    spark: SparkSession, emb: DataFrame, index_dir: str, cents: DataFrame, mode: str
) -> None:
    """(vec_id, nv, cell, codes array<int>) of `emb`'s residuals, encoded
    by the registry's nearest-code encoder (`queries._pq_enc_sql`) against
    the persisted PQ codebook, written partitionBy(cell)."""
    codes = spark.sql(
        Q._pq_enc_sql(_RESIDUAL_VX, _FROZEN_PQ_CODEBOOK, _PACK_CODES),
        emb=emb,
        centroids=cents,
        pq_codebook=spark.read.parquet(f"{index_dir}/pq_codebook.parquet"),
    )
    codes.write.mode(mode).partitionBy("cell").parquet(f"{index_dir}/codes")


def build_ivfpq_index(spark: SparkSession, emb: DataFrame, index_dir: str) -> None:
    """Train coarse + residual-PQ codebooks and encode the corpus.

    PQ training is the registry's `queries._pq_train_sql` run over the
    residuals: sign-orthant init (partition each residual subspace by the
    sign pattern of its 4 components -- the hyperplane-LSH orthant rule)
    refined by one decimal-exact Lloyd step, so the build replays
    identically at any parallelism. Orthant init matters doubly for
    RESIDUALS: they are near-zero-mean by construction, so any random
    grouping averages every centroid to ~0 and the reconstruction carries
    no signal (measured: self-query approx-cosine 0.14 under md5-random
    groups vs 0.70 under orthants at 16x4-dim subspaces)."""
    cents = write_centroids(spark, emb, index_dir)
    cb = spark.sql(Q._pq_train_sql(_RESIDUAL_VX), emb=emb, centroids=cents)
    cb.coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/pq_codebook.parquet")
    _write_codes(spark, emb, index_dir, cents, "overwrite")


def append_to_ivfpq_index(spark: SparkSession, new_emb: DataFrame, index_dir: str) -> None:
    """Encode NEW vectors against the FROZEN codebooks and append into
    their cell partitions -- the historical corpus is never re-read or
    re-encoded (FAISS add-after-train; the append_to_ivf_index contract)."""
    cents = spark.read.parquet(f"{index_dir}/centroids.parquet")
    _write_codes(spark, new_emb, index_dir, cents, "append")


def _query_luts(
    spark: SparkSession, index_dir: str, query_vec: list[float], probes: list[str]
):
    """Driver-side per-query tables from the collected (tiny) codebooks:
    the fixed-point coarse dot per probed cell and the M x K residual LUT.
    Both are a few KB -- the scan side stays codes-only."""
    cents = {
        r["cell"]: r["cv"]
        for r in spark.read.parquet(f"{index_dir}/centroids.parquet").collect()
    }
    cell_rows = []
    for cell in probes:
        cv = cents[cell]
        dot = 0.0
        for a, b in zip(query_vec, cv):
            dot += a * b
        cell_rows.append((cell, int(math.floor(dot * PQ_SCALE))))
    cb = spark.read.parquet(f"{index_dir}/pq_codebook.parquet").collect()
    by_mc: dict[tuple[int, int], dict[int, float]] = {}
    for r in cb:
        by_mc.setdefault((r["m"], r["code"]), {})[r["j"]] = r["c"]
    lut_rows = []
    for (m, code), js in by_mc.items():
        lv = 0
        for j in range(PQ_SUBDIM):
            lv += int(math.floor(query_vec[m * PQ_SUBDIM + j] * js[j] * PQ_SCALE))
        lut_rows.append((int(m), int(code), lv))
    return cell_rows, lut_rows


def ivfpq_query(
    spark: SparkSession,
    index_dir: str,
    query_vec: list[float],
    k: int = 5,
    n_probe: int = 3,
) -> DataFrame:
    """Top-k approximate-cosine neighbors from the persisted codes.

    The codes scan carries `cell IN (probes)` as a PARTITION filter (only
    the probed directories are read) and touches ONLY (vec_id, nv, codes)
    -- never a raw vector column. ADC: explode the probed codes to
    (vec_id, m, code), broadcast-join the driver-computed LUT, integer-sum
    per vector, add the coarse term, divide by exact norms."""
    probes = _probe_cells(spark, index_dir, query_vec, n_probe)
    qn = math.sqrt(sum(x * x for x in query_vec))
    cell_rows, lut_rows = _query_luts(spark, index_dir, query_vec, probes)
    codes = spark.read.parquet(f"{index_dir}/codes").where(F.col("cell").isin(probes))
    return spark.sql(
        f"""
        WITH cx AS (
            SELECT vec_id, nv, cell, cast(m as bigint) AS m, cast(code as bigint) AS code
            FROM (SELECT vec_id, nv, cell, posexplode(codes) AS (m, code) FROM {{probe}})
        ),
        adc AS (
            SELECT c.vec_id, c.nv, c.cell, cast(sum(l.lv) as bigint) AS s
            FROM cx c JOIN {{qlut}} l ON l.m = c.m AND l.code = c.code
            GROUP BY c.vec_id, c.nv, c.cell
        ),
        scored AS (
            SELECT a.vec_id,
                   (case when a.nv = 0.0 or {qn!r} = 0.0 then 0.0
                         else (cast(q.qcv + a.s as double) / {PQ_SCALE}.0)
                              / (a.nv * {qn!r}) end) AS approx_cosine
            FROM adc a JOIN {{qcells}} q ON q.cell = a.cell
        )
        SELECT vec_id, approx_cosine,
               cast(row_number() OVER (ORDER BY approx_cosine DESC, vec_id ASC)
                    as bigint) AS rnk
        FROM scored ORDER BY rnk LIMIT {k}
        """,
        probe=codes,
        qlut=spark.createDataFrame(lut_rows, "m bigint, code bigint, lv bigint"),
        qcells=spark.createDataFrame(cell_rows, "cell long, qcv bigint"),
    )
