"""Round-10 wave-11 operator invariants: m-rater agreement, MI
decomposition, quality-keeper policy, multi-evidence clustering, label
purity, converged PC1. Each test proves the structural property the oracle
hash cannot see (FIXTURES.md discipline); where a driver-side reference is
cheap, the distributed result is checked EXACTLY."""

from __future__ import annotations

import math

from sentiment_analysis_data_pipeline_spark import queries as Q
from sentiment_analysis_data_pipeline_spark.functions import dialect as D

SF = "/root/testdata/sf0.001"


def test_krippendorff_alpha_matches_reference(spark):
    out = Q.REGISTRY["krippendorff_alpha"][0](spark, SF).collect()[0]
    Q._view(spark, SF, "documents")
    wc = Q.TX.word_count(D.SPARK, Q.TEXT)
    q = Q.TX.quality_score(D.SPARK, Q.TEXT)
    marks = spark.sql(
        f"""SELECT case when n_chars >= {Q.KAPPA_CHARS_MIN} then 1 else 0 end
                  + case when {wc} >= {Q.KAPPA_WORDS_MIN} then 1 else 0 end
                  + case when {q} >= {Q.ALPHA_QUALITY_MIN} then 1 else 0 end AS n1
            FROM documents"""
    ).collect()
    n_units = len(marks)
    n1 = sum(r["n1"] for r in marks)
    n0 = 3 * n_units - n1
    do = sum(r["n1"] * (3 - r["n1"]) for r in marks)
    assert out["n_units"] == n_units
    assert out["n_keep"] == n1 and out["n_drop"] == n0
    assert out["do_sum"] == do
    ref = 1.0 - (do * (3 * n_units - 1)) / (2 * n1 * n0)
    assert out["alpha"] == ref
    assert -1.0 <= out["alpha"] <= 1.0


def test_krippendorff_alpha_perfect_agreement_is_one(spark):
    """Three raters that always agree (n1 in {0,3} per unit) give D_o = 0
    -> alpha exactly 1 when both categories appear."""
    row = spark.sql(
        """
        WITH marks AS (SELECT 3 AS n1 UNION ALL SELECT 0 UNION ALL SELECT 3),
        agg AS (
            SELECT cast(count(*) as bigint) AS n_units,
                   cast(sum(n1) as bigint) AS n_keep,
                   cast(sum(3 - n1) as bigint) AS n_drop,
                   cast(sum(n1 * (3 - n1)) as bigint) AS do_sum
            FROM marks
        )
        SELECT case when n_keep = 0 or n_drop = 0 then 0.0
                    else 1.0 - cast(do_sum * (3 * n_units - 1) as double)
                         / cast(2 * n_keep * n_drop as double) end AS alpha
        FROM agg
        """
    ).collect()[0]
    assert row["alpha"] == 1.0


def test_source_quality_mi_information_inequality(spark):
    rows = Q.REGISTRY["source_quality_mi"][0](spark, SF).collect()
    assert rows
    total_mi = sum(r["mi_contrib"] for r in rows)
    # MI >= 0 up to quantization (each ln is floor-quantized at 2^-30 and
    # multiplied by p <= 1: total downward bias < n_cells * 2^-30)
    assert total_mi >= -len(rows) * 2.0**-30
    # bounded above by min(H(source), H(band)) <= ln(cardinality)
    n_src = len({r["source"] for r in rows})
    n_band = len({r["q_band"] for r in rows})
    assert total_mi <= math.log(max(2, min(n_src, n_band))) + 1e-9
    assert sum(r["n_docs"] for r in rows) == spark.table("documents").count()


def test_keep_policy_quality_beats_or_ties_minid(spark):
    rows = Q.q_keep_policy_quality(spark, SF).collect()
    assert rows, "no near-dup clusters at sf0.001 -- fixture regression"
    for r in rows:
        assert r["cluster_size"] >= 2  # components are edge-induced
        # the argmax keeper can never have LOWER quality than the min-id one
        assert r["keeper_quality"] >= r["minid_quality"] - 1e-12
        assert r["dropped_tokens"] >= 0
    # the policy must actually differ somewhere OR every cluster's best
    # member already is the min-id doc (assert the comparison ran for real)
    assert any(r["keeper_doc"] != r["component"] for r in rows) or all(
        r["keeper_quality"] == r["minid_quality"] for r in rows
    )


def test_dedup_evidence_clusters_reconciles_with_families(spark):
    rows = Q.q_dedup_evidence_clusters(spark, SF).collect()
    assert rows
    n_sh = Q._simhash_pairs_df(spark, SF).count()
    for r in rows:
        assert r["n_pairs"] >= max(r["n_sh"], r["n_mh"], r["n_wn"])
        assert r["n_multi"] <= r["n_pairs"]
        assert r["n_docs"] >= 2
        # a component's pair count is bounded by its clique size
        assert r["n_pairs"] <= r["n_docs"] * (r["n_docs"] - 1) // 2
    assert sum(r["n_sh"] for r in rows) == n_sh
    # the union graph can only merge families, never lose their edges
    assert sum(r["n_pairs"] for r in rows) >= n_sh


def test_cluster_label_purity_bounds(spark):
    rows = Q.q_cluster_label_purity(spark, SF).collect()
    assert rows, "no semantic clusters at sf0.001 -- fixture regression"
    for r in rows:
        assert r["n_members"] >= 2
        assert 1 <= r["majority_n"] <= r["n_members"]
        assert 0.0 < r["purity"] <= 1.0
        assert r["purity"] == r["majority_n"] / r["n_members"]


def test_pc1_power_iterated_is_unit_dominant_direction(spark):
    import numpy as np

    rows = Q.q_pc1_power_iterated(spark, SF).collect()
    assert len(rows) == Q.EMB_DIM
    v = np.array([r["loading"] for r in sorted(rows, key=lambda r: r["dim"])])
    lam = rows[0]["lam"]
    assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-6
    # reference: numpy eigendecomposition of the second-moment mean matrix
    import pyarrow.parquet as pq

    X = np.array(pq.read_table(f"{SF}/embeddings.parquet")["embedding"].to_pylist())
    C = X.T @ X / len(X)
    evals, evecs = np.linalg.eigh(C)
    top = evecs[:, -1]
    # direction agreement up to sign and power-method residual
    cos = abs(float(v @ top))
    assert cos > 0.999, f"PC1 misaligned: |cos|={cos}"
    assert abs(lam - evals[-1]) / evals[-1] < 1e-3
    # every row carries the same lam
    assert len({r["lam"] for r in rows}) == 1
