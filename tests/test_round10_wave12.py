"""Round-10 wave-12 operator invariants: the negative-sampling table's
exact apportionment and the Qini curve's accounting identities."""

from __future__ import annotations

from sentiment_analysis_data_pipeline_spark import queries as Q

SF = "/root/testdata/sf0.001"


def test_negative_sampling_table_allocates_exactly(spark):
    rows = Q.REGISTRY["negative_sampling_table"][0](spark, SF).collect()
    assert rows, "empty vocabulary at sf0.001 -- fixture regression"
    # largest-remainder apportionment: the table is EXACTLY full
    assert sum(r["n_slots"] for r in rows) == Q.NS_TABLE
    # vocabulary floor respected
    assert all(r["f"] >= Q.NS_MIN_F for r in rows)
    # 3/4 smoothing: slots grow with f but SUBLINEARLY -- the head token's
    # slot share must be smaller than its frequency share
    total_f = sum(r["f"] for r in rows)
    head = max(rows, key=lambda r: r["f"])
    assert head["n_slots"] / Q.NS_TABLE < head["f"] / total_f
    # ...and the tail is lifted: the rarest token's slot share exceeds
    # its frequency share
    tail = min(rows, key=lambda r: r["f"])
    assert tail["n_slots"] / Q.NS_TABLE > tail["f"] / total_f


def test_negative_sampling_matches_reference_apportionment(spark):
    """Exact driver-side replay of the quantized apportionment."""
    import math

    rows = Q.REGISTRY["negative_sampling_table"][0](spark, SF).collect()
    w = {r["tok"]: math.sqrt(math.sqrt(float(r["f"]) ** 3)) for r in rows}
    wmax = max(w.values())
    wq = {t: math.floor((v / wmax) * float(1 << 30)) for t, v in w.items()}
    W = sum(wq.values())
    base = {t: (Q.NS_TABLE * q) // W for t, q in wq.items()}
    rem = {t: (Q.NS_TABLE * q) % W for t, q in wq.items()}
    leftover = Q.NS_TABLE - sum(base.values())
    order = sorted(rem, key=lambda t: (-rem[t], t))
    expect = dict(base)
    for t in order[:leftover]:
        expect[t] += 1
    got = {r["tok"]: r["n_slots"] for r in rows}
    assert got == expect


def test_qini_uplift_accounting(spark):
    rows = Q.REGISTRY["qini_uplift"][0](spark, SF).collect()
    assert len(rows) == Q.QINI_DECILES
    Q._events_view(spark, SF)
    stats = spark.sql(
        """SELECT cast(count(distinct user_id) as bigint) AS n_users,
                  cast(count(distinct case when user_id % 2 = 1
                                           then user_id end) as bigint) AS n_t
           FROM events"""
    ).collect()[0]
    last = rows[-1]
    # the final cumulative row accounts for every user exactly once
    assert last["cn_t"] + last["cn_c"] == stats["n_users"]
    assert last["cn_t"] == stats["n_t"]
    prev_t = prev_c = 0
    for r in rows:
        # cumulative monotonicity and conversion bounds
        assert r["cn_t"] >= prev_t and r["cn_c"] >= prev_c
        assert 0 <= r["cconv_t"] <= r["cn_t"]
        assert 0 <= r["cconv_c"] <= r["cn_c"]
        prev_t, prev_c = r["cn_t"], r["cn_c"]
    # qini identity re-derived per row
    for r in rows:
        if r["cn_c"] > 0:
            ref = r["cconv_t"] - r["cconv_c"] * (r["cn_t"] / r["cn_c"])
            assert r["qini"] == ref


def test_pc_top2_orthogonal_and_ordered(spark):
    import numpy as np
    import pyarrow.parquet as pq

    rows = Q.q_pc_top2(spark, SF).collect()
    assert len(rows) == Q.EMB_DIM
    rows = sorted(rows, key=lambda r: r["dim"])
    v1 = np.array([r["pc1"] for r in rows])
    v2 = np.array([r["pc2"] for r in rows])
    lam1, lam2 = rows[0]["lam1"], rows[0]["lam2"]
    assert abs(float(np.linalg.norm(v1)) - 1.0) < 1e-6
    assert abs(float(np.linalg.norm(v2)) - 1.0) < 1e-6
    # deflation: the two directions are orthogonal and eigenvalue-ordered
    assert abs(float(v1 @ v2)) < 1e-4
    assert lam1 >= lam2 > 0
    # against the numpy eigendecomposition of the same second-moment matrix
    X = np.array(pq.read_table(f"{SF}/embeddings.parquet")["embedding"].to_pylist())
    evals, evecs = np.linalg.eigh(X.T @ X / len(X))
    assert abs(float(v1 @ evecs[:, -1])) > 0.999
    assert abs(float(v2 @ evecs[:, -2])) > 0.999
    assert abs(lam1 - evals[-1]) / evals[-1] < 1e-3
    assert abs(lam2 - evals[-2]) / evals[-2] < 1e-3


def test_effective_rank_against_numpy_spectrum(spark):
    import numpy as np
    import pyarrow.parquet as pq

    r = Q.q_embedding_effective_rank(spark, SF).collect()[0]
    X = np.array(pq.read_table(f"{SF}/embeddings.parquet")["embedding"].to_pylist())
    evals = np.linalg.eigvalsh(X.T @ X / len(X))
    assert abs(r["trace"] - evals.sum()) / evals.sum() < 1e-6
    ref_er = evals.sum() ** 2 / (evals**2).sum()
    assert abs(r["eff_rank"] - ref_er) / ref_er < 1e-4
    assert 1.0 <= r["eff_rank"] <= Q.EMB_DIM
    assert abs(r["lam1"] - evals[-1]) / evals[-1] < 1e-3
    assert 0.0 < r["top_share"] <= 1.0


def test_k_anonymity_events_accounting(spark):
    rows = Q.REGISTRY["k_anonymity_events"][0](spark, SF).collect()
    assert [r["k"] for r in rows] == list(Q.K_ANON_LEVELS)
    Q._events_view(spark, SF)
    n = spark.table("events").count()
    prev = -1
    for r in rows:
        assert r["n_rows"] == n
        assert 0 <= r["rows_below_k"] <= n
        assert r["rows_below_k"] >= prev  # monotone in k
        assert r["share_below_k"] == r["rows_below_k"] / n
        assert r["k_anonymity"] >= 1
        prev = r["rows_below_k"]
    # the dataset's k-anonymity is consistent with the below-k counts:
    # any k <= k_anonymity has zero re-identifiable rows
    for r in rows:
        if r["k"] <= r["k_anonymity"]:
            assert r["rows_below_k"] == 0
