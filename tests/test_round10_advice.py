"""Round-10 ADVICE regression pins: the rec_eval empty-set degenerate row,
the trending_terms NaN-proof variance guard, and the widened Mann-Whitney
decimal cube. Each test targets exactly the failure scenario the round-9
ADVICE described, so a regression reproduces the original finding."""

from __future__ import annotations

import math

from sentiment_analysis_data_pipeline_spark import queries as Q
from sentiment_analysis_data_pipeline_spark.functions import dialect as D

SF = "/root/testdata/sf0.001"


def test_rec_eval_empty_set_emits_single_zeros_row(spark):
    """An events relation with no extractable items must yield ONE row of
    zeros (the docstring's promise), not zero rows: the old final aggregate
    grouped by the sizes CTE, and an empty per_user relation made the GROUP
    BY emit no group at all."""
    spark.sql(
        "SELECT cast(1 as bigint) AS event_id, cast(1 as bigint) AS user_id,"
        " cast(NULL as string) AS props,"
        " cast(1700000000000 as bigint) AS ts"
    ).where("event_id < 0").createOrReplaceTempView("events")
    rows = spark.sql(Q._rec_eval_sql(D.SPARK)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_eval_users"] == 0
    assert r["n_train_events"] == 0 and r["n_test_events"] == 0
    assert r["mean_ndcg"] == 0.0 and r["mean_mrr"] == 0.0
    assert r["hit_rate"] == 0.0


def test_rec_eval_nonempty_unchanged(spark):
    """The inlined-scalar-subquery rewrite must not move any value on a real
    corpus (same integers, same IEEE chains)."""
    r = Q.REGISTRY["rec_eval_topk"][0](spark, SF).collect()[0]
    assert r["n_eval_users"] > 0
    assert 0.0 <= r["mean_ndcg"] <= 1.0
    assert 0.0 <= r["mean_mrr"] <= 1.0
    assert 0.0 <= r["hit_rate"] <= 1.0


def test_trending_terms_z_never_nan(spark):
    """The variance guard must hold for every emitted term: z is finite on
    both the zero-variance identity arm and the float-rounds-negative arm
    (the old exact-equality-only guard let sqrt(<0) produce NaN)."""
    rows = Q.REGISTRY["trending_terms"][0](spark, SF).collect()
    assert rows, "trending_terms returned no rows at sf0.001"
    for r in rows:
        assert not math.isnan(r["z"]), f"NaN z for term {r['term']}"
        assert not math.isinf(r["z"])


def test_trending_terms_guard_kills_negative_float_variance(spark):
    """Direct probe of the guard expression: a synthetic moment set where
    the float chain rounds the tiny-but-nonzero variance NEGATIVE must read
    z = 0.0, not NaN. Constructed so s2*nm > s1*s1 (integer variance > 0)
    while s2/nm - (s1/nm)^2 < 0 in doubles."""
    # nm=3; counts c = (a, a, a+1) with a = 3*2^26: s1 = 3a+1, s2 = 3a^2+2a+1
    # integer: s2*nm - s1*s1 = 9a^2+6a+3 - 9a^2-6a-1 = 2 > 0
    a = 3 * (1 << 26)
    s1, s2, nm = 3 * a + 1, 3 * a * a + 2 * a + 1, 3
    fvar = s2 / nm - (s1 / nm) ** 2
    assert fvar < 0, "fixture no longer exercises the negative-rounding arm"
    row = spark.sql(
        f"""
        SELECT case when s2 * nm <= s1 * s1
                      or (cast(s2 as double) / cast(nm as double))
                         - (cast(s1 as double) / cast(nm as double))
                         * (cast(s1 as double) / cast(nm as double)) <= 0.0
                    then 0.0
                    else (cast(n as double)
                          - cast(s1 as double) / cast(nm as double))
                         / sqrt(nullif(
                             (cast(s2 as double) / cast(nm as double))
                             - (cast(s1 as double) / cast(nm as double))
                             * (cast(s1 as double) / cast(nm as double)),
                             0.0))
               end AS z
        FROM (SELECT cast({s1} as bigint) AS s1, cast({s2} as bigint) AS s2,
                     cast({nm} as bigint) AS nm, cast({a + 1} as bigint) AS n)
        """
    ).collect()[0]
    assert row["z"] == 0.0


def test_mann_whitney_decimal_cube_widened(spark):
    """The tie/N cubes must stay exact past the old decimal(12,0) cast bound:
    a pooled count above 1e12 (old overflow -> null z under non-ANSI) now
    computes the exact N^3 - N via the cast(t*t as decimal(25,0)) * t split.
    Probed on the nn3 expression shape directly (materializing 1e12 events
    is not a unit test)."""
    n = 2 * 10**12  # above the old 1e12 bound, below the new ~3.1e12 bound
    row = spark.sql(
        f"""
        SELECT cast(cast(n as decimal(13,0)) * cast(n as decimal(13,0))
                    as decimal(25,0))
               * cast(n as decimal(13,0)) - cast(n as decimal(13,0)) AS nn3
        FROM (SELECT cast({n} as bigint) AS n)
        """
    ).collect()[0]
    assert row["nn3"] is not None
    assert int(row["nn3"]) == n**3 - n


def test_mann_whitney_values_unchanged(spark):
    """The widened decimals must not move the statistic on a real corpus."""
    r = Q.REGISTRY["mann_whitney"][0](spark, SF).collect()[0]
    assert r["n1"] > 0 and r["n2"] > 0
    assert not math.isnan(r["z"])
    assert -1.0 <= r["rank_biserial"] <= 1.0
