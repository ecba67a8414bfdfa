"""Window/sessionization + embedding-similarity operator tests."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from sentiment_analysis_data_pipeline_spark.operators import similarity, window_ops


def _events(spark):
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    # user 1: two sessions (gap of 2 h between event 2 and 3)
    for i, mins in enumerate([0, 10, 20, 140, 150]):
        rows.append((i, t0 + datetime.timedelta(minutes=mins), 1, "click", 1.0))
    # user 2: one session
    rows.append((10, t0, 2, "view", 5.0))
    return spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, event_type string, value double")


def test_sessionize(spark):
    out = window_ops.session_stats(_events(spark), gap_minutes=30).collect()
    stats = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in out}
    assert stats[1] == (2, 5)
    assert stats[2] == (1, 1)


def test_tumbling_agg(spark):
    out = window_ops.tumbling_agg(_events(spark), "ts", "hour").collect()
    by_window = {r["window_start"].hour: r["n_events"] for r in out}
    assert by_window[0] == 4  # 0,10,20 min (user1) + user2
    assert by_window[2] == 2  # 140,150 min


def test_topk_per_group(spark):
    out = window_ops.topk_per_group(_events(spark), "user_id", "value", "event_id", k=1).collect()
    assert len(out) == 2


def _embeddings(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.1, 0.0, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite
        (4, [0.7, 0.7, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(spark):
    out = similarity.brute_force_topk(_embeddings(spark), query_vec_id=0, k=3, dim=4).collect()
    assert [r["vec_id"] for r in out] == [1, 4, 2]
    assert out[0]["cosine"] == pytest.approx(1 / (1.01) ** 0.5)
    assert out[2]["cosine"] == pytest.approx(0.0)


def test_lsh_bucketed_topk_recall(spark):
    emb = _embeddings(spark)
    out = similarity.lsh_bucketed_topk(emb, emb.filter("vec_id = 0"), k=2, dim=4, planes=2)
    rows = out.collect()
    # bucketed candidates only; identical-direction vector must share bucket
    found = {r["vec_id"] for r in rows}
    assert 1 in found  # near-identical direction always lands in q's bucket
    assert all(r["q_id"] == 0 for r in rows)


def test_ann_recall_vs_brute_force(spark):
    """The approximate paths must actually find neighbors: recall@3 against
    the brute-force ranking for query 0. (Before the banded-OR/multi-probe
    fix both measured 0/3 -- deterministic but useless.)"""
    from sentiment_analysis_data_pipeline_spark.queries import (
        REGISTRY,
        q_ann_lsh,
        q_cosine_topk,
    )

    sf = "/root/testdata/sf0.001"
    truth = {r["vec_id"] for r in q_cosine_topk(spark, sf).collect()[:3]}
    lsh = {r["vec_id"] for r in q_ann_lsh(spark, sf).collect() if r["q_id"] == 0}
    ivf = {r["vec_id"] for r in REGISTRY["ivf_ann"][0](spark, sf).collect() if r["q_id"] == 0}
    assert len(truth & lsh) >= 1, f"LSH recall collapsed: {truth} vs {lsh}"
    assert len(truth & ivf) >= 1, f"IVF recall collapsed: {truth} vs {ivf}"
