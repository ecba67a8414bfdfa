"""Window/sessionization + embedding-similarity operator tests."""

from __future__ import annotations

import datetime

import pytest

from sentiment_analysis_data_pipeline_spark import queries as Q
from sentiment_analysis_data_pipeline_spark.functions import dialect as D
from sentiment_analysis_data_pipeline_spark.operators import similarity

T0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
MIN_NS = 60 * 10**9


@pytest.fixture
def events(spark):
    """The fixture as the `events` view, `ts` as epoch-ns BIGINT (the shape
    queries._events_view gives the registry)."""
    t0 = int(T0.timestamp()) * 10**9
    rows = []
    # user 1: two sessions (gap of 2 h between event 2 and 3)
    for i, mins in enumerate([0, 10, 20, 140, 150]):
        rows.append((i, t0 + mins * MIN_NS, 1, "click", 1.0))
    # user 2: one session
    rows.append((10, t0, 2, "view", 5.0))
    spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string, value double"
    ).createOrReplaceTempView("events")
    yield
    spark.catalog.dropTempView("events")


def test_sessionize(spark, events):
    out = spark.sql(Q._sessions_sql(D.SPARK)).collect()
    stats = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in out}
    assert stats[1] == (2, 5)
    assert stats[2] == (1, 1)


def test_tumbling_agg(spark, events):
    out = spark.sql(Q._hourly_window_sql(D.SPARK)).collect()
    h0 = int(T0.timestamp()) // 3600
    by_window = {r["hour_bucket"] - h0: r["n_events"] for r in out}
    assert by_window[0] == 4  # 0,10,20 min (user1) + user2
    assert by_window[2] == 2  # 140,150 min


def test_topk_per_group(spark, events):
    out = spark.sql(Q._topk_per_type_sql(D.SPARK)).collect()
    by_type = {}
    for r in out:
        by_type.setdefault(r["event_type"], []).append(r["event_id"])
    # top 3 per type; equal values tie-break on event_id ASC
    assert sorted(by_type["click"]) == [0, 1, 2]
    assert by_type["view"] == [10]


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
