"""Search surface (Q2/Q3) + aggregation/monitor (A1-A4, T6) tests."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from sentiment_analysis_data_pipeline_spark.operators import aggregates, search
from sentiment_analysis_data_pipeline_spark.plans.monitors import run_monitors


def _corpus(spark):
    rows = [
        (0, "spark merge of sorted partitions"),
        (1, "the window functions of spark"),
        (2, "window merge spark pipelines"),  # matches all three terms
        (3, "nothing relevant here"),
        (4, "merge merge merge"),  # repeated term counts once
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_keyword_search_ranking(spark):
    out = search.keyword_search(_corpus(spark), "Spark WINDOW merge!", size=10).collect()
    scores = {r["doc"]: r["score"] for r in out}
    assert scores[2] == 3
    assert scores[0] == 2  # spark + merge
    assert scores[4] == 1  # distinct overlap, not term frequency
    assert 3 not in scores
    assert out[0]["doc"] == 2  # ranked first


def test_keyword_search_empty_query(spark):
    assert search.keyword_search(_corpus(spark), "the and of", size=10).count() == 0


def test_keyword_search_stemming(spark):
    """The analyzer stems both sides: a query for 'merge' must match docs
    that only contain inflected forms (english-analyzer stemmer parity,
    configs/elasticsearch_config.py:94-112)."""
    rows = [
        (0, "merging sorted runs"),
        (1, "the table was merged yesterday"),
        (2, "three merges completed"),
        (3, "unrelated content"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = search.keyword_search(df, "merge", size=10).collect()
    assert {r["doc"] for r in out} == {0, 1, 2}


def test_stem_chain_examples():
    """Pin the suffix-strip subset's behavior on representative forms."""
    from sentiment_analysis_data_pipeline_spark.functions.text import stem_py

    assert stem_py("merging") == stem_py("merged") == stem_py("merges") == stem_py("merge")
    assert stem_py("classes") == "class"
    assert stem_py("stories") == "stori"
    assert stem_py("windows") == "window"
    assert stem_py("king") == "king"  # no vowel-bearing stem before -ing
    assert stem_py("red") == "red"
    assert stem_py("the") == "the"  # too short for -e strip
    assert stem_py("class") == "class"  # -ss never stripped


def test_stem_sql_matches_python(spark):
    """The SQL stem chain (Spark dialect) agrees with the driver-side mirror
    token for token."""
    from sentiment_analysis_data_pipeline_spark.functions import dialect as D
    from sentiment_analysis_data_pipeline_spark.functions.text import stem, stem_py

    words = [
        "merging", "merged", "merges", "merge", "classes", "stories",
        "windows", "king", "red", "the", "class", "running", "used",
        "ties", "houses", "2020s", "ing", "agreed", "hopes",
    ]
    df = spark.createDataFrame([(w,) for w in words], "t string")
    got = [r["s"] for r in df.selectExpr(f"{stem(D.SPARK, 't')} AS s").collect()]
    assert got == [stem_py(w) for w in words]


def test_term_query_sort_limit(spark):
    df = spark.createDataFrame(
        [(i, "positive" if i % 2 == 0 else "negative", i * 10) for i in range(10)],
        "id long, label string, score long",
    )
    out = search.term_query(df, "label", "positive", sort_col="score", tiebreak="id", size=3).collect()
    assert [r["id"] for r in out] == [8, 6, 4]


def test_terms_agg_top_buckets(spark):
    df = spark.createDataFrame(
        [(i, "a" if i < 5 else "b" if i < 8 else "c") for i in range(10)],
        "id long, k string",
    )
    out = aggregates.terms_agg(df, "k", size=2).collect()
    assert [(r["key"], r["doc_count"]) for r in out] == [("a", 5), ("b", 3)]


def test_quality_and_freshness_monitors(spark):
    now = F.lit(datetime.datetime(2024, 1, 2, 0, 0, 0))
    raw = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1, 23, 30),), (datetime.datetime(2024, 1, 1, 10, 0),)],
        "fetched_at timestamp",
    )
    processed = spark.createDataFrame(
        [(1, "positive"), (2, "negative"), (3, None)],
        "id long, sentiment string",
    )
    report = run_monitors(raw, processed, now=now, threshold=90.0)
    assert report.fresh_count == 1
    assert report.quality_rate == pytest.approx(200 / 3)
    assert not report.passed and "quality" in report.failures[0]

    ok = run_monitors(raw, processed, now=now, threshold=50.0)
    assert ok.passed


def test_strict_monitor_raises(spark):
    now = F.lit(datetime.datetime(2024, 1, 2))
    stale = spark.createDataFrame([(datetime.datetime(2023, 1, 1),)], "fetched_at timestamp")
    processed = spark.createDataFrame([(1, "positive")], "id long, sentiment string")
    with pytest.raises(AssertionError, match="freshness"):
        run_monitors(stale, processed, now=now, strict=True)


def test_approx_stats_bounds(spark):
    """Sketch aggregates track the exact twin within published error bounds
    (HLL++ default rsd 5%; approx_percentile here runs at its exact-accuracy
    threshold for the test row counts)."""
    from sentiment_analysis_data_pipeline_spark.queries import (
        APPROX_SKETCH_SQL,
        REGISTRY,
        _events_view,
        q_approx_stats,
    )

    sf = "/root/testdata/sf0.001"
    exact = {r["event_type"]: r for r in REGISTRY["value_stats"][0](spark, sf).collect()}
    _events_view(spark, sf)
    approx = {r["event_type"]: r for r in spark.sql(APPROX_SKETCH_SQL).collect()}
    assert set(approx) == set(exact)
    for et, a in approx.items():
        e = exact[et]
        assert a["exact_users"] == e["n_users"]
        assert abs(a["approx_users"] - e["n_users"]) <= 0.15 * e["n_users"]
        assert abs(a["am"] - e["median_value"]) <= 0.2 * max(1.0, abs(e["median_value"]))
        assert abs(a["a90"] - e["p90_value"]) <= 0.2 * max(1.0, abs(e["p90_value"]))

    # the driver-facing tolerance-checked form: every flag must be 1 (the
    # oracle emits literal 1s, so a 0 here is a future CORRECTNESS failure)
    for r in q_approx_stats(spark, sf).collect():
        assert (r["users_ok"], r["median_ok"], r["p90_ok"]) == (1, 1, 1), r
