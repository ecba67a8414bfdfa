"""Round-2 relational additions: histogram, exact-moment correlation,
lag deltas, batch MERGE semantics."""

from __future__ import annotations

from sentiment_analysis_data_pipeline_spark import queries as Q


def test_value_histogram_partitions_all_events(spark, sf_dir):
    rows = Q.REGISTRY["value_histogram"][0](spark, sf_dir).collect()
    assert all(0 <= r["bin"] <= 15 for r in rows)
    total = sum(r["n_events"] for r in rows)
    Q._events_view(spark, sf_dir)
    n = spark.sql("SELECT count(*) AS n FROM events WHERE value IS NOT NULL").collect()[0]["n"]
    assert total == n


def test_value_correlations_bounded(spark, sf_dir):
    rows = Q.REGISTRY["value_correlations"][0](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1.0 <= r["pearson_r"] <= 1.0
        assert r["n"] > 1


def test_event_deltas_consistent(spark, sf_dir):
    rows = Q.REGISTRY["event_deltas"][0](spark, sf_dir).collect()
    assert rows
    for r in rows[:200]:
        assert r["delta"] == r["value"] - r["prev_value"]


def test_scd_upsert_merge_semantics(spark, sf_dir):
    out = {r["c_custkey"]: r for r in Q.REGISTRY["scd_upsert"][0](spark, sf_dir).collect()}
    base = {
        r["c_custkey"]: r["c_name"]
        for r in spark.read.parquet(f"{sf_dir}/customer.parquet").collect()
    }
    n_upd = sum(1 for k in base if k % 10 == 0)
    n_ins = sum(1 for k in base if k % 97 == 0)
    assert len(out) == len(base) + n_ins
    statuses = {}
    for k, r in out.items():
        statuses[r["status"]] = statuses.get(r["status"], 0) + 1
        if r["status"] == "updated":
            assert r["c_name"] == base[k] + " (updated)"
        elif r["status"] == "inserted":
            assert k >= 10000000 and r["c_name"].startswith("NEW ")
        else:
            assert r["c_name"] == base[k]
    assert statuses.get("updated", 0) == n_upd
    assert statuses.get("inserted", 0) == n_ins


def test_sliding_window_covers_each_event_four_times(spark, sf_dir):
    rows = Q.REGISTRY["sliding_window_agg"][0](spark, sf_dir).collect()
    Q._events_view(spark, sf_dir)
    n = spark.sql("SELECT count(*) AS n FROM events WHERE value IS NOT NULL").collect()[0]["n"]
    assert sum(r["n_events"] for r in rows) == Q.SLIDE_HOPS * n
    starts = [r["window_start_us"] for r in rows]
    assert len(set(starts)) == len(starts)
    assert all(s % Q.HOP_US == 0 for s in starts)


def test_hourly_anomaly_flag_matches_zscore(spark, sf_dir):
    rows = Q.REGISTRY["hourly_anomaly"][0](spark, sf_dir).collect()
    assert rows
    # z numerators sum to zero => mean z is ~0
    assert abs(sum(r["zscore"] for r in rows)) < 1e-6 * len(rows)
    for r in rows:
        if abs(abs(r["zscore"]) - 2.0) > 1e-9:  # off the exact boundary
            assert r["is_anomaly"] == (abs(r["zscore"]) > 2.0)


def test_column_profile_census(spark, sf_dir):
    rows = {r["column_name"]: r for r in Q.REGISTRY["column_profile"][0](spark, sf_dir).collect()}
    assert set(rows) == set(Q._PROFILE_COLS)
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert all(r["n_rows"] == n for r in rows.values())
    r = rows["doc_id"]
    assert r["n_nulls"] == 0 and r["n_distinct"] == n and r["null_rate"] == 0.0


def test_key_skew_report_shares(spark, sf_dir):
    rows = Q.REGISTRY["key_skew_report"][0](spark, sf_dir).collect()
    by_col = {}
    for r in rows:
        by_col.setdefault(r["key_col"], []).append(r)
    assert set(by_col) == {"events.user_id", "lineitem.l_suppkey"}
    for col_rows in by_col.values():
        ns = [r["n"] for r in col_rows]
        assert ns == sorted(ns, reverse=True)
        assert all(0.0 < r["share"] <= 1.0 for r in col_rows)
        assert sum(r["share"] for r in col_rows) <= 1.0 + 1e-9
