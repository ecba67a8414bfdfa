"""get_spark hands back a live session untouched: its SQL conf belongs to
whoever created it, so a second caller cannot re-size its shuffle."""

from __future__ import annotations

from sentiment_analysis_data_pipeline_spark.session import get_spark


def test_get_spark_keeps_live_session_conf(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    again = get_spark("second-caller", shuffle_partitions=int(before) + 3)
    assert again.sparkContext is spark.sparkContext
    assert spark.conf.get(key) == before
    assert again.conf.get(key) == before
