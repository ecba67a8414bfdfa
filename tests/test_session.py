"""get_spark hands back a live session untouched: its SQL conf belongs to
whoever created it, so a second caller cannot re-size its shuffle. Its
default driver heap follows the box's physical memory."""

from __future__ import annotations

import pytest

from sentiment_analysis_data_pipeline_spark import session
from sentiment_analysis_data_pipeline_spark.session import get_spark


def test_get_spark_keeps_live_session_conf(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    again = get_spark("second-caller", shuffle_partitions=int(before) + 3)
    assert again.sparkContext is spark.sparkContext
    assert spark.conf.get(key) == before
    assert again.conf.get(key) == before


@pytest.mark.parametrize(
    "phys_gib, want", [(15.6, "7g"), (16, "8g"), (64, "24g"), (1, "1g"), (0.5, "1g")]
)
def test_default_driver_memory_is_half_of_physical(monkeypatch, phys_gib, want):
    page = 4096
    pages = int(phys_gib * 2**30) // page
    fake = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}
    monkeypatch.setattr(session.os, "sysconf", fake.__getitem__)
    assert session.default_driver_memory() == want
