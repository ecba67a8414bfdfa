"""Snapshot-stamped shared index artifacts (sources/tables.py, round 9).

Round-8 ADVICE (medium): per-session in-memory catalogs made every new
session rebuild shared indexes, and two concurrent builders could interleave
swap_directory's rename pair (RawLocalFileSystem's FileUtil.copy fallback
nests one build inside the live table -> silently duplicated rows). The
fixes under test:

- ensure_stamped_table re-registers a previous session's copy when the
  corpus fingerprint matches (no rebuild), rebuilds when it does not, and
  the re-registered external table keeps its bucket spec (co-located joins
  stay Exchange-free);
- build_lock serializes concurrent builders (O_EXCL beside final_loc) and
  reclaims locks from crashed holders (dead pid, or stale);
- swap_directory fails LOUDLY if the final slot is occupied mid-swap
  instead of letting the rename nest directories.
"""

from __future__ import annotations

import os
import re
import time

import pytest
from pyspark.sql import functions as F

from sentiment_analysis_data_pipeline_spark.sources import tables as T

SF = "/root/testdata/sf0.001"


def _mkdf(spark, n=100):
    return spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )


def _cleanup(spark, table):
    T.drop_table_with_files(spark, table)
    loc = os.path.join(T._warehouse_dir(), table.lower())
    import shutil

    shutil.rmtree(loc, ignore_errors=True)


def test_stamped_reuse_and_invalidation(spark):
    table = "stamp_test_tbl"
    _cleanup(spark, table)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return _mkdf(spark)

    try:
        T.ensure_stamped_table(spark, table, "k", 4, "fp_a", build)
        assert calls["n"] == 1
        # same session, same fingerprint: no rebuild
        T.ensure_stamped_table(spark, table, "k", 4, "fp_a", build)
        assert calls["n"] == 1
        # "new session": catalog entry gone, files + stamp remain
        spark.sql(f"DROP TABLE {table}")
        T.ensure_stamped_table(spark, table, "k", 4, "fp_a", build)
        assert calls["n"] == 1, "matching stamp must re-register, not rebuild"
        assert spark.table(table).count() == 100
        # the re-registered table keeps its bucket spec: self-join plans
        # with no Exchange above either scan
        joined = spark.sql(
            f"""SELECT /*+ MERGE(a) */ a.k FROM {table} a
                JOIN {table} b ON a.k = b.k"""
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        assert not re.search(
            r"Exchange (hash|range)partitioning|Exchange SinglePartition", plan
        ), f"re-registered bucketed join shuffles:\n{plan}"
        # corpus changed (new fingerprint): must rebuild
        T.ensure_stamped_table(spark, table, "k", 4, "fp_b", build)
        assert calls["n"] == 2
        loc = os.path.join(T._warehouse_dir(), table.lower())
        assert T.read_stamp(loc) == "fp_b"
    finally:
        _cleanup(spark, table)


def test_corpus_fingerprint_tracks_source_files():
    fp1 = T.corpus_fingerprint(SF, ["documents"])
    fp2 = T.corpus_fingerprint(SF, ["documents"])
    assert fp1 == fp2
    assert fp1 != T.corpus_fingerprint(SF, ["embeddings"])
    assert fp1 != T.corpus_fingerprint(SF, ["documents", "embeddings"])


def test_build_lock_excludes_and_reclaims_stale(tmp_path, monkeypatch):
    loc = str(tmp_path / "tbl")
    with T.build_lock(loc):
        assert os.path.exists(loc + "__lock")
        # a second builder times out loudly instead of racing
        monkeypatch.setattr(T, "BUILD_LOCK_WAIT_SEC", 0.5)
        with pytest.raises(TimeoutError):
            with T.build_lock(loc):
                pass
    assert not os.path.exists(loc + "__lock")
    # stale lock (crashed holder): reclaimed, not honored
    with open(loc + "__lock", "w") as f:
        f.write("999999")
    old = time.time() - T.BUILD_LOCK_STALE_SEC - 60
    os.utime(loc + "__lock", (old, old))
    with T.build_lock(loc):
        pass
    assert not os.path.exists(loc + "__lock")


def test_build_lock_reclaims_dead_pid_at_once(tmp_path, monkeypatch):
    """A fresh lock whose holder pid is dead is a crash leftover: the next
    builder takes it in well under a second instead of waiting out
    BUILD_LOCK_STALE_SEC. A fresh lock held by a live foreign pid is still
    honored."""
    import subprocess
    import sys

    # a lock whose holder left no checkable pid is broken by age alone, so a
    # waiter must outlast the stale window
    assert T.BUILD_LOCK_WAIT_SEC > T.BUILD_LOCK_STALE_SEC
    loc = str(tmp_path / "tbl")
    gone = subprocess.Popen([sys.executable, "-c", "pass"])
    gone.wait()
    with open(loc + "__lock", "w") as f:
        f.write(str(gone.pid))
    t0 = time.monotonic()
    with T.build_lock(loc):
        assert open(loc + "__lock").read() == str(os.getpid())
    assert time.monotonic() - t0 < 1.0
    assert not os.path.exists(loc + "__lock")

    live = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        with open(loc + "__lock", "w") as f:
            f.write(str(live.pid))
        monkeypatch.setattr(T, "BUILD_LOCK_WAIT_SEC", 0.5)
        with pytest.raises(TimeoutError):
            with T.build_lock(loc):
                pass
    finally:
        live.kill()
        live.wait()
    os.unlink(loc + "__lock")


def test_swap_detects_concurrent_install(spark, tmp_path, monkeypatch):
    """If another writer installs final_loc between swap_directory's two
    renames (build_lock bypassed), Hadoop's local rename into the occupied
    slot returns TRUE and NESTS the build inside the live table (verified
    empirically: rename(src, existing-dir) -> dst/src) -- the table would
    silently serve duplicated rows. The swap must fail loudly instead."""
    tmp = str(tmp_path / "final__build_app1")
    final = str(tmp_path / "final")
    os.makedirs(tmp)
    with open(os.path.join(tmp, "part-0.parquet"), "w") as f:
        f.write("x")

    real_fs_for = T._fs_for

    class RacingFS:
        """Delegates to the real FS, but installs a concurrent writer's
        build into final_loc immediately before OUR tmp->final rename --
        the exact interleaving window from the round-8 ADVICE."""

        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def rename(self, src, dst):
            if str(dst).rstrip("/").endswith("/final") and str(src).endswith(
                "__build_app1"
            ):
                os.makedirs(final, exist_ok=True)
                with open(os.path.join(final, "part-other.parquet"), "w") as f:
                    f.write("y")
            return self._fs.rename(src, dst)

    def fake_fs_for(spark_, path_uri):
        fs, p = real_fs_for(spark_, path_uri)
        return RacingFS(fs), p

    monkeypatch.setattr(T, "_fs_for", fake_fs_for)
    with pytest.raises(RuntimeError, match="reappeared|nested"):
        T.swap_directory(spark, tmp, final)
    # and the nested-duplicate state was never reported as success: either
    # the rename was refused (tmp intact) or the nesting was detected loudly
    nested = os.path.join(final, os.path.basename(tmp))
    assert os.path.exists(nested) or os.path.exists(
        os.path.join(tmp, "part-0.parquet")
    )
