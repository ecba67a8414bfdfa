"""Round-12 optimization equivalence + regression pins.

Every change in the second optimization round must keep each declared
query's computed result identical; these tests pin the specific
equivalences and the measurement/infra fixes the round introduces.
"""

from __future__ import annotations

import os

import pytest

import sentiment_analysis_data_pipeline_spark.queries as Q
import sentiment_analysis_data_pipeline_spark.sources.tables as T
from sentiment_analysis_data_pipeline_spark.functions import dialect as D
from sentiment_analysis_data_pipeline_spark.sources.tables import scattered

SF_DIR = "/root/testdata/sf0.001"


def test_source_bytes_directory_layout(spark, tmp_path):
    """round-11 ADVICE: the scatter gate must size a DIRECTORY-layout
    parquet table by its data files, not the directory inode (~4 KB),
    and the gate must act on that sum."""
    loc = str(tmp_path / "dirtable.parquet")
    spark.range(1000).selectExpr("id", "repeat('x', 100) AS pad").write.parquet(loc)
    data_sum = sum(
        e.stat().st_size
        for e in os.scandir(loc)
        if not e.name.startswith(("_", "."))
    )
    assert data_sum > 0
    assert T._source_bytes(loc) == data_sum
    old = T.SCATTER_MAX_BYTES
    try:
        # data >= threshold: gate closes even though the dir inode is tiny
        T.SCATTER_MAX_BYTES = data_sum
        base = spark.read.parquet(loc)
        assert scattered(spark, base, src_path=loc) is base
        # data < threshold: gate stays open -> repartition applied
        T.SCATTER_MAX_BYTES = data_sum + 1
        got = scattered(spark, spark.read.parquet(loc), src_path=loc)
        assert "Exchange" in got._jdf.queryExecution().toString()
    finally:
        T.SCATTER_MAX_BYTES = old


def test_source_bytes_missing_path():
    assert T._source_bytes("/nonexistent/nowhere.parquet") == 0


def test_kcore_tail_core_nonempty_invariant(spark):
    """round-11 ADVICE: _kcore_tail_over's single `after` aggregate would
    yield NULL counts on an EMPTY core; pin the invariant that the core is
    nonempty whenever edges exist (k = ceil(mean degree) <= max degree),
    on the adversarial star graph where mean degree is far below max."""
    spark.sql(
        "SELECT * FROM VALUES (1,2),(1,3),(1,4),(1,5) AS e(id_a, id_b)"
    ).createOrReplaceTempView("t12_edges")
    spark.sql(
        """SELECT node, cast(count(*) as bigint) AS degree FROM (
               SELECT id_a AS node FROM t12_edges
               UNION ALL SELECT id_b AS node FROM t12_edges) u
           GROUP BY node"""
    ).createOrReplaceTempView("t12_deg")
    # k = ceil(2*4/5) = 2; only the hub (degree 4) survives
    spark.sql(
        "SELECT node FROM t12_deg WHERE degree >= 2"
    ).createOrReplaceTempView("t12_core")
    row = spark.sql(
        Q._kcore_tail_over(
            D.SPARK,
            "SELECT id_a, id_b FROM t12_edges",
            "SELECT node, degree FROM t12_deg",
            "SELECT node FROM t12_core",
        )
    ).collect()[0]
    assert row["n_core_nodes"] == 1
    assert row["n_surv_edges"] == 0  # hub-only core keeps no edge
    assert row["n_below_next"] == 1
    assert row["n_surv_edges"] is not None and row["n_below_next"] is not None


def test_read_parquet_memo_hits_and_invalidates(spark, tmp_path):
    """_read_parquet memoizes the resolved relation per (session, path,
    mtime): unchanged path -> same relation object (no footer/file-index
    re-resolution); a rewrite -> fresh relation with the new data. This is
    plan METADATA caching only -- execution still scans parquet."""
    import time

    p = str(tmp_path / "t.parquet")
    spark.range(7).write.parquet(p)
    d1 = Q._read_parquet(spark, p)
    assert d1.count() == 7
    assert Q._read_parquet(spark, p) is d1  # memo hit
    time.sleep(0.01)
    spark.range(3).write.mode("overwrite").parquet(p)
    d2 = Q._read_parquet(spark, p)
    assert d2 is not d1 and d2.count() == 3  # mtime invalidation
    # _view still re-registers on every call (synthetic-view override
    # semantics unchanged: a later _view call must stomp a synthetic view)
    spark.range(1).selectExpr("id AS doc_id", "'x' AS text").createOrReplaceTempView(
        "documents"
    )
    Q._view(spark, SF_DIR, "documents")
    assert spark.table("documents").count() > 1


def test_wminhash_collapsed_equals_original_on_dup_heavy_corpus(spark):
    """VERDICT r11 task 3: the cluster-collapsed Spark form must emit the
    EXACT row set of the single-statement form on a corpus with deep
    exact-duplicate clusters -- the case the collapse exists for (sf0.001
    has no deep clusters, so test_wminhash_pairs_unchanged_off_persisted_
    index alone would not exercise the within-group branch, the cross-group
    expansion, or the caps firing on cluster pairs)."""
    base = {
        "alpha": "alpha bravo charlie delta echo foxtrot golf hotel india "
                 "juliet kilo lima mike november oscar papa quebec romeo",
        "sierra": "sierra tango uniform victor whiskey xray yankee zulu "
                  "one two three four five six seven eight nine ten",
        "metal": "iron copper zinc nickel cobalt silver gold platinum "
                 "mercury lead tin tungsten titanium chromium manganese",
    }
    rows = []
    doc = 0
    for name, text in base.items():
        for i in range(8):  # exact-dup cluster of 8 (> WMH_PAIR_CAP=5)
            rows.append((doc, text))
            doc += 3  # interleave cluster ids so orientation paths differ
        # near-dup variant: one token swapped (cross-group candidate)
        rows.append((doc, text.rsplit(" ", 1)[0] + " variant"))
        doc += 1
    rows.append((9999, "completely unrelated vocabulary nothing shared"))
    spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView(
        "documents"
    )
    tf = Q._wmh_tf_sql(Q.D.SPARK)
    sigs = Q._wminhash_sigs_sql(Q.D.SPARK, tf)
    ref = {tuple(r) for r in spark.sql(Q._wminhash_core(Q.D.SPARK, tf, sigs)).collect()}
    got = {
        tuple(r)
        for r in spark.sql(Q._wminhash_core_collapsed(tf, sigs, scatter=4)).collect()
    }
    assert got == ref
    # the STAGED form q_wminhash_pairs actually runs (gmap/rcands
    # materialized as localCheckpoints) must agree too
    spark.sql(Q._wmh_gmap_sql(tf)).localCheckpoint().createOrReplaceTempView(
        "t12_wmh_gmap"
    )
    spark.sql(
        Q._wmh_rcands_sql(sigs, "SELECT doc, rep FROM t12_wmh_gmap", 4)
    ).localCheckpoint().createOrReplaceTempView("t12_wmh_rcands")
    staged = {
        tuple(r)
        for r in spark.sql(
            Q._wminhash_collapsed_tail_sql(
                tf,
                "SELECT doc, rep FROM t12_wmh_gmap",
                "SELECT ra, rb, m FROM t12_wmh_rcands",
            )
        ).collect()
    }
    assert staged == ref
    # the corpus exercised what it was built to exercise
    assert len(ref) > 30  # within-cluster pairs emitted
    assert any(r[2] == 1.0 for r in ref)  # exact-dup wjaccard literally 1.0
    assert any(r[3] > 0 for r in ref)  # pairs_suppressed_a fired (cluster 8 > cap 5)


def test_reproof_priority_heads_registry():
    """The optimization-touched queries must sit inside the driver's ~50-row
    oracle sample window (round-11 verdict item 7)."""
    order = list(Q.REGISTRY)
    for name in Q._REPROOF_PRIORITY:
        assert name in order and order.index(name) < 50, name
