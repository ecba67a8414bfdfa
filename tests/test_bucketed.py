"""Bucketed co-located joins: same key, same bucket count -> join plans with
NO Exchange on either side (the at-scale answer to recurring fact-fact
shuffles; see sources/tables.write_bucketed)."""

from __future__ import annotations

import re

from sentiment_analysis_data_pipeline_spark.sources.tables import write_bucketed
from sentiment_analysis_data_pipeline_spark.sources.tables import drop_table_with_files as _drop_with_files

SF = "/root/testdata/sf0.001"


def test_bucketed_join_is_shuffle_free(spark):
    write_bucketed(spark.read.parquet(f"{SF}/lineitem.parquet"), "bkt_lineitem", "l_orderkey", 8)
    write_bucketed(spark.read.parquet(f"{SF}/orders.parquet"), "bkt_orders", "o_orderkey", 8)
    try:
        # MERGE hint: at sf0.001 the orders side is broadcast-sized, which
        # would ALSO be shuffle-free but wouldn't exercise bucketing; at real
        # fact-fact scale SMJ is what the planner picks unhinted.
        joined = spark.sql(
            """SELECT /*+ MERGE(l) */ l.l_orderkey, o.o_orderkey, l.l_extendedprice
               FROM bkt_lineitem l JOIN bkt_orders o
                 ON l.l_orderkey = o.o_orderkey"""
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        assert not re.search(r"Exchange (hash|range)partitioning|Exchange SinglePartition", plan), (
            f"bucketed join still shuffles:\n{plan}"
        )

        li, od = spark.read.parquet(f"{SF}/lineitem.parquet"), spark.read.parquet(f"{SF}/orders.parquet")
        n_plain = li.join(od, li["l_orderkey"] == od["o_orderkey"]).count()
        assert joined.count() == n_plain
    finally:
        _drop_with_files(spark, "bkt_lineitem")
        _drop_with_files(spark, "bkt_orders")


def test_bucketed_band_key_candidate_join_is_shuffle_free(spark):
    """The dedup-at-scale staging SCALE.md describes: write the LSH
    signature relation ONCE, bucketed by band_key; candidate generation is
    then a zero-Exchange sort-merge self-join over bucket files."""
    from sentiment_analysis_data_pipeline_spark.operators.dedup import minhash_band_keys

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    write_bucketed(minhash_band_keys(docs, "text", "doc_id"), "bkt_bands", "band_key", 8)
    try:
        joined = spark.sql(
            """SELECT /*+ MERGE(a) */ a.doc AS id_a, b.doc AS id_b
               FROM bkt_bands a JOIN bkt_bands b ON a.band_key = b.band_key
               WHERE a.doc < b.doc"""
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        assert not re.search(r"Exchange (hash|range)partitioning|Exchange SinglePartition", plan), (
            f"bucketed candidate join still shuffles:\n{plan}"
        )
        # same candidate set as the in-memory self-join
        banded = minhash_band_keys(docs, "text", "doc_id")
        n_mem = (
            banded.alias("a")
            .join(banded.alias("b"), "band_key")
            .where("a.doc < b.doc")
            .count()
        )
        assert joined.count() == n_mem > 0
    finally:
        _drop_with_files(spark, "bkt_bands")


def test_compact_bucketed_index(spark, tmp_path):
    """Round 7: after K streaming appends a bucketed band index holds ~K
    files per bucket; compact_bucketed must collapse it to one sorted file
    per bucket while (a) preserving the exact row set, (b) keeping the
    probe join Exchange-free over the renamed table."""
    import uuid

    import pyspark.sql.functions as F

    from sentiment_analysis_data_pipeline_spark.operators.dedup import minhash_band_keys
    from sentiment_analysis_data_pipeline_spark.operators.dedup_index import (
        new_batch_candidates,
    )
    from sentiment_analysis_data_pipeline_spark.sources.tables import (
        compact_bucketed,
        data_file_count,
        write_bucketed,
    )

    table = f"compact_idx_{uuid.uuid4().hex[:8]}"
    n_buckets = 4
    base = "one two three four five six seven eight nine ten eleven twelve "

    def docs(lo, hi):
        return spark.createDataFrame(
            [(i, base + f"doc {i}") for i in range(lo, hi)], "doc_id long, text string"
        )

    try:
        write_bucketed(
            minhash_band_keys(docs(0, 20), "text", "doc_id"), table, "band_key", n_buckets
        )
        # three appends -> multiple files per bucket
        for lo in (20, 40, 60):
            (
                minhash_band_keys(docs(lo, lo + 20), "text", "doc_id")
                .write.mode("append")
                .bucketBy(n_buckets, "band_key")
                .sortBy("band_key")
                .format("parquet")
                .saveAsTable(table)
            )
        before_rows = {tuple(r) for r in spark.table(table).collect()}
        assert data_file_count(spark, table) > n_buckets

        stats = compact_bucketed(spark, table, "band_key", n_buckets)
        assert stats["files_after"] <= n_buckets
        assert stats["files_after"] < stats["files_before"]
        assert {tuple(r) for r in spark.table(table).collect()} == before_rows

        # the renamed table still serves the zero-Exchange probe: the
        # corpus side of the candidate join must scan buckets in place
        probe = new_batch_candidates(spark, docs(1000, 1005), table=table)
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        # only the batch side may shuffle/broadcast: batch-side hash +
        # pair-distinct. A third Exchange would mean the corpus scan lost
        # its bucket metadata in the swap.
        import re

        n_exchange = len(re.findall(r"\bExchange\b", plan))
        assert n_exchange <= 2, plan
        probe.collect()
    finally:
        for t in [r.name for r in spark.catalog.listTables()]:
            if t.startswith(table):
                _drop_with_files(spark, t)


def test_atomic_swap_rebuild_keeps_location_and_bucketing(spark):
    """write_bucketed_atomic (round 8): rebuilds swap via tmp-write/RENAME --
    the final location stays deterministic (cross-session readers key off
    the directory, not this session's catalog), no __build_/__old_
    stragglers survive, and the swapped-in table still serves zero-Exchange
    bucketed self-joins."""
    import glob
    import os
    import re

    from sentiment_analysis_data_pipeline_spark.sources.tables import (
        table_location,
        write_bucketed_atomic,
    )

    table = "t_atomic_swap"
    try:
        write_bucketed_atomic(
            spark.range(100).selectExpr("id AS k", "id * 2 AS v"), table, "k", 4
        )
        loc1 = table_location(spark, table)
        assert spark.table(table).count() == 100
        write_bucketed_atomic(
            spark.range(50).selectExpr("id AS k", "id * 3 AS v"), table, "k", 4
        )
        assert table_location(spark, table) == loc1  # deterministic location
        rows = spark.table(table).collect()
        assert len(rows) == 50
        assert {(r["k"], r["v"]) for r in rows} == {(i, i * 3) for i in range(50)}
        # no tmp/trash directories left behind
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        strays = glob.glob(os.path.join(repo_root, "spark-warehouse", f"{table}__*"))
        assert not strays, strays
        # bucket metadata survived the swap: self-join with no Exchange
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table(table).join(
                spark.table(table).selectExpr("k", "v AS v2"), "k"
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in plan
            assert not re.search(r"Exchange (hash|range)partitioning", plan), plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        _drop_with_files(spark, table)
