"""Salted-join / salted-agg equivalence tests (skew mitigation)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from sentiment_analysis_data_pipeline_spark.operators.skew import salted_join


def _skewed(spark):
    # 1000 rows of hot key 'h', a few cold keys
    hot = spark.range(1000).select(F.lit("h").alias("k"), F.col("id").alias("v"))
    cold = spark.range(5).select(F.concat(F.lit("c"), F.col("id")).alias("k"), F.col("id").alias("v"))
    return hot.unionByName(cold)


def test_salted_join_matches_plain_join(spark):
    left = _skewed(spark)
    right = spark.createDataFrame(
        [("h", 1.0), ("c1", 2.0), ("c3", 3.0)], "k string, w double"
    )
    plain = left.join(right, "k", "inner").orderBy("k", "v")
    salted = salted_join(left, right, "k", n_salts=8).orderBy("k", "v")
    assert [r.asDict() for r in salted.collect()] == [r.asDict() for r in plain.collect()]


def test_salted_left_join(spark):
    left = _skewed(spark)
    right = spark.createDataFrame([("h", 1.0)], "k string, w double")
    plain = left.join(right, "k", "left").count()
    salted = salted_join(left, right, "k", n_salts=4, how="left").count()
    assert salted == plain


def test_key_gini_drives_salting_decision(spark):
    """Integration of the shape audit with the mitigation (round-8 verdict
    item 5, small twin of tools/skew_salt_probe.py): key_gini's block over
    a hot-keyed fact flags the skew, salted_join preserves the join result
    exactly, and the hot key's rows spread across partitions instead of
    concentrating in one."""
    from sentiment_analysis_data_pipeline_spark.functions import dialect as D
    from sentiment_analysis_data_pipeline_spark.queries import _gini_block

    hot = spark.range(200_000).select(F.lit("hot").alias("k"), F.col("id").alias("v"))
    cold = spark.range(50_000).select(
        F.concat(F.lit("c"), (F.col("id") % 500).cast("string")).alias("k"),
        F.col("id").alias("v"),
    )
    fact = hot.unionByName(cold).repartition(8)
    fact.createOrReplaceTempView("_skew_fact_t")
    dim = (
        spark.range(500)
        .select(F.concat(F.lit("c"), F.col("id").cast("string")).alias("k"))
        .union(spark.range(1).select(F.lit("hot").alias("k")))
        .withColumn("w", F.xxhash64("k").cast("double"))
    )

    g = spark.sql(_gini_block(D.SPARK, "f.k", "_skew_fact_t", "k")).collect()[0]
    assert g["max_rows"] == 200_000
    assert g["max_rows"] / g["p50_rows"] > 100  # the audit flags this key

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_coalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # at this fixture size AQE's advisory coalescing folds the whole join
    # output into ONE partition either way; disable it so the comparison
    # sees the shuffle partitioning salting actually changes
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        plain = fact.join(dim, "k", "inner")
        salted = salted_join(fact, dim, "k", n_salts=8)
        assert salted.count() == plain.count() == 250_000

        def max_part(df):
            return max(
                r["count"]
                for r in df.groupBy(F.spark_partition_id()).count().collect()
            )

        assert max_part(salted) < max_part(plain) / 2, (
            "salting must spread the hot key's rows"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", prev_coalesce
        )


def test_salted_join_clamps_salts_to_shuffle_partitions(spark):
    """More salts than shuffle partitions only replicate the right side
    further (salts past the partition count share partitions): the salt
    count is clamped, and the result stays the plain join's rows."""
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert parts < 64
    left = _skewed(spark)
    right = spark.createDataFrame(
        [("h", 1.0), ("c1", 2.0), ("c3", 3.0)], "k string, w double"
    )
    plain = left.join(right, "k", "inner").orderBy("k", "v")
    salted = salted_join(left, right, "k", n_salts=64)
    got = salted.orderBy("k", "v").collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in plain.collect()]
    plan = salted._jdf.queryExecution().analyzed().toString()
    replicas = re.findall(r"explode\(array\(([^)]*)\)\)", plan)
    assert replicas == [", ".join(str(i) for i in range(parts))]
