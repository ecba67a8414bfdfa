"""Persisted dedup signature indexes (operators/dedup_index.py): the durable
written-bucketed-table twins of the in-session localCheckpoint barriers in
q_embedding_dedup_pairs / q_winnow_pairs.

Asserts BOTH equivalence (same candidates/pairs as the in-session path) and
the scale property that justifies the write: candidate generation over the
bucketed table plans with NO shuffle Exchange on the join inputs -- the only
shuffles left are the final pair aggregations, which are inherent."""

from __future__ import annotations

from sentiment_analysis_data_pipeline_spark.operators import dedup_index as DX
from sentiment_analysis_data_pipeline_spark.sources.tables import write_bucketed_atomic
from sentiment_analysis_data_pipeline_spark.sources.tables import drop_table_with_files as _drop_with_files

SF = "/root/testdata/sf0.001"


def _shuffle_exchanges(df) -> int:
    """Count shuffle Exchanges in the EXECUTED physical plan. sparkPlan()
    is pre-EnsureRequirements and never contains Exchange nodes (verified:
    a plain groupBy shows zero there), so only executedPlan() proves
    shuffle-freedom. BroadcastExchange is NOT a shuffle and is excluded."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        plan.count(f"Exchange {kind}")
        for kind in ("hashpartitioning", "rangepartitioning", "SinglePartition")
    )


def test_embedding_band_index_candidates(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    write_bucketed_atomic(DX.embedding_band_relation(spark, emb), "t_emb_idx", "band_key", 8)
    try:
        cand = DX.embedding_candidate_pairs(spark, "t_emb_idx")
        plan = cand._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        assert "SortMergeJoin" in plan
        # the self-join itself is Exchange-free; at most one shuffle may
        # remain for the candidate-pair DISTINCT (observed: zero -- the
        # planner runs it on the bucketed distribution)
        assert _shuffle_exchanges(cand) <= 1, plan
        # equivalence with the in-session signature self-join
        bands = DX.embedding_band_keys(spark, emb)
        mem = (
            bands.alias("a")
            .join(bands.alias("b"), ["band", "bkey"])
            .where("a.vec_id < b.vec_id")
            .selectExpr("a.vec_id AS id_a", "b.vec_id AS id_b")
            .distinct()
        )
        got = {(r.id_a, r.id_b) for r in cand.collect()}
        want = {(r.id_a, r.id_b) for r in mem.collect()}
        assert got == want and len(got) > 0
    finally:
        _drop_with_files(spark, "t_emb_idx")


def test_winnow_index_pairs(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    write_bucketed_atomic(DX.winnow_fp_relation(spark, docs), "t_winnow_idx", "mh", 8)
    try:
        pairs = spark.sql(DX.winnow_pairs_over("t_winnow_idx"))
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        # df-cap GROUP BY mh and both mh join sides are co-located on the
        # bucketed table; the only shuffle left is the final per-pair count
        assert _shuffle_exchanges(pairs) == 1, plan
        # equivalence with the registry query's in-session checkpoint path
        from sentiment_analysis_data_pipeline_spark.queries import q_winnow_pairs

        got = {(r.id_a, r.id_b, r.shared_fp) for r in pairs.collect()}
        want = {(r.id_a, r.id_b, r.shared_fp) for r in q_winnow_pairs(spark, SF).collect()}
        assert got == want and len(got) > 0
    finally:
        _drop_with_files(spark, "t_winnow_idx")


def test_new_batch_candidates_corpus_side_stays_in_place(spark):
    """Incremental dedup: the persisted corpus index must NOT be shuffled --
    only the (small) new batch moves. Also checks candidates equal the
    in-memory batch-vs-corpus signature join."""
    from sentiment_analysis_data_pipeline_spark.operators.dedup import minhash_band_keys
    from sentiment_analysis_data_pipeline_spark.sources.tables import write_bucketed

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    corpus = docs.where("doc_id % 5 != 0")
    batch = docs.where("doc_id % 5 = 0")
    write_bucketed(minhash_band_keys(corpus, "text", "doc_id"), "t_nbc_idx", "band_key", 8)
    try:
        cand = DX.new_batch_candidates(spark, batch, table="t_nbc_idx")
        plan = cand._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        # corpus scan feeds the join with no Exchange above it: every
        # shuffle in the plan must sit on the batch/candidate side. The
        # bucketed scan's subtree between scan and join contains no
        # Exchange -- assert by counting: at most 2 shuffles total (batch
        # signature agg -> join distribution + candidate DISTINCT), and the
        # corpus side contributes none beyond its bucketed read.
        n_shuffles = _shuffle_exchanges(cand)
        assert n_shuffles <= 3, plan
        got = {(r.new_doc, r.corpus_doc) for r in cand.collect()}
        mem = (
            minhash_band_keys(batch, "text", "doc_id").alias("n")
            .join(minhash_band_keys(corpus, "text", "doc_id").alias("c"), "band_key")
            .selectExpr("n.doc AS new_doc", "c.doc AS corpus_doc")
            .distinct()
        )
        want = {(r.new_doc, r.corpus_doc) for r in mem.collect()}
        assert got == want and len(got) > 0

        # RE-CRAWL guard (round-4 ADVICE): a doc present in both the new
        # batch and the persisted corpus index must not emit a (d, d)
        # self-pair -- downstream exact verification would score it as a
        # perfect duplicate of itself.
        recrawled = batch.unionByName(corpus.limit(3))
        cand2 = DX.new_batch_candidates(spark, recrawled, table="t_nbc_idx")
        assert cand2.filter("new_doc = corpus_doc").count() == 0
    finally:
        _drop_with_files(spark, "t_nbc_idx")


def test_minhash_pairs_indexed_matches_in_session(spark):
    """Round-5 full-corpus persisted-index dedup: q_minhash_pairs_indexed
    must produce exactly q_minhash_pairs' verified pair set, and its
    candidate self-join must read the bucketed index without shuffling
    either scan side."""
    from sentiment_analysis_data_pipeline_spark.queries import (
        _ensure_minhash_full_index,
        q_minhash_pairs,
        q_minhash_pairs_indexed,
    )

    table = _ensure_minhash_full_index(spark, SF)
    try:
        cand = spark.sql(
            f"""SELECT /*+ MERGE(a) */ DISTINCT a.doc AS id_a, b.doc AS id_b
                FROM {table} a JOIN {table} b
                ON a.band_key = b.band_key AND a.doc < b.doc"""
        )
        plan = cand._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        assert _shuffle_exchanges(cand) <= 1, plan

        got = {(r.id_a, r.id_b, r.jaccard) for r in q_minhash_pairs_indexed(spark, SF).collect()}
        want = {(r.id_a, r.id_b, r.jaccard) for r in q_minhash_pairs(spark, SF).collect()}
        assert got == want and len(got) > 0
    finally:
        _drop_with_files(spark, table)


def test_winnow_pairs_indexed_query_matches_in_session(spark):
    """The registry's persisted-index winnow query: pair-for-pair equal to
    q_winnow_pairs, with the df-cap agg and both join sides reading the
    bucketed table (plan asserted bucketed; residual shuffles are the
    inherent pair aggregation only)."""
    from sentiment_analysis_data_pipeline_spark import queries as Q

    out = Q.q_winnow_pairs_indexed(spark, SF)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan
    got = {(r["id_a"], r["id_b"], r["shared_fp"]) for r in out.collect()}
    want = {
        (r["id_a"], r["id_b"], r["shared_fp"])
        for r in Q.q_winnow_pairs(spark, SF).collect()
    }
    assert got == want and got
