"""Semantic tests for the round-2 training-data curation operators:
decontamination, PII redaction, repetition metrics, batch kNN. The
oracle-parity side is covered by tools/selfcheck.py; these pin the
*meaning* on hand-built rows."""

from __future__ import annotations

from pyspark.sql import functions as F

from sentiment_analysis_data_pipeline_spark import queries as Q


def _docs_view(spark, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).createOrReplaceTempView("documents")


def test_decontaminate_flags_overlap(spark):
    # doc 0 is eval (0 % 20 == 0); doc 1 copies a 5-gram from it; doc 2 shares
    # nothing. Only doc 1 should be flagged, with exactly 1 distinct hit.
    _docs_view(
        spark,
        [
            (0, "alpha beta gamma delta epsilon zeta", "en", "s", 1),
            (1, "intro alpha beta gamma delta epsilon outro words here", "en", "s", 1),
            (2, "totally different content with no shared spans at all", "en", "s", 1),
        ],
    )
    out = {r["doc_id"]: r["eval_ngram_hits"] for r in spark.sql(Q._decontaminate_sql(Q.D.SPARK)).collect()}
    assert out == {1: 1}  # exactly the copied 'alpha..epsilon' 5-gram


def test_pii_redact_counts_and_scrub(spark):
    _docs_view(spark, [(7, "hello world", "en", "s", 1)])
    row = spark.sql(Q._pii_redact_sql(Q.D.SPARK)).collect()[0]
    assert row["n_emails"] == 1 and row["n_phones"] == 1 and row["n_ips"] == 1
    red = row["redacted"]
    assert "[EMAIL]" in red and "[PHONE]" in red and "[IP]" in red
    assert "@" not in red and "10.0." not in red


def test_repetition_metrics_values(spark):
    # 'spam spam spam ham': 4 tokens, 2 distinct, top fraction 3/4,
    # mean token length (3*4 + 3)/4 chars; empty doc -> zeros.
    _docs_view(spark, [(1, "spam spam spam ham", "en", "s", 1), (2, "", "en", "s", 0)])
    out = {r["doc_id"]: r for r in spark.sql(Q._repetition_sql(Q.D.SPARK)).collect()}
    r1 = out[1]
    assert r1["n_tokens"] == 4 and r1["n_distinct"] == 2
    assert r1["distinct_ratio"] == 0.5 and r1["top_token_frac"] == 0.75
    assert r1["mean_token_len"] == (4 * 3 + 3) / 4
    r2 = out[2]
    assert r2["n_tokens"] == 0 and r2["distinct_ratio"] == 0.0


def test_knn_batch_ranks_and_self_exclusion(spark, sf_dir):
    out = Q.REGISTRY["knn_batch"][0](spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in out:
        assert r["vec_id"] != r["qid"]
        by_q.setdefault(r["qid"], []).append(r)
    for qid, rows in by_q.items():
        assert sorted(r["rk"] for r in rows) == [1, 2, 3, 4, 5]
        ranked = sorted(rows, key=lambda r: r["rk"])
        cos = [r["cosine"] for r in ranked]
        assert cos == sorted(cos, reverse=True)


def test_knn_batch_matches_single_query_topk(spark, sf_dir):
    """Batch result for qid=0 must agree with the single-query brute-force
    operator (same metric, same tie-break)."""
    from sentiment_analysis_data_pipeline_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    single = similarity.brute_force_topk(emb, query_vec_id=0, k=5).collect()
    batch = [r for r in Q.REGISTRY["knn_batch"][0](spark, sf_dir).collect() if r["qid"] == 0]
    batch = sorted(batch, key=lambda r: r["rk"])
    assert [r["vec_id"] for r in batch] == [r["vec_id"] for r in single]


def test_curation_pipeline_gates(spark):
    """One doc per curation gate: the kept set must be exactly the clean
    English doc, with every dropped doc removed by a *different* rule."""
    _docs_view(
        spark,
        [
            # eval-split member (20 % 20 == 0): contributes shingles, never kept
            (20, "alpha beta gamma delta epsilon zeta eta theta", "en", "s", 1),
            # clean English doc -> KEPT
            (1, "the cat sat on the mat and the dog is happy today", "en", "s", 1),
            # quotes a 5-gram from the eval doc -> decontaminated
            (2, "the story quotes alpha beta gamma delta epsilon and the end is here", "en", "s", 1),
            # same distinct-token set as doc 1 -> fingerprint-deduped (1 wins)
            (3, "today the dog is happy and the cat sat on the mat", "en", "s", 1),
            # 7/12 tokens are 'the' -> top_token_frac gate
            (4, "the the the the the the the spam and is to of", "en", "s", 1),
            # French markers dominate -> language gate
            (5, "le chat est dans la maison pour les amis des gens", "fr", "s", 1),
        ],
    )
    rows = spark.sql(Q.REGISTRY["curation_pipeline"][1](Q.D.SPARK)).collect()
    assert [r["doc_id"] for r in rows] == [1]
    r = rows[0]
    assert r["n_tokens"] == 12 and r["distinct_ratio"] == 10 / 12
    assert r["top_token_frac"] == 3 / 12 and r["q"] >= 0.5


def test_url_normalize_canonicalization(spark):
    """Pin the exact canonical forms: case, default ports, www, utm,
    fragments, and trailing slashes all collapse; path case survives."""
    # doc_id 0: HTTPS:// + WWW. + :443 + trailing slash + #fragment
    # doc_id 1: https:// + utm params (+ surviving ref=1)
    # doc_id 2: http:// + WWW. (2%2=0) ... doc 2: scheme http, www, no port
    _docs_view(
        spark,
        [(0, "x", "en", "SrcA", 1), (1, "x", "en", "SrcA", 1), (2, "x", "en", "srcb", 1)],
    )
    rows = spark.sql(Q._url_normalize_sql(Q.D.SPARK)).collect()
    by_host = {r["host"]: r for r in rows}
    assert set(by_host) == {"srca.example.com", "srcb.example.com"}
    a = by_host["srca.example.com"]
    assert a["n_docs"] == 2 and a["n_urls"] == 2
    # doc 0: scheme+host lowercased, :443/www/fragment/trailing-slash gone,
    # path case preserved
    assert a["sample_url"] in (
        "https://srca.example.com/Articles/0",
        "https://srca.example.com/Articles/1?ref=1",
    )
    assert min(
        "https://srca.example.com/Articles/0",
        "https://srca.example.com/Articles/1?ref=1",
    ) == a["sample_url"]
    b = by_host["srcb.example.com"]
    assert b["sample_url"] == "http://srcb.example.com/Articles/2"


def test_unigram_surprisal_ranks_rarity(spark):
    """A doc of corpus-frequent tokens must score lower mean surprisal than
    a doc of corpus-rare tokens; scores are non-negative."""
    _docs_view(
        spark,
        [
            (1, "common common common common common common", "en", "s", 1),
            (2, "common common common common common common", "en", "s", 1),
            (3, "rare1 rare2 rare3 rare4 rare5 rare6", "en", "s", 1),
        ],
    )
    out = {r["doc_id"]: r for r in spark.sql(Q._unigram_surprisal_sql(Q.D.SPARK)).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["n_tokens"] == 6
    assert out[1]["mean_surprisal"] == out[2]["mean_surprisal"]
    assert 0.0 <= out[1]["mean_surprisal"] < out[3]["mean_surprisal"]


def test_tfidf_topk_prefers_distinctive_tokens(spark):
    """A token shared by every doc has idf ln(1)=0; each doc's top term must
    be its unique token, and ranks stay within the top-k."""
    _docs_view(
        spark,
        [
            (1, "shared shared apple apple", "en", "s", 1),
            (2, "shared shared banana banana", "en", "s", 1),
            (3, "shared shared cherry cherry", "en", "s", 1),
        ],
    )
    rows = spark.sql(Q._tfidf_topk_sql(Q.D.SPARK)).collect()
    assert all(1 <= r["rk"] <= Q.TFIDF_K for r in rows)
    top = {r["doc_id"]: r["token"] for r in rows if r["rk"] == 1}
    assert top == {1: "apple", 2: "banana", 3: "cherry"}
    shared = {r["doc_id"]: r["tfidf"] for r in rows if r["token"] == "shared"}
    assert all(v == 0.0 for v in shared.values())
