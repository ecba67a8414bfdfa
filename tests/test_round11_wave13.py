"""Round-11 wave-13 behavioral pins: the oracle gate proves cross-engine
value equality at sf0.01; these tests prove each operator computes the
QUANTITY it claims, on fixtures where the right answer is known in closed
form."""

from __future__ import annotations

import math

from sentiment_analysis_data_pipeline_spark import queries as Q
from sentiment_analysis_data_pipeline_spark.functions import dialect as D


def _docs_view(spark, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).createOrReplaceTempView("documents")


def _events_view(spark, rows):
    """events with ts already in the epoch-NANOS bigint encoding the Spark
    dialect consumes (_ts_us = ts div 1000)."""
    spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string, value double",
    ).createOrReplaceTempView("events")


# ------------------------------------------------------------- heaps_law


def test_heaps_law_linear_growth_fits_beta_one(spark):
    """Every doc contributes 5 brand-new tokens -> V(n) = n, beta = 1."""
    rows = [
        (i, " ".join(f"tok{i}x{j}" for j in range(5)), "en", "s", 1)
        for i in range(40)
    ]
    _docs_view(spark, rows)
    r = spark.sql(Q._heaps_law_sql(Q.D.SPARK)).collect()[0]
    assert r["n_points"] >= 10
    assert abs(r["beta"] - 1.0) < 0.02


def test_heaps_law_saturated_vocab_fits_beta_zero(spark):
    """Every doc repeats the SAME 5 tokens -> V(n) constant, beta ~ 0."""
    rows = [(i, "alpha bravo charlie delta echo", "en", "s", 1) for i in range(40)]
    _docs_view(spark, rows)
    r = spark.sql(Q._heaps_law_sql(Q.D.SPARK)).collect()[0]
    assert abs(r["beta"]) < 0.02


def test_heaps_law_degenerate_empty_corpus(spark):
    _docs_view(spark, [(0, "", "en", "s", 0), (1, None, "en", "s", 0)])
    r = spark.sql(Q._heaps_law_sql(Q.D.SPARK)).collect()
    assert len(r) == 1 and r[0]["n_points"] == 0 and r[0]["beta"] == 0.0


# ----------------------------------------------------- l_diversity_events


def test_l_diversity_flags_homogeneous_classes(spark):
    """Class A: 10 rows all ONE user (k-anonymous at k=10, l-diversity 1).
    Class B: 10 rows over 10 users. At l=2 exactly class A's rows flag."""
    hour = 3_600_000_000_000  # ns
    rows = [(i, (i % 24) * 0, 7, "A", 0.0) for i in range(10)]  # one user, hour 0
    rows += [(100 + u, 0, u, "B", 0.0) for u in range(10)]
    _events_view(spark, rows)
    out = {r["l"]: r for r in spark.sql(Q._l_diversity_events_sql(Q.D.SPARK)).collect()}
    assert out[2]["l_diversity"] == 1
    assert out[2]["rows_below_l"] == 10
    assert out[2]["share_below_l"] == 0.5
    # at l = 10 neither class clears B's bound... B has ndiv=10, A ndiv=1:
    # rows below 10 are still only A's (B's ndiv == 10 is NOT < 10)
    assert out[10]["rows_below_l"] == 10
    assert hour  # keep the constant visible for fixture edits


# ------------------------------------------------ disparate_impact_filter


def test_disparate_impact_flags_gutted_source(spark):
    """Source 'good': 25 long English docs (kept). Source 'bad': 25 docs of
    3 words (dropped by too_short). Impact ratio 0 for 'bad', flagged."""
    good_text = (
        "the quick brown fox jumps over the lazy dog and then the dog "
        "jumps over the fox again with more and more words to pass the "
        "length and stopword gates easily in the filter"
    )
    rows = [(i, good_text, "en", "good", 1) for i in range(25)]
    rows += [(100 + i, "too short doc", "en", "bad", 1) for i in range(25)]
    _docs_view(spark, rows)
    out = {r["source"]: r for r in spark.sql(Q._disparate_impact_sql(Q.D.SPARK)).collect()}
    assert out["good"]["keep_rate"] == 1.0
    assert out["good"]["impact_ratio"] == 1.0 and not out["good"]["fails_80pct"]
    assert out["bad"]["keep_rate"] == 0.0
    assert out["bad"]["impact_ratio"] == 0.0 and out["bad"]["fails_80pct"]


def test_disparate_impact_small_group_does_not_set_reference(spark):
    """A 2-doc perfectly-kept source is below _DI_MIN_GROUP: the reference
    rate comes from the qualifying source, so the big source's ratio is 1."""
    good_text = (
        "the quick brown fox jumps over the lazy dog and then the dog "
        "jumps over the fox again with more and more words to pass the "
        "length and stopword gates easily in the filter"
    )
    mediocre = [good_text, "too short doc"]
    rows = [(i, mediocre[i % 2], "en", "big", 1) for i in range(30)]
    rows += [(100 + i, good_text, "en", "tiny", 1) for i in range(2)]
    _docs_view(spark, rows)
    out = {r["source"]: r for r in spark.sql(Q._disparate_impact_sql(Q.D.SPARK)).collect()}
    assert out["big"]["impact_ratio"] == 1.0  # tiny (rate 1.0) didn't set the bar
    assert out["tiny"]["impact_ratio"] == 2.0  # reported against big's 0.5


# ------------------------------------------------------- markov_entropy


def test_markov_entropy_deterministic_chain_is_zero_bits(spark):
    """A -> B -> A -> B ... per user: every state has ONE successor."""
    rows = []
    for u in range(3):
        for i in range(20):
            rows.append((u * 100 + i, i * 1_000_000_000, u, "AB"[i % 2], 0.0))
    _events_view(spark, rows)
    out = spark.sql(Q._markov_entropy_sql(Q.D.SPARK)).collect()
    assert {r["state"] for r in out} == {"A", "B"}
    for r in out:
        assert r["cond_entropy_bits"] == 0.0
        assert r["entropy_rate_bits"] == 0.0


def test_markov_entropy_fair_coin_is_one_bit(spark):
    """From state A the next event is B or C with equal counts -> H = 1 bit
    (quantization floor makes it 1 - O(2^-20))."""
    rows = []
    eid = 0
    for u in range(4):
        seq = ["A", "B", "A", "C"] * 8  # A->B and A->C equally; B->A, C->A sure
        for i, s in enumerate(seq):
            rows.append((eid, i * 1_000_000_000, u, s, 0.0))
            eid += 1
    _events_view(spark, rows)
    out = {r["state"]: r for r in spark.sql(Q._markov_entropy_sql(Q.D.SPARK)).collect()}
    assert abs(out["A"]["cond_entropy_bits"] - 1.0) < 1e-4
    assert out["B"]["cond_entropy_bits"] == 0.0
    assert out["C"]["cond_entropy_bits"] == 0.0


# -------------------------------------------------------- kn_bigram_nll


def test_kn_bigram_continuation_beats_raw_frequency(spark):
    """The Kneser-Ney signature: 'sfo francisco' is FREQUENT in training but
    always after the same context, while 'the' follows many contexts. For a
    held-out novel-context bigram '<x> w', P_cont must score w='the' higher
    than w='francisco' even though francisco's raw unigram count is larger.
    Doc ids chosen so id%5==0 is the eval doc."""
    train_text = " ".join(["sfo francisco"] * 30 + ["a the b the c the d the"])
    rows = [
        (1, train_text, "en", "s", 1),
        (2, train_text, "en", "s", 1),
        (0, "zzz francisco zzz the", "en", "s", 1),  # eval: novel context zzz
    ]
    _docs_view(spark, rows)
    toks = Q.TX.tokenize(Q.D.SPARK, Q.TEXT)
    out = spark.sql(Q.REGISTRY["kn_bigram_nll"][1](Q.D.SPARK)).collect()
    assert len(out) == 1 and out[0]["doc_id"] == 0
    # both eval bigrams backed off (context 'zzz' unseen); the doc-level nll
    # mixes them, so pin the mechanism directly on the continuation counts:
    cont = {
        r["w"]: r["n1p_w"]
        for r in spark.sql(
            f"""WITH tokd AS (SELECT doc_id, {toks} AS toks FROM documents),
            train AS (SELECT toks FROM tokd WHERE doc_id % 5 <> 0),
            tbg AS (SELECT bg, count(*) AS c FROM (
                SELECT explode({Q.TX.ngrams(Q.D.SPARK, 'toks', 2)}) AS bg
                FROM train) u GROUP BY bg)
            SELECT element_at(split(bg, '_'), 2) AS w, count(*) AS n1p_w
            FROM tbg GROUP BY element_at(split(bg, '_'), 2)"""
        ).collect()
    }
    assert cont["the"] > cont["francisco"]
    assert out[0]["backoff_rate"] == 1.0


def test_kn_bigram_empty_train_split_survives(spark):
    """Eval doc with bigrams, train doc with no tokens: the greatest(...,1)
    guard keeps P finite instead of ANSI-throwing on an Inf cast."""
    rows = [(0, "alpha beta gamma", "en", "s", 1), (1, "", "en", "s", 0)]
    _docs_view(spark, rows)
    out = spark.sql(Q.REGISTRY["kn_bigram_nll"][1](Q.D.SPARK)).collect()
    assert len(out) == 1 and out[0]["n_bigrams"] == 2
    assert math.isfinite(out[0]["kn_nll"])


# ------------------------------------------------------ source_vocab_jsd


def test_source_vocab_jsd_single_source_is_zero(spark):
    rows = [(i, "alpha bravo charlie delta", "en", "only", 1) for i in range(10)]
    _docs_view(spark, rows)
    out = spark.sql(Q._source_vocab_jsd_sql(Q.D.SPARK)).collect()
    assert len(out) == 1
    assert out[0]["jsd_bits"] == 0.0  # log2(1) quantizes to exactly 0


def test_source_vocab_jsd_disjoint_sources_value(spark):
    """Two equal-mass sources with DISJOINT vocabularies: against the 50/50
    mixture m, JSD(p, m) = 1 - 0.5*log2(3) + ... -- compute the closed form:
    p-side: log2(4/3); m-side: 0.5*log2(2/3) + 0.5*1. Total
    0.5*log2(4/3) + 0.5*(0.5*log2(2/3) + 0.5) ~ 0.3113."""
    rows = [(i, "alpha bravo charlie delta", "en", "s1", 1) for i in range(10)]
    rows += [(100 + i, "echo foxtrot golf hotel", "en", "s2", 1) for i in range(10)]
    _docs_view(spark, rows)
    out = {r["source"]: r["jsd_bits"] for r in spark.sql(Q._source_vocab_jsd_sql(Q.D.SPARK)).collect()}
    expect = 0.5 * math.log2(4 / 3) + 0.5 * (0.5 * math.log2(2 / 3) + 0.5)
    assert abs(out["s1"] - expect) < 1e-4
    assert abs(out["s2"] - expect) < 1e-4
    assert abs(out["s1"] - out["s2"]) < 1e-9  # symmetric by construction


def test_wave13_oracle_parity_sf0001(spark):
    """Cross-engine gate at sf0.001 for all six wave-13 queries -- the same
    compare the driver runs at sf0.01 (row count + sorted-row equality),
    run in-tree so a dialect slip fails HERE first."""
    import duckdb

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in ("documents", "events", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    qs = Q.spark_queries()
    oracles = Q.oracle_sqls()
    for name in (
        "heaps_law",
        "l_diversity_events",
        "disparate_impact_filter",
        "markov_entropy",
        "kn_bigram_nll",
        "source_vocab_jsd",
        "dbscan_labels",
        "kfold_assignment",
        "hill_tail_index",
        "ipw_ate",
        "vocab_composition",
    ):
        got = qs[name](spark, sf)
        cols = got.columns
        grows = [tuple(r) for r in got.collect()]
        orows = con.execute(oracles[name]).fetchall()
        assert len(grows) == len(orows), f"{name}: {len(grows)} vs {len(orows)}"
        key = lambda t: tuple((x is None, x) for x in t)
        for a, b in zip(sorted(grows, key=key), sorted(orows, key=key)):
            for c, (x, y) in zip(cols, zip(a, b)):
                if isinstance(x, float) and isinstance(y, float):
                    assert x == y or abs(x - y) < 1e-12, (name, c, x, y)
                else:
                    assert x == y, (name, c, x, y)
