"""Round-11 wave-15 behavioral pins (the oracle gate proves cross-engine
equality; these prove each operator computes the claimed quantity on
closed-form fixtures)."""

from __future__ import annotations

import datetime

from sentiment_analysis_data_pipeline_spark import queries as Q


def _docs_view(spark, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).createOrReplaceTempView("documents")


def _events_view(spark, rows):
    spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string, value double",
    ).createOrReplaceTempView("events")


def _orders_view(spark, rows):
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).createOrReplaceTempView("orders")


# --------------------------------------------------------- chao1_richness


def test_chao1_closed_form(spark):
    """src1 'a a b c': V=3 N=4 f1=2 f2=1 -> chao1 = 3 + 2*1/(2*2) = 3.5,
    coverage = 1 - 2/4 = 0.5. Corpus (adds src2 'a d'): a:3 b:1 c:1 d:1 ->
    V=4 N=6 f1=3 f2=0 -> chao1 = 4 + 3*2/2 = 7.0, coverage = 0.5."""
    _docs_view(
        spark,
        [(1, "a a b c", "en", "src1", 7), (2, "a d", "en", "src2", 3)],
    )
    out = {r["source"]: r for r in spark.sql(Q._chao1_richness_sql(Q.D.SPARK)).collect()}
    s1 = out["src1"]
    assert (s1["v_types"], s1["n_tokens"], s1["f1"], s1["f2"]) == (3, 4, 2, 1)
    assert s1["chao1"] == 3.5 and s1["coverage"] == 0.5
    c = out["__corpus__"]
    assert (c["v_types"], c["n_tokens"], c["f1"], c["f2"]) == (4, 6, 3, 0)
    assert c["chao1"] == 7.0 and c["coverage"] == 0.5


def test_chao1_exhausted_source_has_full_coverage(spark):
    """No singletons -> coverage 1.0 and chao1 == observed V."""
    _docs_view(spark, [(1, "x x y y", "en", "s", 7)])
    r = spark.sql(Q._chao1_richness_sql(Q.D.SPARK)).collect()
    for row in r:
        assert row["f1"] == 0 and row["coverage"] == 1.0
        assert row["chao1"] == float(row["v_types"])


def test_chao1_synthesized_rare_mass(spark):
    """doc_id 0 injects singleton 'chaorare0' + doubleton half
    'chaodbl0'; doc_id 41 injects the other 'chaodbl0' -> f1 gains 1 and
    f2 gains 1 over the base text's contribution, at every SF."""
    _docs_view(
        spark,
        [(0, "x x y y", "en", "s", 7), (41, "x x y y", "en", "s", 7)],
    )
    out = {r["source"]: r for r in spark.sql(Q._chao1_richness_sql(Q.D.SPARK)).collect()}
    c = out["__corpus__"]
    assert c["f1"] == 1 and c["f2"] == 1  # chaorare0; chaodbl0 x2
    assert c["v_types"] == 4 and c["n_tokens"] == 11


# --------------------------------------------------------- sttr_segments


def test_sttr_distinct_vs_repetitive_segments(spark):
    """Source 'rich': two docs of exactly 25 distinct tokens each -> two
    complete segments, sttr 1.0. Source 'dull': one doc of 50 copies of one
    token -> two segments of 1 type -> sttr 1/25. A 30-token doc leaves a
    5-token partial tail that must NOT count."""
    rich1 = " ".join(f"a{i}" for i in range(25))
    rich2 = " ".join(f"b{i}" for i in range(25))
    dull = " ".join(["z"] * 50)
    tail = " ".join(f"c{i}" for i in range(30))
    _docs_view(
        spark,
        [
            (1, rich1, "en", "rich", 0),
            (2, rich2, "en", "rich", 0),
            (3, dull, "en", "dull", 0),
            (4, tail, "en", "tailed", 0),
        ],
    )
    out = {r["source"]: r for r in spark.sql(Q._sttr_segments_sql(Q.D.SPARK)).collect()}
    assert out["rich"]["n_segments"] == 2 and out["rich"]["sttr"] == 1.0
    assert out["dull"]["n_segments"] == 2 and out["dull"]["sttr"] == 1.0 / 25.0
    assert out["tailed"]["n_segments"] == 1 and out["tailed"]["sttr"] == 1.0


def test_sttr_stream_crosses_doc_boundaries(spark):
    """Two 13-token docs and then a 24-token doc in one source concatenate
    to 50 tokens -> exactly two complete segments (doc boundaries are not
    segment boundaries)."""
    d1 = " ".join(f"a{i}" for i in range(13))
    d2 = " ".join(f"b{i}" for i in range(13))
    d3 = " ".join(f"c{i}" for i in range(24))
    _docs_view(spark, [(1, d1, "en", "s", 0), (2, d2, "en", "s", 0), (3, d3, "en", "s", 0)])
    out = spark.sql(Q._sttr_segments_sql(Q.D.SPARK)).collect()
    assert len(out) == 1 and out[0]["n_segments"] == 2 and out[0]["sttr"] == 1.0


# ---------------------------------------------------- wasserstein_sources


def test_wasserstein_two_point_masses(spark):
    """Source A: all docs 10 tokens; source B: all docs 20 tokens; corpus
    is the 50/50 mixture. |F_A - F_C| = 0.5 on [10, 20) -> W1 = 5.0 for
    both sources, exactly."""
    ten = " ".join(["w"] * 10)
    twenty = " ".join(["w"] * 20)
    rows = [(i, ten, "en", "A", 0) for i in range(3)]
    rows += [(10 + i, twenty, "en", "B", 0) for i in range(3)]
    _docs_view(spark, rows)
    out = {r["source"]: r for r in spark.sql(Q._wasserstein_sources_sql(Q.D.SPARK)).collect()}
    assert out["A"]["w1_tokens"] == 5.0
    assert out["B"]["w1_tokens"] == 5.0
    assert out["A"]["n_docs"] == 3


def test_wasserstein_identical_source_is_zero(spark):
    _docs_view(spark, [(i, "a b c", "en", "only", 0) for i in range(4)])
    out = spark.sql(Q._wasserstein_sources_sql(Q.D.SPARK)).collect()
    assert len(out) == 1 and out[0]["w1_tokens"] == 0.0


# --------------------------------------------------- loo_source_influence


def test_loo_influence_signs_and_identity(spark):
    """A high-quality source must have positive influence (dropping it
    lowers the mean); a junk source negative. The closed form must satisfy
    n_s*mean_s + (n-n_s)*loo_mean == n*mean_corpus within quantization."""
    good = "the quick brown fox jumps over the lazy dog and then some more " * 4
    junk = "!!! ??? ### $$$"
    rows = [(i, good, "en", "good", 0) for i in range(5)]
    rows += [(10 + i, junk, "en", "junk", 0) for i in range(5)]
    _docs_view(spark, rows)
    out = {r["source"]: r for r in spark.sql(Q._loo_source_influence_sql(Q.D.SPARK)).collect()}
    g, j = out["good"], out["junk"]
    assert g["influence"] > 0 > j["influence"]
    n = g["n_docs"] + j["n_docs"]
    mean_corpus = (g["mean_quality"] * g["n_docs"] + j["mean_quality"] * j["n_docs"]) / n
    for r in (g, j):
        lhs = r["n_docs"] * r["mean_quality"] + (n - r["n_docs"]) * r["loo_mean"]
        assert abs(lhs - n * mean_corpus) < 1e-6


def test_loo_influence_single_source_guard(spark):
    _docs_view(spark, [(1, "hello world", "en", "s", 0)])
    out = spark.sql(Q._loo_source_influence_sql(Q.D.SPARK)).collect()
    assert len(out) == 1 and out[0]["loo_mean"] == 0.0 and out[0]["influence"] == 0.0


# ---------------------------------------------------------------- cem_att


def test_cem_att_closed_form(spark):
    """Stratum s=1 (activity 2): treated user 1 purchase 10.0 vs control
    user 0 purchase 4.0 -> effect 6.0. User 3's stratum has no control ->
    unmatched, excluded. ATT = 6.0."""
    rows = [
        (1, 0, 0, "purchase", 4.0),
        (2, 0, 0, "view", 0.0),
        (3, 0, 1, "purchase", 10.0),
        (4, 0, 1, "view", 0.0),
    ]
    rows += [(10 + i, 0, 3, "view", 0.0) for i in range(4)]
    rows += [(20, 0, 3, "purchase", 99.0)]
    _events_view(spark, rows)
    out = {r["stratum"]: r for r in spark.sql(Q._cem_att_sql(Q.D.SPARK)).collect()}
    s1 = out[2 // Q._CEM_BIN]
    assert s1["matched"] and s1["mean_t"] == 10.0 and s1["mean_c"] == 4.0
    assert s1["effect"] == 6.0
    s2 = out[5 // Q._CEM_BIN]
    assert not s2["matched"] and s2["n_c"] == 0
    assert all(abs(r["att"] - 6.0) < 1e-8 for r in out.values())
    assert s1["n_matched_t"] == 1


def test_cem_att_aa_split_on_real_data(spark, sf_dir):
    """On the driver events table the parity split is an A/A: the pooled
    ATT must sit well inside the naive treated-control outcome spread."""
    out = Q.REGISTRY["cem_att"][0](spark, sf_dir).collect()
    assert len(out) >= 1
    att = out[0]["att"]
    scale = max(abs(r["mean_t"]) + abs(r["mean_c"]) for r in out) + 1e-9
    assert abs(att) < scale  # null effect: no stratum-dwarfing ATT


# ---------------------------------------------------- rbo_rank_stability


def _rbo_views(spark, natrev_by_year, n_nations=25):
    """One customer per nation N01..Nxx; per-(year, nation) revenue set by
    one order per (year, nation)."""
    spark.createDataFrame(
        [(i, f"N{i + 1:02d}", 0, "") for i in range(n_nations)],
        "n_nationkey long, n_name string, n_regionkey long, n_comment string",
    ).createOrReplaceTempView("nation")
    spark.createDataFrame(
        [(i + 1, i) for i in range(n_nations)],
        "c_custkey long, c_nationkey long",
    ).createOrReplaceTempView("customer")
    rows, k = [], 0
    for yr, natrev in natrev_by_year.items():
        for nat, rev in natrev:
            k += 1
            rows.append((k, nat, "F", rev, datetime.datetime(yr, 6, 1), "1-URGENT"))
    _orders_view(spark, rows)


def test_rbo_identical_lists(spark):
    """Identical top-k lists -> overlap d at every depth, agreement 1,
    rbo_min(K) = 1 - p^K (geometric sum), within the 1e-12 quantization."""
    natrev = [(c, 1000.0 - c) for c in range(1, 26)]
    _rbo_views(spark, {1996: natrev, 1997: natrev})
    out = spark.sql(Q._rbo_rank_stability_sql(Q.D.SPARK)).collect()
    assert len(out) == Q._RBO_K
    assert all(r["overlap"] == r["depth"] and r["agreement"] == 1.0 for r in out)
    expect = 1.0 - Q._RBO_P ** Q._RBO_K
    assert abs(out[-1]["rbo_min"] - expect) < 1e-9


def test_rbo_disjoint_lists(spark):
    """Disjoint heads -> overlap 0 everywhere, rbo 0."""
    a = [(c, 1000.0 - c) for c in range(1, 11)] + [
        (c, 1.0) for c in range(11, 26)
    ]
    b = [(c, 1.0) for c in range(1, 16)] + [
        (c, 1000.0 - c) for c in range(16, 26)
    ]
    _rbo_views(spark, {1996: a, 1997: b})
    out = spark.sql(Q._rbo_rank_stability_sql(Q.D.SPARK)).collect()
    assert all(r["overlap"] == 0 and r["rbo_min"] == 0.0 for r in out)


def test_rbo_rank_shuffle_is_top_weighted(spark):
    """Same membership, head swap vs tail swap: disturbing ranks 1-3 must
    cost more rbo than disturbing ranks 8-10 (the top-weighting claim)."""
    base = [(c, 1000.0 - c) for c in range(1, 21)]

    def swapped(i, j):
        out = list(base)
        (ci, ri), (cj, rj) = out[i], out[j]
        out[i], out[j] = (ci, rj), (cj, ri)
        return out

    _rbo_views(spark, {1996: base, 1997: swapped(0, 2)}, n_nations=20)
    head = spark.sql(Q._rbo_rank_stability_sql(Q.D.SPARK)).collect()[-1]["rbo_min"]
    _rbo_views(spark, {1996: base, 1997: swapped(7, 9)}, n_nations=20)
    tail = spark.sql(Q._rbo_rank_stability_sql(Q.D.SPARK)).collect()[-1]["rbo_min"]
    full = 1.0 - Q._RBO_P ** Q._RBO_K
    assert head < tail < full
