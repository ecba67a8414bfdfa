"""Round-11 wave-16 behavioral pins (the oracle gate proves cross-engine
equality; these prove each operator computes the claimed quantity on
closed-form fixtures)."""

from __future__ import annotations

import math

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


def _emb_view(spark, rows):
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).createOrReplaceTempView("embeddings")


# ----------------------------------------------------- graph_assortativity


def _assort(spark, edges):
    vals = ", ".join(f"({a}, {b})" for a, b in edges)
    return spark.sql(
        Q._assortativity_core(
            Q.D.SPARK, f"SELECT id_a, id_b FROM (VALUES {vals}) AS t(id_a, id_b)"
        )
    ).collect()[0]


def test_assortativity_star_is_minus_one(spark):
    """A star K1,3 is perfectly disassortative: every edge links degree 3
    to degree 1 -> r = -1 exactly."""
    r = _assort(spark, [(1, 2), (1, 3), (1, 4)])
    assert r["n_nodes"] == 4 and r["n_edges"] == 3
    assert r["assortativity"] == -1.0


def test_assortativity_regular_graph_guard(spark):
    """Zero degree variance (triangle: all degree 2) -> guarded r = 0;
    duplicate/reversed raw pairs canonicalize to one edge."""
    r = _assort(spark, [(1, 2), (2, 3), (1, 3), (2, 1)])
    assert r["n_edges"] == 3 and r["assortativity"] == 0.0


def test_assortativity_two_stars_positive_core(spark):
    """Two stars joined hub-to-hub: the hub-hub edge links equal high
    degrees while hub-leaf edges are unequal -> r strictly between -1
    and 0, above the pure star's -1."""
    r = _assort(spark, [(1, 2), (1, 3), (6, 7), (6, 8), (1, 6)])
    assert -1.0 < r["assortativity"] < 0.0


# -------------------------------------------------------- term_dispersion


def test_term_dispersion_even_vs_concentrated(spark):
    """Two equal-size sources: a term split 50/50 has DP 0; a term wholly
    inside one source has DP = 1/2 * (|1-1/2| + |0-1/2|) = 0.5."""
    _docs_view(
        spark,
        [
            (1, "x x x x x e e e e e", "en", "s1", 0),
            (2, "y y y y y e e e e e", "en", "s2", 0),
        ],
    )
    out = {r["term"]: r for r in spark.sql(Q._term_dispersion_sql(Q.D.SPARK)).collect()}
    assert out["e"]["dp"] == 0.0 and out["e"]["corpus_count"] == 10
    assert out["x"]["dp"] == 0.5 and out["y"]["dp"] == 0.5


def test_term_dispersion_top_k_cap(spark):
    """More distinct terms than the panel -> exactly _DP_TOP_TERMS rows,
    the highest-count ones."""
    common = " ".join(f"c{i} c{i}" for i in range(Q._DP_TOP_TERMS))
    rare = " ".join(f"r{i}" for i in range(30))
    _docs_view(spark, [(1, common, "en", "s1", 0), (2, rare, "en", "s2", 0)])
    out = spark.sql(Q._term_dispersion_sql(Q.D.SPARK)).collect()
    assert len(out) == Q._DP_TOP_TERMS
    assert all(r["corpus_count"] == 2 for r in out)  # the doubled terms win


# --------------------------------------------------------- burrows_delta


def test_burrows_delta_deviant_source_stands_out(spark):
    """Only 'the' is a function word here. srcA: freq 4/5; srcB, srcC: 0.
    z_A = 2T'/sqrt(2T'^2) = sqrt(2), z_B = z_C = -1/sqrt(2). Deltas follow
    exactly (single-word panel)."""
    _docs_view(
        spark,
        [
            (1, "the the the the cat", "en", "srcA", 0),
            (2, "cat dog fish bird tree", "en", "srcB", 0),
            (3, "cat dog fish bird tree", "en", "srcC", 0),
        ],
    )
    out = {r["source"]: r for r in spark.sql(Q._burrows_delta_sql(Q.D.SPARK)).collect()}
    assert out["srcA"]["n_words"] == 1
    assert abs(out["srcA"]["delta"] - math.sqrt(2.0)) < 1e-6
    assert abs(out["srcB"]["delta"] - 1.0 / math.sqrt(2.0)) < 1e-6
    assert out["srcB"]["delta"] == out["srcC"]["delta"]


def test_burrows_delta_no_function_words_guard(spark):
    """A corpus with zero panel hits -> empty word panel, delta 0 rows
    still emitted per source."""
    _docs_view(spark, [(1, "cat dog", "en", "s1", 0), (2, "fish bird", "en", "s2", 0)])
    out = spark.sql(Q._burrows_delta_sql(Q.D.SPARK)).collect()
    assert len(out) == 0 or all(r["delta"] == 0.0 for r in out)


# ----------------------------------------------------- embedding_isotropy


def test_isotropy_identical_vectors_fully_anisotropic(spark):
    """All vectors identical -> mean normalized vector has norm 1 ->
    mean-cos estimate 1, isotropy 0."""
    v = [1.0] + [0.0] * (Q.EMB_DIM - 1)
    _emb_view(spark, [(i, v, 0) for i in range(8)])
    r = spark.sql(Q._embedding_isotropy_sql(Q.D.SPARK)).collect()[0]
    assert r["n_vectors"] == 8 and r["n_zero_norm"] == 0
    assert abs(r["mean_cos_estimate"] - 1.0) < 1e-9
    assert abs(r["isotropy"]) < 1e-9


def test_isotropy_orthonormal_spread(spark):
    """One-hot basis vectors, one per dim: ||mean||^2 = d*(1/d)^2 = 1/64
    exactly (dyadic -- survives the quantization bit-for-bit); a zero
    vector is counted and excluded."""
    rows = []
    for i in range(Q.EMB_DIM):
        v = [0.0] * Q.EMB_DIM
        v[i] = 1.0
        rows.append((i, v, 0))
    rows.append((999, [0.0] * Q.EMB_DIM, 1))
    _emb_view(spark, rows)
    r = spark.sql(Q._embedding_isotropy_sql(Q.D.SPARK)).collect()[0]
    assert r["n_vectors"] == Q.EMB_DIM and r["n_zero_norm"] == 1
    assert r["mean_cos_estimate"] == 1.0 / Q.EMB_DIM
    assert r["isotropy"] == 1.0 - 1.0 / Q.EMB_DIM
    assert r["mean_norm"] == 1.0


# ------------------------------------------------------- fano_burstiness


def test_fano_flat_vs_burst(spark):
    """Global range = 4 hours. 'flat': one event per hour -> Var 0 ->
    Fano 0. 'burst': all 4 events in one hour -> Fano = (4*16-16)/(4*4)
    = 3.0 exactly."""
    hour_ns = 3_600_000_000_000
    rows = [(i, i * hour_ns, 1, "flat", 0.0) for i in range(4)]
    rows += [(10 + i, 0, 2, "burst", 0.0) for i in range(4)]
    _events_view(spark, rows)
    out = {r["event_type"]: r for r in spark.sql(Q._fano_burstiness_sql(Q.D.SPARK)).collect()}
    assert out["flat"]["h_total"] == 4
    assert out["flat"]["fano"] == 0.0 and out["flat"]["n_active_hours"] == 4
    assert out["burst"]["fano"] == 3.0 and out["burst"]["n_active_hours"] == 1


# -------------------------------------------------------- vocab_coverage


def test_vocab_coverage_closed_form(spark):
    """'a a a a b b c' (doc_id untouched by the rare-mass injection):
    thr 1 -> (3 types, 7/7); thr 2 -> (2, 6/7); thr 4 -> (1, 4/7);
    thr 8 -> (0, 0)."""
    _docs_view(spark, [(1, "a a a a b b c", "en", "s", 0)])
    out = {r["min_count"]: r for r in spark.sql(Q._vocab_coverage_sql(Q.D.SPARK)).collect()}
    assert len(out) == len(Q._COVERAGE_THRESHOLDS)
    assert (out[1]["vocab_size"], out[1]["covered_tokens"]) == (3, 7)
    assert out[1]["coverage"] == 1.0
    assert (out[2]["vocab_size"], out[2]["covered_tokens"]) == (2, 6)
    assert (out[4]["vocab_size"], out[4]["covered_tokens"]) == (1, 4)
    assert (out[8]["vocab_size"], out[8]["covered_tokens"]) == (0, 0)
    assert out[8]["coverage"] == 0.0


def test_vocab_coverage_rare_mass_live_on_driver_data(spark, sf_dir):
    """On the real testdata the injected tail must make the curve move:
    coverage at min_count 2 strictly below 1."""
    out = {
        r["min_count"]: r
        for r in Q.REGISTRY["vocab_coverage"][0](spark, sf_dir).collect()
    }
    assert out[1]["coverage"] == 1.0
    assert out[2]["coverage"] < 1.0
    assert out[2]["vocab_size"] < out[1]["vocab_size"]
