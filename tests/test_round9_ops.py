"""Round-9 operator invariants -- structural properties the oracle hash
cannot see (FIXTURES.md discipline: every operator proves its positive
branch on real data, not just hash parity)."""

from __future__ import annotations

import pyspark.sql.functions as F

from sentiment_analysis_data_pipeline_spark import queries as Q

SF = "/root/testdata/sf0.001"


def test_label_propagation_moves_labels(spark):
    out = Q.q_label_propagation_step(spark, SF)
    rows = out.collect()
    assert len(rows) == 500
    # positive branch: at least one node adopted a neighbor group's label
    assert sum(r["changed"] for r in rows) > 0
    # a new label is always some doc's seed label (propagation, not invention)
    seeds = {r["label0"] for r in rows}
    assert all(r["label1"] in seeds for r in rows)
    # changed flag is consistent with the label pair
    assert all((r["label1"] != r["label0"]) == (r["changed"] == 1) for r in rows)


def test_attribution_models_reconcile(spark):
    out = {(r["model"], r["channel"]): r for r in Q.REGISTRY["attribution_touch"][0](spark, SF).collect()}
    Q._events_view(spark, SF)
    purchases = spark.sql(
        "SELECT cast(count(*) as bigint) AS n,"
        " cast(sum(cast(value as decimal(18,6))) as double) AS rev"
        " FROM events WHERE event_type = 'purchase'"
    ).collect()[0]
    for model in ("first_touch", "last_touch"):
        cells = [v for (m, _), v in out.items() if m == model]
        assert sum(c["n_conversions"] for c in cells) == purchases["n"]
        assert abs(sum(c["attributed_revenue"] for c in cells) - purchases["rev"]) < 1e-6
    # both touch channels attributed somewhere (positive branch)
    assert any(ch in ("click", "view") and v["n_conversions"] > 0 for (m, ch), v in out.items())


def test_packing_curve_accounting(spark):
    rows = {r["ctx"]: r for r in Q.REGISTRY["packing_efficiency_curve"][0](spark, SF).collect()}
    assert set(rows) == set(Q.PACK_CONTEXTS)
    total = next(iter(rows.values()))["total_tokens"]
    prev_kept = -1
    for ctx in sorted(rows):
        r = rows[ctx]
        assert r["total_tokens"] == total
        assert r["kept_tokens"] + r["truncated_tokens"] == total
        assert r["kept_tokens"] >= prev_kept  # longer context never loses tokens
        prev_kept = r["kept_tokens"]
        cap = r["packed_seqs"] * ctx
        assert cap >= r["kept_tokens"] > cap - ctx  # ceil is tight
        assert 0.0 < r["packed_efficiency"] <= 1.0
        assert 0.0 < r["padded_efficiency"] <= r["packed_efficiency"] + 1e-12
    # the truncation branch is EXERCISED at the small end (FIXTURES.md trap)
    assert rows[min(rows)]["truncated_tokens"] > 0
    assert rows[min(rows)]["docs_fit"] < rows[min(rows)]["n_docs"]


def test_range_bounds_balance_and_order(spark):
    rows = sorted(
        Q.q_range_partition_bounds(spark, SF).collect(), key=lambda r: r["bucket"]
    )
    assert [r["bucket"] for r in rows] == list(range(1, Q.RANGE_PARTS + 1))
    n_total = sum(r["n_rows"] for r in rows)
    li = spark.read.parquet(f"{SF}/lineitem.parquet").count()
    assert n_total == li
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-9
    # interpolated-quantile bounds are strictly increasing; last is +inf
    bounds = [r["upper_bound"] for r in rows]
    assert bounds[-1] == float("inf")
    assert all(bounds[i] < bounds[i + 1] for i in range(len(bounds) - 1))
    # balance: exact quantile boundaries give near-equal partitions
    assert max(r["n_rows"] for r in rows) <= 2 * min(r["n_rows"] for r in rows)


def test_dataset_card_cross_checks(spark):
    card = Q.REGISTRY["dataset_card"][0](spark, SF).collect()[0].asDict()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert card["n_docs"] == docs.count()
    assert card["n_sources"] == docs.select("source").distinct().count()
    assert 0.0 < card["predicted_en_share"] <= 1.0
    assert card["p50_doc_tokens"] > 0
    assert card["mean_chars"] > 0
    # exact-dup membership matches an independent md5-group computation
    dup = docs.selectExpr("md5(coalesce(text, '')) AS th").groupBy("th").count()
    expect = dup.filter("count > 1").agg(F.sum("count")).collect()[0][0] or 0
    assert card["exact_dup_docs"] == expect


def test_ngram_novelty_positive_and_bounded(spark):
    rows = Q.REGISTRY["ngram_novelty"][0](spark, SF).collect()
    assert len(rows) == 50  # one row per new-batch doc, absent docs included
    assert all(0.0 <= r["novelty"] <= 1.0 for r in rows)
    assert all(r["n_unseen"] <= r["n_shingles"] for r in rows)
    # positive branch both ways: some shingles unseen, some seen
    assert sum(r["n_unseen"] for r in rows) > 0
    assert any(r["n_unseen"] < r["n_shingles"] for r in rows)


def test_cosine_sweep_monotone(spark):
    rows = sorted(
        Q.q_cosine_threshold_sweep(spark, SF).collect(),
        key=lambda r: r["threshold"],
    )
    assert [r["threshold"] for r in rows] == sorted(Q.COSINE_SWEEP_THRESHOLDS)
    # tightening the threshold never adds pairs or docs
    for a, b in zip(rows, rows[1:]):
        assert b["n_pairs"] <= a["n_pairs"]
        assert b["n_docs"] <= a["n_docs"]
    assert rows[0]["n_pairs"] > 0  # loosest cut survives something
    # every pair contributes at most 2 docs
    assert all(r["n_docs"] <= 2 * r["n_pairs"] for r in rows)


def test_graph_modularity_beats_null_model(spark):
    card = Q.q_graph_modularity(spark, SF).collect()[0].asDict()
    assert card["n_edges"] > 0
    assert 0 <= card["intra_edges"] <= card["n_edges"]
    # the LPA partition must beat the null model; Q is bounded by 1
    assert 0.0 < card["modularity"] <= 1.0
    assert card["n_connected_clusters"] <= card["n_clusters"]


# --- wave 3 ---

SF01 = "/root/testdata/sf0.01"


def test_classifier_auc_hand_computed_with_ties(spark):
    """Pin the tie-corrected Mann-Whitney fold against a hand-computed AUC
    on a constructed fixture that exercises every branch: score ties
    within a class, a MIXED-class tie (the +neg_s half-credit term), and
    the degenerate single-class source (chance sentinel 0.5)."""
    from sentiment_analysis_data_pipeline_spark.functions import dialect as D

    # text/n_chars drive x1..x3; identical text => identical sq (a tie).
    rows = [
        # srcA: 2 pos, 2 neg; one pos/neg pair shares identical text (tie)
        (0, "srcA", "alpha beta gamma", "en"),
        (1, "srcA", "alpha beta gamma", "fr"),
        (2, "srcA", "a much longer document with many more words here", "en"),
        (3, "srcA", "tiny", "fr"),
        # srcB: all positive -> degenerate, AUC sentinel 0.5
        (4, "srcB", "one", "en"),
        (5, "srcB", "two words", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string, lang string")
    df = df.withColumn("n_chars", F.length("text"))
    df.createOrReplaceTempView("documents")
    out = {r["source"]: r for r in spark.sql(Q._classifier_auc_sql(D.SPARK)).collect()}

    # hand-compute srcA from the (sq, y) multiset: rank the 2x2 grid
    scored = [
        (r["sq"], r["y"])
        for r in spark.sql(Q._clf_scored_sql(D.SPARK)).collect()
        if r["source"] == "srcA"
    ]
    pos = [s for s, y in scored if y == 1]
    neg = [s for s, y in scored if y == 0]
    num = sum((p > n_) + 0.5 * (p == n_) for p in pos for n_ in neg)
    assert out["srcA"]["auc"] == num / (len(pos) * len(neg))
    # the mixed-class tie actually happened (docs 0/1 share text)
    assert len(set(pos) & set(neg)) == 1
    assert out["srcB"]["auc"] == 0.5 and out["srcB"]["n_neg"] == 0
    assert out["ALL"]["n_pos"] == 4 and out["ALL"]["n_neg"] == 2
    assert abs(out["srcA"]["gini"] - (2 * out["srcA"]["auc"] - 1)) < 1e-15


def test_classifier_calibration_accounting(spark):
    rows = Q.REGISTRY["classifier_calibration"][0](spark, SF01).collect()
    assert len(rows) >= 3  # 0.02 bands keep the diagram multi-row
    assert sum(r["n_docs"] for r in rows) == 500
    for r in rows:
        assert 0.0 <= r["mean_pred"] <= 1.0 and 0.0 <= r["pos_rate"] <= 1.0
        assert abs(r["gap"] - (r["pos_rate"] - r["mean_pred"])) < 1e-12
        assert 0.0 <= r["brier"] <= 1.0
        # a band's mean prediction sits inside the band (quantized floor)
        assert r["band"] * 0.02 <= r["mean_pred"] < (r["band"] + 1) * 0.02 + 1e-9


def test_pareto_frontier_is_exact_skyline(spark):
    pts = spark.read.parquet(f"{SF01}/part.parquet").collect()
    frontier = Q.REGISTRY["pareto_frontier"][0](spark, SF01).collect()
    got = {(r["ptype"], r["partkey"]) for r in frontier}
    # brute-force dominance oracle per type
    import math
    by_type: dict[str, list] = {}
    for p in pts:
        cents = math.floor(p["p_retailprice"] * 100.0 + 0.5)
        by_type.setdefault(p["p_type"], []).append((p["p_partkey"], cents, p["p_size"]))
    want = set()
    for t, items in by_type.items():
        for k, c, s in items:
            dominated = any(
                (c2 < c and s2 >= s) or (c2 <= c and s2 > s)
                for (k2, c2, s2) in items
                if k2 != k
            )
            if not dominated:
                want.add((t, k))
    assert got == want and len(got) > 0


def test_sorted_neighborhood_shape(spark):
    rows = Q.REGISTRY["sorted_neighborhood_pairs"][0](spark, SF01).collect()
    n_cust = spark.read.parquet(f"{SF01}/customer.parquet").count()
    # each row pairs with <= SN_WINDOW-1 successors; blocks lose tail rows
    assert 0 < len(rows) <= n_cust * (Q.SN_WINDOW - 1)
    flags = {r["is_candidate"] for r in rows}
    assert flags == {0, 1}  # both branches live
    assert all(r["diff_cents"] >= 0 for r in rows)
    assert all(r["cust_a"] != r["cust_b"] for r in rows)


def test_zonemap_audit_contrast(spark):
    rows = Q.REGISTRY["zonemap_audit"][0](spark, SF01).collect()
    by = {(r["pred"], r["layout"]): r for r in rows}
    # aligned layout prunes the mid-price probe, misaligned one does not
    assert by[("pc_mid", "price")]["skip_fraction"] > 0.5
    assert by[("pc_mid", "orderkey")]["skip_fraction"] == 0.0
    for r in rows:
        assert 0 <= r["n_pruned"] <= r["n_buckets"]
        assert 0 <= r["rows_skipped"] <= r["n_rows"]


def test_ewma_revenue_exactness(spark):
    rows = sorted(Q.REGISTRY["ewma_revenue"][0](spark, SF01).collect(), key=lambda r: r["month_index"])
    rev = {r["month_index"]: r["rev_cents"] for r in rows}
    L = Q.EWMA_LAGS
    for r in rows:
        num = den = 0
        for g in range(L):
            v = rev.get(r["month_index"] - g)
            if v is not None:
                w = 1 << (L - 1 - g)
                num += v * w
                den += w
        assert r["ewma_cents"] == num / den
        assert r["n_hist"] <= L
    assert any(r["n_hist"] == L for r in rows)  # full-kernel branch live
    assert rows[0]["n_hist"] == 1  # first month renormalizes, not decays


def test_kcore_step_invariants(spark):
    r = Q.q_kcore_step(spark, SF01).collect()[0]
    assert 0 < r["n_core_nodes"] < r["n_nodes"]  # peel removed SOME, not all
    assert 0 < r["n_surv_edges"] <= r["n_edges"]
    assert 0 <= r["n_below_next"] <= r["n_core_nodes"]
    # self-calibrating threshold: ceil(2E/V)
    assert r["k"] == -((-2 * r["n_edges"]) // r["n_nodes"])


def test_association_rules_math(spark):
    rows = Q.q_association_rules(spark, SF01).collect()
    assert len(rows) == Q.RULES_TOP
    lifts = [r["lift"] for r in rows]
    assert lifts == sorted(lifts, reverse=True)
    for r in rows:
        assert r["support"] >= Q.RULES_MIN_SUPPORT
        assert 0.0 < r["confidence"] <= 1.0
        assert r["lift"] > 0.0


def test_audio_loudness_real_decode(spark):
    from sentiment_analysis_data_pipeline_spark.operators.multimodal import (
        parse_pcm_loudness,
    )

    # unit: hand-built WAV, 4 samples [1000, -1000, 500, -500]
    import struct

    data = struct.pack("<4h", 1000, -1000, 500, -500)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    fmt, n, peak, rms, zc = parse_pcm_loudness(wav)
    assert (fmt, n, peak, zc) == ("wav", 4, 1000, 3)
    assert rms == ((1000**2 + 500**2) / 2) ** 0.5
    assert parse_pcm_loudness(b"garbage") == (None,) * 5
    # truncated data chunk must classify, not throw
    assert parse_pcm_loudness(wav[:-2]) == (None,) * 5

    rows = Q.q_audio_loudness(spark, SF01).collect()
    ok = [r for r in rows if r["fmt"] == "wav"]
    assert len(rows) == 500 and len(ok) == 500 - len(
        [r for r in rows if r["fmt"] is None]
    )
    assert all(r["peak"] > 0 and r["rms"] > 0 for r in ok)
    assert all(r["zero_crossings"] == r["n_samples"] - 1 for r in ok)


# --- wave 4 ---


def test_poisson_bootstrap_ci_brackets_mean(spark):
    r = Q.REGISTRY["poisson_bootstrap_ci"][0](spark, SF01).collect()[0]
    assert r["n_replicates"] == Q.BOOT_B
    assert r["ci_lo_cents"] < r["mean_cents"] < r["ci_hi_cents"]
    # CI width shrinks like 1/sqrt(n): at sf0.01 it must stay a narrow
    # band around the point estimate, not degenerate or explode
    width = r["ci_hi_cents"] - r["ci_lo_cents"]
    assert 0 < width < r["mean_cents"] * 0.2
    # thresholds really are the Poisson(1) CDF on the 12-bit grid, and the
    # grid is fine enough that every CDF step is within one cell
    import math

    cum = 0.0
    for k, t in enumerate(Q._poisson_thresholds()):
        cum += math.exp(-1.0) / math.factorial(k)
        assert t == math.floor(cum * (1 << Q._BOOT_BITS))
        assert abs(t / (1 << Q._BOOT_BITS) - cum) < 1.0 / (1 << Q._BOOT_BITS)


def test_conformal_threshold_guarantee(spark):
    r = Q.REGISTRY["conformal_threshold"][0](spark, SF01).collect()[0]
    assert r["n_calib"] + r["n_test"] == 500
    # exact rank definition: ceil((n+1) * (1 - alpha))
    import math

    assert r["k_rank"] == math.ceil((r["n_calib"] + 1) * 0.9)
    assert 0.0 < r["qhat"] <= 1.0
    # split-conformal coverage concentrates near the target (binomial
    # fluctuation at n_test=250 stays well inside +-0.08)
    assert abs(r["coverage"] - r["target"]) < 0.08


def test_woe_iv_reconstruction(spark):
    import math

    rows = Q.REGISTRY["woe_iv"][0](spark, SF01).collect()
    assert len(rows) >= 3
    pos_tot = sum(r["n_pos"] for r in rows)
    neg_tot = sum(r["n_neg"] for r in rows)
    for r in rows:
        assert r["n_pos"] > 0 and r["n_neg"] > 0  # single-class bands excluded
        want = math.log((r["n_pos"] / pos_tot) / (r["n_neg"] / neg_tot))
        # totals here exclude single-class bands; the query's totals
        # include them only if they exist -- tolerate the quantization
        assert abs(r["woe"] - want) < 2e-2
        share_gap = r["n_pos"] / pos_tot - r["n_neg"] / neg_tot
        assert r["iv_term"] * (share_gap * r["woe"] + 1e-18) >= 0  # same sign


def test_ols_trend_exact_fit(spark):
    import math

    rows = Q.REGISTRY["ols_trend"][0](spark, SF01).collect()
    assert len(rows) == 25
    # recompute one nation's fit from raw data
    orders = spark.read.parquet(f"{SF01}/orders.parquet").collect()
    cust = {
        r["c_custkey"]: r["c_nationkey"]
        for r in spark.read.parquet(f"{SF01}/customer.parquet").collect()
    }
    nat = {
        r["n_nationkey"]: r["n_name"]
        for r in spark.read.parquet(f"{SF01}/nation.parquet").collect()
    }
    target = rows[0]["nation"]
    monthly: dict[int, int] = {}
    for o in orders:
        if nat[cust[o["o_custkey"]]] != target:
            continue
        dtv = o["o_orderdate"]
        x = dtv.year * 12 + dtv.month - 1 - Q._OLS_X0
        monthly[x] = monthly.get(x, 0) + math.floor(o["o_totalprice"] * 100.0 + 0.5)
    xs, ys = list(monthly), list(monthly.values())
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert abs(rows[0]["slope_cents_per_month"] - slope) < abs(slope) * 1e-12 + 1e-9
    assert rows[0]["n_months"] == n


def test_event_path_topk_shape(spark):
    rows = Q.REGISTRY["event_path_topk"][0](spark, SF01).collect()
    assert len(rows) == Q.PATH_TOP
    counts = [r["n_occurrences"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(1 <= r["n_users"] <= r["n_occurrences"] for r in rows)
    assert all(r["e1"] and r["e2"] and r["e3"] for r in rows)


# --- wave 5 ---


def test_theil_sen_matches_hand_median(spark):
    import statistics

    rows = Q.REGISTRY["theil_sen_trend"][0](spark, SF01).collect()
    assert len(rows) == 25
    # recompute one nation's median-of-slopes from the monthly relation
    target = rows[0]["nation"]
    monthly = spark.sql(
        f"""
        SELECT cast(year(o_orderdate) * 12 + month(o_orderdate) - 1 as bigint)
                   - {Q._OLS_X0} AS x,
               cast(sum(cast(floor(o_totalprice * 100.0 + 0.5) as bigint))
                    as bigint) AS y
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE n.n_name = '{target}'
        GROUP BY 1
        """
    ).collect()
    pts = sorted((r["x"], r["y"]) for r in monthly)
    slopes = [
        (y2 - y1) / (x2 - x1)
        for i, (x1, y1) in enumerate(pts)
        for (x2, y2) in pts[i + 1 :]
    ]
    assert rows[0]["n_pairs"] == len(slopes)
    assert abs(rows[0]["ts_slope_cents_per_month"] - statistics.median(slopes)) < 1e-9


def test_welch_ttest_against_closed_form(spark):
    r = Q.REGISTRY["welch_ttest"][0](spark, SF01).collect()[0]
    docs = spark.read.parquet(f"{SF01}/documents.parquet").collect()
    en = [d["n_chars"] for d in docs if d["lang"] == "en"]
    ot = [d["n_chars"] for d in docs if d["lang"] != "en"]
    assert (r["n_en"], r["n_other"]) == (len(en), len(ot))

    def var(xs):
        m = sum(xs) / len(xs)
        return sum((x - m) ** 2 for x in xs) / (len(xs) - 1)

    se2 = var(en) / len(en) + var(ot) / len(ot)
    t = (sum(en) / len(en) - sum(ot) / len(ot)) / se2**0.5
    df = se2 * se2 / (
        (var(en) / len(en)) ** 2 / (len(en) - 1)
        + (var(ot) / len(ot)) ** 2 / (len(ot) - 1)
    )
    assert abs(r["t_stat"] - t) < 1e-9
    assert abs(r["df"] - df) < 1e-6
    assert min(len(en), len(ot)) - 1 <= r["df"] <= len(en) + len(ot) - 2


def test_acf_daily_bounds_and_lag0_identity(spark):
    rows = Q.REGISTRY["acf_daily"][0](spark, SF01).collect()
    assert [r["lag"] for r in rows] == list(range(1, Q.ACF_MAX_LAG + 1))
    # |r_k| <= 1 up to the missing-pair truncation; pairs strictly decrease
    # in lag only if calendar gaps exist -- assert the weak monotone bound
    assert all(abs(r["acf"]) <= 1.0 + 1e-12 for r in rows)
    n_days = spark.sql(
        "SELECT count(DISTINCT (ts div 1000) div 86400000000) AS k FROM events"
        " WHERE event_type = 'purchase'"
    ).collect()[0]["k"]
    assert all(0 < r["n_pairs"] <= n_days - r["lag"] for r in rows)


def test_decision_stump_is_argmin(spark):
    r = Q.REGISTRY["decision_stump"][0](spark, SF01).collect()[0]
    docs = spark.read.parquet(f"{SF01}/documents.parquet").collect()
    pts = [(d["n_chars"], 1 if d["lang"] == "en" else 0) for d in docs]
    p = sum(y for _, y in pts)
    q = len(pts) - p
    best = None
    for t in sorted({v for v, _ in pts}):
        pl = sum(y for v, y in pts if v <= t)
        nl = sum(1 - y for v, y in pts if v <= t)
        err = min(nl + p - pl, pl + q - nl)
        if best is None or err < best[0]:
            best = (err, t)
    assert (r["errors"], r["threshold"]) == best
    assert r["accuracy"] == 1.0 - best[0] / len(pts)
    assert 0.0 <= r["gini_weighted"] <= 0.5
    # the stump must beat the majority-class baseline (positive branch)
    assert r["errors"] <= min(p, q)


def test_permutation_test_pvalue_definition(spark):
    r = Q.REGISTRY["permutation_test"][0](spark, SF01).collect()[0]
    assert r["n_replicates"] == Q.PERM_B
    assert 0 <= r["n_ge"] <= Q.PERM_B
    assert r["p_value"] == (r["n_ge"] + 1) / (Q.PERM_B + 1)
    # the en/other length gap in this corpus is tiny relative to within-
    # group spread: the test must NOT report significance at 5% -- and the
    # observed t must be finite and small
    assert abs(r["t_obs"]) < 10.0


def test_runs_test_counts_runs_exactly(spark):
    r = Q.REGISTRY["runs_test"][0](spark, SF01).collect()[0]
    daily = spark.sql(
        "SELECT (ts div 1000) div 86400000000 AS d,"
        " sum(cast(floor(value * 100) as bigint)) AS v"
        " FROM events WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1"
    ).collect()
    s = sum(x["v"] for x in daily)
    k = len(daily)
    sides = [1 if x["v"] * k > s else 0 for x in daily]
    runs = 1 + sum(a != b for a, b in zip(sides, sides[1:]))
    assert r["n_days"] == k
    assert r["n_above"] == sum(sides)
    assert r["n_runs"] == runs
    n1, n2 = sum(sides), k - sum(sides)
    mu = 1 + 2 * n1 * n2 / (n1 + n2)
    va = 2 * n1 * n2 * (2 * n1 * n2 - n1 - n2) / ((n1 + n2) ** 2 * (n1 + n2 - 1))
    assert abs(r["z"] - (runs - mu) / va**0.5) < 1e-9


# --- wave 6 ---


def test_log_odds_terms_prior_and_direction(spark):
    rows = Q.REGISTRY["log_odds_terms"][0](spark, SF01).collect()
    assert len(rows) == Q.LOGODDS_TOP
    zs = [abs(r["z"]) for r in rows]
    assert zs == sorted(zs, reverse=True)
    # sign convention: positive delta means en-leaning; a term appearing
    # ONLY in en docs must score positive, only-other negative
    for r in rows:
        if r["n_other"] == 0 and r["n_en"] > 0:
            assert r["delta"] > 0
        if r["n_en"] == 0 and r["n_other"] > 0:
            assert r["delta"] < 0
    # z is shrunk delta, never inflated past it in magnitude ratio > 1/sqrt(var_min)
    assert all(r["z"] != 0 for r in rows)


def test_jackknife_ratio_hand_check(spark):
    r = Q.REGISTRY["jackknife_ratio"][0](spark, SF01).collect()[0]
    docs = spark.read.parquet(f"{SF01}/documents.parquet").collect()
    groups: dict[str, list[int]] = {}
    for d0 in docs:
        groups.setdefault(d0["source"], []).append(1 if d0["lang"] == "en" else 0)
    nn = len(docs)
    yy = sum(sum(v) for v in groups.values())
    assert r["n_sources"] == len(groups)
    assert r["en_rate"] == yy / nn
    import math

    reps = []
    for g in groups.values():
        # the query quantizes each replicate ratio to 2^-30 -- mirror it
        rq = math.floor((yy - sum(g)) / (nn - len(g)) * Q._JACK_Q)
        reps.append(rq)
    gk = len(reps)
    rbar = sum(reps) / gk
    var = (gk - 1) / gk * sum((x - rbar) ** 2 for x in reps)
    assert abs(r["jackknife_se"] - math.sqrt(var) / Q._JACK_Q) < 1e-12
    assert r["jackknife_se"] > 0


def test_kendall_tau_matches_scipy_free_recompute(spark):
    r = Q.REGISTRY["kendall_tau"][0](spark, SF01).collect()[0]
    assert r["n_docs"] == 500
    # recompute tau-b by brute force over the banded pairs
    Q._view(spark, SF01, "documents")
    cells = spark.sql(Q._kendall_cells_sql(Q.D.SPARK)).collect()
    pts = [(c["sb"], c["lb"], c["n"]) for c in cells]
    conc = disc = 0
    for i, (a1, b1, n1) in enumerate(pts):
        for a2, b2, n2 in pts:
            if a2 > a1 and b2 > b1:
                conc += n1 * n2
            elif a2 > a1 and b2 < b1:
                disc += n1 * n2
    n = sum(n for _, _, n in pts)
    n0 = n * (n - 1) // 2
    from collections import Counter

    ma = Counter()
    mb = Counter()
    for a1, b1, n1 in pts:
        ma[a1] += n1
        mb[b1] += n1
    ta = sum(v * (v - 1) // 2 for v in ma.values())
    tb = sum(v * (v - 1) // 2 for v in mb.values())
    tau = (conc - disc) / ((n0 - ta) * (n0 - tb)) ** 0.5
    assert r["concordant"] == conc and r["discordant"] == disc
    assert abs(r["tau_b"] - tau) < 1e-12
    # the classifier score is built FROM length features: the banded rank
    # correlation must come out strongly positive (positive branch)
    assert r["tau_b"] > 0.5


def test_binseg_changepoint_is_argmin(spark):
    r = Q.REGISTRY["binseg_changepoint"][0](spark, SF01).collect()[0]
    daily = spark.sql(
        "SELECT (ts div 1000) div 86400000000 AS d,"
        " sum(cast(floor(value * 100) as bigint)) AS v"
        " FROM events WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1"
    ).collect()
    vs = [x["v"] for x in daily]
    ds = [x["d"] for x in daily]

    def sse(xs):
        if not xs:
            return 0.0
        m = sum(xs) / len(xs)
        return sum(x * x for x in xs) - len(xs) * m * m

    best = min(
        (sse(vs[: i + 1]) + sse(vs[i + 1 :]), ds[i]) for i in range(len(vs) - 1)
    )
    assert r["split_day"] == best[1]
    assert abs(r["sse_split"] - best[0]) < max(1.0, abs(best[0])) * 1e-9
    assert 0.0 <= r["variance_explained"] <= 1.0
    assert r["n_left"] + r["n_right"] == len(vs)


def test_mcnemar_cells_reconcile(spark):
    r = Q.REGISTRY["mcnemar_test"][0](spark, SF01).collect()[0]
    assert r["n_docs"] == 500
    b, c = r["logreg_only_right"], r["stump_only_right"]
    assert b >= 0 and c >= 0 and b + c <= r["n_docs"]
    if b + c > 0:
        assert abs(r["mcnemar_chi2"] - (b - c) ** 2 / (b + c)) < 1e-9
        assert r["mcnemar_chi2_cc"] <= r["mcnemar_chi2"] + 1e-12
    # the stump and the base logreg genuinely disagree somewhere
    assert b + c > 0


def test_dow_seasonality_reconciles(spark):
    rows = Q.REGISTRY["dow_seasonality"][0](spark, SF01).collect()
    assert len(rows) == 7
    total_days = sum(r["n_days"] for r in rows)
    grand = sum(r["mean_events"] * r["n_days"] for r in rows) / total_days
    # effects are deviations from the grand mean: weighted sum ~ 0
    assert abs(sum(r["effect"] * r["n_days"] for r in rows)) < 1e-6 * grand * total_days
    eta = rows[0]["eta_sq"]
    assert all(abs(r["eta_sq"] - eta) < 1e-12 for r in rows)  # one scalar, repeated
    assert 0.0 <= eta <= 1.0


# --- wave 7 ---


def test_hhi_bounds_and_hand_check(spark):
    rows = Q.REGISTRY["hhi_concentration"][0](spark, SF01).collect()
    assert len(rows) == 25
    for r in rows:
        assert 1.0 / r["n_suppliers"] - 1e-6 <= r["hhi"] <= 1.0 + 1e-9
        # top share bounds HHI on both sides
        assert r["top_share"] ** 2 - 1e-9 <= r["hhi"] <= r["top_share"] + 1e-9
    # hand-recompute one nation
    target = rows[0]["nation"]
    Q._view(spark, SF01, "lineitem", "supplier", "nation")
    per = spark.sql(
        f"""SELECT l_suppkey, sum(cast(l_extendedprice * (1 - l_discount)
            as decimal(18,6))) AS rev
            FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation n ON n.n_nationkey = s.s_nationkey
            WHERE n.n_name = '{target}' GROUP BY l_suppkey"""
    ).collect()
    tot = sum(float(p["rev"]) for p in per)
    import math

    hhi = sum(math.floor((float(p["rev"]) / tot) ** 2 * Q._HHI_Q) for p in per) / Q._HHI_Q
    assert abs(rows[0]["hhi"] - hhi) < 1e-9
    assert rows[0]["n_suppliers"] == len(per)


def test_sprt_llr_recomputes_and_branches_live(spark):
    rows = Q.REGISTRY["sprt_ab"][0](spark, SF01).collect()
    by_test = {}
    for r in rows:
        by_test.setdefault(r["test_name"], []).append(r)
    assert set(by_test) == {n for n, _, _ in Q.SPRT_DESIGNS}
    states = set()
    for name, p0, p1 in Q.SPRT_DESIGNS:
        la, lb, upper, lower = Q._sprt_constants(p0, p1)
        cum = 0
        stop = None
        for r in sorted(by_test[name], key=lambda x: x["day"]):
            cum += r["n_conversions"] * la + (r["n_events"] - r["n_conversions"]) * lb
            assert abs(r["llr"] - cum / Q._SPRT_Q) < 1e-12
            want = (
                "accept_h1" if cum >= upper
                else "accept_h0" if cum <= lower else "continue"
            )
            assert r["boundary_state"] == want
            states.add(want)
            if stop is None and want != "continue":
                stop = r["day"]
            assert r["stopped_day"] == stop or (stop is None and r["stopped_day"] is not None and r["day"] < r["stopped_day"])
            if stop is not None:
                if r["day"] < stop:
                    assert r["sprt_status"] == "pre_stop"
                elif r["day"] == stop:
                    assert r["sprt_status"] in ("accept_h0", "accept_h1")
                else:
                    assert r["sprt_status"] == "post_stop"
    # liveness: the mirrored pair exercises continue AND both decisions
    assert states == {"continue", "accept_h0", "accept_h1"}


def test_seasonal_backtest_hand_wape(spark):
    out = {r["model"]: r for r in Q.REGISTRY["seasonal_backtest"][0](spark, SF01).collect()}
    assert set(out) == {"naive_1", "seasonal_7"}
    daily = {
        r["d"]: r["v"]
        for r in spark.sql(
            "SELECT (ts div 1000) div 86400000000 AS d, count(*) AS v"
            " FROM events GROUP BY 1"
        ).collect()
    }
    for model, lag in (("naive_1", 1), ("seasonal_7", 7)):
        pairs = [(v, daily[d - lag]) for d, v in daily.items() if d - lag in daily]
        r = out[model]
        assert r["n_forecasts"] == len(pairs)
        wape = sum(abs(a - f) for a, f in pairs) / sum(a for a, _ in pairs)
        assert abs(r["wape"] - wape) < 1e-12
        assert abs(r["bias"] - sum(f - a for a, f in pairs) / len(pairs)) < 1e-9


def test_winsorized_mean_hand_check(spark):
    r = Q.REGISTRY["winsorized_mean"][0](spark, SF01).collect()[0]
    cents = sorted(
        int(o["o_totalprice"] * 100 + 0.5)
        for o in spark.read.parquet(f"{SF01}/orders.parquet").collect()
    )
    assert r["n_orders"] == len(cents)
    lo, hi = r["p01_cents"], r["p99_cents"]
    assert cents[0] <= lo < hi <= cents[-1]
    w = [min(max(c, lo), hi) for c in cents]
    assert abs(r["winsorized_mean_cents"] - sum(w) / len(w)) < 1e-6
    assert r["n_clamped_low"] == sum(c < lo for c in cents)
    assert r["n_clamped_high"] == sum(c > hi for c in cents)
    # about 1% clamped each side (interpolated percentile, small-n slack)
    assert 0 < r["n_clamped_low"] <= len(cents) * 0.02
    assert 0 < r["n_clamped_high"] <= len(cents) * 0.02
    # winsorizing pulls the mean toward the center, never past the raw mean
    assert abs(r["winsorized_mean_cents"] - r["mean_cents"]) < (
        r["mean_cents"] * 0.05
    )


def test_cuped_invariants(spark):
    rows = {r["variant"]: r for r in Q.REGISTRY["cuped_adjustment"][0](spark, SF01).collect()}
    assert set(rows) == {0, 1}
    r0, r1 = rows[0], rows[1]
    assert r0["theta"] == r1["theta"]
    assert 0.0 <= r0["rho_sq"] <= 1.0
    # linearity identity: the user-weighted mean is invariant under CUPED
    n0, n1 = r0["n_users"], r1["n_users"]
    raw_w = (r0["raw_mean"] * n0 + r1["raw_mean"] * n1) / (n0 + n1)
    adj_w = (r0["cuped_mean"] * n0 + r1["cuped_mean"] * n1) / (n0 + n1)
    assert abs(raw_w - adj_w) < max(1.0, abs(raw_w)) * 1e-9
    # covariate imbalance exists (hash-split), so CUPED must actually move
    # at least one variant's mean (positive branch)
    assert any(abs(rows[v]["cuped_mean"] - rows[v]["raw_mean"]) > 1e-9 for v in rows)


# --- wave 8 ---


def test_srm_chi2_hand_check(spark):
    r = Q.REGISTRY["srm_check"][0](spark, SF01).collect()[0]
    users = {
        u["user_id"]
        for u in spark.read.parquet(f"{SF01}/events.parquet")
        .select("user_id")
        .distinct()
        .collect()
    }
    na = sum(1 for u in users if u % 2 == 0)
    nb = len(users) - na
    assert (r["n_a"], r["n_b"]) == (na, nb)
    assert abs(r["chi2"] - (na - nb) ** 2 / (na + nb)) < 1e-12
    assert r["srm_alarm"] == (r["chi2"] >= Q.SRM_CHI2_CRIT)
    # a hash split of a healthy population must NOT alarm
    assert not r["srm_alarm"]


def test_mde_power_shrinks_with_horizon(spark):
    rows = sorted(Q.REGISTRY["mde_power"][0](spark, SF01).collect(), key=lambda r: r["horizon_days"])
    assert [r["horizon_days"] for r in rows] == list(Q.MDE_HORIZONS)
    assert all(0.0 < r["baseline_rate"] < 1.0 for r in rows)
    # more runway -> smaller detectable effect, exactly like 1/sqrt(n)
    for a, b in zip(rows, rows[1:]):
        assert b["mde_abs"] < a["mde_abs"]
        ratio = a["mde_abs"] / b["mde_abs"]
        expect = (b["n_per_arm"] / a["n_per_arm"]) ** 0.5
        assert abs(ratio - expect) < 1e-9
    assert all(r["mde_rel"] == r["mde_abs"] / r["baseline_rate"] for r in rows)


def test_shapley_reconciles_to_conversions(spark):
    rows = {r["channel"]: r for r in Q.REGISTRY["shapley_attribution"][0](spark, SF01).collect()}
    assert set(rows) <= set(Q.SHAPLEY_CHANNELS) | {"untouched"}
    total_credit = sum(r["shapley_conversions"] for r in rows.values())
    total_share = sum(r["credit_share"] for r in rows.values())
    # credit partitions the converting users exactly (the 1/|S| identity)
    Q._events_view(spark, SF01)
    n_conv = spark.sql(
        "SELECT count(DISTINCT user_id) AS n FROM events"
        " WHERE event_type = 'purchase'"
    ).collect()[0]["n"]
    assert abs(total_credit - n_conv) < 1e-9
    assert abs(total_share - 1.0) < 1e-12
    # every real channel got some credit on this dense stream
    assert all(rows[c]["shapley_conversions"] > 0 for c in Q.SHAPLEY_CHANNELS if c in rows)


def test_mad_anomalies_robustness(spark):
    rows = Q.REGISTRY["mad_anomalies"][0](spark, SF01).collect()
    import statistics

    vs = [r["v_cents"] for r in rows]
    med = statistics.median(vs)
    mad = statistics.median(sorted(abs(v - med) for v in vs))
    for r in rows:
        want = 0.6745 * (r["v_cents"] - med) / mad
        assert abs(r["modified_z"] - want) < 1e-9
        assert r["is_anomaly"] == (abs(want) > Q.MAD_Z_CRIT)
    # the day nearest the (interpolated) median scores near 0 -- the
    # median of an even day count falls BETWEEN days, so exactly-0 is
    # not attainable; 0.5 sigma-equivalents is the honest bound
    assert min(abs(r["modified_z"]) for r in rows) < 0.5


def test_retention_decay_fit_matches_hand_ols(spark):
    r = Q.REGISTRY["retention_decay_fit"][0](spark, SF01).collect()[0]
    assert r["n_offsets"] > 3
    assert r["lambda_per_day"] != 0.0
    if r["lambda_per_day"] > 0:
        import math

        assert abs(r["half_life_days"] - math.log(2) / r["lambda_per_day"]) < 1e-9
    # recompute the pooled points + OLS exactly as the query defines them
    import math

    ev = spark.sql(
        "SELECT DISTINCT user_id, (ts div 1000) div 86400000000 AS d FROM events"
        " WHERE event_type = 'purchase'"
    ).collect()
    first = {}
    for e in ev:
        first[e["user_id"]] = min(first.get(e["user_id"], 10**18), e["d"])
    dmax = max(e["d"] for e in ev)
    sizes = {}
    for c0 in first.values():
        sizes[c0] = sizes.get(c0, 0) + 1
    act = {}
    for e in ev:
        o = e["d"] - first[e["user_id"]]
        if o > 0:
            act.setdefault(o, set()).add(e["user_id"])
    pts = []
    for o, us in act.items():
        tot = sum(sz for c0, sz in sizes.items() if c0 + o <= dmax)
        if tot > 0 and us:
            pts.append((o, math.floor(math.log(len(us) / tot) * Q._RETFIT_Q)))
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    lam = -((n * sxy - sx * sy) / (n * sxx - sx * sx)) / Q._RETFIT_Q
    assert r["n_offsets"] == n
    assert abs(r["lambda_per_day"] - lam) < 1e-15
