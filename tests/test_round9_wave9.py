"""Round-9 wave-9 operator invariants: ranking eval, calibration fitting,
survival analysis, rank-sum inference, soft dedup. Each test proves the
structural property the oracle hash cannot see (FIXTURES.md discipline) --
and where a driver-side reference implementation is cheap, the distributed
result is checked against it EXACTLY."""

from __future__ import annotations

from sentiment_analysis_data_pipeline_spark import queries as Q
from sentiment_analysis_data_pipeline_spark.functions import dialect as D

SF = "/root/testdata/sf0.001"


def _scored_rows(spark):
    Q._view(spark, SF, "documents")
    return spark.sql(Q._clf_scored_sql(D.SPARK)).collect()


def test_average_precision_matches_reference(spark):
    out = {r["source"]: r for r in Q.REGISTRY["average_precision"][0](spark, SF).collect()}
    rows = _scored_rows(spark)
    # driver-side reference with the identical tie convention: descending
    # distinct-score blocks, precision at block end, quantized at 2^-40
    from collections import Counter

    hist: Counter = Counter()
    pos: Counter = Counter()
    for r in rows:
        hist[r["sq"]] += 1
        pos[r["sq"]] += r["y"]
    cum_n = cum_p = 0
    num = 0
    import math

    for sq in sorted(hist, reverse=True):
        cum_n += hist[sq]
        cum_p += pos[sq]
        num += pos[sq] * math.floor((cum_p / cum_n) * Q._AP_Q)
    n_pos = sum(pos.values())
    ref = num / (n_pos * Q._AP_Q)
    got = out["ALL"]
    assert got["n_docs"] == len(rows) and got["n_pos"] == n_pos
    assert abs(got["average_precision"] - ref) < 1e-12
    # AP is a probability-like score; lift reconciles with prevalence
    for r in out.values():
        assert 0.0 <= r["average_precision"] <= 1.0
        if r["n_pos"]:
            assert abs(
                r["ap_lift"] * r["prevalence"] - r["average_precision"]
            ) < 1e-12


def test_cumulative_gains_accounting(spark):
    rows = Q.REGISTRY["cumulative_gains"][0](spark, SF).collect()  # band DESC order
    assert rows, "gains table empty"
    last = rows[-1]
    assert last["pop_share"] == 1.0 and last["recall"] == 1.0
    prev_pop = prev_rec = 0.0
    for r in rows:
        assert r["cum_n"] >= r["n_docs"] > 0
        assert 0.0 <= r["precision_at"] <= 1.0
        assert r["pop_share"] >= prev_pop and r["recall"] >= prev_rec
        prev_pop, prev_rec = r["pop_share"], r["recall"]
        # lift * prevalence == precision (fixed-chain identity)
        prevalence = last["cum_pos"] / last["cum_n"]
        assert abs(r["lift"] * prevalence - r["precision_at"]) < 1e-9


def _pava(weights: list[int], sums: list[int]) -> list[list[int]]:
    """Reference pool-adjacent-violators: returns the pooled (w, s) blocks;
    the caller re-expands them against the band weights."""
    blocks: list[list[int]] = []
    for w, s in zip(weights, sums):
        blocks.append([w, s])
        while len(blocks) > 1 and (
            blocks[-2][1] / blocks[-2][0] > blocks[-1][1] / blocks[-1][0]
        ):
            w2, s2 = blocks.pop()
            blocks[-1][0] += w2
            blocks[-1][1] += s2
    return blocks


def test_isotonic_matches_pava(spark):
    out = Q.REGISTRY["isotonic_calibration"][0](spark, SF).collect()  # band ASC
    weights = [r["n_docs"] for r in out]
    raw = [r["pos_rate_raw"] for r in out]
    sums = [round(r * w) for r, w in zip(raw, weights)]
    blocks = _pava(weights, sums)
    # expand pooled blocks to per-band fitted values
    fitted: list[float] = []
    i = 0
    for bw, bs in blocks:
        acc = 0
        while acc < bw:
            acc += weights[i]
            fitted.append(bs / bw)
            i += 1
        assert acc == bw, "PAVA block does not align with band boundaries"
    assert len(fitted) == len(out)
    for r, f in zip(out, fitted):
        assert abs(r["pos_rate_iso"] - f) < 1e-12
    # monotone nondecreasing by construction
    iso = [r["pos_rate_iso"] for r in out]
    assert all(a <= b + 1e-15 for a, b in zip(iso, iso[1:]))
    # the fit actually pooled something on this corpus (positive branch)
    assert any(abs(a - b) > 1e-9 for a, b in zip(iso, raw))


def test_mann_whitney_matches_reference(spark):
    out = Q.REGISTRY["mann_whitney"][0](spark, SF).collect()[0]
    Q._events_view(spark, SF)
    vals = spark.sql(
        "SELECT case when event_type = 'purchase' then 1 else 0 end AS g,"
        " cast(floor(value * 100) as bigint) AS v FROM events"
        " WHERE (event_type = 'purchase' OR event_type = 'view')"
        " AND value IS NOT NULL"
    ).collect()
    a = sorted(r["v"] for r in vals if r["g"] == 1)
    b = sorted(r["v"] for r in vals if r["g"] == 0)
    # exact tie-aware U via midranks
    from collections import Counter

    cnt_a, cnt_b = Counter(a), Counter(b)
    u2 = 0  # 2U, integer-exact
    cum_b = 0
    for v in sorted(set(a) | set(b)):
        u2 += cnt_a[v] * (2 * cum_b + cnt_b[v])
        cum_b += cnt_b[v]
    assert out["n1"] == len(a) and out["n2"] == len(b)
    assert abs(out["u_stat"] - u2 / 2.0) < 1e-9
    assert abs(out["rank_biserial"] - (u2 / (len(a) * len(b)) - 1.0)) < 1e-12
    # tie-corrected z reference
    n1, n2 = len(a), len(b)
    nn = n1 + n2
    tie3 = sum(
        t**3 - t for t in (cnt_a[v] + cnt_b[v] for v in set(a) | set(b))
    )
    var = n1 * n2 * ((nn**3 - nn) - tie3) / (12.0 * nn * (nn - 1.0))
    ref_z = (u2 - n1 * n2) / (2.0 * var**0.5)
    assert abs(out["z"] - ref_z) < 1e-9


def test_survival_hazard_identities(spark):
    rows = Q.REGISTRY["survival_hazard"][0](spark, SF).collect()
    Q._events_view(spark, SF)
    stats = spark.sql(
        "SELECT cast(count(*) as bigint) AS n_events,"
        " cast(count(distinct user_id) as bigint) AS n_users FROM events"
    ).collect()[0]
    # every non-final event is an observed return; rows hold ALL deaths
    assert sum(r["d_events"] for r in rows) == stats["n_events"] - stats["n_users"]
    # the gap-0 risk set is every episode = every event
    assert rows[0]["gap_hours"] >= 0
    first = rows[0]
    if first["gap_hours"] == 0:
        assert first["n_risk"] == stats["n_events"]
    prev_h = -1
    prev_risk = None
    cum = 0.0
    for r in rows:
        assert r["gap_hours"] > prev_h
        assert r["d_events"] >= 1  # death-anchored table
        assert 0.0 <= r["hazard"] <= 1.0
        assert r["n_risk"] >= r["d_events"]
        if prev_risk is not None:
            assert r["n_risk"] < prev_risk  # strictly shrinking risk set
        prev_risk, prev_h = r["n_risk"], r["gap_hours"]
        assert abs(r["hazard"] - r["d_events"] / r["n_risk"]) <= 1.0 / Q._HAZ_Q
        cum += r["hazard"]
        assert abs(r["na_cumhaz"] - cum) < 1e-6
    # censoring is LIVE (round-9 ADVICE: the old `... or n_users > 0` escape
    # hatch was vacuously true) -- every user contributes EXACTLY one
    # right-censored episode (the open last gap), so the UNFILTERED risk
    # table must carry sum(c_censored) == n_users; the reported table only
    # shows the death-anchored slice of them.
    unfiltered = spark.sql(
        Q._survival_hazard_sql(D.SPARK).replace("WHERE d_events > 0", "")
    ).collect()
    assert len(unfiltered) >= len(rows)
    assert sum(r["c_censored"] for r in unfiltered) == stats["n_users"]


def test_rec_eval_matches_reference(spark):
    out = Q.REGISTRY["rec_eval_topk"][0](spark, SF).collect()[0]
    Q._events_view(spark, SF)
    ev = spark.sql(
        "SELECT user_id, cast(get_json_object(props, '$.k') as bigint) AS item,"
        " (ts div 1000) AS us FROM events WHERE props IS NOT NULL"
    ).collect()
    ev = [r for r in ev if r["item"] is not None]
    lo = min(r["us"] for r in ev)
    hi = max(r["us"] for r in ev)
    cut = lo + ((hi - lo) * 4) // 5
    from collections import Counter, defaultdict

    train = Counter(r["item"] for r in ev if r["us"] < cut)
    test: dict = defaultdict(Counter)
    for r in ev:
        if r["us"] >= cut:
            test[r["user_id"]][r["item"]] += 1
    # popularity ranks via dominator count (ties break on smaller item id)
    rank = {
        it: 1
        + sum(
            1
            for jt, m in train.items()
            if m > n or (m == n and jt < it)
        )
        for it, n in train.items()
    }
    topk = {it: rk for it, rk in rank.items() if rk <= Q._REC_K}
    nq = Q._REC_NQ
    ndcg_qs, rr_qs, hits = [], [], 0
    for user, items in test.items():
        gains = {it: min(3, c) for it, c in items.items()}
        dcg_q = sum(
            g * Q._REC_WQ[topk[it] - 1] for it, g in gains.items() if it in topk
        )
        ideal = sorted(gains.items(), key=lambda kv: (-kv[1], kv[0]))[: Q._REC_K]
        idcg_q = sum(g * Q._REC_WQ[i] for i, (_, g) in enumerate(ideal))
        ndcg_qs.append((dcg_q * nq) // idcg_q)
        hit_ranks = [topk[it] for it in gains if it in topk]
        rr_qs.append(nq // min(hit_ranks) if hit_ranks else 0)
        hits += 1 if hit_ranks else 0
    n = len(test)
    assert out["n_eval_users"] == n
    assert abs(out["mean_ndcg"] - sum(ndcg_qs) / (n * nq)) < 1e-12
    assert abs(out["mean_mrr"] - sum(rr_qs) / (n * nq)) < 1e-12
    assert abs(out["hit_rate"] - hits / n) < 1e-12
    # positive branches: the baseline hits for some users and misses others
    assert 0.0 < out["hit_rate"] <= 1.0
    assert 0.0 < out["mean_ndcg"] < 1.0


def test_soft_dedup_reconciliation(spark):
    rows = Q.REGISTRY["dedup_weighted_sample"][0](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_kept"] <= r["n_docs"]
        assert 0.0 < r["expected_kept"] <= r["n_docs"] + 1e-9
    # sum of expected keeps == number of GLOBAL clusters weighted by the
    # per-source share; the global identity: sum over docs of 1/sz ==
    # n_clusters exactly (floor quantization costs < n_docs * 2^-30)
    Q._view(spark, SF, "documents")
    toks = Q.TX.tokenize(D.SPARK, Q.TEXT)
    prefix = D.arr_join(
        D.SPARK, D.arr_slice(D.SPARK, toks, 1, Q._SOFT_PREFIX_TOKENS), " "
    )
    n_clusters = spark.sql(
        f"SELECT count(distinct md5({prefix})) AS c FROM documents"
    ).collect()[0]["c"]
    total_expected = sum(r["expected_kept"] for r in rows)
    assert abs(total_expected - n_clusters) < 1e-3
    # the keep decision FIRES at this sf (positive branch)
    assert sum(r["n_kept"] for r in rows) < sum(r["n_docs"] for r in rows)
    # determinism: the draw is md5-based, not RNG
    again = {r["source"]: r["n_kept"] for r in Q.REGISTRY["dedup_weighted_sample"][0](spark, SF).collect()}
    assert all(again[r["source"]] == r["n_kept"] for r in rows)
