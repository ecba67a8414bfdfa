"""Round-9 wave-10 operator invariants: classical decomposition, trending
terms, RAKE keyphrases -- structural properties plus driver-side reference
recomputation where cheap (FIXTURES.md discipline)."""

from __future__ import annotations

from collections import Counter, defaultdict

from sentiment_analysis_data_pipeline_spark import queries as Q

SF = "/root/testdata/sf0.001"


def test_seasonal_decompose_identities(spark):
    rows = Q.REGISTRY["seasonal_decompose"][0](spark, SF).collect()
    assert rows, "decomposition empty"
    # additive identity holds exactly by construction
    for r in rows:
        recon = r["trend_cents"] + r["seasonal_cents"] + r["residual_cents"]
        assert abs(recon - r["revenue_cents"]) < 1e-6
        assert r["dow"] == r["day"] % 7
    # trend is the true centered 7-day mean of the daily series
    Q._events_view(spark, SF)
    daily = {
        r["dd"]: r["v"]
        for r in spark.sql(
            "SELECT (ts div 1000) div 86400000000 AS dd,"
            " cast(sum(cast(floor(value * 100) as bigint)) as bigint) AS v"
            " FROM events WHERE event_type = 'purchase' GROUP BY dd"
        ).collect()
    }
    for r in rows:
        window = [daily.get(r["day"] + k) for k in range(-3, 4)]
        assert all(v is not None for v in window)  # full windows only
        assert abs(r["trend_cents"] - sum(window) / 7.0) < 1e-9
    # seasonal components re-center to ~0 (floor bias < 7 quanta)
    seasonal_by_dow = {r["dow"]: r["seasonal_cents"] for r in rows}
    s = sum(seasonal_by_dow.values())
    assert -1e-4 < s < 1e-3
    # the weekly signal is LIVE: not all components identical
    assert max(seasonal_by_dow.values()) > min(seasonal_by_dow.values())


def test_trending_terms_reference(spark):
    out = Q.REGISTRY["trending_terms"][0](spark, SF).collect()
    assert 0 < len(out) <= Q._TREND_TOP
    zs = [r["z"] for r in out]
    assert zs == sorted(zs, reverse=True)
    assert zs[0] > 0  # the riser branch is LIVE (partial months excluded)
    # full reference recomputation
    Q._view(spark, SF, "lineitem", "part")
    toks = spark.sql(
        "SELECT explode(split(lower(p.p_name), '[^a-z0-9]+')) AS w,"
        " (cast(year(l.l_shipdate) as bigint) * 12"
        "  + cast(month(l.l_shipdate) as bigint)) AS mk"
        " FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey"
    ).collect()
    cnt: Counter = Counter()
    for r in toks:
        if r["w"]:
            cnt[(r["w"], r["mk"])] += 1
    mtot: Counter = Counter()
    for (w, mk), n in cnt.items():
        mtot[mk] += n
    tmax = max(mtot.values())
    comp = {mk for mk, t in mtot.items() if 2 * t >= tmax}
    last = max(comp)
    nm = len(comp)
    mom: dict = defaultdict(lambda: [0, 0])
    for (w, mk), n in cnt.items():
        if mk in comp:
            mom[w][0] += n
            mom[w][1] += n * n
    got = {r["term"]: r for r in out}
    for w, r in got.items():
        s1, s2 = mom[w]
        mean = s1 / nm
        var = s2 / nm - mean * mean
        n_latest = cnt[(w, last)]
        assert r["n_latest"] == n_latest
        assert abs(r["mean_monthly"] - mean) < 1e-9
        if s2 * nm == s1 * s1:
            assert r["z"] == 0.0
        else:
            assert abs(r["z"] - (n_latest - mean) / var**0.5) < 1e-9


def test_rake_keyphrases_reference(spark):
    out = Q.REGISTRY["rake_keyphrases"][0](spark, SF).collect()
    assert 0 < len(out) <= Q._RAKE_TOP
    scores = [r["rake_score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    # multi-word extraction is LIVE
    assert any(" " in r["phrase"] for r in out)
    # reference RAKE over the same analyzer stream
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    import re

    stop = set(Q.TX.STOPWORDS)
    phrases: list[list[str]] = []
    for doc in docs:
        toks = [t for t in re.split(r"[^a-z0-9]+", (doc["text"] or "").lower())]
        run: list[str] = []
        for t in toks:
            if t and t not in stop:
                run.append(t)
            else:
                if run:
                    phrases.append(run)
                run = []
        if run:
            phrases.append(run)
    kept = [p for p in phrases if len(p) <= Q._RAKE_MAX_LEN]
    freq: Counter = Counter()
    deg: Counter = Counter()
    for p in kept:
        for w in p:
            freq[w] += 1
            deg[w] += len(p)
    import math

    def score(p):
        return sum(
            math.floor((deg[w] / freq[w]) * Q._RAKE_Q) for w in p
        ) / Q._RAKE_Q

    occ: Counter = Counter(" ".join(p) for p in kept)
    ref = sorted(
        ((score(p.split(" ")), p) for p in occ),
        key=lambda t: (-t[0], t[1]),
    )[: Q._RAKE_TOP]
    got = [(r["rake_score"], r["phrase"]) for r in out]
    for (rs, rp), (gs, gp) in zip(ref, got):
        assert rp == gp
        assert abs(rs - gs) < 1e-9
    for r in out:
        assert r["n_occurrences"] == occ[r["phrase"]]
