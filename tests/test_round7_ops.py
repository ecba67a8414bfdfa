"""Semantic tests for the round-7 batch-2 operators: exact substring-dedup
spans (duplicate_spans), held-out Stupid-Backoff bigram scoring
(heldout_bigram_nll), and the integer-exact PageRank step (pagerank_step).
Oracle parity is covered by tools/selfcheck.py; these pin the *meaning* on
hand-built rows with hand-computed expectations."""

from __future__ import annotations

import math

from sentiment_analysis_data_pipeline_spark import queries as Q

K = Q.DUP_SPAN_K  # 30


def _docs_view(spark, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).createOrReplaceTempView("documents")


# ---------------------------------------------------------------- dup spans

# 45 distinct chars, no internal 30-char repeat
SHARED = "the quick brown fox jumps over the lazy dogs!"[:45]


def test_duplicate_spans_cross_doc_span(spark):
    assert len(SHARED) == 45
    # boundary chars around SHARED differ between the docs, so the maximal
    # duplicated region is exactly the 45 shared chars (a shared space on
    # either side would legitimately extend the span -- caught v1 of this
    # fixture: the operator reported the honest 47)
    pre0, pre1 = "doc zero opening words here;", "another beginning entirelyQ"
    rows = [
        (0, pre0 + SHARED + "Atail zero", "en", "s", 1),
        (1, pre1 + SHARED + "Bother tail", "en", "s", 1),
        (2, "completely unique content with nothing shared anywhere at all", "en", "s", 1),
        (3, "short doc", "en", "s", 1),  # < K chars: zeros via left join
    ]
    _docs_view(spark, rows)
    out = {r["doc_id"]: r for r in spark.sql(Q.REGISTRY["duplicate_spans"][1](Q.D.SPARK)).collect()}
    assert set(out) == {0, 1, 2, 3}
    # the shared 45-char passage merges into ONE maximal span of 45 chars
    for doc, pre in ((0, pre0), (1, pre1)):
        r = out[doc]
        assert r["n_spans"] == 1 and r["dup_chars"] == 45
        assert r["dup_frac"] == 45.0 / r["n_chars"]
    assert out[2]["n_spans"] == 0 and out[2]["dup_chars"] == 0
    assert out[3]["n_spans"] == 0 and out[3]["dup_chars"] == 0 and out[3]["dup_frac"] == 0.0


def test_duplicate_spans_intra_doc_repeat_two_islands(spark):
    # A 35-char block repeated within ONE doc, separated by a unique middle:
    # each occurrence contributes its own maximal span (gap > K chars).
    block = "abcdefghij klmnopqrst uvwxyz 012345"[:35]
    assert len(block) == 35
    mid = " and some middle filler text between them "
    rows = [
        (4, block + mid + block, "en", "s", 1),
        (5, "an unrelated document long enough to hold a window", "en", "s", 1),
    ]
    _docs_view(spark, rows)
    out = {r["doc_id"]: r for r in spark.sql(Q.REGISTRY["duplicate_spans"][1](Q.D.SPARK)).collect()}
    assert out[4]["n_spans"] == 2 and out[4]["dup_chars"] == 70
    assert out[5]["n_spans"] == 0


def test_duplicate_spans_overlap_merges_single_island(spark):
    # One doc embeds TWO copies of a 60-char passage from another doc,
    # adjacent (gap < K): duplicated windows tile the whole 2x60 region and
    # must merge into a single island covering 120 chars.
    passage = "zero one two three four five six seven eight nine ten elevens"[:60]
    assert len(passage) == 60
    rows = [
        (0, "origin text holds the passage =" + passage, "en", "s", 1),
        (1, "copycat: " + passage + passage, "en", "s", 1),
    ]
    _docs_view(spark, rows)
    out = {r["doc_id"]: r for r in spark.sql(Q.REGISTRY["duplicate_spans"][1](Q.D.SPARK)).collect()}
    assert out[1]["n_spans"] == 1 and out[1]["dup_chars"] == 120
    # the origin's single copy is one 60-char span
    assert out[0]["n_spans"] == 1 and out[0]["dup_chars"] == 60


# --------------------------------------------------------- heldout bigram LM


def test_heldout_bigram_nll_main_and_backoff_paths(spark):
    # train = doc 1 ("a b a b c"): c(a_b)=2, c(b_a)=1, c(b_c)=1;
    # unigrams a:2 b:2 c:1 -> N=5, V=3.
    # eval = doc 0 ("a b z"): a_b trained -> NLL = ln(c(a)/c(a_b)) = ln(1);
    # b_z unseen -> backoff NLL = ln(5*(N+V) / (2*(c(z)+1))) = ln(40/2).
    rows = [
        (0, "a b z", "en", "s", 1),
        (1, "a b a b c", "en", "s", 1),
    ]
    _docs_view(spark, rows)
    out = spark.sql(Q.REGISTRY["heldout_bigram_nll"][1](Q.D.SPARK)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["doc_id"] == 0 and r["n_bigrams"] == 2
    q = float(Q._BGLM_Q)
    expect = (math.floor(math.log(1.0) * q) + math.floor(math.log(20.0) * q)) / (2 * q)
    assert r["bigram_nll"] == expect
    assert r["backoff_rate"] == 0.5


def test_heldout_bigram_nll_seen_left_unseen_bigram(spark):
    # Bigram x_y where BOTH unigrams trained but the pair never did:
    # still the backoff path (Stupid Backoff backs off on pair miss, using
    # c(y)), NOT ln(c(x)/0).
    rows = [
        (0, "x y", "en", "s", 1),
        (1, "x q y q x q", "en", "s", 1),  # x:3 q:3 y:... wait y appears once
    ]
    # train "x q y q x q": unigrams x:2? -> recount: tokens x q y q x q
    # x:2 q:3 y:1 -> N=6, V=3; bigrams x_q, q_y, y_q, q_x, x_q
    _docs_view(spark, rows)
    r = spark.sql(Q.REGISTRY["heldout_bigram_nll"][1](Q.D.SPARK)).collect()[0]
    q = float(Q._BGLM_Q)
    # backoff for x_y: ln(5*(6+3) / (2*(c(y)+1))) = ln(45/4)
    expect = math.floor(math.log(45.0 / 4.0) * q) / q
    assert r["n_bigrams"] == 1 and r["backoff_rate"] == 1.0
    assert r["bigram_nll"] == expect


# --------------------------------------------------------------- pagerank


def _pagerank_over(spark, edges):
    spark.createDataFrame(edges, "id_a long, id_b long").createOrReplaceTempView(
        "pr_test_edges"
    )
    return spark.sql(
        Q._pagerank_body(Q.D.SPARK, "SELECT id_a, id_b FROM pr_test_edges")
    ).collect()


def test_pagerank_step_path_graph_exact(spark):
    # path 1-2-3: deg 1,2,1; N=3; one damped iteration from uniform.
    rows = _pagerank_over(spark, [(1, 2), (2, 3)])
    PQ = Q._PR_Q
    contrib = {
        1: PQ // (3 * 2),  # from node 2
        2: PQ // (3 * 1) + PQ // (3 * 1),  # from nodes 1 and 3
        3: PQ // (3 * 2),
    }
    expect = {
        n: ((15 * PQ) // (100 * 3) + (85 * sq) // 100) / float(PQ)
        for n, sq in contrib.items()
    }
    got = {r["node"]: r["pagerank"] for r in rows}
    assert got == expect
    # the hub outranks the leaves; leaves tie and sort by node asc
    assert [r["node"] for r in rows] == [2, 1, 3]
    assert {r["node"]: r["degree"] for r in rows} == {1: 1, 2: 2, 3: 1}


def test_pagerank_step_mass_conservation_bound(spark):
    # On any graph, one damped iteration from uniform preserves total mass
    # up to quantization: sum(pr) in (1 - eps, 1].
    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    rows = _pagerank_over(spark, edges)
    total = sum(r["pagerank"] for r in rows)
    assert 0.999 < total <= 1.0 + 1e-12


# ------------------------------------------------------------- cdc chunks


def _cdc(spark):
    return {r["doc_id"]: r for r in spark.sql(Q.REGISTRY["cdc_chunks"][1](Q.D.SPARK)).collect()}


def test_cdc_chunks_identical_docs_fully_dup(spark):
    # Two identical docs: every chunk's content hash appears >= 2 times
    # corpus-wide, so the whole token mass is duplicated.
    body = " ".join(f"word{i} filler{i % 7} common{i % 3}" for i in range(40))
    rows = [
        (0, body, "en", "s", 1),
        (1, body, "en", "s", 1),
        (2, "totally different vocabulary everywhere zebra quux xylophone", "en", "s", 1),
    ]
    _docs_view(spark, rows)
    out = _cdc(spark)
    for doc in (0, 1):
        r = out[doc]
        assert r["n_chunks"] >= 1
        assert r["dup_chunks"] == r["n_chunks"]
        assert r["dup_tokens"] == r["n_tokens"] == 120
        assert r["dup_token_frac"] == 1.0
    assert out[2]["dup_chunks"] == 0 and out[2]["dup_token_frac"] == 0.0


def test_cdc_chunks_token_conservation_and_empty_doc(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon", "en", "s", 1),
        (1, "", "en", "s", 1),  # zero tokens -> all-zero row via left join
    ]
    _docs_view(spark, rows)
    out = _cdc(spark)
    assert out[0]["n_tokens"] == 5  # chunks partition the token stream exactly
    assert out[1]["n_chunks"] == 0 and out[1]["n_tokens"] == 0
    assert out[1]["dup_token_frac"] == 0.0


def test_cdc_chunks_shift_invariance(spark):
    # The CDC property fixed-size blocking lacks: prepending words to a doc
    # re-derives the SAME cut points in the shared tail (boundaries depend
    # only on the trailing token window), so a large shared suffix still
    # dedups chunk-for-chunk past the first post-insertion boundary.
    tail = " ".join(f"tok{i} item{i % 11} val{i % 5}" for i in range(64))  # 192 tokens
    rows = [
        (0, tail, "en", "s", 1),
        (1, "three inserted prefix words " + tail, "en", "s", 1),
    ]
    _docs_view(spark, rows)
    out = _cdc(spark)
    # deterministic given the fixed text: at least one boundary falls in the
    # shared 192-token tail, so both docs carry duplicated chunk mass
    assert out[0]["dup_tokens"] > 0
    assert out[1]["dup_tokens"] > 0
    # doc 1's prefix head chunk differs, so it cannot be 100% duplicated
    assert out[1]["dup_tokens"] < out[1]["n_tokens"]


# ------------------------------------------------------- countmin sketch


def test_countmin_exact_counts_and_no_underestimate(spark):
    rows = [
        (0, "apple apple apple banana banana cherry", "en", "s", 1),
        (1, "apple apple banana date", "en", "s", 1),
    ]
    _docs_view(spark, rows)
    out = spark.sql(Q.REGISTRY["countmin_heavy_hitters"][1](Q.D.SPARK)).collect()
    got = {r["token"]: r for r in out}
    assert got["apple"]["exact_count"] == 5
    assert got["banana"]["exact_count"] == 3
    assert got["cherry"]["exact_count"] == 1
    assert got["date"]["exact_count"] == 1
    # CM never underestimates
    for r in out:
        assert r["cm_estimate"] >= r["exact_count"]
        assert r["overestimate"] == r["cm_estimate"] - r["exact_count"]
    # 4 distinct tokens in 512 columns: no all-4-rows collision in this
    # fixed corpus, so the estimates are exact (deterministic given md5)
    for r in out:
        assert r["overestimate"] == 0
    # ordered by exact count desc, token asc
    assert [r["token"] for r in out[:2]] == ["apple", "banana"]


# ------------------------------------------------------- dup span pairs


def test_dup_span_pairs_basic_attribution(spark):
    # SHARED is 45 chars -> 45-30+1 = 16 distinct shingle hashes shared by
    # docs 0 and 1; approx_shared_chars = 16 + 29 = 45 (single island).
    pre0, pre1 = "doc zero opening words here;", "another beginning entirelyQ"
    rows = [
        (0, pre0 + SHARED + "Atail zero", "en", "s", 1),
        (1, pre1 + SHARED + "Bother tail", "en", "s", 1),
        (2, "completely unique content with nothing shared anywhere at all", "en", "s", 1),
    ]
    _docs_view(spark, rows)
    out = spark.sql(Q.REGISTRY["dup_span_pairs"][1](Q.D.SPARK)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["doc_a"], r["doc_b"]) == (0, 1)
    assert r["shared_shingles"] == 16
    assert r["approx_shared_chars"] == 45


def test_dup_span_pairs_repeat_within_doc_counts_once(spark):
    # Doc 1 contains the passage TWICE: postings are distinct (doc, hash)
    # pairs, so the pair score is still the 16 distinct shared hashes.
    pre0 = "doc zero opening words here;"
    rows = [
        (0, pre0 + SHARED + "Atail zero", "en", "s", 1),
        (1, "copycat: " + SHARED + " gap gap gap " + SHARED, "en", "s", 1),
    ]
    _docs_view(spark, rows)
    out = spark.sql(Q.REGISTRY["dup_span_pairs"][1](Q.D.SPARK)).collect()
    pair = {(r["doc_a"], r["doc_b"]): r for r in out}
    # intra-doc adjacency in doc 1 creates a few extra shared windows at the
    # junctions only if they also appear in doc 0 -- they don't, so exactly 16
    assert pair[(0, 1)]["shared_shingles"] == 16


def test_dup_span_pairs_df_cap_drops_boilerplate(spark):
    # A passage shared verbatim by 55 docs exceeds DUP_PAIR_DF_CAP=50:
    # every one of its shingle hashes is boilerplate-capped, so the 55-doc
    # clique contributes NO pairs (instead of 55*54/2 = 1485 quadratic
    # ones) -- while a passage shared by just two docs still pairs them.
    # Docs are EXACTLY the passage: any decoration risks sub-cap shared
    # windows between decorations (v1 of this fixture: "head 1"/"head 12"
    # prefixes share their windows ending at the common first digit).
    assert Q.DUP_PAIR_DF_CAP == 50
    other = "an entirely different sentence that two documents quote in full"
    rows = [(i, SHARED, "en", "s", 1) for i in range(55)]
    rows += [
        # heads end in DIFFERENT chars so no junction window is shared
        (100, "first quoting doc:" + other, "en", "s", 1),
        (101, "second quoting doc;" + other, "en", "s", 1),
    ]
    _docs_view(spark, rows)
    out = spark.sql(Q.REGISTRY["dup_span_pairs"][1](Q.D.SPARK)).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in out] == [(100, 101)]
    assert out[0]["shared_shingles"] == len(other) - K + 1


# ------------------------------------------------------- triangle count


def _triangles_over(spark, edges, cap=Q.TRI_DEGREE_CAP):
    spark.createDataFrame(edges, "id_a long, id_b long").createOrReplaceTempView(
        "tri_test_edges"
    )
    return spark.sql(
        Q._triangle_count_body(
            Q.D.SPARK, "SELECT id_a, id_b FROM tri_test_edges", cap
        )
    ).collect()[0]


def test_triangle_count_hand_graph(spark):
    # K3 on {1,2,3} plus a pendant 4: one triangle; degrees 2,2,3,1 ->
    # wedges = (2+2+6+0)/2 = 5; transitivity = 3*1/5.
    r = _triangles_over(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    assert r["n_nodes"] == 4 and r["n_edges"] == 4
    assert r["n_hub_nodes"] == 0 and r["n_hub_edges"] == 0
    assert r["n_triangles"] == 1 and r["n_wedges"] == 5
    assert r["max_degree"] == 3
    assert r["transitivity"] == 3.0 / 5.0


def test_triangle_count_canonicalizes_input(spark):
    # reversed + duplicate edges collapse before counting; a triangle-free
    # path graph reports transitivity 0.0 with wedges > 0
    r = _triangles_over(spark, [(2, 1), (1, 2), (2, 3), (3, 2)])
    assert r["n_edges"] == 2 and r["n_triangles"] == 0
    assert r["n_wedges"] == 1 and r["transitivity"] == 0.0


def test_triangle_count_hub_exclusion(spark):
    # star K1,5 around node 0 with cap 3: the hub (degree 5) is excluded
    # and reported; the remaining subgraph is edge-free -> zero wedges/
    # triangles, transitivity 0.0; global stats stay uncapped
    star = [(0, i) for i in range(1, 6)]
    r = _triangles_over(spark, star, cap=3)
    assert r["n_nodes"] == 6 and r["n_edges"] == 5 and r["max_degree"] == 5
    assert r["n_hub_nodes"] == 1 and r["n_hub_edges"] == 5
    assert r["n_wedges"] == 0 and r["n_triangles"] == 0
    assert r["transitivity"] == 0.0


def test_triangle_count_hub_exclusion_partial(spark):
    # K3 {1,2,3} + hub 0 wired to everything (degree 5 > cap 3): hub
    # edges drop, the K3 survives intact -> its triangle still counts
    edges = [(1, 2), (2, 3), (1, 3), (0, 1), (0, 2), (0, 3), (0, 4), (0, 5)]
    r = _triangles_over(spark, edges, cap=3)
    assert r["n_hub_nodes"] == 1 and r["n_hub_edges"] == 5
    assert r["n_triangles"] == 1 and r["n_wedges"] == 3
    assert r["transitivity"] == 1.0


# ------------------------------------------------- source ngram overlap


def test_source_ngram_overlap_matrix(spark):
    rows = [
        (0, "one two three four", "en", "alpha", 1),
        (1, "two three four five", "en", "beta", 1),
        (2, "zebra quux xylophone corge", "en", "gamma", 1),
    ]
    _docs_view(spark, rows)
    out = spark.sql(Q.REGISTRY["source_ngram_overlap"][1](Q.D.SPARK)).collect()
    # every pair present even when fully disjoint
    assert len(out) == 3
    by_pair = {(r["source_a"], r["source_b"]): r for r in out}
    ab = by_pair[("alpha", "beta")]
    # alpha trigrams {one_two_three, two_three_four}; beta {two_three_four,
    # three_four_five}: shared 1 of union 3
    assert ab["shingles_a"] == 2 and ab["shingles_b"] == 2 and ab["shared"] == 1
    assert ab["jaccard"] == 1.0 / 3.0
    assert by_pair[("alpha", "gamma")]["shared"] == 0
    assert by_pair[("beta", "gamma")]["jaccard"] == 0.0
    # sorted by jaccard desc first
    assert (out[0]["source_a"], out[0]["source_b"]) == ("alpha", "beta")


def test_source_ngram_overlap_dedups_within_source(spark):
    # the SAME trigram appearing in two docs of one source counts once in
    # that source's shingle-set size
    rows = [
        (0, "alpha repeated ngram here", "en", "s1", 1),
        (1, "alpha repeated ngram there", "en", "s1", 1),
        (2, "unrelated other content words", "en", "s2", 1),
    ]
    _docs_view(spark, rows)
    out = {(r["source_a"], r["source_b"]): r for r in
           spark.sql(Q.REGISTRY["source_ngram_overlap"][1](Q.D.SPARK)).collect()}
    r = out[("s1", "s2")]
    # s1 docs: {alpha_repeated_ngram, repeated_ngram_here} and
    # {alpha_repeated_ngram, repeated_ngram_there} -> 3 distinct
    assert r["shingles_a"] == 3 and r["shingles_b"] == 2 and r["shared"] == 0


# ---------------------------------------------------------- lsh band sweep


def test_lsh_band_sweep_identical_pair_all_configs(spark):
    # Two identical docs share the full signature, hence at least one band
    # key in EVERY banding config; with exactly one true >= 0.5 pair, every
    # config reports recall 1.0. Unique docs contribute no truth pairs.
    dup = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (0, dup, "en", "s", 1),
        (1, dup, "en", "s", 1),
        (2, "completely different words about entirely other topics and things", "en", "s", 1),
        (3, "yet another unrelated document speaking of separate matters only", "en", "s", 1),
    ]
    _docs_view(spark, rows)
    out = spark.sql(Q._lsh_band_sweep_sql(Q.D.SPARK)).collect()
    assert len(out) == 4
    assert {(r["bands"], r["rows_per_band"]) for r in out} == set(Q.SWEEP_CONFIGS)
    for r in out:
        assert r["n_truth"] == 1
        assert r["n_hits"] == 1 and r["n_candidates"] >= 1
        assert r["recall_at_half"] == 1.0
        assert 0.0 < r["precision_at_half"] <= 1.0
        assert r["n_hub_keys"] == 0
    # S-curve midpoints: finer banding -> lower threshold
    taus = {(r["bands"], r["rows_per_band"]): r["s_curve_tau"] for r in out}
    assert taus[(16, 1)] < taus[(8, 2)] < taus[(4, 4)] < taus[(2, 8)]


def test_lsh_band_sweep_hub_cap_excludes_and_reports(spark):
    # SWEEP_KEY_CAP + 4 identical docs: every band key of every config is
    # shared by all of them -> all keys are hub keys -> zero candidates, a
    # positive hub-key count, and the truth pairs (below the truth df cap)
    # are honestly reported as missed (recall 0.0), not silently exploded
    # into cap^2 candidate pairs.
    n = Q.SWEEP_KEY_CAP + 4
    txt = "one common passage repeated verbatim across every document in this synthetic hub corpus"
    rows = [(i, txt, "en", "s", 1) for i in range(n)]
    _docs_view(spark, rows)
    out = spark.sql(Q._lsh_band_sweep_sql(Q.D.SPARK)).collect()
    expect_truth = n * (n - 1) // 2
    for r in out:
        assert r["n_truth"] == expect_truth
        assert r["n_candidates"] == 0 and r["n_hits"] == 0
        assert r["n_hub_keys"] >= 1
        assert r["recall_at_half"] == 0.0 and r["precision_at_half"] == 0.0


def test_lsh_band_sweep_truth_consistent_with_ngram_jaccard(spark):
    # n_truth uses the same df-capped inverted-index rule as the
    # ngram_jaccard_pairs registry query: the counts must agree on real data.
    sf = "/root/testdata/sf0.001"
    sweep = Q.q_lsh_band_sweep(spark, sf).collect()
    truths = {r["n_truth"] for r in sweep}
    assert len(truths) == 1
    assert truths.pop() == Q.q_ngram_jaccard_pairs(spark, sf).count()


# -------------------------------------------------------- classifier score


def _clf_replica(rows):
    """Pure-Python bit-for-bit replica of _classifier_score_core for texts
    of plain lowercase space-separated words (tokenize == str.split)."""
    import math

    QI = 1 << 20
    qf = float(QI)
    W0 = Q._LR_W0
    LR = Q._LR_RATE
    feats = []
    for _doc_id, text, lang, source, n_chars in rows:
        nt = len(text.split())
        x1 = n_chars / 1000.0
        x2 = nt / 100.0
        x3 = n_chars / (nt + 1.0) / 10.0
        feats.append((source, x1, x2, x3, 1 if lang == "en" else 0))
    n = len(feats)
    g = [0, 0, 0, 0]
    for _s, x1, x2, x3, y in feats:
        z0 = W0[0] + W0[1] * x1 + W0[2] * x2 + W0[3] * x3
        rq = math.floor((1.0 / (1.0 + math.exp(-z0))) * qf) - y * QI
        for j, fx in enumerate((1.0, x1, x2, x3)):
            g[j] += rq * math.floor(fx * qf)
    qq = qf * qf
    w1 = [W0[j] - LR * (float(g[j]) / (n * qq)) for j in range(4)]
    cells: dict = {}
    for s, x1, x2, x3, _y in feats:
        z1 = w1[0] + w1[1] * x1 + w1[2] * x2 + w1[3] * x3
        sq = math.floor((1.0 / (1.0 + math.exp(-z1))) * qf)
        band = min(9, (sq * 10) // QI)
        c, t = cells.get((s, band), (0, 0))
        cells[(s, band)] = (c + 1, t + sq)
    totals: dict = {}
    for (s, _b), (c, _t) in cells.items():
        totals[s] = totals.get(s, 0) + c
    return {
        (s, b): (
            c,
            float(b) / 10.0,
            float(c) / float(totals[s]),
            (float(t) / (float(c) * qf)),
        )
        for (s, b), (c, t) in cells.items()
    }


def test_classifier_score_replica_exact(spark):
    rows = [
        (0, "short words here now", "en", "alpha", 120),
        (1, "a much longer document with many more tokens than the first one has", "en", "alpha", 900),
        (2, "medium length text with several words inside it", "fr", "beta", 450),
        (3, "tiny", "en", "beta", 8),
        (4, "another alpha doc of middling size and ordinary words", "en", "alpha", 300),
    ]
    _docs_view(spark, rows)
    got = {
        (r["source"], r["band"]): (
            r["n_docs"], r["band_lo"], r["share"], r["band_mean_score"],
        )
        for r in spark.sql(Q.REGISTRY["classifier_score"][1](Q.D.SPARK)).collect()
    }
    assert got == _clf_replica(rows)


def test_classifier_score_bands_partition_sources(spark):
    # shares within one source sum to 1.0 (exact: each is c/total with the
    # same total) and every band is in [0, 9]
    sf = "/root/testdata/sf0.001"
    out = Q.REGISTRY["classifier_score"][0](spark, sf).collect()
    per_src: dict = {}
    for r in out:
        assert 0 <= r["band"] <= 9
        per_src.setdefault(r["source"], []).append(r)
    for _s, rs in per_src.items():
        assert abs(sum(r["share"] for r in rs) - 1.0) < 1e-12
        assert sum(r["n_docs"] for r in rs) >= 1


# ----------------------------------------------------------- char entropy


def _entropy_replica(rows):
    """Pure-Python bit-for-bit replica of _char_entropy_sql."""
    import math
    from collections import Counter

    QE = Q._ENT_Q
    qf = float(QE)
    per_doc: dict = {}
    for _doc_id, text, _lang, source, _n in rows:
        if len(text) < 1:
            continue
        freq = Counter(text)
        L = len(text)
        eq = sum(
            c * math.floor((math.log(L / c) * Q._INV_LN2) * qf)
            for c in freq.values()
        ) // L
        per_doc.setdefault(source, []).append((eq, len(freq)))
    out = {}
    for s, docs in per_doc.items():
        n = len(docs)
        out[s] = (
            n,
            float(sum(e for e, _ in docs)) / (float(n) * qf),
            float(min(e for e, _ in docs)) / qf,
            float(max(e for e, _ in docs)) / qf,
            sum(1 for e, _ in docs if e < 2 * QE),
            float(sum(d for _, d in docs)) / float(n),
        )
    return out


def test_char_entropy_replica_exact(spark):
    rows = [
        (0, "aaaaaaaaaa", "en", "alpha", 1),          # 0 bits: one symbol
        (1, "abababababab", "en", "alpha", 1),        # 1 bit: two symbols 50/50
        (2, "the quick brown fox jumps over it", "en", "alpha", 1),
        (3, "", "en", "alpha", 1),                    # empty: excluded
        (4, "abcdabcdabcdabcd", "en", "beta", 1),     # 2 bits: four symbols even
        (5, "zzzzzzzzzzzzzzzzzzzzzq", "en", "beta", 1),  # near-0: skewed
    ]
    _docs_view(spark, rows)
    got = {
        r["source"]: (
            r["n_docs"], r["mean_entropy_bits"], r["min_entropy_bits"],
            r["max_entropy_bits"], r["n_low_entropy"], r["mean_distinct_chars"],
        )
        for r in spark.sql(Q._char_entropy_sql(Q.D.SPARK)).collect()
    }
    exp = _entropy_replica(rows)
    assert got == exp
    # semantic anchors: alpha excludes the empty doc; the single-symbol doc
    # scores exactly 0 bits (ln(1.0) is exact); the two- and four-symbol
    # uniform docs land within one 2^-20 quantum of 1 and 2 bits
    assert got["alpha"][0] == 3 and got["alpha"][2] == 0.0
    assert got["beta"][0] == 2
    qe = 1.0 / Q._ENT_Q
    # ab doc ~1 bit, abcd doc ~2 bits (floor may shave one quantum)
    assert 1.0 - 2 * qe <= _entropy_replica([rows[1]])["alpha"][1] <= 1.0
    assert 2.0 - 2 * qe <= _entropy_replica([rows[4]])["beta"][1] <= 2.0


# ---------------------------------------------------------- minhash error


def test_minhash_error_identical_pair_zero_error(spark):
    # two identical docs: all 16 signature components match (est = 1.0) and
    # exact Jaccard is 1.0 -> the single candidate pair lands in band 0
    # with zero error; unique docs produce no candidates
    dup = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (0, dup, "en", "s", 1),
        (1, dup, "en", "s", 1),
        (2, "completely different words about entirely other topics and things", "en", "s", 1),
    ]
    _docs_view(spark, rows)
    out = spark.sql(Q._minhash_error_sql(Q.D.SPARK)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["err_band"] == 0 and r["n_pairs"] == 1 and r["share"] == 1.0
    assert r["mean_est_jaccard"] == 1.0 and r["mean_exact_jaccard"] == 1.0


def test_minhash_error_distribution_structure(spark):
    # real data: bands within [0, 19], shares sum to 1, means within [0, 1].
    # The audit's headline finding is the CANDIDACY SELECTION BIAS: a
    # candidate shares >= 1 band = 4 equal signature components, so
    # est >= 4/16 = 0.25 for EVERY candidate pair -- incidental collisions
    # (exact J ~ 0) therefore sit in the high-error bands by construction
    # (measured at sf0.001: only ~18% of candidates below |err| 0.25).
    # That overshoot-given-candidacy is what the verify stage exists to
    # filter, and what this report quantifies.
    out = Q.q_minhash_error(spark, "/root/testdata/sf0.001").collect()
    assert out, "sf0.001 must yield candidate pairs"
    total_share = sum(r["share"] for r in out)
    assert abs(total_share - 1.0) < 1e-9
    for r in out:
        assert 0 <= r["err_band"] <= 19
        # the structural floor: every candidate has >= 4/16 matching
        # components, so every band's mean estimate is >= 0.25
        assert 0.25 <= r["mean_est_jaccard"] <= 1.0
        assert 0.0 <= r["mean_exact_jaccard"] <= 1.0


# ----------------------------------------------------------- fk integrity


def test_fk_integrity_orphans_nulls_and_clean_edges(spark):
    mk = lambda rows, schema, name: spark.createDataFrame(  # noqa: E731
        rows, schema
    ).createOrReplaceTempView(name)
    mk([(10, "r")], "r_regionkey long, r_name string", "region")
    mk([(1, "n1", 10), (2, "n2", 99)],
       "n_nationkey long, n_name string, n_regionkey long", "nation")
    mk([(100, 1), (101, None), (102, 7)],
       "c_custkey long, c_nationkey long", "customer")
    mk([(200, 1)], "s_suppkey long, s_nationkey long", "supplier")
    mk([(300,)], "p_partkey long", "part")
    mk([(1000, 100), (1001, 999), (1002, 100)],
       "o_orderkey long, o_custkey long", "orders")
    mk([(1000, 300, 200), (9999, 300, 200), (1000, 301, 200), (1000, 300, None)],
       "l_orderkey long, l_partkey long, l_suppkey long", "lineitem")
    out = {r["edge"]: r for r in spark.sql(Q._fk_integrity_sql(Q.D.SPARK)).collect()}
    assert len(out) == 7  # every edge present, clean ones read 0 not missing
    e = out["orders.o_custkey->customer"]
    assert (e["n_child"], e["n_null_fk"], e["n_orphans"]) == (3, 0, 1)
    assert e["orphan_rate"] == 1.0 / 3.0
    e = out["lineitem.l_orderkey->orders"]
    assert (e["n_child"], e["n_null_fk"], e["n_orphans"]) == (4, 0, 1)
    e = out["lineitem.l_partkey->part"]
    assert (e["n_child"], e["n_null_fk"], e["n_orphans"]) == (4, 0, 1)
    e = out["lineitem.l_suppkey->supplier"]
    assert (e["n_child"], e["n_null_fk"], e["n_orphans"]) == (4, 1, 0)
    assert e["orphan_rate"] == 0.0
    e = out["customer.c_nationkey->nation"]
    assert (e["n_child"], e["n_null_fk"], e["n_orphans"]) == (3, 1, 1)
    e = out["supplier.s_nationkey->nation"]
    assert (e["n_child"], e["n_null_fk"], e["n_orphans"]) == (1, 0, 0)
    e = out["nation.n_regionkey->region"]
    assert (e["n_child"], e["n_null_fk"], e["n_orphans"]) == (2, 0, 1)
    assert e["orphan_rate"] == 0.5


# ------------------------------------------------------- weighted minhash


def test_wminhash_order_invariance_and_repetition(spark):
    """The two claims that distinguish wminhash_pairs from the shingle
    family: a paragraph-shuffled copy is J_w = 1.0 (order invariance), and
    a doc whose tokens repeat 5x as often as its twin's is NOT a near-dup
    (repetition awareness: distinct-token Jaccard would call them equal)."""
    words = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four"
    ).split()
    assert len(words) == 30
    shuffled = " ".join(reversed(words))
    inflated = " ".join(w for w in words for _ in range(5))
    other = " ".join(
        "gamma delta2 epsilon zeta eta theta iota kappa lam mu nu xi "
        "omicron pi rho sigma tau upsilon phi chi psi omega extra more "
        "words here that share nothing at all".split()
    )
    rows = [
        (0, " ".join(words), "en", "s", 1),
        (1, shuffled, "en", "s", 1),
        (2, inflated, "en", "s", 1),
        (3, other, "en", "s", 1),
    ]
    _docs_view(spark, rows)
    out = {
        (r["id_a"], r["id_b"]): r["wjaccard"]
        for r in spark.sql(Q._wminhash_sql(Q.D.SPARK)).collect()
    }
    # shuffled copy: identical bag, exact J_w = 1.0, banding cannot miss it
    # (all 32 signature components equal)
    assert out[(0, 1)] == 1.0
    # 5x-inflated twin: sum(min)=30, sum(max)=min(5,cap)*30 -> J_w = 0.2
    assert (0, 2) not in out and (1, 2) not in out
    # unrelated doc pairs with nothing shared
    assert all(3 not in p for p in out)


def test_wminhash_tf_cap_saturates(spark):
    """Multiplicities above WMH_TF_CAP are indistinguishable: a token
    repeated 100x and one repeated exactly cap times yield identical capped
    bags -> J_w = 1.0."""
    base = "padding tokens shared by both documents equally every time"
    rows = [
        (0, base + " spam" * 100, "en", "s", 1),
        (1, base + " spam" * Q.WMH_TF_CAP, "en", "s", 1),
    ]
    _docs_view(spark, rows)
    out = {
        (r["id_a"], r["id_b"]): r["wjaccard"]
        for r in spark.sql(Q._wminhash_sql(Q.D.SPARK)).collect()
    }
    assert out[(0, 1)] == 1.0


# ------------------------------------------------------ interval overlap


def test_interval_overlap_emit_once_and_values(spark):
    """The emit-once canonical-bin rule: a pair sharing SEVERAL coarse bins
    yields exactly ONE row (no DISTINCT needed), with the exact half-open
    overlap; non-overlapping and touching-at-boundary pairs are excluded."""
    H = 3_600_000_000  # 1 h in epoch-us

    def ns(us):
        return us * 1000

    rows = [
        (1, ns(0 * H), 10, "t", 0.0, None),   # rn1 odd  -> review [-6h, 0)
        (2, ns(1 * H), 10, "t", 0.0, None),   # rn2 even -> incident [1h, 7h)
        (3, ns(3 * H), 10, "t", 0.0, None),   # rn3 odd  -> review [-3h, 3h)
        (4, ns(10 * H), 10, "t", 0.0, None),  # rn4 even -> incident [10h, 16h)
        (5, ns(0 * H), 10, "u", 0.0, None),   # lone odd in another type
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string,"
        " value double, props string",
    ).createOrReplaceTempView("events")
    df = spark.sql(Q._interval_overlap_sql(Q.D.SPARK))
    out = df.collect()
    # incident e2 [1h,7h) x review e3 [-3h,3h): overlap [1h,3h) -- they
    # share bins 1 AND 2, but exactly one row comes out. e2 x e1 touches at
    # the boundary (review ends at 0 < incident start 1h): excluded.
    assert len(out) == 1
    r = out[0]
    assert (r["a_id"], r["b_id"], r["event_type"]) == (2, 3, "t")
    assert r["overlap_us"] == 2 * H
    # the decomposition must never fall back to a non-equi join
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ----------------------------------------------------------- k-anonymity


def test_k_anonymity_hand_counted_classes(spark):
    """Hand-built quasi-identifier classes: sizes {3, 2, 1, 1} -> at k=2
    the two singletons are at risk; at k=5 everything is."""
    rows = [
        # class A: nation 1, SEG1, band of 500.0 -> 3 rows
        (1, "n", 1, 500.0, "SEG1"),
        (2, "n", 1, 700.0, "SEG1"),   # same thousand-band (0 after floor/1000)
        (3, "n", 1, 999.0, "SEG1"),
        # class B: nation 1, SEG1, band 1 (1200-1800) -> 2 rows
        (4, "n", 1, 1200.0, "SEG1"),
        (5, "n", 1, 1800.0, "SEG1"),
        # class C: singleton, different segment
        (6, "n", 1, 500.0, "SEG2"),
        # class D: singleton via NEGATIVE balance (the floor-vs-trunc trap:
        # -400 must land in band -1's shifted bucket, not band 0's)
        (7, "n", 1, -400.0, "SEG1"),
    ]
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    ).createOrReplaceTempView("customer")
    out = {r["k"]: r for r in spark.sql(Q._k_anonymity_sql(Q.D.SPARK)).collect()}
    assert set(out) == set(Q.K_ANON_THRESHOLDS)
    for r in out.values():
        assert (r["n_classes"], r["n_rows"], r["min_class"]) == (4, 7, 1)
    assert (out[2]["classes_below_k"], out[2]["rows_below_k"]) == (2, 2)
    assert (out[5]["classes_below_k"], out[5]["rows_below_k"]) == (4, 7)
    assert out[5]["at_risk_share"] == 1.0
    assert (out[10]["classes_below_k"], out[10]["rows_below_k"]) == (4, 7)
    assert out[2]["at_risk_share"] == 2.0 / 7.0


def test_k_anonymity_negative_band_distinct_from_zero_band(spark):
    """-400 and +400 must be DIFFERENT bands (shifted integer divide); a
    trunc-toward-zero divide would merge them into one k=2 class."""
    rows = [
        (1, "n", 1, -400.0, "SEG1"),
        (2, "n", 1, 400.0, "SEG1"),
    ]
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    ).createOrReplaceTempView("customer")
    out = {r["k"]: r for r in spark.sql(Q._k_anonymity_sql(Q.D.SPARK)).collect()}
    assert out[2]["n_classes"] == 2 and out[2]["rows_below_k"] == 2


# --------------------------------------------------------- join size AGMS


def test_join_size_sketch_exact_arm_and_estimate_sanity(spark):
    """Hand-computed join size: lineitem key counts {1:3, 2:2, 4:5} x
    orders keys {1, 2, 3} -> sum = 3 + 2 = 5. The AGMS estimate over a
    5-key universe in 512 buckets has (almost surely) no bucket
    collisions, and with no collisions every depth's signed inner product
    is EXACTLY s_j(k)^2-weighted truth = truth."""
    li = [(1,), (1,), (1,), (2,), (2,), (4,), (4,), (4,), (4,), (4,)]
    spark.createDataFrame(li, "l_orderkey long").createOrReplaceTempView("lineitem")
    spark.createDataFrame([(1,), (2,), (3,)], "o_orderkey long").createOrReplaceTempView(
        "orders"
    )
    rows = spark.sql(Q._join_size_sketch_sql(Q.D.SPARK)).collect()
    assert len(rows) == Q.CM_DEPTH
    assert all(r["exact_join_size"] == 5 for r in rows)
    # depth estimates may differ only via collisions; with 5 keys in 512
    # buckets a collision would need two md5s agreeing mod 512 AT THE SAME
    # depth -- if one ever appears this assert should be relaxed, but the
    # unbiased-sign property makes equality the expected outcome here
    assert all(r["depth_estimate"] == 5 for r in rows)
    assert rows[0]["agms_estimate"] == 5 and rows[0]["rel_error"] == 0.0


# ------------------------------------------------------- weighted sample


def test_weighted_sample_matches_python_replica(spark):
    """Exact replica of the ES key pipeline (md5 -> h1 -> -ln(u)/w ->
    2^-30 floor) in pure Python pins the selected ids and ranks."""
    import hashlib
    import math

    rows = [(i, f"doc {i}", "en", f"s{i % 2}", (i * 37) % 400 + 5) for i in range(60)]
    _docs_view(spark, rows)
    out = [
        (r["source"], r["rnk"], r["doc_id"], r["es_key"])
        for r in spark.sql(Q._weighted_sample_sql(Q.D.SPARK)).collect()
    ]

    def es_key(doc_id: int, w: int) -> int:
        h1 = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:14], 16)
        u = (h1 + 1.0) / 72057594037927936.0
        return math.floor(-math.log(u) / max(w, 1) * 1073741824.0)

    want = []
    by_src: dict[str, list] = {}
    for i, _, _, src, nch in rows:
        by_src.setdefault(src, []).append((es_key(i, max(nch, 1)), i, max(nch, 1)))
    for src, ks in by_src.items():
        for rnk, (k, i, w) in enumerate(sorted(ks), start=1):
            if rnk <= Q.WS_K:
                want.append((src, rnk, i, k))
    assert sorted(out) == sorted(want)


def test_weighted_sample_heavy_doc_selected(spark):
    """A doc 10^4x heavier than its stratum peers is (deterministically,
    for this fixture) in the sample: P(miss) ~ (k-sized tail of 59 draws
    each needing u^(1/w) to beat the giant) is astronomically small, and
    the fixture is fixed so the assertion is stable."""
    rows = [(i, "x", "en", "s", 3) for i in range(59)] + [(99, "x", "en", "s", 30000)]
    _docs_view(spark, rows)
    ids = {r["doc_id"] for r in spark.sql(Q._weighted_sample_sql(Q.D.SPARK)).collect()}
    assert 99 in ids


# -------------------------------------------------------- shard manifest


def test_shard_manifest_snake_balances_ramp(spark):
    """16 docs on a linear size ramp dealt in snake order over 8 shards:
    shard s gets rank s+1 (forward pass) and rank 16-s (reverse pass), so
    every shard holds EXACTLY the same char mass -- the property plain
    round-robin lacks on sorted input (it would leave a 1400-char spread
    on this fixture; the snake leaves 0)."""
    sizes = [1600 - 100 * i for i in range(16)]  # 1600, 1500, ..., 100
    rows = [(i, "t", "en", "s", sizes[i]) for i in range(16)]
    _docs_view(spark, rows)
    out = {r["shard"]: r for r in spark.sql(Q._shard_manifest_sql(Q.D.SPARK)).collect()}
    assert set(out) == set(range(8))
    total = sum(sizes)
    for s in range(8):
        r = out[s]
        want = sizes[s] + sizes[15 - s]  # snake pairing
        assert r["n_docs"] == 2 and r["total_chars"] == want
        assert r["share"] == want / total
    chars = [out[s]["total_chars"] for s in range(8)]
    assert max(chars) == min(chars)  # the ramp cancels exactly


# -------------------------------------------------------- late data audit


def test_late_data_audit_matches_python_replica(spark):
    """Pure-Python replica of the jittered-arrival disorder pipeline pins
    per-type late counts and the max disorder on a 60-event fixture."""
    import hashlib

    H1 = lambda eid: int(hashlib.md5(str(eid).encode()).hexdigest()[:14], 16)  # noqa: E731
    US = 1_000_000
    rows = []
    for i in range(60):
        # event time: every 30 s, two types interleaved
        rows.append((i, (1_700_000_000 + 30 * i) * US * 1000,  # ns
                     7, "a" if i % 2 == 0 else "b", 1.0, None))
    spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string,"
        " value double, props string",
    ).createOrReplaceTempView("events")
    out = {r["event_type"]: r for r in spark.sql(Q._late_data_audit_sql(Q.D.SPARK)).collect()}

    want: dict[str, dict] = {}
    for typ in ("a", "b"):
        evs = [(i, (1_700_000_000 + 30 * i) * US) for i, r in enumerate(rows)
               if (("a" if i % 2 == 0 else "b") == typ)]
        arr = sorted(evs, key=lambda e: (e[1] + H1(e[0]) % 1_200_000_000, e[0]))
        seen_max, lates, mx = None, {60 * US: 0, 600 * US: 0, 3600 * US: 0}, 0
        for eid, ts in arr:
            dis = max((seen_max or ts) - ts, 0)
            mx = max(mx, dis)
            for w in lates:
                if dis > w:
                    lates[w] += 1
            seen_max = ts if seen_max is None else max(seen_max, ts)
        want[typ] = {"n": len(evs), "mx": mx, "l1": lates[60 * US],
                     "l10": lates[600 * US], "l1h": lates[3600 * US]}
    for typ, w in want.items():
        r = out[typ]
        assert r["n_events"] == w["n"]
        assert r["max_disorder_us"] == w["mx"]
        assert (r["late_1m"], r["late_10m"], r["late_1h"]) == (w["l1"], w["l10"], w["l1h"])
        assert r["late_10m_share"] == w["l10"] / w["n"]
    # 30s cadence with up-to-20min jitter MUST produce real disorder
    assert out["a"]["late_1m"] > 0


# --------------------------------------------------------- good-turing


def test_gt_discounts_hand_counted(spark):
    """'a b a b' + 'c d' -> bigram counts {a_b:2, b_a:1, c_d:1}: N_1=2,
    N_2=1, total=4, missing mass = 2/4, c*=2*N_2/N_1=1.0 at c=1 and
    3*N_3/N_2=0 at c=2."""
    rows = [(1, "a b a b", "en", "s", 7), (2, "c d", "en", "s", 3)]
    _docs_view(spark, rows)
    out = {r["c"]: r for r in spark.sql(Q._gt_discounts_sql(Q.D.SPARK)).collect()}
    assert set(out) == {1, 2}
    for r in out.values():
        assert r["total_bigrams"] == 4 and r["distinct_bigrams"] == 3
        assert r["missing_mass"] == 0.5
    assert out[1]["n_c"] == 2 and out[1]["gt_cstar"] == 2 * 1 / 2  # (c+1)*N2/N1
    assert out[2]["n_c"] == 1 and out[2]["gt_cstar"] == 0.0  # no N_3


# ----------------------------------------------------- kmv intersection


def _events_view_rows(spark, rows):
    spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string,"
        " value double, props string",
    ).createOrReplaceTempView("events")


def test_kmv_intersection_exact_branch_small_sets(spark):
    """Segments with fewer than k distinct users: the sketch IS the set
    (theta = 1), so both distinct and intersection estimates are exact."""
    rows = []
    eid = 0
    for u in range(1, 51):  # A: users 1..50
        rows.append((eid, 0, u, "a", 1.0, None)); eid += 1
    for u in range(30, 81):  # B: users 30..80 -> overlap 30..50 = 21 users
        rows.append((eid, 0, u, "b", 1.0, None)); eid += 1
        rows.append((eid, 0, u, "b", 1.0, None)); eid += 1  # dup events
    _events_view_rows(spark, rows)
    out = spark.sql(Q._kmv_intersection_sql(Q.D.SPARK)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["seg_a"], r["seg_b"]) == ("a", "b")
    assert r["est_users_a"] == 50.0 and r["est_users_b"] == 51.0
    assert r["est_intersection"] == 21.0 and r["exact_intersection"] == 21


def test_kmv_intersection_estimator_branch_within_rsd(spark):
    """Above-k segments use the theta estimator: with k=256 the rsd is
    ~1/sqrt(k-1) ~ 6.3%; assert the deterministic fixture lands within
    4 sigma of truth for both the distinct and the overlap estimates,
    and that a disjoint pair reads (near) zero."""
    rows = []
    eid = 0
    for u in range(0, 2000):  # A: 2000 users
        rows.append((eid, 0, u, "a", 1.0, None)); eid += 1
    for u in range(1000, 3000):  # B: 2000 users, overlap 1000
        rows.append((eid, 0, u, "b", 1.0, None)); eid += 1
    for u in range(50_000, 52_000):  # C: disjoint from both
        rows.append((eid, 0, u, "c", 1.0, None)); eid += 1
    _events_view_rows(spark, rows)
    out = {(r["seg_a"], r["seg_b"]): r for r in spark.sql(Q._kmv_intersection_sql(Q.D.SPARK)).collect()}
    ab = out[("a", "b")]
    assert abs(ab["est_users_a"] - 2000) < 2000 * 0.25
    assert abs(ab["exact_intersection"] - 1000) == 0
    assert abs(ab["est_intersection"] - 1000) < 1000 * 0.4  # overlap noisier
    for pair in (("a", "c"), ("b", "c")):
        r = out[pair]
        assert r["exact_intersection"] == 0
        # a few incidental sketch collisions at most
        assert r["est_intersection"] < 0.1 * 2000


# --------------------------------------------------------------- lang mix


def test_lang_mix_detects_code_switching(spark):
    """Hand fixture: a half-English half-German doc is mixed; a pure
    English doc is not; a GERMAN doc receiving the %13 contamination tail
    stays unmixed (its chunks already classify de -- the detector
    separates contamination from native language); a tiny doc (< 4
    tokens) has empty chunks -> unclassifiable, not mixed."""
    en = "the cat and the dog of the house is that for with the thing "
    de = "der hund die katze das und ist nicht mit ein der die das und "
    rows = [
        (1, en * 4 + de * 4, "en", "sA", 800),   # half/half -> mixed
        (2, en * 8, "en", "sB", 800),            # pure -> classifiable, unmixed
        (13, de * 8, "de", "sC", 800),           # contaminated (13%13=0) German -> stays de, unmixed
        (3, "x y", "en", "sD", 2),               # < 4 tokens -> und chunks
    ]
    _docs_view(spark, rows)
    out = {r["source"]: r for r in spark.sql(Q._lang_mix_sql(Q.D.SPARK)).collect()}
    assert out["sA"]["n_mixed"] == 1 and out["sA"]["mixed_share"] == 1.0
    assert out["sB"]["n_classifiable"] == 1 and out["sB"]["n_mixed"] == 0
    assert out["sC"]["n_classifiable"] == 1 and out["sC"]["n_mixed"] == 0
    assert out["sD"]["n_classifiable"] == 0 and out["sD"]["n_mixed"] == 0


# ---------------------------------------------------- dimension truncation


def test_dim_truncation_recall_matches_python_replica(spark):
    """Exact replica: deterministic small vectors, cosine ranked per prefix
    width in Python with the same left-to-right double arithmetic; hits
    and recalls must match exactly, and the full-width row must read 1.0."""
    import math

    def vec(i):
        # deterministic, varied, exactly-representable doubles
        return [((i * 31 + j * 17) % 13) / 4.0 - 1.5 for j in range(64)]

    rows = [(i, [float(x) for x in vec(i)]) for i in range(120)]
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").createOrReplaceTempView(
        "embeddings"
    )
    out = {r["prefix_dim"]: r for r in spark.sql(Q._dim_truncation_sql(Q.D.SPARK)).collect()}

    # replica -- NOTE: Spark reads array<float>, so values pass through
    # float32 before the double cast; replicate that
    import struct

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    vs = {i: [f32(x) for x in vec(i)] for i in range(120)}
    qids = [i for i in vs if i % Q.KNN_QUERY_MOD == 0]

    def topk(m):
        res = {}
        for q in qids:
            scored = []
            for e, v in vs.items():
                if e == q:
                    continue
                dot = 0.0
                na = 0.0
                nb = 0.0
                for j in range(m):
                    dot += v[j] * vs[q][j]
                for j in range(m):
                    na += v[j] * v[j]
                for j in range(m):
                    nb += vs[q][j] * vs[q][j]
                na, nb = math.sqrt(na), math.sqrt(nb)
                c = 0.0 if na == 0.0 or nb == 0.0 else dot / (na * nb)
                scored.append((-c, e))
            scored.sort()
            res[q] = {e for _, e in scored[: Q.KNN_K]}
        return res

    full = topk(64)
    for m in Q.TRUNC_DIMS:
        got = out[m]
        want_hits = sum(len(topk(m)[q] & full[q]) for q in qids)
        assert got["n_queries"] == len(qids)
        assert got["hits"] == want_hits, m
        assert got["recall"] == want_hits / (len(qids) * Q.KNN_K)
    assert out[64]["recall"] == 1.0
