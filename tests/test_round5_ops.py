"""Round-5 batch-2 additions: hybrid RRF retrieval, temperature resampling,
semantic decontamination, per-dim standardization, perplexity banding, frame
sampling. Semantic checks beyond the oracle hash -- each operator's defining
property, verified against an independent Python replica."""

from __future__ import annotations

import hashlib
import math
import re

import pyspark.sql.functions as F

from sentiment_analysis_data_pipeline_spark import queries as Q

SF = "/root/testdata/sf0.001"


def _pytok(text: str) -> list[str]:
    cleaned = re.sub(r"[^a-z0-9 ]", " ", (text or "").strip().lower())
    return [t for t in cleaned.strip().split() if t]


# ---------------------------------------------------------------- hybrid RRF


def test_hybrid_rrf_formula_and_fusion(spark):
    out = Q.q_hybrid_search_rrf(spark, SF).collect()
    assert out
    scale, k = float(Q._RRF_SCALE), float(Q._RRF_K)
    for r in out:
        expect = 0
        if r["text_rank"] > 0:
            expect += math.floor(scale / (k + float(r["text_rank"])))
        if r["vec_rank"] > 0:
            expect += math.floor(scale / (k + float(r["vec_rank"])))
        assert r["rrf_q"] == expect
    # a doc present in BOTH arms must outrank a doc present in one arm at
    # a worse-or-equal single-arm rank -- the point of fusion
    both = [r for r in out if r["text_rank"] > 0 and r["vec_rank"] > 0]
    single = [r for r in out if (r["text_rank"] > 0) != (r["vec_rank"] > 0)]
    if both and single:
        assert max(r["rrf_q"] for r in both) > min(r["rrf_q"] for r in single)


# ------------------------------------------------------ temperature sampling


def test_temperature_resample_flattens_and_checksums(spark, tmp_path):
    """Skewed two-source fixture: alpha=0.5 shrinks the big source's share
    (90:10 -> 3:1 in weight); kept_id_sum must equal the checksum of the
    exact md5-ranked prefix the replica selects."""
    rows = [(i, f"doc {i}", "en", "big" if i < 90 else "small", 10) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    out = str(tmp_path)
    df.write.parquet(f"{out}/documents.parquet")

    got = {r["source"]: r for r in Q.REGISTRY["temperature_resample"][0](spark, out).collect()}
    assert set(got) == {"big", "small"}
    q = float(Q._TEMP_Q)
    w = {s: math.floor(math.sqrt(n) * q) for s, n in (("big", 90), ("small", 10))}
    tw = sum(w.values())
    targets = {s: math.floor((w[s] * 100.0) / (2.0 * tw)) for s in w}
    for s in ("big", "small"):
        assert got[s]["target"] == targets[s]
        assert got[s]["kept"] == min(targets[s], got[s]["n_docs"])
    # alpha=0.5 flattening: big/small target ratio == sqrt ratio (3), not 9
    assert got["big"]["target"] <= 3 * got["small"]["target"] + 1
    # checksum of the exact selected prefix (md5-of-id rank replica)
    for s, n0, ids in (("big", 90, range(90)), ("small", 10, range(90, 100))):
        ranked = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
        assert got[s]["kept_id_sum"] == sum(ranked[: targets[s]])


# --------------------------------------------------- semantic decontamination


def test_semantic_decontaminate_flags_planted_dup(spark, tmp_path):
    """vec 97*0=0 is eval; vec 1 duplicates it exactly (cos=1 -> flagged);
    vec 2 is orthogonal (cos=0 -> clean)."""
    dim = Q.EMB_DIM
    e0 = [1.0] + [0.0] * (dim - 1)
    e2 = [0.0, 1.0] + [0.0] * (dim - 2)
    df = spark.createDataFrame(
        [(0, e0, 0), (1, list(e0), 0), (2, e2, 1)],
        "vec_id long, embedding array<float>, label int",
    )
    out = str(tmp_path)
    df.write.parquet(f"{out}/embeddings.parquet")

    got = {r["vec_id"]: r for r in Q.REGISTRY["semantic_decontaminate"][0](spark, out).collect()}
    assert set(got) == {1, 2}  # vec 0 is eval-side, never scored
    assert got[1]["contaminated"] == 1 and got[1]["max_cos"] == 1.0
    assert got[2]["contaminated"] == 0 and got[2]["max_cos"] == 0.0


# ------------------------------------------------------- per-dim standardize


def test_embedding_standardize_matches_replica(spark, sf_dir):
    rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    q = float(Q._STD_Q)
    dims: dict[int, list[int]] = {}
    for r in rows:
        for i, x in enumerate(r["embedding"]):
            dims.setdefault(i, []).append(math.floor(float(x) * q))
    got = {r["dim"]: r for r in Q.REGISTRY["embedding_standardize"][0](spark, sf_dir).collect()}
    assert set(got) == set(dims)
    for i, xs in dims.items():
        n, sx = len(xs), sum(xs)
        sxx = sum(x * x for x in xs)
        mean = (sx / n) / q
        var = max(sxx / n - (sx / n) * (sx / n), 0.0)
        assert got[i]["n"] == n
        assert got[i]["mean"] == mean
        assert got[i]["std"] == math.sqrt(var) / q


# --------------------------------------------------------- perplexity bands


def _ppl_replica(texts: dict[int, str]) -> dict[int, int]:
    """Independent band computation: in-corpus MLE bigram LM surprisal."""
    q = float(Q._PPL_Q)
    bigrams: dict[int, list[tuple[str, str]]] = {}
    lm: dict[tuple[str, str], int] = {}
    left: dict[str, int] = {}
    for d, t in texts.items():
        toks = _pytok(t)
        bgs = list(zip(toks, toks[1:]))
        bigrams[d] = bgs
        for bg in bgs:
            lm[bg] = lm.get(bg, 0) + 1
            left[bg[0]] = left.get(bg[0], 0) + 1
    bands = {}
    for d, bgs in bigrams.items():
        if not bgs:
            continue
        sq = sum(math.floor(math.log(left[a] / lm[(a, b)]) * q) for a, b in bgs)
        band = math.floor((sq / len(bgs) - Q._PPL_BAND_BASE * q) / (Q._PPL_BAND_NATS * q))
        bands[d] = max(min(band, Q._PPL_MAX_BAND), 0)
    return bands


def test_perplexity_bands_match_replica_on_corpus(spark):
    texts = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    bands = _ppl_replica(texts)
    expect: dict[int, int] = {}
    for b in bands.values():
        expect[b] = expect.get(b, 0) + 1
    got = {r["band"]: r["n_docs"] for r in Q.q_perplexity_bands(spark, SF).collect()}
    assert got == expect
    assert len(got) >= 2  # the banding actually discriminates on real data


# ------------------------------------------------------------- frame sample


def test_frame_sample_counts(spark):
    docs = {
        r["doc_id"]: r["n_chars"]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
        if r["doc_id"] < Q._FRAME_DOCS
    }
    got: dict[int, list[int]] = {}
    for r in Q.q_frame_sample(spark, SF).collect():
        got.setdefault(r["media_id"], []).append(r["frame_ts_ms"])
    assert set(got) == set(docs)
    for d, nc in docs.items():
        dur = max(nc * Q._FRAME_MS_PER_CHAR, 1)
        expect = list(range(0, dur, Q._FRAME_EVERY_MS)) or [0]
        assert sorted(got[d]) == expect


# ----------------------------------------------------------- source drift


def test_source_drift_matches_replica(spark, sf_dir):
    rows = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    cells: dict[str, list[int]] = {}
    for r in rows:
        c = cells.setdefault(r["source"], [0, 0])
        c[r["doc_id"] % 2] += 1
    t_old = sum(v[0] for v in cells.values())
    t_new = sum(v[1] for v in cells.values())
    n = t_old + t_new
    got = {r["source"]: r for r in Q.REGISTRY["source_drift"][0](spark, sf_dir).collect()}
    assert set(got) == set(cells)
    for s, (o, w) in cells.items():
        assert got[s]["n_old"] == o and got[s]["n_new"] == w
        e_o, e_w = (o + w) * t_old / n, (o + w) * t_new / n
        chi2 = (o - e_o) ** 2 / e_o + (w - e_w) ** 2 / e_w
        assert abs(got[s]["chi2"] - chi2) < 1e-9


# --------------------------------------------------------- PCA power step


def test_pca_power_step_unit_norm_and_replica(spark, sf_dir):
    import numpy as np

    X = np.array(
        [r["embedding"] for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()],
        dtype=np.float64,
    )
    v0 = np.array(Q._PCA_V0)
    w = X.T @ (X @ v0)
    expect = w / np.linalg.norm(w)
    got = Q.REGISTRY["pca_power_step"][0](spark, sf_dir).collect()
    comp = np.array([r["component"] for r in sorted(got, key=lambda r: r["dim"])])
    assert abs(np.linalg.norm(comp) - 1.0) < 1e-9
    # fp64 replica direction (engine w is the floor-quantized exact MEAN of
    # x*y -- scalar factor cancels; quantization shifts each dim <= 1e-9/|w|)
    assert np.max(np.abs(comp - expect)) < 1e-5
    # exact replica of the engine's quantized pipeline, bit-for-bit
    y = X @ v0
    wq = np.array(
        [float(sum(math.floor(x * y_r * 1e9) for x, y_r in zip(col, y))) for col in X.T]
    ) / (len(X) * 1e9)
    nq = math.sqrt(float(sum(math.floor(v * v * 1e18) for v in wq)) / 1e18)
    assert np.array_equal(comp, wq / nq)
    # one step must move v0 toward the dominant direction: the Rayleigh
    # quotient cannot decrease under the power step
    rq0 = (v0 @ (X.T @ (X @ v0))) / (v0 @ v0)
    rq1 = comp @ (X.T @ (X @ comp))
    assert rq1 >= rq0 - 1e-6


# ------------------------------------------------------------ UDTF surface


def test_sentence_split_udtf_expands_rows(spark):
    """Multi-sentence fixture through the real UDTF: row expansion, 0-based
    indices, delimiter-run collapse, empty-part drops."""
    from sentiment_analysis_data_pipeline_spark.operators import udtf_ops

    udtf_ops.register(spark)
    df = spark.createDataFrame(
        [(1, "First one. Second!  Third?? "), (2, "no terminator"), (3, None)],
        "doc_id long, text string",
    )
    df.createOrReplaceTempView("udtf_fixture")
    rows = spark.sql(
        """SELECT d.doc_id, s.sentence_idx, s.sentence
           FROM udtf_fixture d, LATERAL sentence_split(d.text) s
           ORDER BY d.doc_id, s.sentence_idx"""
    ).collect()
    got = [(r["doc_id"], r["sentence_idx"], r["sentence"]) for r in rows]
    assert got == [
        (1, 0, "First one"),
        (1, 1, "Second"),
        (1, 2, "Third"),  # the trailing "?? " delimiter run is consumed
        (2, 0, "no terminator"),
    ]


def test_sentence_split_ascii_whitespace_parity():
    """The split/strip whitespace set is the explicit ASCII six, NOT
    Unicode \\s / str.strip() -- pinned so the Python side can't silently
    diverge from the RE2+trim oracle on NBSP/ideographic-space edges
    (ADVICE r5). An NBSP after the terminator must NOT split; an NBSP at a
    kept sentence's edge must survive stripping."""
    from sentiment_analysis_data_pipeline_spark.operators.udtf_ops import SentenceSplit

    # @udtf wraps the class; .func is the raw handler class underneath
    out = list(SentenceSplit.func().eval("One. still one. Two!\ttab split. Kept edge"))
    assert out == [
        (0, "One. still one"),       # NBSP is not a delimiter char
        (1, "Two"),                        # tab IS (ASCII six)
        (2, "tab split. Kept edge"),  # NBSP never stripped from edges
    ]


# ---------------------------------------------------------- logistic step


def test_logreg_step_matches_replica(spark, sf_dir):
    """Exact replica of the quantized gradient pipeline, bit-for-bit, plus
    a sanity check against the unquantized fp64 gradient."""
    import numpy as np

    rows = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    q = float(Q._LR_Q)
    w = Q._LR_W0
    X, y = [], []
    for r in rows:
        nt = len(_pytok(r["text"]))
        x1 = r["n_chars"] / 1000.0
        x2 = nt / 100.0
        x3 = r["n_chars"] / (nt + 1.0) / 10.0
        X.append((x1, x2, x3))
        y.append(1 if r["lang"] == "en" else 0)
    gsum = [0, 0, 0, 0]
    for (x1, x2, x3), yy in zip(X, y):
        z = w[0] + w[1] * x1 + w[2] * x2 + w[3] * x3
        rq = math.floor((1.0 / (1.0 + math.exp(-z))) * q) - yy * Q._LR_Q
        for j, fx in enumerate((1.0, x1, x2, x3)):
            gsum[j] += rq * math.floor(fx * q)
    n = len(X)
    expect = [float(g) / (n * q * q) for g in gsum]
    got = [r["grad"] for r in Q.REGISTRY["logreg_step"][0](spark, sf_dir).collect()]
    assert got == expect
    # direction sanity vs unquantized gradient (quantization error ~1e-6)
    Xb = np.array([(1.0, *x) for x in X])
    sig = 1.0 / (1.0 + np.exp(-(Xb @ np.array(w))))
    fp = (Xb.T @ (sig - np.array(y))) / n
    assert np.max(np.abs(np.array(got) - fp)) < 1e-4
