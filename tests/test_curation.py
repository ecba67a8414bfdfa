"""Round-3 search/curation additions: phrase search, more-like-this,
mixture sampling weights, token chunking. Semantic checks beyond the
oracle hash -- the properties a user of each operator actually relies on."""

from __future__ import annotations

import re

from sentiment_analysis_data_pipeline_spark import queries as Q

SF = "/root/testdata/sf0.001"


def _pytok(text: str) -> list[str]:
    """The engine's analyzer, reimplemented independently (test replica)."""
    cleaned = re.sub(r"[^a-z0-9 ]", " ", (text or "").strip().lower())
    return [t for t in cleaned.strip().split() if t]


def test_phrase_search_hits_are_adjacent(spark):
    out = Q.REGISTRY["phrase_search"][0](spark, SF).collect()
    assert out, "expected at least one phrase hit at sf0.001"
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    w1, w2 = Q.PHRASE
    for r in out:
        toks = _pytok(docs[r["doc_id"]])
        hits = [i for i in range(len(toks) - 1) if toks[i] == w1 and toks[i + 1] == w2]
        assert len(hits) == r["n_hits"]
        assert hits[0] + 1 == r["first_pos"]  # SQL side is 1-based
    # ranked by hit count
    counts = [r["n_hits"] for r in out]
    assert counts == sorted(counts, reverse=True)


def test_more_like_this_excludes_seed_and_bounds_matches(spark):
    out = Q.q_more_like_this(spark, SF).collect()
    assert out
    assert all(r["doc_id"] != Q.MLT_SEED_DOC for r in out)
    assert all(1 <= r["n_matched"] <= Q.MLT_TERMS for r in out)
    assert all(r["mlt_score"] > 0 for r in out)
    scores = [r["mlt_score"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_mixture_weights_normalize_and_flatten(spark):
    out = Q.REGISTRY["mixture_weights"][0](spark, SF).collect()
    assert len(out) >= 2
    assert abs(sum(r["weight"] for r in out) - 1.0) < 1e-9
    assert abs(sum(r["p"] for r in out) - 1.0) < 1e-9
    # alpha=0.5 flattens: smaller sources get boosted relative to share
    lo = min(out, key=lambda r: r["p"])
    hi = max(out, key=lambda r: r["p"])
    if lo["p"] < hi["p"]:
        assert lo["weight"] / lo["p"] > hi["weight"] / hi["p"]


def test_chunk_documents_cover_and_overlap(spark):
    rows = Q.REGISTRY["chunk_documents"][0](spark, SF).collect()
    docs = {
        r["doc_id"]: _pytok(r["text"])
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    assert {r["doc_id"] for r in rows} == set(docs)
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, chunks in by_doc.items():
        n = len(docs[doc_id])
        chunks.sort(key=lambda r: r["chunk_idx"])
        assert chunks[0]["chunk_start"] == 1
        for a, b in zip(chunks, chunks[1:]):
            assert b["chunk_start"] - a["chunk_start"] == Q.CHUNK_STRIDE
        last = chunks[-1]
        # full coverage: last chunk reaches the final token
        if n > 0:
            assert last["chunk_start"] + last["chunk_len"] - 1 == n
        if n > Q.CHUNK_TOKENS:
            assert all(c["chunk_len"] == Q.CHUNK_TOKENS for c in chunks[:-1])


def test_boilerplate_blocks_fixture(spark, tmp_path):
    """Hand-computed block-dup golden: doc 1 and doc 2 share their first
    8-token block exactly; doc 3 is unique; doc 4 is under 8 tokens and
    must be excluded."""
    import pyspark.sql.functions as F

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # one 8-token block
    rows = [
        (1, shared + " one two three four five six seven eight"),
        (2, shared + " red orange yellow green blue indigo violet pink"),
        (3, "aa bb cc dd ee ff gg hh ii jj kk ll mm nn oo pp"),
        (4, "too short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for c, v in {"lang": "en", "source": "s"}.items():
        df = df.withColumn(c, F.lit(v))
    df = df.withColumn("n_chars", F.length("text"))
    out = str(tmp_path)
    df.write.parquet(f"{out}/documents.parquet")

    from sentiment_analysis_data_pipeline_spark.queries import REGISTRY

    got = {r["doc_id"]: r for r in REGISTRY["boilerplate_blocks"][0](spark, out).collect()}
    assert set(got) == {1, 2, 3}  # doc 4 excluded (< 8 tokens)
    for d in (1, 2):
        assert got[d]["n_blocks"] == 2
        assert got[d]["dup_blocks"] == 1  # the shared leading block
        assert got[d]["dup_frac"] == 0.5
    assert got[3]["n_blocks"] == 2 and got[3]["dup_blocks"] == 0


def test_embedding_quantization_fixture(spark, tmp_path):
    """Exact int8 quantization math on a hand vector: scale = max|x|/127;
    q = floor(x/scale + 0.5); err in 1e-9 fixed point."""
    import math

    import pyspark.sql.functions as F

    vec = [1.27, -0.635, 0.01, 0.0]
    df = spark.createDataFrame([(1, vec)], "vec_id long, embedding array<float>")
    out = str(tmp_path)
    df.write.parquet(f"{out}/embeddings.parquet")

    from sentiment_analysis_data_pipeline_spark.queries import REGISTRY

    [row] = REGISTRY["embedding_quantization"][0](spark, out).collect()
    # reproduce with the same float32->float64 values Spark reads
    import numpy as np

    xs = [float(np.float32(x)) for x in vec]
    s = max(abs(x) for x in xs) / 127.0
    qs = [max(-127.0, min(127.0, math.floor(x / s + 0.5))) for x in xs]
    errs = [math.floor(abs(x - q * s) * 1e9) for x, q in zip(xs, qs)]
    assert row["max_abs_err_q"] == max(errs)
    assert row["total_abs_err_q"] == sum(errs)
    assert row["dead_components"] == sum(1 for q in qs if q == 0)
    # 0.01/scale lands at ~0.99999998 -> q=1 (float32 rounding); only the
    # exact 0.0 component is dead at this scale
    assert row["dead_components"] == 1
