"""Property-based tests (hypothesis): invariants that hold for ARBITRARY
input text, not just fixtures -- the SURVEY.md §5 property-test leg.

Each example runs a Spark job, so example counts are kept small; the
properties are chosen so a single counterexample would indicate a real
parity/invariant bug, not a flake.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from sentiment_analysis_data_pipeline_spark.functions import dialect as D
from sentiment_analysis_data_pipeline_spark.functions import text as TX
from sentiment_analysis_data_pipeline_spark.functions.sentiment import _py_kernel, _py_tokens
from sentiment_analysis_data_pipeline_spark.plans.pipeline import sentiment_enrich

# ASCII-ish corpus: printable chars the analyzer is defined over. (Unicode
# case-mapping parity between JVM/Python/DuckDB is out of scope -- the
# engine's corpora are BMP/ASCII per FIXTURES.md.)
TEXTS = st.lists(
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=80),
    min_size=1,
    max_size=8,
)


@settings(max_examples=8, deadline=None)
@given(TEXTS)
def test_tokenizer_parity_spark_vs_python(spark, texts):
    """The Python reimplementation used by the pandas kernel and the SQL
    tokenizer must agree on arbitrary printable input."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    got = {
        r["i"]: r["toks"]
        for r in df.select("i", F.expr(TX.tokenize(D.SPARK, "coalesce(t, '')")).alias("toks")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _py_tokens(t), repr(t)


@settings(max_examples=8, deadline=None)
@given(TEXTS)
def test_kernel_invariants(spark, texts):
    """Scores bounded, confidence = |avg|, label consistent with threshold,
    and native == python kernel on arbitrary input."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    rows = sentiment_enrich(df, "coalesce(text, '')").collect()
    for r in rows:
        assert -1.0 <= r["vader_compound"] <= 1.0
        assert -1.0 <= r["textblob_polarity"] <= 1.0
        assert r["confidence"] == abs(r["avg_score"])
        expected = (
            "positive" if r["avg_score"] >= 0.1 else "negative" if r["avg_score"] <= -0.1 else "neutral"
        )
        assert r["overall"] == expected
        vc, tb = _py_kernel(texts[r["doc_id"]])
        assert r["vader_compound"] == vc and r["textblob_polarity"] == tb


@settings(max_examples=6, deadline=None)
@given(TEXTS)
def test_quality_score_bounded(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    rows = df.select(F.expr(TX.quality_score(D.SPARK, "coalesce(text, '')")).alias("q")).collect()
    for r in rows:
        assert 0.0 <= r["q"] <= 1.0


@settings(max_examples=6, deadline=None)
@given(TEXTS)
def test_pii_scrub_cross_engine_parity(spark, texts):
    """PII redaction (counts + scrubbed text) agrees between Spark and
    DuckDB on arbitrary printable text with synthetic PII spliced in --
    the regex dialects (Java vs RE2) must behave identically over the
    patterns the engine uses."""
    import duckdb

    salted = [
        f"{t} reach me at u{i}@ex.org / +1-555-000-{1000 + i} from 10.1.{i % 256}.9"
        for i, t in enumerate(texts)
    ]

    def one(d: str, s: str) -> str:
        lit = s.replace("'", "''")
        if d == D.SPARK:
            lit = lit.replace("\\", "\\\\")
        red = f"'{lit}'"
        for pat, tag in TX.PII_TAGS:
            red = D.regexp_replace_rx(d, red, pat, tag)
        counts = ", ".join(
            D.regexp_count(d, f"'{lit}'", pat) + f" AS c{j}"
            for j, (pat, _) in enumerate(TX.PII_TAGS)
        )
        return f"SELECT {red} AS red, {counts}"

    con = duckdb.connect()
    for s in salted:
        srow = spark.sql(one(D.SPARK, s)).collect()[0]
        drow = con.sql(one(D.DUCKDB, s)).fetchone()
        assert (srow["red"], srow["c0"], srow["c1"], srow["c2"]) == drow, repr(s)


@settings(max_examples=6, deadline=None)
@given(TEXTS)
def test_perplexity_bands_cross_engine_on_random_corpora(spark, texts):
    """The bigram-LM band rollup must hash-agree between Spark and DuckDB
    on ARBITRARY printable corpora, not just the driver fixtures (the ln
    quantization + exact-count parity claim, stress-tested)."""
    import shutil
    import tempfile

    import duckdb

    from sentiment_analysis_data_pipeline_spark.queries import (
        _perplexity_bands_sql,
        q_perplexity_bands,
    )

    out = tempfile.mkdtemp(prefix="ppl-prop-")
    try:
        df = spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        df.write.parquet(f"{out}/documents.parquet")
        got = sorted(
            (r["band"], r["n_docs"], r["n_bigrams"])
            for r in q_perplexity_bands(spark, out).collect()
        )
        con = duckdb.connect()
        con.execute(
            # Spark writes the table as a directory of part files
            f"CREATE VIEW documents AS SELECT * FROM '{out}/documents.parquet/*.parquet'"
        )
        want = sorted(
            (r[0], r[1], r[2])
            for r in con.execute(_perplexity_bands_sql(D.DUCKDB)).fetchall()
        )
        assert got == want, texts
    finally:
        shutil.rmtree(out, ignore_errors=True)


@settings(max_examples=6, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=4), min_size=2, max_size=40))
def test_temperature_targets_invariants(spark, srcs):
    """Random source histograms: targets never exceed half the corpus
    (+1 per-source floor slack), kept == min(n, target), kept ids are a
    prefix of the md5 ranking (checksum replica)."""
    import hashlib
    import math
    import shutil
    import tempfile

    from sentiment_analysis_data_pipeline_spark.queries import (
        _TEMP_Q,
        REGISTRY,
    )

    out = tempfile.mkdtemp(prefix="temp-prop-")
    try:
        rows = [(i, f"d{i}", "en", f"s{g}", 5) for i, g in enumerate(srcs)]
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.parquet(f"{out}/documents.parquet")
        got = REGISTRY["temperature_resample"][0](spark, out).collect()
        total = len(srcs)
        assert sum(r["target"] for r in got) <= total / 2 + len(got)
        by_src: dict[str, list[int]] = {}
        for i, g in enumerate(srcs):
            by_src.setdefault(f"s{g}", []).append(i)
        w = {s: math.floor(math.sqrt(len(ids)) * float(_TEMP_Q)) for s, ids in by_src.items()}
        tw = sum(w.values())
        for r in got:
            ids = by_src[r["source"]]
            assert r["n_docs"] == len(ids)
            assert r["target"] == math.floor((w[r["source"]] * float(total)) / (2.0 * tw))
            assert r["kept"] == min(r["n_docs"], r["target"])
            ranked = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
            assert r["kept_id_sum"] == sum(ranked[: r["target"]])
    finally:
        shutil.rmtree(out, ignore_errors=True)


# Round-7: word pool heavy in idiom constituents, so generated sentences
# constantly form/break idiom sequences, overlapping occurrences, idioms
# adjacent to negators/boosters/'but', and consumed-position edge cases --
# paths uniform random text essentially never hits.
IDIOM_POOL = [
    "cut", "the", "mustard", "hand", "to", "mouth", "back", "handed",
    "blow", "blowing", "smoke", "upper", "break", "a", "leg", "cooking",
    "with", "gas", "in", "black", "red", "on", "ball", "under", "weather",
    "shit", "bomb", "bad", "ass", "bus", "stop", "yeah", "right", "kiss",
    "of", "death", "die", "for", "beating", "broken", "heart",
    "good", "great", "terrible", "love", "hate", "not", "never", "very",
    "so", "kind", "sort", "but", "without", "doubt", "fine",
]
IDIOM_TEXTS = st.lists(
    st.lists(st.sampled_from(IDIOM_POOL), min_size=0, max_size=12).map(" ".join),
    min_size=1,
    max_size=8,
)


@settings(max_examples=10, deadline=None)
@given(IDIOM_TEXTS)
def test_idiom_kernel_parity_on_adversarial_sequences(spark, texts):
    """The SQL kernel's idiom mechanics (end-position weight, consumed
    positions, but-clause over idioms) must agree bit-for-bit with the
    Python replica on sentences DENSE in idiom fragments."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = sentiment_enrich(df, "coalesce(text, '')").collect()
    for r in rows:
        vc, tb = _py_kernel(texts[r["doc_id"]])
        assert r["vader_compound"] == vc, texts[r["doc_id"]]
        assert r["textblob_polarity"] == tb, texts[r["doc_id"]]


# ------------------------------------------------- r7-continuation kernels


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=0, max_value=2**50))
def test_hdr_index_lower_roundtrip_and_error_bound(v):
    """HDR bucket math (operators/sketch): lower(idx(v)) <= v, re-indexing
    the lower bound is idempotent, and the under-estimate is within the
    2^-HDR_SUB_BITS relative envelope -- for ARBITRARY values, pure-Python
    replica of the SQL integer arithmetic."""
    from sentiment_analysis_data_pipeline_spark.operators.sketch import (
        HDR_SUB,
        HDR_SUB_BITS,
    )

    msb = v.bit_length() - 1 if v > 0 else 0
    shift = max(msb - HDR_SUB_BITS, 0)
    idx = shift * HDR_SUB + (v >> shift)
    shift2 = max((idx >> HDR_SUB_BITS) - 1, 0)
    lower = (idx - shift2 * HDR_SUB) << shift2
    assert lower <= v
    assert v - lower < max(v >> HDR_SUB_BITS, 1) + 1
    # idempotence: the lower bound maps back to the same bucket
    msb2 = lower.bit_length() - 1 if lower > 0 else 0
    s3 = max(msb2 - HDR_SUB_BITS, 0)
    assert s3 * HDR_SUB + (lower >> s3) == idx


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(1, 10**5)),
        min_size=1,
        max_size=200,
        unique_by=lambda t: t[0],
    ),
    st.integers(2, 5),
)
def test_es_reservoir_merge_property(items, n_parts):
    """The algebra reservoir_stream relies on, for ARBITRARY (id, weight)
    sets and arbitrary partitionings: the k smallest ES keys of the union
    equal the k smallest over the per-partition k-smallest partials --
    pure-Python replica of sketch.es_key_sql's arithmetic."""
    import hashlib
    import math

    K = 20

    def key(i, w):
        h1 = int(hashlib.md5(str(i).encode()).hexdigest()[:14], 16)
        u = (h1 + 1.0) / 72057594037927936.0
        return (math.floor(-math.log(u) / max(w, 1) * 1073741824.0), i)

    keyed = sorted(key(i, w) for i, w in items)
    want = keyed[:K]
    partials = []
    for p in range(n_parts):
        part = sorted(key(i, w) for j, (i, w) in enumerate(items) if j % n_parts == p)
        partials.extend(part[:K])
    got = sorted(partials)[:K]
    assert got == want


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.integers(0, 10**7), min_size=2, max_size=60),
    # review windows are [lo-6h, lo): keep lo >= 6h so every bound stays
    # non-negative -- the domain the SQL guarantees (epoch-us timestamps;
    # Spark div truncates while Python // floors, they agree only there)
    st.lists(st.integers(6 * 3600, 10**7), min_size=2, max_size=60),
)
def test_interval_overlap_canonical_bin_exactly_once(los_a, los_b):
    """The emit-once rule for ARBITRARY interval sets: for every
    overlapping pair, the bin of the overlap start is touched by BOTH
    intervals and is unique -- so the bin-join + canonical filter emits
    each pair exactly once. Pure-Python replica of the SQL rule over
    half-open 6h-intervals on 1h bins (scaled down 1000x for speed)."""
    W = 3600
    a_iv = [(lo, lo + 6 * W) for lo in los_a]
    b_iv = [(lo - 6 * W, lo) for lo in los_b]

    def bins(lo, hi):
        return set(range(lo // W, (hi - 1) // W + 1))

    for alo, ahi in a_iv:
        for blo, bhi in b_iv:
            if max(alo, blo) < min(ahi, bhi):  # overlaps
                canon = max(alo, blo) // W
                shared = bins(alo, ahi) & bins(blo, bhi)
                assert canon in shared  # emitted
                # exactly once: the filter keys on ONE bin value
                assert sum(1 for b in shared if b == canon) == 1


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.integers(0, 10**6), min_size=1, max_size=400, unique=True),
    st.integers(2, 4),
)
def test_kmv_sketch_merge_property(ids, n_parts):
    """The KMV algebra kmv_intersection's mergeability claim rests on, for
    ARBITRARY member sets under arbitrary partitionings: the k smallest
    hashes of the union equal the k smallest over the per-partition
    k-smallest partials (same ES-reservoir algebra, hash domain) -- so
    daily sketches union into range sketches losslessly."""
    import hashlib

    K = 64

    def h(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:14], 16)

    want = sorted(h(i) for i in ids)[:K]
    partials = []
    for p in range(n_parts):
        part = sorted(h(i) for j, i in enumerate(ids) if j % n_parts == p)
        partials.extend(part[:K])
    assert sorted(partials)[:K] == want


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=1000), min_size=2, max_size=40)
)
def test_gini_rank_formula_matches_definition(counts):
    """key_skew's Gini: the rank formula sum((2i - n - 1) c_i) / (n total)
    over ascending-sorted counts equals the mean-absolute-difference
    definition sum_ij |c_i - c_j| / (2 n^2 mu) for ARBITRARY count
    multisets -- and the numerator is integer-exact (the order-free BIGINT
    sum the SQL relies on). Pure-python twin of the SQL math."""
    from fractions import Fraction

    n = len(counts)
    total = sum(counts)
    xs = sorted(counts)
    num = sum((2 * (i + 1) - n - 1) * c for i, c in enumerate(xs))
    rank_gini = Fraction(num, n * total)
    mad = sum(abs(a - b) for a in counts for b in counts)
    def_gini = Fraction(mad, 2 * n * n) / Fraction(total, n)
    assert rank_gini == def_gini
    assert 0 <= rank_gini < 1


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=30),
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=30),
)
def test_ks_integer_lattice_equals_float_cdf_max(a, b):
    """ks_sources' exactness claim: the max over merged values of the
    cross-multiplied integer deviation |F_a n_b - F_b n_a| / (n_a n_b)
    equals the direct float max |F_a/n_a - F_b/n_b| for ARBITRARY samples
    -- the integer lattice loses nothing and gains determinism."""
    from fractions import Fraction

    na, nb = len(a), len(b)
    values = sorted(set(a) | set(b))
    best_lattice = 0
    best_float = Fraction(0)
    for v in values:
        fa = sum(1 for x in a if x <= v)
        fb = sum(1 for x in b if x <= v)
        best_lattice = max(best_lattice, abs(fa * nb - fb * na))
        best_float = max(best_float, abs(Fraction(fa, na) - Fraction(fb, nb)))
    assert Fraction(best_lattice, na * nb) == best_float


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=600), min_size=1, max_size=60),
    st.integers(min_value=1, max_value=6),
)
def test_psi_band_partials_merge_losslessly(lengths, n_parts):
    """drift_stream's accumulator algebra: per-band counts from ARBITRARY
    micro-batch partitionings sum to the whole-corpus band counts -- the
    property that makes the band log a mergeable distribution sketch (and
    the precondition for the bit-identical psi_tail_sql parity the stream
    test asserts)."""
    from collections import Counter

    W = 50
    whole = Counter(x // W for x in lengths)
    merged: Counter = Counter()
    for p in range(n_parts):
        merged.update(Counter(x // W for i, x in enumerate(lengths) if i % n_parts == p))
    assert merged == whole


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(min_value=-100, max_value=100),
                  st.integers(min_value=-100, max_value=100)),
        min_size=2, max_size=25, unique=True,
    )
)
def test_kcenter_greedy_radius_is_2_approximation(points):
    """kcenter_coreset's guarantee: greedy farthest-point with k centers
    achieves radius <= 2x the optimal k-center radius (Gonzalez 1985).
    Verified against brute-force optimal over all k-subsets for small
    instances, squared distances (so the bound is 4x on d2)."""
    from itertools import combinations

    k = 2
    if len(points) <= k:
        return

    def d2(p, q):
        return (p[0] - q[0]) ** 2 + (p[1] - q[1]) ** 2

    # greedy: seed = first point (deterministic), then farthest-point
    centers = [points[0]]
    for _ in range(k - 1):
        centers.append(max(points, key=lambda p: (min(d2(p, c) for c in centers), p)))
    greedy_r2 = max(min(d2(p, c) for c in centers) for p in points)

    opt_r2 = min(
        max(min(d2(p, c) for c in cs) for p in points)
        for cs in combinations(points, k)
    )
    assert greedy_r2 <= 4 * opt_r2  # (2x radius)^2
