"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

The LAST stdout line is exactly ONE compact JSON object (driver-parsed):
  {"metric": ..., "value": total_sec, "unit": "sec", "sf": ..., "runs": N,
   "n_queries": N, "queries": {flagship-subset name: sec}, "anchor": s,
   "unstable": count}
The FULL per-query map, row counts, and per-query [min, max] sample spread
live in BENCH_DETAIL.json (and an earlier, non-final stdout line). History:
round 4's record was lost because one line carrying rows+spread for 52
queries outgrew the driver's tail-capture window; round 7's was lost AGAIN
because the per-query map alone (108 entries, ~2.9 KB) outgrew the window
the driver actually has -- MEASURED at exactly 2,000 bytes from the
decapitated BENCH_r07.json tail. The final line now carries only a FIXED
flagship subset (FINAL_LINE_QUERIES) so its size is growth-proof; a
selfcheck asserts it stays < LINE_BUDGET bytes and round-trips through
json.loads before it is printed.

Methodology (changed round 4 after the r3 minhash_pairs 3.3x phantom
regression -- isolated re-measurement showed 0.72-0.93 s vs the r3 bench's
2.74 s on unchanged code, i.e. shared-session interference, not engineering):
  - one UNTIMED warm run of each query at the target SF before its timed
    samples, so first-touch costs (file listing, codegen, shuffle-file
    creation) never land in a sample;
  - 5 timed samples per query (median reported; min/max recorded so a
    noisy median is visible instead of mistaken for a regression);
  - stability guard (round 5): if a query's max/min sample ratio exceeds
    SPREAD_RATIO_BOUND, its samples are re-taken once -- an environment
    blip (GC pause, page-cache eviction) cannot masquerade as a
    regression; queries still noisy after the retry are listed under
    "unstable" in BENCH_DETAIL.json;
  - spark.catalog.clearCache() between queries so one query's cached /
    checkpointed blocks can't perturb the next query's memory budget.

Baseline context (BASELINE.md): the reference publishes no benchmark numbers;
its envelope tops out at ~0.67 rows/s ingest and hourly batches of <=1,200
articles. Anything here beats that by orders of magnitude -- the driver
target is therefore staying within 2x of the recorded per-round baseline at
the same scale factor.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the flagship pipeline + the heaviest representatives of each
# operator family (joins/aggs, windows, dedup, similarity, search, views).
BENCH_QUERIES = [
    "sentiment_terms_agg",
    "sentiment_scores",
    "pricing_summary",
    "top_customer_revenue",
    "regional_revenue",
    "hourly_events",
    "sessionize",
    "topk_per_type",
    "asof_last_signup",
    "keyword_search",
    "exact_dedup",
    "minhash_pairs",
    "ngram_jaccard_pairs",
    "simhash_fingerprints",
    "cosine_topk",
    "ann_lsh",
    "ivf_ann",
    "embedding_dedup_pairs",
    "quality_score",
    "corpus_prep",
    "stratified_sample",
    "sequence_packing",
    "decontaminate",
    "pii_redact",
    "repetition_metrics",
    "knn_batch",
    "simhash_pairs",
    "url_normalize",
    "bm25_search",
    "curation_pipeline",
    "unigram_surprisal",
    "tfidf_topk",
    "pmi_collocations",
    "winnow_pairs",
    "phrase_search",
    "more_like_this",
    "mixture_weights",
    "chunk_documents",
    # round-4 additions: every driver-proven family gets a tracked number
    "snapshot_diff",
    "incremental_hourly",
    "readability",
    "fuzzy_join",
    "range_join",
    "chi2_keywords",
    "semantic_clusters",
    "containment_pairs",
    # round-5 batch-3 additions
    "part_supplier_counts",
    "source_drift",
    "pca_power_step",
    "ivf_cell_balance",
    "winnow_pairs_indexed",
    "hll_partition_merge",
    "copurchase_pairs",
    "table_checksum",
    "bm25_search_indexed",
    "sentence_split",
    "logreg_step",
    "json_profile",
    # round-5 batch-2 additions
    "hybrid_search_rrf",
    "temperature_resample",
    "semantic_decontaminate",
    "embedding_standardize",
    "perplexity_bands",
    "frame_sample",
    # round-5 additions
    "semantic_clusters_indexed",
    "incremental_dedup",
    "media_byte_stats",
    "minhash_pairs_indexed",
    "boilerplate_blocks",
    "embedding_quantization",
    "kmeans_step",
    "zipf_slope",
    "event_transitions",
    "filter_reasons",
    "holdout_split",
    "embedding_outliers",
    # round-6 additions
    "ann_recall_report",
    "fleet_checksum",
    # round-7 additions
    "image_dimensions",
    "bloom_dedup_probe",
    "duplicate_spans",
    "heldout_bigram_nll",
    "pagerank_step",
    "cdc_chunks",
    "countmin_heavy_hitters",
    "dup_span_pairs",
    "triangle_count",
    "source_ngram_overlap",
    "pq_ann",
    "pq_distortion",
    "lsh_band_sweep",
    "classifier_score",
    "char_entropy",
    "fk_integrity",
    "zorder_stats",
    "wminhash_pairs",
    "audio_metadata",
    "hdr_quantiles",
    "interval_overlap",
    "k_anonymity",
    "join_size_sketch",
    "weighted_sample",
    "shard_manifest",
    "late_data_audit",
    "gt_discounts",
    "kmv_intersection",
    "lang_mix",
    "dim_truncation_recall",
    # round-8 additions
    "psi_drift",
    "funnel_windowed",
    "cohort_retention",
    "cohens_kappa",
    "benford_digits",
    "hard_negatives",
    "zscore_days",
    "cramers_v",
    "cusum_shift",
    "kcenter_coreset",
    "key_gini",
    "ks_sources",
    "revenue_rollup",
    "lang_pivot",
    "unimax_allocation",
    "ann_lsh_multiprobe",
    "jpeg_quality",
    "dedup_savings",
    # round-9 additions
    "label_propagation_step",
    "attribution_touch",
    "packing_efficiency_curve",
    "range_partition_bounds",
    "dataset_card",
    "ngram_novelty",
    "cosine_threshold_sweep",
    "graph_modularity",
    # round-9 wave 3
    "classifier_auc",
    "classifier_calibration",
    "pareto_frontier",
    "sorted_neighborhood_pairs",
    "zonemap_audit",
    "ewma_revenue",
    "kcore_step",
    "association_rules",
    "audio_loudness",
    # round-9 wave 4
    "poisson_bootstrap_ci",
    "conformal_threshold",
    "woe_iv",
    "ols_trend",
    "event_path_topk",
    # round-9 wave 5
    "theil_sen_trend",
    "welch_ttest",
    "acf_daily",
    "decision_stump",
    "permutation_test",
    "runs_test",
    # round-9 wave 6
    "log_odds_terms",
    "jackknife_ratio",
    "kendall_tau",
    "binseg_changepoint",
    "mcnemar_test",
    "dow_seasonality",
    # round-9 wave 7
    "hhi_concentration",
    "sprt_ab",
    "seasonal_backtest",
    "winsorized_mean",
    "cuped_adjustment",
    # round-9 wave 8
    "srm_check",
    "mde_power",
    "shapley_attribution",
    "mad_anomalies",
    "retention_decay_fit",
    # round-10 wave 11/12 additions
    "krippendorff_alpha",
    "source_quality_mi",
    "keep_policy_quality",
    "dedup_evidence_clusters",
    "cluster_label_purity",
    "pc1_power_iterated",
    "pc_top2",
    "negative_sampling_table",
    "qini_uplift",
    "embedding_effective_rank",
    "k_anonymity_events",
    # round-11 wave 13
    "heaps_law",
    "l_diversity_events",
    "disparate_impact_filter",
    "markov_entropy",
    "kn_bigram_nll",
    "source_vocab_jsd",
    # round-11 wave 14
    "dbscan_labels",
    "kfold_assignment",
    "hill_tail_index",
    "ipw_ate",
    "vocab_composition",
    "chao1_richness",
    "sttr_segments",
    "wasserstein_sources",
    "loo_source_influence",
    "cem_att",
    "rbo_rank_stability",
    "graph_assortativity",
    "term_dispersion",
    "burrows_delta",
    "embedding_isotropy",
    "fano_burstiness",
    "vocab_coverage",
    "group_sequential",
    "positivity_check",
    "blocklist_rate",
    "quality_signal_corr",
    "tail_trend",
    # minhash_error deliberately NOT benched: its cost is the sweep's exact
    # co-count + per-candidate signature joins (SCALE.md); lsh_band_sweep
    # already tracks that family's number and one 5-6 s representative is
    # enough bench time for it
]


# Byte budget for the driver-parsed final line; must stay comfortably inside
# the driver's stdout tail-capture window. Round 4 overflowed at ~6 KB; round
# 7 MEASURED the real window at exactly 2,000 bytes (BENCH_r07.json's tail was
# len == 2000 with the line decapitated) while the then-4096 budget passed --
# the guard was modeling a window wider than the driver's. The final line now
# carries total+anchor+unstable plus a FIXED flagship-subset queries dict
# (FINAL_LINE_QUERIES); the full per-query map stays in BENCH_DETAIL.json and
# the earlier non-final stdout detail line, so the final line's size no longer
# grows with the headline set at all.
LINE_BUDGET = 1500
# The driver's MEASURED stdout tail-capture window (round 7: 2,000 bytes).
# tests/test_bench_contract.py asserts the growth simulation against THIS
# bound; the strict LINE_BUDGET above gates the real emission.
DRIVER_WINDOW = 2000

# The per-query entries allowed on the driver-parsed final line: one
# representative per operator family, FIXED so the line size is growth-proof.
# Everything in BENCH_QUERIES is still timed; the full map goes to
# BENCH_DETAIL.json + the non-final detail stdout line.
FINAL_LINE_QUERIES = [
    "sentiment_scores",      # flagship sentiment pipeline
    "pricing_summary",       # classic OLAP agg
    "top_customer_revenue",  # join family
    "sessionize",            # window family
    "minhash_pairs",         # LSH dedup family
    "semantic_clusters",     # heaviest standing query (CC clustering)
    "bm25_search",           # search family
    "ivf_ann",               # ANN family
    "ann_recall_report",     # audit family
    "corpus_prep",           # curation pipeline
    "fleet_checksum",        # integrity family
    "hdr_quantiles",         # sketch family
    "dim_truncation_recall", # bounded-audit family (round-8 budget cap)
]
# Queries whose TIMED path reads a persisted, snapshot-stamped index table
# (transitively reaches sources.tables.ensure_stamped_table -- the contract
# test re-derives this list mechanically from the source). Round-11 verdict
# item 2: a persisted-index read regime must never be credited as a live
# compute speedup (semantic_clusters' 37x at the r11 driver was a table
# read), so the bench reports live vs indexed totals separately and
# surfaces the per-snapshot index BUILD cost beside the read cost. Note
# the label means "reads at least one persisted artifact", not "does no
# live work" -- e.g. wminhash_pairs reads persisted tf/signature tables but
# still runs banding + verify live.
INDEXED_QUERIES = {
    "ann_recall_report",
    "bm25_search_indexed",
    "cluster_label_purity",
    "cosine_threshold_sweep",
    "dbscan_labels",
    "dedup_clusters",
    "dedup_evidence_clusters",
    "dedup_graph_degrees",
    "dedup_keep",
    "dedup_savings",
    "embedding_dedup_pairs",
    "graph_assortativity",
    "graph_modularity",
    "incremental_dedup",
    "keep_policy_quality",
    "label_propagation_step",
    "lsh_band_sweep",
    "minhash_pairs_indexed",
    "pagerank_step",
    "pq_ann",
    "pq_distortion",
    "semantic_clusters",
    "semantic_clusters_indexed",
    "triangle_count",
    "winnow_pairs_indexed",
    "wminhash_pairs",
}


def index_build_costs(sf_dir: str, warehouse: str | None = None) -> dict[str, float | None]:
    """Per-artifact build seconds for THIS scale factor's persisted index
    tables, read from the `_build_sec` files ensure_stamped_table records
    at build time. None = the artifact predates the instrumentation (built
    by an older round's code); it is listed rather than dropped so a
    partial measurement is visible as partial."""
    tag = "".join(
        c if c.isalnum() else "_" for c in os.path.basename(sf_dir.rstrip("/"))
    )
    wh = warehouse or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "spark-warehouse"
    )
    out: dict[str, float | None] = {}
    if not os.path.isdir(wh):
        return out
    for name in sorted(os.listdir(wh)):
        loc = os.path.join(wh, name)
        if not name.endswith(f"_{tag}") or not os.path.isdir(loc):
            continue
        if not os.path.exists(os.path.join(loc, "_corpus_stamp")):
            continue
        try:
            with open(os.path.join(loc, "_build_sec")) as f:
                out[name] = float(f.read().strip())
        except (OSError, ValueError):
            out[name] = None
    return out


# A query whose max/min sample ratio exceeds this is re-sampled once --
# but only when the ABSOLUTE spread also clears a floor: a 1.5x ratio on a
# 0.2 s query is 100 ms of scheduler noise, not a regression signal
# (winnow_pairs_indexed was flagged at [0.20, 0.34] s; meaningless).
SPREAD_RATIO_BOUND = 1.5
SPREAD_ABS_FLOOR_SEC = 0.25

# Golden-minimum board (round 11, verdict item 3): one UNCONTENDED run's
# per-query minimum samples, anchor-stamped, committed as BENCH_GOLDEN.json
# (tools/make_golden.py stamps it from a BENCH_DETAIL.json). Every bench run
# then decides regressions MECHANICALLY -- current per-query MIN sample vs
# golden min scaled by the anchor ratio (environment factor) -- instead of
# arguing about 2-8x sample spreads on a contended box (43 unstable flags in
# r10 made every cross-round comparison an anchor argument). min-vs-min is
# the noise-robust compare: a contended sample inflates medians long before
# it inflates the best-of-5.
GOLDEN_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_GOLDEN.json"
)
GOLDEN_RATIO_BOUND = 2.0


def _load_golden(sf_val) -> dict | None:
    """BENCH_GOLDEN.json if present AND stamped for this scale factor."""
    try:
        with open(GOLDEN_PATH) as f:
            g = json.load(f)
    except (OSError, ValueError):
        return None
    if g.get("sf") != sf_val or not g.get("min_sec") or not g.get("anchor_sec"):
        return None
    return g


def vs_golden(
    mins: dict[str, float], run_anchor: float, golden: dict
) -> tuple[dict[str, float], list[str]]:
    """Per-query ratio of this run's min sample to the anchor-scaled golden
    minimum, plus the names that mechanically count as regressions
    (ratio > GOLDEN_RATIO_BOUND and absolute excess > SPREAD_ABS_FLOOR_SEC
    -- the same floor the retry rule uses, so a 0.1 -> 0.25 s blip on a
    tiny query can't flag). The anchor ratio scales the allowance when the
    current environment is SLOWER than the golden run's; a faster current
    environment never shrinks it (scale floored at 1.0) -- golden is a
    floor, not a moving target."""
    scale = max(1.0, run_anchor / golden["anchor_sec"])
    ratios: dict[str, float] = {}
    regressions: list[str] = []
    for name, m in sorted(mins.items()):
        g = golden["min_sec"].get(name)
        if not g or g <= 0:
            continue  # new query since the golden run -- next stamp covers it
        allowed = g * scale
        ratios[name] = round(m / allowed, 2)
        if m / allowed > GOLDEN_RATIO_BOUND and m - allowed > SPREAD_ABS_FLOOR_SEC:
            regressions.append(name)
    return ratios, regressions


def drift_anchor(spark) -> tuple[float, dict]:
    """Cross-run drift guard (round 7): median of 3 runs of a FIXED,
    data-independent synthetic workload (generated strings -> split ->
    explode -> hash-agg -- the same codegen/string/shuffle class as the
    tokenizer-family queries). Code never changes between rounds, so any
    movement in this number is ENVIRONMENT drift (machine load, CPU
    frequency, co-tenancy), not engineering.

    Motivation: the r5->r6 "+45% tokenizer-family regression" root-caused
    (tools/ab_bench.py, PLANS.md) to exactly such drift -- the r5 CODE
    re-measured in the r6-era environment ran 45% slower than the r5 bench
    recorded, while r5-vs-HEAD interleaved in ONE session were identical.
    The within-run spread guard cannot see cross-run drift; this anchor can:
    compare per-query times across rounds AFTER dividing by the anchor
    ratio. Emitted as "anchor" in the final line and BENCH_DETAIL.json.
    """
    from statistics import median

    q = (
        "SELECT tok, count(*) AS c FROM ("
        "  SELECT explode(split(concat('doc ', cast(id % 97 as string),"
        "         ' alpha beta gamma delta epsilon zeta eta theta'), ' ')) AS tok"
        "  FROM range(2000000)"
        ") GROUP BY tok ORDER BY c DESC, tok LIMIT 10"
    )
    # Warm until steady-state, not a fixed once: one warm run is NOT enough
    # for C2 JIT of this codegen path -- every recorded round shows the
    # START anchor 3-6x the END anchor on an idle box (r10: 1.96/0.33;
    # r11 driver: 1.08/0.42; r11 golden attempt: 2.05/0.36), which is
    # cold-start, not environment, and it kept tripping make_golden's
    # drift refusal. Warm until two consecutive runs agree within 20%,
    # THEN take the median of 3 -- both anchors now measure the same
    # steady-state and their disagreement means real contention.
    # r11 tightening: three r11 runs showed the start anchor still 2.5-3x
    # the end anchor (0.654/0.287, 0.798/0.318, 0.989/0.383) -- one
    # consecutive pair agreeing within 20% happens on C2's intermediate
    # plateaus long before the true steady state. Now require THREE
    # consecutive runs inside a 10% band after at least 5 warm runs
    # (cap 20). This changes NOTHING about query timing (the anchor is
    # measured outside every sample); it only stops cold JIT from
    # masquerading as environment drift in the anchor pair, which kept
    # tripping make_golden's agreement rule.
    window: list[float] = []
    converged = False
    for i in range(20):
        t0 = time.perf_counter()
        spark.sql(q).collect()
        window.append(time.perf_counter() - t0)
        if i >= 4 and len(window) >= 3:
            last3 = window[-3:]
            if max(last3) / max(min(last3), 1e-9) < 1.1:
                converged = True
                break
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.sql(q).collect()
        samples.append(time.perf_counter() - t0)
    # warm_runs + converged are recorded in BENCH_DETAIL (round-11 ADVICE):
    # a warm-up that silently exhausted the cap is otherwise
    # indistinguishable from a converged measurement, and make_golden's
    # drift refusal needs to tell non-convergence from real drift.
    return round(median(samples), 3), {
        "warm_runs": len(window),
        "converged": converged,
    }


def _sweep(spark) -> None:
    """Drop every cached/persisted block between queries.

    localCheckpoint blocks are NOT in the catalog cache; sweep the JVM
    persistent-RDD registry so one query's barriers can't crowd the next
    query's memory (nothing must survive between queries).
    """
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet().toArray()):
        rdd = jmap.get(rid)
        if rdd is not None:
            rdd.unpersist(False)


def _sample(spark, fn, runs: int) -> tuple[list[float], int]:
    """One untimed warm run, then `runs` timed samples of fn."""
    n = len(fn(spark, SF_DIR).collect())
    samples: list[float] = []
    for _ in range(runs):
        t0 = time.perf_counter()
        n = len(fn(spark, SF_DIR).collect())
        samples.append(time.perf_counter() - t0)
    return samples, n


def main() -> None:
    from sentiment_analysis_data_pipeline_spark.queries import spark_queries
    from sentiment_analysis_data_pipeline_spark.session import get_spark

    spark = get_spark("bench")
    qs = spark_queries()

    # JVM/codegen warmup outside any timed region.
    spark.range(1000).selectExpr("sum(id)").collect()
    anchor, anchor_warmup = drift_anchor(spark)

    from statistics import median

    runs = max(2, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    rows: dict[str, int] = {}
    unstable: list[str] = []
    # Both sample sets for every retried query (round-8, verdict item 7):
    # the retry rule keeps the cleaner sample, but the detail artifact must
    # show BOTH so a "final" bench's noise floor is auditable.
    retried: dict[str, dict[str, list[float]]] = {}
    def _noisy(samples: list[float]) -> bool:
        return (
            min(samples) > 0
            and max(samples) - min(samples) > SPREAD_ABS_FLOOR_SEC
            and max(samples) / min(samples) > SPREAD_RATIO_BOUND
        )

    for name in BENCH_QUERIES:
        samples, n = _sample(spark, qs[name], runs)
        if _noisy(samples):
            # Environment blip (GC pause, page-cache eviction)? Re-take the
            # samples once so noise can't masquerade as a regression.
            _sweep(spark)
            retry, n = _sample(spark, qs[name], runs)
            retried[name] = {
                "first": [round(s, 4) for s in samples],
                "retry": [round(s, 4) for s in retry],
            }
            if median(retry) < median(samples):
                samples = retry
            if _noisy(samples):
                unstable.append(name)
        timings[name] = round(median(samples), 3)
        spread[name] = [round(min(samples), 4), round(max(samples), 4)]
        rows[name] = n
        _sweep(spark)

    # Bracket the run: the environment can swing a lot over one bench
    # (round 8 measured the anchor at 0.537 during a run and 0.763 within
    # the hour -- a 42% drift that would otherwise masquerade as per-query
    # regression). anchor = start, anchor_end = end; cross-round compares
    # should treat [min, max] of the pair as the run's environment window.
    anchor_end, anchor_end_warmup = drift_anchor(spark)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    golden = _load_golden(sf_val)
    regressions: list[str] | None = None
    golden_ratios: dict[str, float] = {}
    if golden is not None:
        run_anchor = min(anchor, anchor_end)
        mins = {n: s[0] for n, s in spread.items()}
        golden_ratios, regressions = vs_golden(mins, run_anchor, golden)
    # Timing-regime split (round-11 verdict item 2): indexed-query medians
    # measure a persisted-table read (+ any live tail), never the build;
    # the build cost is surfaced beside them, per artifact, as recorded at
    # build time by ensure_stamped_table.
    indexed_names = sorted(n for n in timings if n in INDEXED_QUERIES)
    indexed_total = round(sum(timings[n] for n in indexed_names), 3)
    builds = index_build_costs(SF_DIR)
    detail = {
        "rows": rows,
        "spread": spread,
        "timings": timings,
        "unstable": unstable,
        "retried": retried,
        "spread_ratio_bound": SPREAD_RATIO_BOUND,
        "anchor_sec": anchor,
        "anchor_end_sec": anchor_end,
        "anchor_warmup": anchor_warmup,
        "anchor_end_warmup": anchor_end_warmup,
        "vs_golden": golden_ratios,
        "regressions": regressions if regressions is not None else [],
        "golden_anchor_sec": golden["anchor_sec"] if golden else None,
        "indexed_queries": indexed_names,
        "indexed_total_sec": indexed_total,
        "live_total_sec": round(sum(timings.values()) - indexed_total, 3),
        "index_builds_sec": builds,
    }
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only checkout: the stdout detail line below still has it
    # Non-final line: full detail for humans/logs (driver ignores it).
    print(json.dumps({"detail": detail}))

    measured_builds = [v for v in builds.values() if v is not None]
    regimes = {
        "live_sec": detail["live_total_sec"],
        "indexed_sec": indexed_total,
        "index_build_sec": round(sum(measured_builds), 3),
    }
    if len(measured_builds) < len(builds):
        # artifacts predating the _build_sec instrumentation: visible as
        # partial, never silently folded into a too-small build total
        regimes["index_build_unmeasured"] = len(builds) - len(measured_builds)
    print(
        final_line(
            timings, sf_val, runs, anchor, unstable, anchor_end, regressions,
            regimes,
        )
    )


def build_result(
    timings: dict[str, float],
    sf_val,
    runs: int,
    anchor: float | None = None,
    unstable: list[str] | None = None,
    anchor_end: float | None = None,
    regressions: list[str] | None = None,
    regimes: dict | None = None,
) -> dict:
    """The driver-parsed result dict -- the ONE place its shape is defined.

    final_line serializes this under the strict LINE_BUDGET; the contract
    test simulates the driver's MEASURED 2,000-byte tail-capture window on
    the SAME dict, so format drift can't silently diverge the test from the
    emission path. `value` is the total over ALL timed queries; `queries`
    carries only the fixed FINAL_LINE_QUERIES subset (round 8 -- the full
    per-query map lives in BENCH_DETAIL.json; round 7's 108-entry map grew
    the line past the driver's real window and the round shipped with
    "parsed": null). `anchor` is the cross-run drift guard (drift_anchor
    docstring); `unstable` is the count + names of still-noisy queries
    after the one-retry rule so the driver artifact records bench health.
    """
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf_val,
        "runs": runs,
        "n_queries": len(timings),
        "queries": {
            k: round(timings[k], 3) for k in FINAL_LINE_QUERIES if k in timings
        },
    }
    if anchor is not None:
        out["anchor"] = anchor
    if anchor_end is not None:
        out["anchor_end"] = anchor_end
    if unstable is not None:
        out["unstable"] = len(unstable)
    if regressions is not None:
        # Mechanical verdict vs the committed golden board (count only --
        # names live in BENCH_DETAIL.json's "regressions"): 0 here means
        # no query exceeded 2x its anchor-scaled uncontended minimum.
        out["regressions"] = len(regressions)
    if regimes is not None:
        # Timing-regime split (round-11 verdict item 2; ADDITIVE -- the
        # metric/value/queries contract above is unchanged): `value` =
        # live_sec + indexed_sec; indexed_sec sums the queries that read a
        # persisted snapshot-stamped index table (INDEXED_QUERIES);
        # index_build_sec is the once-per-snapshot cost of building those
        # tables, as recorded at build time -- cross-round PERF compares
        # must use live_sec for live-compute claims.
        out.update(regimes)
    return out


def final_line(
    timings: dict[str, float],
    sf_val,
    runs: int,
    anchor: float | None = None,
    unstable: list[str] | None = None,
    anchor_end: float | None = None,
    regressions: list[str] | None = None,
    regimes: dict | None = None,
) -> str:
    """Build + selfcheck the single driver-parsed JSON line.

    The line must round-trip through json.loads and fit the driver's tail
    -capture window. Trim nothing silently -- fail loudly so the proof chain
    can't quietly break again (round 4's BENCH record was lost this way).
    """
    result = build_result(
        timings, sf_val, runs, anchor, unstable, anchor_end, regressions, regimes
    )
    line = json.dumps(result, separators=(",", ":"))
    assert json.loads(line)["value"] == result["value"]
    assert len(line) < LINE_BUDGET, f"final bench line {len(line)}B >= {LINE_BUDGET}B"
    return line


if __name__ == "__main__":
    main()
