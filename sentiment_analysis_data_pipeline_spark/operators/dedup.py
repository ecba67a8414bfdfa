"""Deduplication operators: the reference's URL dedup plus the full
LLM-data-pipeline near-dup suite.

Reference provenance:
  J1 batch anti-join vs processed   dags/sentiment_analysis_dag.py:36-46
     (Python set-membership loop -> BroadcastHashJoin(LeftAnti) here)
  J2 write-side existence check     database/mongodb_handler.py:53-58 +
     unique index database/init-mongo.js:8 -> dropDuplicates + anti-join
     inside foreachBatch (streaming/ingest.py)

North-star extensions (exact, MinHash+LSH, SimHash, n-gram Jaccard):
SURVEY.md §7 phase 7. All are expressed as DataFrame plans whose heavy
lifting (candidate generation) happens through equi-joins on hash keys, so
at 100 TB they shuffle only (key, id) pairs, never the documents themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import dialect as D
from ..functions import hashing, text


def anti_join_new(raw: DataFrame, processed: DataFrame, key: str = "url") -> DataFrame:
    """J1: keep raw rows whose key is not yet in `processed`.

    Catalyst picks BroadcastHashJoin(LeftAnti) while the processed-key side
    fits the broadcast threshold, SortMergeJoin beyond -- exactly the
    adaptive behavior the reference's in-memory Python set cannot scale to.
    """
    return raw.join(processed.select(key).distinct(), on=key, how="left_anti")


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact dedup by content hash: survivor = min(id) per md5(content).

    groupBy on the 128-bit hash, not the content: the shuffle carries
    (32-byte key, id) instead of full documents -- at 100 TB this is the
    difference between shuffling 100 TB and shuffling ~2% of it.
    """
    return (
        df.select(F.md5(F.col(content_col).cast("string")).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
    )


def _with_tokens(df: DataFrame, content_col: str) -> DataFrame:
    return df.withColumn("_tokens", F.expr(text.tokenize(D.SPARK, content_col)))


def _band_keys_from_shingled(shingled: DataFrame, k: int, bands: int, rows: int) -> DataFrame:
    """(doc, shingles) -> exploded (doc, band_key) LSH banding relation."""
    h1, h2 = hashing.hash_halves_cols(D.SPARK, "h")
    exploded = (
        shingled.select("doc", F.explode("shingles").alias("s"))
        .select("doc", F.md5("s").alias("h"))
        .select("doc", F.expr(h1).alias("h1"), F.expr(h2).alias("h2"))
    )
    sig = exploded.groupBy("doc").agg(
        *[F.expr(a.split(" AS ")[0]).alias(f"m{i}") for i, a in enumerate(hashing.km_minhash_aggs(k))]
    )
    return sig.select(
        "doc",
        F.explode(F.expr(hashing.band_keys_from_members(D.SPARK, bands, rows))).alias("band_key"),
    )


def minhash_shingles(df: DataFrame, content_col: str, id_col: str, ngram: int = 3) -> DataFrame:
    """(doc, shingles): each document's distinct word-n-gram set, empty sets
    dropped -- the relation both the band signature and the exact Jaccard
    verify read."""
    return _with_tokens(df, content_col).select(
        F.col(id_col).alias("doc"),
        F.expr(D.arr_distinct(D.SPARK, text.ngrams(D.SPARK, "_tokens", ngram))).alias("shingles"),
    ).filter(F.size("shingles") > 0)


def minhash_band_keys(
    df: DataFrame,
    content_col: str,
    id_col: str,
    k: int = 16,
    bands: int = 4,
    rows: int = 4,
    ngram: int = 3,
) -> DataFrame:
    """The (doc, band_key) LSH signature relation by itself -- what a 100 TB
    deployment WRITES ONCE per corpus snapshot (bucketed by band_key) and
    reuses across dedup runs: candidate generation against a bucketed
    signature table is a zero-Exchange sort-merge self-join
    (tests/test_bucketed.py asserts the shuffle-free plan)."""
    return _band_keys_from_shingled(minhash_shingles(df, content_col, id_col, ngram), k, bands, rows)


def minhash_signatures(
    df: DataFrame,
    content_col: str,
    id_col: str,
    k: int = 16,
    bands: int = 4,
    rows: int = 4,
    ngram: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """The (doc, shingles) and (doc, band_key) relations of `df`, each
    materialized once with an eager localCheckpoint: the band self-join, an
    index probe, the exact verify and an index append then all read them
    instead of re-tokenizing. Checkpoint blocks are freed by the
    ContextCleaner once the frames are unreachable; they never enter the
    CacheManager, so nothing stays cached after the caller is done."""
    shingled = minhash_shingles(df, content_col, id_col, ngram).localCheckpoint(eager=True)
    banded = _band_keys_from_shingled(shingled, k, bands, rows).localCheckpoint(eager=True)
    return shingled, banded


def band_self_pairs(banded: DataFrame) -> DataFrame:
    """Distinct (id_a, id_b) candidate pairs, id_a < id_b, of docs sharing a
    band key; the self-join carries only (band_key, id)."""
    a = banded.select("band_key", F.col("doc").alias("id_a"))
    b = banded.select("band_key", F.col("doc").alias("id_b"))
    return (
        a.join(b, on="band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify(cands: DataFrame, shingled: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard filter of candidate pairs: `cands` holds (id_a, id_b)
    plus any tag columns, `shingled` a (doc, shingles) row for every id it
    references. Both join sides read `shingled` (two hash joins against the
    slim per-doc shingle table), so callers pass a materialized relation.
    Returns cands' columns plus `jaccard`, pairs at or above `threshold`."""
    sh_a = shingled.select(F.col("doc").alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = shingled.select(F.col("doc").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        cands.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select(*cands.columns, "jaccard")
    )


def minhash_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    k: int = 16,
    bands: int = 4,
    rows: int = 4,
    ngram: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    Plan shape (the scale-critical part):
      1. tokens -> word-3-gram shingles per doc; explode to (doc, shingle)
         rows so hashing runs as plain codegen'd projections (Spark evaluates
         array-lambda HOFs interpreted -- measured ~10x slower here): ONE md5
         per shingle, split into 56-bit halves h1/h2.
      2. signature = groupBy(doc).agg(min(h1 + i*h2) for i in 0..k-1)
         (Kirsch-Mitzenmacher double hashing). min() gets map-side partial
         aggregation: the shuffle carries ~one row per doc, not per shingle.
      3. band keys from the k mins -> explode -> self-equi-join on band key
         carrying ONLY (band_key, id); distinct (id, id) candidate pairs.
      4. join shingle sets back by id (two hash joins against the slim
         per-doc shingle table), exact Jaccard, filter.

    The shingle and band relations are each read more than once (signature
    build + both verify joins; both self-join sides), so minhash_signatures
    materializes them: tokenization runs once. At production scale this is
    "write the shingle/signature table once".

    At 100 TB: both shuffles (doc-id agg, band-key join) are equi-shuffles on
    uniformly distributed keys (no skew); k/bands/rows tune the S-curve, not
    the plan shape.
    """
    shingled, banded = minhash_signatures(df, content_col, id_col, k, bands, rows, ngram)
    return jaccard_verify(band_self_pairs(banded), shingled, jaccard_threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    ngram: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int = 1024,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted shingle index.

    Candidates = pairs sharing >= 1 shingle (explode -> self-join on shingle
    -> distinct pair), then exact Jaccard from per-doc shingle counts and the
    co-occurrence count -- no shingle-set arrays ride through the join, only
    (shingle-hash, id, n). |A ∩ B| falls out of the group-count; |A ∪ B| =
    |A| + |B| - |A ∩ B|.

    Scale guard: a shingle appearing in d documents emits ~d^2/2 candidate
    rows on ONE join key (hot-boilerplate shingles -- headers, license
    blocks -- are a cartesian bomb plus shuffle skew at corpus scale), so
    shingles with document frequency > `max_shingle_df` are dropped from the
    vocabulary BEFORE sizes and the self-join. Jaccard is then exact over
    the capped vocabulary: both |A ∩ B| and |A|,|B| exclude the same hot
    shingles, which carry the least discrimination anyway (they are shared
    by ~everything). The default bounds any single shingle's pre-agg output
    to ~max_df^2/2 ≈ 5e5 rows; at the test SFs (max df ≈ 25) results are
    bit-identical to the uncapped operator.
    """
    shingled = (
        _with_tokens(df, content_col)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(
                F.expr(D.arr_distinct(D.SPARK, text.ngrams(D.SPARK, "_tokens", ngram)))
            ).alias("shingle"),
        )
        # hash the shingle: equi-join on 32 bytes, not arbitrary-length text
        .select("doc", F.md5("shingle").alias("sh"))
    )
    # df cap via a count window over the shingle key: one shuffle on sh that
    # the self-join below reuses (same partitioning), no extra agg+join pass.
    shingled = (
        shingled.withColumn(
            "_df", F.count("*").over(Window.partitionBy("sh"))
        )
        .filter(F.col("_df") <= max_shingle_df)
        .drop("_df")
    )
    sizes = shingled.groupBy("doc").agg(F.count("*").alias("n"))
    a = shingled.select(F.col("sh"), F.col("doc").alias("id_a"))
    b = shingled.select(F.col("sh"), F.col("doc").alias("id_b"))
    co = (
        a.join(b, on="sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col("doc").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc").alias("id_b"), F.col("n").alias("n_b"))
    return (
        co.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# Round 11 (VERDICT item 4): raised 200k -> 2M edges. The old bound was
# sized for the round-9 fast path (row-at-a-time .collect() + python-dict
# union-find: heavy Row objects, ~1 us/edge driver CPU). The path is now
# Arrow toPandas + a fully vectorized hook-and-compress union
# (Shiloach-Vishkin shape): 2M edges is a 32 MB Arrow transfer and a few
# int64 numpy arrays (<100 MB peak) converging in <= log2(n) vectorized
# rounds -- a driver page even on a modest 16 GB cluster driver, trivial
# on this 128 GiB one. The distributed spilled loop pays ~1 s of fixed
# job overhead PER ROUND regardless of graph size, so every graph that
# fits a driver page and crosses the old bound (cluster_label_purity at
# the 10x probe: 48.7 s) was paying pointer-jump rounds for nothing. A
# boilerplate-fat crawl graph at 100 TB (billions of edges) still
# exceeds this and takes the bucketed distributed loop unchanged.
CC_DRIVER_BOUND = 2_000_000  # edges; ~32 MB Arrow page


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    edge_spill_table: str | None = None,
    spill_threshold: int = 100_000,
    spill_buckets: int = 32,
    jump_from: int = 8,
    driver_bound: int = CC_DRIVER_BOUND,
) -> DataFrame:
    """Cluster near-duplicate PAIRS into components: (node, component) where
    component = min node id reachable -- the step that turns any pair emitter
    (minhash/simhash/ngram/embedding) into dedup groups with one keeper each.

    Spark SQL has no recursive CTE, so this is iterative min-label
    propagation: each round every node takes the min label among itself and
    its neighbors; converges in O(graph diameter) rounds (near-dup graphs
    are shallow -- chains of edits, not long paths). Each round is one
    equi-join + groupBy-min, localCheckpoint-ed to cut the growing lineage;
    the driver only ever collects a 1-row convergence flag. The result is
    independent of iteration count/partitioning, which is what lets a
    DuckDB `WITH RECURSIVE` transitive closure serve as the oracle
    (queries.q_dedup_clusters).

    THE EDGE-SPILL PATH (the cluster-scale form): localCheckpoint's
    LogicalRDD does not surface hash-partitioning to Catalyst (PLANS.md,
    round-5 measurement), so the in-memory loop re-Exchanges the STATIC
    undirected edge relation every round -- fine for the few-hundred-edge
    graphs the oracle gate builds, the dominant wire cost on a
    boilerplate-fat crawl graph at 100 TB (iterations x |und| network).
    When `edge_spill_table` is given and the graph clears
    `spill_threshold` undirected rows, `und` is written ONCE as a bucketed
    table clustered on the join key `b`; every round's join then reads
    co-located bucket files with NO Exchange above the edge scan -- the
    only per-round shuffles left are the node-count-sized label relation's
    (join side + groupBy), which genuinely changes each round. Verified in
    tests/test_dedup.py::test_cc_edge_spill_round_plan_has_no_edge_exchange
    (executed-plan assert) and measured in SCALE.md (tools/cc_spill_bench.py).
    The table is dropped before returning; labels are checkpointed, so no
    result lineage references it.
    """
    # Checkpoint the edge relation first: `und` references it twice (both
    # orientations), and an expensive un-materialized edge plan would run
    # twice in the union's single job.
    edges, edge_ids = _tracked_ckpt(edges)
    spark = edges.sparkSession
    n_edges = edges.count()
    if n_edges <= driver_bound:
        # SMALL-GRAPH FAST PATH (round 9; vectorized round 11): the
        # iterative loop pays ~1 s of fixed job overhead per round
        # regardless of size -- 2.9 s for a 110-edge graph at sf0.1 --
        # while a graph under `driver_bound` edges is one driver page.
        # The bound check is what keeps this scale-safe: a boilerplate-fat
        # crawl graph at 100 TB exceeds it and takes the distributed loop
        # (spilled + bucketed) exactly as before. Hook-and-compress union
        # (Shiloach-Vishkin shape, all numpy): indices come from a SORTED
        # np.unique, every hook points the larger root at the smaller, and
        # pointer values only ever decrease within a component -- so the
        # fixpoint root of each component is its minimal index, i.e. the
        # IDENTICAL (node, component = min reachable id) labeling the
        # recursive-CTE oracle gates on both paths.
        import numpy as np

        import pandas as pd

        # The driver may hand us a DEFAULT session without the Arrow conf;
        # both the fetch and the result conversion are 2M-row pandas
        # boundaries, so pin it on for the whole page and restore after.
        arrow_key = "spark.sql.execution.arrow.pyspark.enabled"
        prev = spark.conf.get(arrow_key, None)
        spark.conf.set(arrow_key, "true")
        try:
            pdf = edges.select(
                F.col(src).cast("long").alias("a"),
                F.col(dst).cast("long").alias("b"),
            ).toPandas()
            _unpersist_ids(spark, edge_ids)
            ea = pdf["a"].to_numpy(dtype="int64")
            eb = pdf["b"].to_numpy(dtype="int64")
            uniq = np.unique(np.concatenate([ea, eb]))
            ca = np.searchsorted(uniq, ea)
            cb = np.searchsorted(uniq, eb)
            parent = np.arange(len(uniq), dtype=np.int64)
            while True:
                pa, pb = parent[ca], parent[cb]
                if len(parent) and (pa != pb).any():
                    # hook: parent[max(pa,pb)] <- min of the two roots; .at
                    # resolves duplicate targets with a running minimum
                    np.minimum.at(
                        parent, np.maximum(pa, pb), np.minimum(pa, pb)
                    )
                else:
                    break
                while True:  # full path compression, O(log depth) passes
                    p2 = parent[parent]
                    if np.array_equal(p2, parent):
                        break
                    parent = p2
            out = pd.DataFrame({"node": uniq, "comp": uniq[parent]})
            return spark.createDataFrame(out, "node long, comp long")
        finally:
            if prev is None:
                spark.conf.unset(arrow_key)
            else:
                spark.conf.set(arrow_key, prev)
    if edge_spill_table is not None:
        # per-run suffix (round-7 ADVICE): two concurrent SESSIONS running
        # the same query must not overwrite each other's edge table or
        # rmtree files the other is scanning -- the applicationId is unique
        # per session. (Within one session, _tracked_ckpt's documented
        # single-driver-thread assumption already applies.)
        app = "".join(
            c if c.isalnum() else "_" for c in spark.sparkContext.applicationId
        )
        edge_spill_table = f"{edge_spill_table}_{app}"
    und_plan = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    spilled = False
    if edge_spill_table is not None and 2 * n_edges >= spill_threshold:
        from ..sources.tables import write_bucketed

        # repartition on the bucket key FIRST: repartition(n, col) hashes
        # with the same Murmur3 the bucketing layer uses, so each write
        # task holds exactly one bucket -> ONE sorted file per bucket ->
        # the scan reports its sortBy ordering and every round's SMJ skips
        # both the Exchange AND the per-round Sort on the edge side
        # (multi-file buckets would re-sort 2|E| rows every iteration --
        # measured 42% slower at 2M edges, tools/cc_spill_bench.py)
        write_bucketed(
            und_plan.repartition(spill_buckets, F.col("b")),
            edge_spill_table,
            "b",
            spill_buckets,
        )
        und, und_ids = spark.table(edge_spill_table), []
        spilled = True
    else:
        und, und_ids = _tracked_ckpt(und_plan)
    success = False
    label_ids: list[int] = []
    try:
        labels, label_ids = _tracked_ckpt(
            und.select("a")
            .union(und.select(F.col("b").alias("a")))
            .distinct()
            .select(F.col("a").alias("node"), F.col("a").alias("comp"))
        )
        converged = False
        for it in range(max_iter):
            new_plan = _cc_round(und, labels)
            # Adaptive path compression (round 6): plain min-label
            # propagation converges in O(diameter) rounds -- silent wrong
            # answers past max_iter on a pathological chain-shaped graph.
            # From round `jump_from` on, each round also replaces every
            # label by its label's label (comp <- labels[comp]; comp is
            # always a node id, so the self-join always matches) -- pointer
            # jumping, which turns the remaining convergence into
            # O(log diameter). Shallow near-dup graphs (the production
            # case, diameter ~2-4) converge before round `jump_from` and
            # never pay the extra node-sized join. Default 8 is MEASURED
            # (tools/cc_jump_bench.py, SCALE.md round-7) at 2M edges:
            # with a deep 1500-node chain mixed in, jump-at-8 is fastest
            # (42.9 s vs 45.5 at 4 -- early jumps join labels that plain
            # propagation would have collapsed anyway -- and 58.4 at 12:
            # every round of delay is a full extra pass over the edge
            # relation); on a diameter-8 all-shallow graph later is
            # better (14.4 s at 12 vs 17.7 at 8), but that boundary shape
            # converges at round ~9 regardless -- the deep-chain blowup
            # is the asymmetric risk the default must cover.
            if it >= jump_from:
                new_plan = new_plan.localCheckpoint(eager=False)
                new_plan = (
                    new_plan.alias("x")
                    .join(
                        new_plan.select(
                            F.col("node").alias("_cn"), F.col("comp").alias("_cc")
                        ).alias("y"),
                        F.col("x.comp") == F.col("_cn"),
                    )
                    .select(F.col("x.node").alias("node"), F.col("_cc").alias("comp"))
                )
            new, new_ids = _tracked_ckpt(new_plan)
            changed = (
                new.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.comp") != F.col("o.comp"))
                .limit(1)
                .count()
            )
            # the superseded iteration's checkpoint blocks are dead the moment
            # `new` is materialized -- free them NOW instead of waiting for
            # driver GC to notice (unbounded block accumulation across
            # iterations is both a cluster-memory leak and the multi-second
            # timing variance the shared bench session showed)
            _unpersist_ids(spark, label_ids)
            labels, label_ids = new, new_ids
            if changed == 0:
                converged = True
                break
        if not converged:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
                " -- raise max_iter (a silent partial labeling would be a"
                " WRONG dedup clustering, never return one)"
            )
        success = True
    finally:
        # block cleanup runs on BOTH paths (round-7 ADVICE: a failed run
        # must not leak driver/executor storage blocks in a long-lived
        # session): und/edge checkpoints are dead once the loop ends either
        # way; the last iteration's label blocks are the RESULT on success
        # and dead on failure.
        _unpersist_ids(spark, und_ids)
        _unpersist_ids(spark, edge_ids)
        if not success:
            _unpersist_ids(spark, label_ids)
        # labels are checkpointed, so no result lineage references the
        # table; drop even on mid-loop failure (a leaked spill table would
        # shadow the next run's write). write_bucketed creates EXTERNAL
        # tables (explicit path), so DROP leaves the files -- remove the
        # location too, or every spilled CC run leaks its edge bytes on
        # disk.
        if spilled:
            # scheme-agnostic removal (round-7): the helper resolves the
            # filesystem FROM the location URI via the Hadoop FS API, so
            # file:, hdfs:, s3a:, ... deployments all clean up -- the
            # previous shutil.rmtree handled only file: and leaked edge
            # bytes per run on object stores. A location that cannot be
            # resolved or deleted is a LEAK, not a no-op -- warn instead
            # of silently skipping (round-7 ADVICE).
            from ..sources.tables import drop_table_with_files, table_location

            loc = table_location(spark, edge_spill_table)
            removed = drop_table_with_files(spark, edge_spill_table)
            if loc is None or not removed:
                import warnings

                warnings.warn(
                    f"CC spill cleanup: the location of {edge_spill_table}"
                    f" ({loc}) was not removed; its edge files leak until"
                    " manually deleted",
                    RuntimeWarning,
                    stacklevel=2,
                )
    return labels


def _cc_round(und: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label propagation round: every node takes the min component
    label among itself and its neighbors. Factored out so the executed plan
    of a single round is testable -- with a bucketed `und` the join's edge
    side must show a zero-Exchange bucketed scan."""
    nbr = und.join(labels, und["b"] == labels["node"]).select(
        und["a"].alias("node"), F.col("comp")
    )
    return labels.union(nbr).groupBy("node").agg(F.min("comp").alias("comp"))


def _tracked_ckpt(df: DataFrame) -> tuple[DataFrame, list[int]]:
    """localCheckpoint (eager) + the storage RDD ids it created, so callers
    can free the blocks deterministically. Python-side df.rdd.unpersist()
    does NOT touch the checkpoint blocks (it unpersists a derived
    conversion RDD -- verified empirically), so block ids are diffed from
    the JVM's persistent-RDD registry instead.

    SINGLE-THREADED-DRIVER ASSUMPTION (round-4 ADVICE): the before/after
    registry diff attributes every RDD persisted during the checkpoint call
    to this checkpoint. Concurrent driver activity (another thread running
    queries, an active streaming query) could interleave an unrelated
    persist into the window, and _unpersist_ids would later drop its blocks
    mid-job. All in-repo callers (connected_components' iteration loop,
    bench's per-query sweep) run on a single driver thread; callers running
    concurrent work must not use this helper."""
    sc = df.sparkSession.sparkContext
    before = {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}
    out = df.localCheckpoint(eager=True)
    after = {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}
    return out, sorted(after - before)


def _unpersist_ids(spark, ids: list[int]) -> None:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        rdd = jmap.get(i)
        if rdd is not None:
            rdd.unpersist(False)
