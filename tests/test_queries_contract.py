"""Driver-contract smoke: every registry entry runs and returns rows with a
stable schema; oracle coverage is complete."""

from __future__ import annotations

import pytest

import __spark_entry__ as E


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) == 3
    assert df.columns == ["key", "doc_count"]


def test_registry_order_unproven_first_then_stalest():
    """The driver proves only the first 50 REGISTRY entries per round; the
    mechanical ordering must float every never-proven name ahead of every
    proven one so proof coverage can't silently cap (round-3 verdict #3),
    then (round 12) the optimization-touched _REPROOF_PRIORITY block whose
    plans changed most recently (round-11 verdict #7), and within the
    remaining proven group order by OLDEST latest-green round first so each
    round re-proves the stalest entries instead of re-submitting the same
    50 forever (round-7 verdict #4)."""
    from sentiment_analysis_data_pipeline_spark.queries import (
        REGISTRY,
        _REGISTRY_BASE,
        _REPROOF_PRIORITY,
        _proven_rounds,
    )

    assert set(REGISTRY) == set(_REGISTRY_BASE)
    proven = _proven_rounds(_REGISTRY_BASE)
    names = list(REGISTRY)
    # tier 1: every unproven name precedes every proven one
    seen_proven = False
    for n in names:
        if n in proven:
            seen_proven = True
        else:
            assert not seen_proven, f"unproven {n!r} listed after a proven entry"
    # tier 2: the reproof-priority block heads the proven group, in its
    # declared order
    proven_names = [n for n in names if n in proven]
    prio = [n for n in _REPROOF_PRIORITY if n in proven]
    assert proven_names[: len(prio)] == prio
    # tier 3: the rest is stalest-first
    prev_round = 0
    for n in proven_names[len(prio):]:
        assert proven[n] >= prev_round, (
            f"proven {n!r} (r{proven[n]}) listed after a fresher entry (r{prev_round})"
        )
        prev_round = proven[n]
    # With the whole registry ever-proven, the driver's 50-row window must
    # hit the priority block then the stalest proofs, never the newest.
    if len(proven) == len(names):
        rest = [n for n in names if n not in _REPROOF_PRIORITY]
        first_rounds = [proven[n] for n in rest[:40]]
        assert max(first_rounds) <= min(
            proven[n] for n in rest[40:]
        ), "rotation failed: a fresher proof precedes a staler one across the window"


def test_oracle_coverage():
    qs, oracles = E.queries(), E.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 25
    # every oracle is syntactically runnable duckdb SQL
    import duckdb

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events documents embeddings").split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '/root/testdata/sf0.001/{t}.parquet'")
    for name, sql in oracles.items():
        con.sql(sql)  # raises on syntax/semantic errors


@pytest.mark.parametrize("name", sorted(E.queries()))
def test_query_runs(spark, sf_dir, name):
    df = E.queries()[name](spark, sf_dir)
    rows = df.collect()
    assert rows is not None
    assert len(df.columns) > 0
    # keyword_search may legitimately be small; volume_shipping's nation-pair
    # x ship-year filter (TPC-H Q7 shape) selects zero rows from sf0.001's
    # ~6k lineitems (it is hash-checked vs the oracle at sf0.01).
    if name not in ("keyword_search", "volume_shipping"):
        assert len(rows) > 0


def test_no_duplicate_defs_or_registry_keys():
    """Name-shadowing guard (round 8): a re-`def q_<name>` silently rebinds
    every later reference and a duplicate _REGISTRY_BASE key keeps only the
    last pair -- both mispair a Spark callable with another query's oracle
    (the second funnel_conversion and the _key_skew_sql collision were
    caught by failures, not by review). Parse the source and refuse both."""
    import os
    import re
    from collections import Counter

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = open(
        os.path.join(root, "sentiment_analysis_data_pipeline_spark", "queries.py")
    ).read()
    defs = re.findall(r"^def ([a-zA-Z_0-9]+)", src, re.M)
    dup_defs = [n for n, c in Counter(defs).items() if c > 1]
    assert not dup_defs, f"duplicate top-level defs in queries.py: {dup_defs}"
    reg = src[src.index("_REGISTRY_BASE") :]
    keys = re.findall(r'^\s+"([a-z_0-9]+)":', reg, re.M)
    dup_keys = [k for k, c in Counter(keys).items() if c > 1]
    assert not dup_keys, f"duplicate registry keys: {dup_keys}"


def _queries_ast():
    import ast
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "sentiment_analysis_data_pipeline_spark", "queries.py")
    with open(path) as f:
        return ast.parse(f.read())


def test_checkpoints_go_through_materialize():
    """Every checkpoint in queries.py is made by `_materialize`, the one
    helper a materialize-layer timer or a checkpoint A/B has to touch."""
    import ast

    tree = _queries_ast()
    callers = set()
    for fn in tree.body:
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "localCheckpoint"
            ):
                callers.add(getattr(fn, "name", f"line {node.lineno}"))
    assert callers == {"_materialize"}


def test_no_sql_repointed_by_str_replace():
    """No SQL builder's output is re-pointed with str.replace: a replace
    whose target text drifts from the builder silently stops matching and
    the query runs the un-staged statement (or the oracle a patched one).
    Staged relations are passed to their body as arguments instead."""
    import ast
    import re

    builder = re.compile(r"^_\w+_(sql|body|tail|core)$")

    def builder_call(node) -> bool:
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and bool(builder.match(node.func.id))
        )

    offenders = []
    for fn in _queries_ast().body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        from_builder = {
            t.id
            for node in ast.walk(fn)
            if isinstance(node, ast.Assign) and builder_call(node.value)
            for t in node.targets
            if isinstance(t, ast.Name)
        }
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "replace"
            ):
                target = node.func.value
                if builder_call(target) or (
                    isinstance(target, ast.Name) and target.id in from_builder
                ):
                    offenders.append(f"{fn.name}:{node.lineno}")
    assert not offenders, f"SQL re-pointed by str.replace: {offenders}"


def test_staged_oracles_name_no_stage_view():
    """A `_staged_query` row's oracle is one statement with every stage
    inlined: it must not read any of the row's Spark-side stage views
    (DuckDB has none of them)."""
    import ast
    import re

    from sentiment_analysis_data_pipeline_spark import queries as Q

    base = next(
        node.value
        for node in _queries_ast().body
        if isinstance(node, ast.AnnAssign)
        and getattr(node.target, "id", None) == "_REGISTRY_BASE"
    )
    staged = {
        key.value: [stage.elts[0].value for stage in row.args[2:]]
        for key, row in zip(base.keys, base.values)
        if isinstance(row, ast.Call) and row.func.id == "_staged_query"
    }
    assert staged
    for name, views in staged.items():
        assert views, name
        oracle = Q.REGISTRY[name][1](Q.D.DUCKDB)
        named = [v for v in views if re.search(rf"\b{v}\b", oracle)]
        assert not named, f"{name}: oracle names stage view(s) {named}"


def test_one_spark_sentiment_kernel():
    """The lexicon and modifier relations and the score layers are composed
    in exactly one place, functions/sentiment.kernel_join_sql. The registry
    queries, their oracles and sentiment_enrich all call that builder, so
    no second Spark copy of the kernel can drift from what the oracle
    checks."""
    import ast
    import os

    fragments = {"lexicon_values_sql", "modifier_values_sql", "score_layers"}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    callers = set()
    for sub in ("sentiment_analysis_data_pipeline_spark", "tools", "perfbench"):
        for dirpath, _, files in os.walk(os.path.join(root, sub)):
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                path = os.path.join(dirpath, fname)
                with open(path) as f:
                    tree = ast.parse(f.read())
                for fn in tree.body:
                    for node in ast.walk(fn):
                        if not isinstance(node, ast.Call):
                            continue
                        name = getattr(node.func, "id", getattr(node.func, "attr", None))
                        if name in fragments:
                            where = getattr(fn, "name", f"line {node.lineno}")
                            callers.add((os.path.relpath(path, root), where))
    assert callers == {
        ("sentiment_analysis_data_pipeline_spark/functions/sentiment.py", "kernel_join_sql")
    }


def _package_py_files():
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "sentiment_analysis_data_pipeline_spark")
    for dirpath, _, files in os.walk(pkg):
        for fname in sorted(files):
            if fname.endswith(".py"):
                yield os.path.join(dirpath, fname), pkg


def test_one_ivf_and_pq_implementation():
    """The persisted IVF and IVF-PQ indexes (operators/ann_index.py,
    operators/pq_index.py) run the registry's codebook, assignment, PQ
    training and encoding SQL: no operator module spells out its own
    decimal-exact mean or per-(vector, subspace) argmin, and the index
    constants are assigned in exactly one module each."""
    import ast
    import os

    assigned: dict[str, set[str]] = {}
    consts = {"PQ_M", "PQ_SUBDIM", "PQ_K", "PQ_SCALE", "EMB_DIM"}
    for path, pkg in _package_py_files():
        with open(path) as f:
            src = f.read()
        rel = os.path.relpath(path, pkg)
        if rel.startswith("operators" + os.sep):
            for copied in ("decimal(38,0)", "PARTITION BY vec_id, m"):
                assert copied not in src, f"{rel} spells out {copied!r}"
        for node in ast.parse(src).body:
            targets = (
                node.targets
                if isinstance(node, ast.Assign)
                else [node.target] if isinstance(node, ast.AnnAssign) else []
            )
            for t in targets:
                if isinstance(t, ast.Name) and t.id in consts:
                    assigned.setdefault(t.id, set()).add(rel)
    assert {n: len(m) for n, m in assigned.items()} == dict.fromkeys(consts, 1), assigned


# Top-level package defs that only tests reach, each with the reason it
# stays. test_test_only_defs_have_a_reason derives the set from the code:
# a new def that only tests call fails until it gets a reason here or goes.
TEST_ONLY_BY_DESIGN = {
    "functions.sentiment._py_kernel": "independent Python reference of the SQL kernel; tests compare the SQL with it",
    "functions.sentiment.pandas_kernel_library": "the real-library batch kernel a deployment with vaderSentiment/textblob wraps; no engine path may select it",
    "functions.vectors.l2sq_literal": "bit-identity reference for l2sq() in the kcenter tests",
    "operators.ann_index.build_ivf_index": "public build entry of the persisted IVF index",
    "operators.ann_index.ivf_query": "public query entry of the persisted IVF index",
    "operators.bpe.bpe_merges_py": "pure-Python replica that pins the BPE SQL's greedy merges and tie-breaks",
    "operators.multimodal.decode_image_batch": "explicit stub marking the pixel-decode boundary this environment lacks",
    "operators.multimodal.extract_features": "mapInPandas feature extraction over binary media, a public operator",
    "operators.multimodal.synthetic_media": "deterministic media fixture generator for the multimodal operators",
    "operators.pq_index.append_to_ivfpq_index": "public frozen-codebook append of the persisted IVF-PQ index",
    "operators.pq_index.build_ivfpq_index": "public build entry of the persisted IVF-PQ index",
    "operators.pq_index.ivfpq_query": "public ADC query entry of the persisted IVF-PQ index",
    "operators.sketch.estimate_counts": "read side of the streamed Count-Min cells (point query)",
    "operators.validate.sanitize_str": "public column cleaner (NUL strip + trim) of the validation layer",
    "operators.validate.scrub_pii": "batch/stream projection of pii_redact's oracle-checked patterns",
    "operators.validate.validate_articles": "the producers' combined field + URL check, a public operator",
    "plans.monitors.BatchMetricsListener": "streaming progress listener a deployment attaches; public by design",
    "plans.monitors.run_monitors": "the DAG's freshness/quality monitors, a public entry point",
    "queries._embedding_dedup_pairs_live": "in-session equality witness for the persisted embedding-dedup table",
    "queries._wminhash_core_collapsed": "collapsed-branch witness that tests compare with _wminhash_core",
    "sources.files.read_csv": "file-format adapter, public source API",
    "sources.files.read_jsonl": "file-format adapter, public source API",
    "sources.files.read_orc": "file-format adapter, public source API",
    "sources.files.write_csv": "file-format adapter, public sink API",
    "sources.files.write_jsonl": "file-format adapter, public sink API",
    "sources.files.write_orc": "file-format adapter, public sink API",
    "sources.maintenance.compact_parquet": "small-file compaction for the append-only stores, a public maintenance call",
    "sources.newsapi_source.GnewsFixtureDataSource": "offline stand-in for the GNews API source",
    "sources.newsapi_source.NewsApiFixtureDataSource": "offline stand-in for the NewsAPI source",
    "sources.newsapi_source.write_fixture_pages": "writes the NewsAPI stand-in's pages",
    "sources.newsapi_source.write_gnews_fixture_pages": "writes the GNews stand-in's pages",
    "sources.tables.compact_bucketed": "bucketed-index compaction that store compaction (ROADMAP direction 1) needs",
    "streaming.ann_stream.run_streaming_vector_ingest": "stream runner, a public entry point",
    "streaming.calibration_stream.read_average_precision": "stream reader, a public entry point",
    "streaming.calibration_stream.read_calibration": "stream reader, a public entry point",
    "streaming.calibration_stream.read_cumulative_gains": "stream reader, a public entry point",
    "streaming.calibration_stream.read_isotonic": "stream reader, a public entry point",
    "streaming.curation_stream.run_curation_stream": "stream runner, a public entry point",
    "streaming.dedup_stream.run_streaming_dedup": "stream runner, a public entry point",
    "streaming.dedup_stream.verify_candidates": "batch-vs-corpus exact verify, the reference the pipeline tests check the epoch against",
    "streaming.drift_stream.read_psi": "stream reader, a public entry point",
    "streaming.experiment_stream.read_sprt": "stream reader, a public entry point",
    "streaming.experiment_stream.read_srm": "stream reader, a public entry point",
    "streaming.experiment_stream.run_experiment_monitor": "stream runner, a public entry point",
    "streaming.hdr_stream.quantiles_from_hist": "stream reader (percentile serve), a public entry point",
    "streaming.hll_stream.read_estimates": "stream reader, a public entry point",
    "streaming.hll_stream.read_global_estimate": "stream reader, a public entry point",
    "streaming.ingest.attributed_clicks": "watermarked stream-stream interval join, a public stream operator",
    "streaming.ingest.enrich_with_dim": "stream-static broadcast enrichment, a public stream operator",
    "streaming.ingest.hopping_activity": "watermarked hopping-window count, a public stream operator",
    "streaming.ingest.kafka_article_stream": "Kafka envelope source; no broker here, the file source runs the same parse",
    "streaming.ingest.run_file_ingest": "envelope stream into the MERGE sink, a public stream runner",
    "streaming.ingest.run_sentiment_stream": "ingest-and-score in one stream, a public stream runner",
    "streaming.ingest.sessionized_activity": "watermarked session-window count, a public stream operator",
    "streaming.ingest.split_valid_corrupt": "batch quarantine split of malformed envelopes, a public operator",
    "streaming.ingest.with_stream_dedup": "watermark-scoped URL dedup, a public stream operator",
    "streaming.stateful.running_source_stats": "applyInPandasWithState stream operator, a public entry point",
    "streaming.stateful.running_source_stats_tws": "transformWithState twin for Spark 4 sessions, a public entry point",
}


def test_test_only_defs_have_a_reason():
    """Scan every top-level def and class of the package against the names
    every `.py` in the repo uses (Name, attribute and import names; a def's
    own body and a package `__init__`'s relative re-export do not count). A def that only tests/ reaches must be a key
    of TEST_ONLY_BY_DESIGN, and every key must still be one; a def nothing
    reaches at all is dead code."""
    import ast
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tests_dir = os.path.join(root, "tests")

    def used_names(path, skip=None) -> set[str]:
        # a package __init__'s relative `from .x import y` re-exports y;
        # it is not a use
        reexports = os.path.basename(path) == "__init__.py"
        out, stack = set(), [trees[path]]
        while stack:
            node = stack.pop()
            if node is skip or (reexports and isinstance(node, ast.ImportFrom) and node.level):
                continue
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.add(node.name.split(".")[-1])
            stack.extend(ast.iter_child_nodes(node))
        return out

    trees = {}
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(".") and d not in ("spark-warehouse", "__pycache__")]
        for fname in files:
            if fname.endswith(".py"):
                path = os.path.join(dirpath, fname)
                with open(path) as f:
                    trees[path] = ast.parse(f.read())
    uses = {path: used_names(path) for path in trees}

    test_only, dead = set(), set()
    for path, pkg in _package_py_files():
        module = os.path.relpath(path, pkg)[: -len(".py")].replace(os.sep, ".")
        for node in trees[path].body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            reached_from = {
                p
                for p, names in uses.items()
                if node.name in (used_names(p, skip=node) if p == path else names)
            }
            if not reached_from:
                dead.add(f"{module}.{node.name}")
            elif all(p.startswith(tests_dir + os.sep) for p in reached_from):
                test_only.add(f"{module}.{node.name}")
    assert not dead, f"top-level defs nothing reaches: {sorted(dead)}"
    assert test_only == set(TEST_ONLY_BY_DESIGN), (
        f"test-only without a reason: {sorted(test_only - set(TEST_ONLY_BY_DESIGN))}; "
        f"reasons for defs no longer test-only: {sorted(set(TEST_ONLY_BY_DESIGN) - test_only)}"
    )


def test_persisted_ivf_index_equals_registry_assignment(spark, tmp_path):
    """build_ivf_index on sf0.001 `embeddings` persists exactly the codebook
    and the (vec_id, cell) assignment the oracle-checked registry SQL
    computes, and its cell populations are ivf_cell_balance's."""
    from sentiment_analysis_data_pipeline_spark import queries as Q
    from sentiment_analysis_data_pipeline_spark.operators.ann_index import build_ivf_index

    sf = "/root/testdata/sf0.001"
    idx = str(tmp_path / "ivf")
    build_ivf_index(spark, spark.read.parquet(f"{sf}/embeddings.parquet"), idx)

    Q._view(spark, sf, "embeddings")
    ctes = f"WITH {Q._ivf_assign_ctes(Q.D.SPARK)}\n"
    want_assign = spark.sql(ctes + "SELECT vec_id, cell FROM assign").collect()
    want_cents = spark.sql(ctes + "SELECT label AS cell, cv FROM centv0").collect()
    got_assign = spark.read.parquet(f"{idx}/assignments").select("vec_id", "cell").collect()
    got_cents = spark.read.parquet(f"{idx}/centroids.parquet").collect()

    assert len(want_assign) == 500
    assert sorted(map(tuple, got_assign)) == sorted(map(tuple, want_assign))
    assert sorted(map(tuple, got_cents)) == sorted(map(tuple, want_cents))
    sizes = {}
    for _, cell in got_assign:
        sizes[cell] = sizes.get(cell, 0) + 1
    balance = Q.REGISTRY["ivf_cell_balance"][0](spark, sf).collect()
    assert sizes == {r["cell"]: r["n_vectors"] for r in balance}
