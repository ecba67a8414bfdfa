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
