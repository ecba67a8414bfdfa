"""Contract tests for bench.py's driver-parsed output line.

Round 4's BENCH record was driver-unparseable ("parsed": null): the single
JSON line carrying rows+spread for 52 queries outgrew the driver's tail
-capture window and truncated from the head. Round 7 lost the record AGAIN:
the per-query map alone (108 entries, ~2.9 KB) passed the then-4096 budget
but overflowed the driver's REAL window, measured at exactly 2,000 bytes
from BENCH_r07.json's decapitated tail. These tests pin the round-8 fix --
the final line carries a FIXED flagship subset of queries (size no longer
grows with the headline set at all) and is asserted against the MEASURED
2,000-byte window, not a guessed one.
"""

import json

import bench


def test_final_line_fits_measured_window_at_any_growth():
    # Today's real headline set must clear the STRICT emission budget...
    today = {n: 123.456 for n in bench.BENCH_QUERIES}
    line = bench.final_line(today, 0.1, 5, anchor=0.631, unstable=["a", "b"])
    assert len(line) < bench.LINE_BUDGET
    # ...and stay inside the driver's MEASURED 2,000-byte tail window.
    assert len(line) < bench.DRIVER_WINDOW
    # Growth-proof: TRIPLE the headline set changes the final line size only
    # via the "value"/"n_queries" digits -- the queries dict is the fixed
    # flagship subset, so unlike rounds 4 and 7 there is no growth path back
    # over the window.
    timings = dict(today)
    timings.update({f"{n}_b": 123.456 for n in bench.BENCH_QUERIES})
    timings.update({f"{n}_c": 123.456 for n in bench.BENCH_QUERIES})
    grown = json.dumps(
        bench.build_result(timings, 0.1, 5, anchor=0.631, unstable=[]),
        separators=(",", ":"),
    )
    assert len(grown) < bench.DRIVER_WINDOW
    assert abs(len(grown) - len(line)) < 32


def test_final_line_shape():
    today = {n: 1.0 for n in bench.BENCH_QUERIES}
    parsed = json.loads(bench.final_line(today, 0.1, 5, 0.7, ["x"]))
    assert parsed["metric"] == "headline_queries_total"
    assert parsed["unit"] == "sec"
    assert parsed["value"] == round(float(len(today)), 3)
    assert parsed["n_queries"] == len(today)
    assert parsed["anchor"] == 0.7
    assert parsed["unstable"] == 1
    # queries = exactly the flagship subset (all of which are timed today)
    assert set(parsed["queries"]) == set(bench.FINAL_LINE_QUERIES)
    # rows/spread must NOT be on the driver-parsed line (they overflowed r4);
    # the full timing map must not be either (it overflowed r7).
    assert "rows" not in parsed and "spread" not in parsed
    assert len(parsed["queries"]) < len(today)


def test_final_line_values_ms_rounded():
    line = bench.final_line(
        {"pricing_summary": 1.23456, "bm25_search": 0.00049}, 0.01, 5
    )
    parsed = json.loads(line)
    assert parsed["queries"]["pricing_summary"] == 1.235
    assert parsed["queries"]["bm25_search"] == 0.0
    assert parsed["value"] == round(1.23456 + 0.00049, 3)


def test_flagship_subset_is_timed_and_registered():
    missing = [n for n in bench.FINAL_LINE_QUERIES if n not in bench.BENCH_QUERIES]
    assert not missing, f"final-line names not in the timed set: {missing}"


def test_vs_golden_mechanical_verdict():
    golden = {
        "sf": 0.1,
        "anchor_sec": 0.5,
        "min_sec": {"a": 1.0, "b": 2.0, "tiny": 0.1, "gone": 0.0},
    }
    # Run anchor 1.0 = environment 2x slower than golden -> allowance doubles.
    mins = {
        "a": 1.9,    # 1.9 < 1.0*2*2 -> fine (ratio 0.95)
        "b": 9.0,    # 9.0 > 2.0*2*2 -> regression (ratio 2.25)
        "tiny": 0.5, # ratio 2.5 but excess 0.3-0.2... above floor? 0.5-0.2=0.3>0.25 -> flags
        "new": 3.0,  # not in golden -> skipped
    }
    ratios, regressions = bench.vs_golden(mins, 1.0, golden)
    assert ratios["a"] == 0.95
    assert ratios["b"] == 2.25
    assert "new" not in ratios and "gone" not in ratios
    assert regressions == ["b", "tiny"]
    # A FASTER current environment must not shrink the allowance (floor 1.0):
    ratios2, reg2 = bench.vs_golden({"b": 4.5}, 0.25, golden)
    assert ratios2["b"] == 2.25 and reg2 == ["b"]
    # Tiny absolute excess below the floor never flags even at high ratio.
    _, reg3 = bench.vs_golden({"tiny": 0.3}, 1.0, golden)
    assert reg3 == []


def test_final_line_carries_regression_count():
    today = {n: 1.0 for n in bench.BENCH_QUERIES}
    parsed = json.loads(
        bench.final_line(today, 0.1, 5, 0.7, ["x"], 0.8, regressions=["b", "c"])
    )
    assert parsed["regressions"] == 2
    line = bench.final_line(today, 0.1, 5, 0.7, ["x"], 0.8, regressions=["b"])
    assert len(line) < bench.LINE_BUDGET


def test_final_line_carries_regime_split_under_budget():
    # Round-11 verdict item 2: the live/indexed/index-build split must ride
    # the final line ADDITIVELY without threatening the driver window.
    today = {n: 123.456 for n in bench.BENCH_QUERIES}
    regimes = {
        "live_sec": 111111.111,
        "indexed_sec": 22222.222,
        "index_build_sec": 3333.333,
        "index_build_unmeasured": 12,
    }
    line = bench.final_line(
        today, 0.1, 5, 0.7, ["x"], 0.8, regressions=["b"], regimes=regimes
    )
    assert len(line) < bench.LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["live_sec"] == regimes["live_sec"]
    assert parsed["indexed_sec"] == regimes["indexed_sec"]
    assert parsed["index_build_sec"] == regimes["index_build_sec"]
    # the pre-existing contract fields are untouched by the addition
    assert parsed["metric"] == "headline_queries_total"
    assert set(parsed["queries"]) == set(bench.FINAL_LINE_QUERIES)


def test_indexed_queries_list_is_mechanical():
    """INDEXED_QUERIES must equal the set of registry queries whose Spark
    callable transitively reaches ensure_stamped_table -- re-derived here
    from the source so the hand-maintained set can never drift.

    A registry row is `(q_fn, builder)`, `_sql_query(builder, *tables)` or
    `_staged_query(body, tables, *(view, stage_builder))`. A constructor
    row's Spark side is the constructor's body plus every builder it is
    given, so reachability is searched from all of them. Every REGISTRY
    name must parse into one of the three forms: a row in a fourth form
    would otherwise drop out of the derived set unnoticed."""
    import ast
    import os
    import re

    from sentiment_analysis_data_pipeline_spark import queries as Q

    src_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "sentiment_analysis_data_pipeline_spark",
        "queries.py",
    )
    with open(src_path) as f:
        src = f.read()
    tree = ast.parse(src)
    defs = {
        node.name: ast.get_source_segment(src, node)
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
    }

    def reaches(fn: str, seen: set[str]) -> bool:
        if fn in seen:
            return False
        seen.add(fn)
        body = defs.get(fn, "")
        if "ensure_stamped_table" in body:
            return True
        callees = set(re.findall(r"\b(_[a-zA-Z0-9_]+|q_[a-zA-Z0-9_]+)\(", body))
        return any(
            c in defs and c != fn and reaches(c, seen) for c in callees
        )

    base = next(
        node.value
        for node in tree.body
        if isinstance(node, ast.AnnAssign)
        and getattr(node.target, "id", None) == "_REGISTRY_BASE"
    )
    roots: dict[str, list[str]] = {}
    for key, row in zip(base.keys, base.values):
        if isinstance(row, ast.Tuple):
            roots[key.value] = [row.elts[0].id]
        elif isinstance(row, ast.Call) and row.func.id == "_sql_query":
            roots[key.value] = ["_sql_query", row.args[0].id]
        elif isinstance(row, ast.Call) and row.func.id == "_staged_query":
            body, _tables, *stages = row.args
            roots[key.value] = ["_staged_query", body.id] + [
                stage.elts[1].id for stage in stages
            ]
    assert set(roots) == set(Q.REGISTRY)
    assert all(fn in defs for fns in roots.values() for fn in fns)
    derived = {
        name for name, fns in roots.items() if any(reaches(fn, set()) for fn in fns)
    }
    assert derived == bench.INDEXED_QUERIES


def test_index_build_costs_reads_stamped_artifacts(tmp_path):
    wh = tmp_path / "spark-warehouse"
    for name, stamp, build in [
        ("foo_idx_sf0_5", True, "12.5"),   # measured
        ("bar_idx_sf0_5", True, None),     # stamped, pre-instrumentation
        ("unstamped_sf0_5", False, "9.9"), # no stamp -> not a valid artifact
        ("other_sf0_01", True, "3.3"),     # different sf tag -> excluded
    ]:
        d = wh / name
        d.mkdir(parents=True)
        if stamp:
            (d / "_corpus_stamp").write_text("fp")
        if build:
            (d / "_build_sec").write_text(build)
    got = bench.index_build_costs("/root/testdata/sf0.5", warehouse=str(wh))
    assert got == {"foo_idx_sf0_5": 12.5, "bar_idx_sf0_5": None}


def test_committed_golden_flags_a_reverted_query():
    """VERDICT r11 task 1 'done' check: against the COMMITTED golden board
    (re-stamped this round from an anchor-stable run), a query regressing to
    a deliberately-inflated time must flag mechanically, and a query at its
    golden floor must not."""
    with open(bench.GOLDEN_PATH) as f:
        golden = json.load(f)
    assert golden["sf"] == 0.1 and len(golden["min_sec"]) >= 200
    # simulate: every query at its floor, except one reverted to 8x its
    # optimized floor (wminhash_pairs' r11 before/after class)
    mins = dict(golden["min_sec"])
    victim = "wminhash_pairs"
    mins[victim] = golden["min_sec"][victim] * 8
    ratios, regressions = bench.vs_golden(mins, golden["anchor_sec"], golden)
    assert regressions == [victim]
    assert ratios[victim] > bench.GOLDEN_RATIO_BOUND


def test_headline_names_exist_in_registry():
    from sentiment_analysis_data_pipeline_spark.queries import spark_queries

    qs = spark_queries()
    missing = [n for n in bench.BENCH_QUERIES if n not in qs]
    assert not missing, f"bench names not in registry: {missing}"
