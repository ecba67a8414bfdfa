"""Tests of the benchmark's own helpers; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import eventlog
import fixtures
import harness
import ingest
import procstat

DATA = os.path.join(os.path.dirname(__file__), "data")
EPOCH_LOG = os.path.join(DATA, "epoch_eventlog.jsonl")
# one epoch's pairs write and one keyword search, with their SQL metrics
SQL_METRICS_LOG = os.path.join(DATA, "sql_metrics_eventlog.jsonl")
EPOCH_PATHS = {
    "pairs": "/work/run/pairs",
    "curated": "/work/run/curated",
    "corpus": "/work/run/corpus",
    "index": "/work/spark-warehouse/perfbench_idx_32436312ae05",
}


# -- percentile choice by sample count ----------------------------------------

def test_p90_needs_ten_samples_beyond_it():
    assert not harness.has_p90(99)
    assert harness.has_p90(100)


def test_latency_summary_reports_p90_only_from_100_samples():
    assert "latency_p90_s" not in harness.latency_summary([1.0] * 99)
    s = harness.latency_summary([float(i) for i in range(100)])
    assert s["n"] == 100
    assert s["latency_p50_s"] == 49.5
    assert abs(s["latency_p90_s"] - 89.1) < 1e-9


def test_percentile_interpolates():
    assert harness.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert harness.percentile([0.0, 10.0], 25) == 2.5
    assert harness.percentile([7.0], 90) == 7.0


# -- /proc accounting over a process tree --------------------------------------

def _fake_proc(tmp_path, procs, cpu_line):
    """procs: pid -> (comm, ppid, utime, stime, cutime, cstime, hwm_kb)."""
    tmp_path.mkdir(parents=True, exist_ok=True)
    for pid, (comm, ppid, ut, st, cut, cst, hwm) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        # fields after the name: state ppid pgrp session tty tpgid flags
        # minflt cminflt majflt cmajflt utime stime cutime cstime ...
        rest = ["S", ppid, 1, 1, 0, -1, 0, 0, 0, 0, 0, ut, st, cut, cst, 20, 0, 1]
        (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(str(x) for x in rest) + "\n")
        (d / "status").write_text(f"Name:\t{comm}\nVmHWM:\t{hwm} kB\nVmRSS:\t1 kB\n")
    (tmp_path / "stat").write_text(cpu_line + "\ncpu0 1 2 3 4 5 6 7 8 0 0\n")
    return str(tmp_path)


def test_tree_cpu_counts_descendants_and_reaped_children_only(tmp_path):
    tck = procstat.CLK_TCK
    proc = _fake_proc(
        tmp_path,
        {
            100: ("python3", 1, 2 * tck, tck, tck, 0, 2048),
            200: ("java (gateway) x", 100, 5 * tck, 2 * tck, 0, 0, 4096),  # name with spaces and parens
            300: ("python3 -m daemon", 200, tck, 0, 0, tck, 1024),
            400: ("unrelated", 1, 50 * tck, 50 * tck, 0, 0, 9999),
        },
        "cpu  100 0 50 800 10 0 0 40 0 0",
    )
    assert sorted(procstat.tree_pids(100, proc)) == [100, 200, 300]
    assert procstat.tree_cpu_s(100, proc) == 2 + 1 + 1 + 5 + 2 + 1 + 1
    assert procstat.tree_cpu_s(200, proc) == 5 + 2 + 1 + 1
    assert procstat.peak_rss_mb(200, proc) == 4.0
    assert procstat.peak_rss_mb(999, proc) == 0.0


def test_steal_fraction_from_cpu_line(tmp_path):
    before = procstat.cpu_times(_fake_proc(tmp_path / "a", {}, "cpu  100 0 50 800 10 0 0 40 0 0"))
    after = procstat.cpu_times(_fake_proc(tmp_path / "b", {}, "cpu  150 0 70 900 10 0 0 60 0 0"))
    assert before == (40, 1000)
    assert after == (60, 1190)
    assert abs(procstat.steal_frac(before, after) - 20 / 190) < 1e-12
    assert procstat.steal_frac(after, after) == 0.0


# -- event-log parsing on a recorded one-epoch log ------------------------------

def test_recorded_epoch_is_one_nested_group():
    groups = eventlog.nested_groups(eventlog.sql_executions(eventlog.read_events(EPOCH_LOG)))
    assert len(groups) == 1
    root, *nested = groups[0]
    assert root["root"] == root["id"] and len(nested) == 11
    assert all(x["root"] == root["id"] for x in nested)
    assert [x["writes"] for x in nested if x["writes"]] == [
        EPOCH_PATHS["pairs"], EPOCH_PATHS["curated"], EPOCH_PATHS["index"], EPOCH_PATHS["corpus"]
    ]


def test_epoch_steps_partition_the_epoch():
    events = eventlog.read_events(EPOCH_LOG)
    group = eventlog.nested_groups(eventlog.sql_executions(events))[0]
    steps = eventlog.epoch_steps(group, EPOCH_PATHS)
    assert list(steps) == list(eventlog.EPOCH_STEPS)
    assert steps == {
        "recrawl_guard": 0.455, "gate": 0.161, "dedup_probe": 3.548,
        "sentiment_land": 1.854, "index_append": 1.284, "corpus_append": 0.166,
    }
    corpus_end = max(x["end"] for x in group if x["writes"] == EPOCH_PATHS["corpus"])
    assert abs(sum(steps.values()) - (corpus_end - group[0]["start"]) / 1e3) < 1e-9
    # a sink that was never written leaves the epoch unattributed
    assert eventlog.epoch_steps(group, {**EPOCH_PATHS, "pairs": "/elsewhere"}) is None


def test_engine_metrics_over_a_window():
    events = eventlog.read_events(EPOCH_LOG)
    group = eventlog.nested_groups(eventlog.sql_executions(events))[0]
    t0, t1 = group[0]["start"], max(x["end"] for x in group)
    m = eventlog.engine_metrics(events, t0, t1)
    assert m["jobs"] == 37 and m["stages"] == 37 and m["tasks"] == 85
    assert m["task_failures"] == 0
    assert 0 < m["task_cpu_s"] < m["task_run_s"]
    assert m["shuffle_read_mb"] > 0 and m["output_mb"] > 0
    assert eventlog.engine_metrics(events, t1 + 1, t1 + 2)["tasks"] == 0


def test_write_target_reads_the_command_node():
    plan = (
        "== Physical Plan ==\nExecute InsertIntoHadoopFsRelationCommand (3)\n+- WriteFiles (2)\n\n\n"
        "(1) Scan ExistingRDD\nArguments: [doc_id#1L], MapPartitionsRDD[3] at file:/not/this\n\n"
        "(3) Execute InsertIntoHadoopFsRelationCommand\nInput: []\n"
        "Arguments: file:/data/out/, false, Parquet, [path=/data/out], Append, [doc_id]\n"
    )
    assert eventlog.write_target(plan) == "/data/out"
    assert eventlog.write_target("== Physical Plan ==\n* Range (1)\n") is None


def test_sql_executions_keep_the_last_adaptive_plan():
    events = eventlog.read_events(SQL_METRICS_LOG)
    pairs, search = eventlog.sql_executions(events)
    start_plans = {e["executionId"]: e["sparkPlanInfo"] for e in events if e["Event"] == eventlog.SQL_START}
    updates = [e for e in events if e["Event"] == eventlog.SQL_PLAN_UPDATE and e["executionId"] == pairs["id"]]
    assert updates and pairs["plan"] == updates[-1]["sparkPlanInfo"] != start_plans[pairs["id"]]
    assert search["group"] == "board.search" and search["plan"] == start_plans[search["id"]]


def test_verify_rows_count_candidates_in_and_pairs_out():
    events = eventlog.read_events(SQL_METRICS_LOG)
    totals = eventlog.sql_metric_totals(events)
    pairs_write = eventlog.sql_executions(events)[0]
    assert pairs_write["writes"] == EPOCH_PATHS["pairs"]
    cands, pairs = eventlog.verify_rows(pairs_write["plan"], totals)
    assert (cands, pairs) == (38, 22)
    # every verified pair is a row the write landed
    written = [
        eventlog.output_rows(n, totals) for n in eventlog.plan_nodes(pairs_write["plan"])
        if n["nodeName"].startswith("Execute ")
    ]
    assert written == [pairs]


def test_scan_rows_of_a_keyword_search():
    events = eventlog.read_events(SQL_METRICS_LOG)
    search = eventlog.sql_executions(events)[1]
    totals = eventlog.sql_metric_totals(events)
    assert eventlog.scan_rows(search["plan"], totals) == 300  # the table's rows
    assert eventlog.scan_rows(search["plan"], {}) == 0


# -- generator determinism -------------------------------------------------------

def test_documents_are_a_function_of_the_seed():
    assert fixtures.documents(3, 200) == fixtures.documents(3, 200)
    assert fixtures.documents(3, 200) != fixtures.documents(4, 200)
    assert fixtures.relational_tables(3, 50) == fixtures.relational_tables(3, 50)


def _drops(seed, n):
    gen = fixtures.IngestDrops(seed, fixtures.documents(seed, 100))
    return [gen.next_drop() for _ in range(n)], gen


def test_ingest_drops_are_deterministic_and_mixed():
    a, gen = _drops(5, 3)
    b, _ = _drops(5, 3)
    assert a == b
    assert a != _drops(6, 3)[0]
    corpus = {r["doc_id"] for r in fixtures.documents(5, 100)}
    seen = set(corpus)
    for drop in a:
        assert len(drop) == 200
        assert len({r["doc_id"] for r in drop}) == 200  # no id twice within a drop
        kinds = {"fresh": 0, "near_dup": 0, "replay": 0, "reject": 0}
        for r in drop:
            kinds["replay" if r["doc_id"] in seen else gen.kinds[r["doc_id"]]] += 1
        seen |= {r["doc_id"] for r in drop}
        assert kinds == {"fresh": 122, "near_dup": 9, "replay": 20, "reject": 49}


def test_planted_near_duplicates_stay_far_above_the_threshold():
    _, gen = _drops(7, 3)
    assert len(gen.planted) == 27
    for dup, src in gen.planted:
        assert len(gen.text[src].split(" ")) >= 40
        assert ingest.jaccard(gen.text[dup], gen.text[src]) >= 0.75


def test_documents_mix_is_exact_in_every_seed():
    for seed in range(5):
        rows = fixtures.documents(seed, 300)
        assert sum(r["lang"] == "en" for r in rows) == 123


def test_any_three_pages_in_a_row_hold_one_to_three_terms():
    pages = fixtures.search_pages(4, [f"w{i}" for i in range(50)], 10)
    for i in range(len(pages) - 2):
        assert sorted(len(p["terms"]) for p in pages[i:i + 3]) == [1, 2, 3]


def test_search_pages_and_board_orders_are_deterministic():
    vocab = [f"w{i}" for i in range(50)]
    pages = fixtures.search_pages(9, vocab, 40)
    assert pages == fixtures.search_pages(9, vocab, 40)
    assert all(1 <= len(p["terms"]) <= 3 for p in pages)
    assert any(t.startswith("qqzx") for p in pages for t in p["terms"])
    names = ["a", "b", "c", "d"]
    orders = fixtures.board_orders(9, names, 5)
    assert orders == fixtures.board_orders(9, names, 5)
    assert all(sorted(o) == names for o in orders)
