"""Spark event-log parsing for the traced run: engine totals over a time
window, the attribution of a streaming epoch's SQL executions to the
pipeline step that ran them, and row counts read from the SQL metrics of an
execution's final physical plan.

An epoch is the group of SQL executions nested under one foreachBatch
execution. Its steps are told apart by what each execution writes (the
path argument of its write command) and by the order of the eager
checkpoints at its start, never by stage names or call sites: PySpark
DataFrame stages often carry no Python call site, and every execution of a
streaming epoch reports the stream's start as its call site.
"""

from __future__ import annotations

import json
import os
import re

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
SQL_PLAN_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
OUTPUT_ROWS = "number of output rows"
EPOCH_STEPS = (
    "recrawl_guard", "gate", "dedup_probe", "sentiment_land", "index_append", "corpus_append",
)
MB = 1024.0 * 1024.0


def read_events(path: str) -> list[dict]:
    """Events of one (non-rolling, uncompressed) application log."""
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def engine_metrics(events: list[dict], t0_ms: int, t1_ms: int) -> dict[str, float]:
    """Totals of the jobs, stages and tasks that started in [t0_ms, t1_ms]."""
    m = dict.fromkeys(
        ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "scheduler_delay_s",
         "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb", "output_mb",
         "task_failures"),
        0.0,
    )
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart" and t0_ms <= e["Submission Time"] <= t1_ms:
            m["jobs"] += 1
        elif ev == "SparkListenerStageCompleted":
            sub = e["Stage Info"].get("Submission Time")
            if sub is not None and t0_ms <= sub <= t1_ms:
                m["stages"] += 1
        elif ev == "SparkListenerTaskEnd":
            info = e["Task Info"]
            if not t0_ms <= info["Launch Time"] <= t1_ms:
                continue
            m["tasks"] += 1
            if e["Task End Reason"].get("Reason") != "Success" or info.get("Failed"):
                m["task_failures"] += 1
            tm = e.get("Task Metrics") or {}
            if not tm:
                continue
            run_ms = tm.get("Executor Run Time", 0)
            m["task_run_s"] += run_ms / 1e3
            m["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            duration = info["Finish Time"] - info["Launch Time"]
            m["scheduler_delay_s"] += max(
                0,
                duration - run_ms - tm.get("Executor Deserialize Time", 0)
                - tm.get("Result Serialization Time", 0) - info.get("Getting Result Time", 0),
            ) / 1e3
            sr = tm.get("Shuffle Read Metrics", {})
            m["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
            m["shuffle_write_mb"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
            m["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
            m["input_mb"] += tm.get("Input Metrics", {}).get("Bytes Read", 0) / MB
            m["output_mb"] += tm.get("Output Metrics", {}).get("Bytes Written", 0) / MB
    return m


def sql_executions(events: list[dict]) -> list[dict]:
    """Finished SQL executions in start order: id, root id, start/end (epoch
    ms), the path the execution writes, if any, its job group, and its last
    (adaptive) physical plan tree."""
    by_id: dict[int, dict] = {}
    for e in events:
        if e["Event"] == SQL_START:
            by_id[e["executionId"]] = {
                "id": e["executionId"],
                "root": e.get("rootExecutionId", e["executionId"]),
                "start": e["time"],
                "end": None,
                "writes": write_target(e.get("physicalPlanDescription", "")),
                "group": e.get("jobGroupId"),
                "plan": e.get("sparkPlanInfo"),
            }
        elif e["Event"] == SQL_PLAN_UPDATE and e["executionId"] in by_id:
            by_id[e["executionId"]]["plan"] = e["sparkPlanInfo"]
        elif e["Event"] == SQL_END and e["executionId"] in by_id:
            by_id[e["executionId"]]["end"] = e["time"]
    return sorted((x for x in by_id.values() if x["end"] is not None), key=lambda x: x["start"])


_WRITE_NODE = re.compile(r"^\(\d+\) Execute \w+Command\s*$", re.M)


def write_target(plan: str) -> str | None:
    """First argument of the plan's command node -- the path (without URI
    scheme) or table a write targets."""
    m = _WRITE_NODE.search(plan)
    if m is None:
        return None
    for line in plan[m.end():].splitlines():
        if line.startswith("Arguments: "):
            target = line[len("Arguments: "):].split(",")[0].strip()
            return re.sub(r"^file:(//)?", "", target).rstrip("/")
    return None


def nested_groups(executions: list[dict]) -> list[list[dict]]:
    """[root, *nested executions] for every root execution that ran others
    inside it -- one streaming epoch (foreachBatch) per group."""
    kids: dict[int, list[dict]] = {}
    for x in executions:
        if x["root"] != x["id"]:
            kids.setdefault(x["root"], []).append(x)
    return [[x, *kids[x["id"]]] for x in executions if x["id"] in kids]


# the re-crawl guard runs two executions (its eager checkpoint and the
# empty-batch probe); the third is the curation gate's eager checkpoint
GUARD_EXECUTIONS = 2


def epoch_steps(group: list[dict], paths: dict[str, str]) -> dict[str, float] | None:
    """Seconds per step of one epoch from its execution group (see
    ``nested_groups``). ``paths`` maps "pairs", "curated", "index" and
    "corpus" to their storage paths; the write of each sink ends its step.
    Returns None when an expected execution is missing."""
    root, nested = group[0], group[1:]
    if len(nested) <= GUARD_EXECUTIONS:
        return None
    gate = nested[GUARD_EXECUTIONS]

    def write_end(key: str) -> int | None:
        ends = [x["end"] for x in nested if x["writes"] == paths[key].rstrip("/")]
        return max(ends) if ends else None

    ends = [write_end(k) for k in ("pairs", "curated", "index", "corpus")]
    if None in ends:
        return None
    bounds = [root["start"], gate["start"], gate["end"], *ends]
    return {s: max(0, b - a) / 1e3 for s, a, b in zip(EPOCH_STEPS, bounds, bounds[1:])}


def sql_metric_totals(events: list[dict]) -> dict[int, int]:
    """Value of every SQL metric by accumulator id: the sum of its task
    updates and its driver-side updates."""
    totals: dict[int, int] = {}
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd":
            for acc in e["Task Info"].get("Accumulables", ()):
                if acc.get("Metadata") == "sql":
                    totals[acc["ID"]] = totals.get(acc["ID"], 0) + int(acc["Update"])
        elif e["Event"] == DRIVER_ACCUMS:
            for acc_id, value in e["accumUpdates"]:
                totals[acc_id] = totals.get(acc_id, 0) + int(value)
    return totals


def plan_nodes(plan: dict):
    yield plan
    for child in plan["children"]:
        yield from plan_nodes(child)


def output_rows(node: dict, totals: dict[int, int]) -> int | None:
    """A plan node's output-row count, or None if the node has no such
    metric."""
    for m in node["metrics"]:
        if m["name"] == OUTPUT_ROWS:
            return totals.get(m["accumulatorId"], 0)
    return None


def scan_rows(plan: dict, totals: dict[int, int]) -> int:
    """Rows produced by the plan's scans of files and RDDs."""
    return sum(output_rows(n, totals) or 0 for n in plan_nodes(plan) if n["nodeName"].startswith("Scan "))


def verify_rows(plan: dict, totals: dict[int, int]) -> tuple[int, int]:
    """(candidates, pairs) of the plan's exact-Jaccard verification: rows into
    and out of every filter or join whose condition intersects two shingle
    arrays. The rows in are those of the nearest node below it, on its first
    (streamed) side, that counts its output."""
    cands = pairs = 0
    for node in plan_nodes(plan):
        name = node["nodeName"]
        if not (name == "Filter" or name.endswith("Join")) or "array_intersect(" not in node["simpleString"]:
            continue
        pairs += output_rows(node, totals) or 0
        below = node["children"][0]
        while output_rows(below, totals) is None and below["children"]:
            below = below["children"][0]
        cands += output_rows(below, totals) or 0
    return cands, pairs


def find_log(directory: str) -> str | None:
    """The one application log a run wrote into ``directory``."""
    if not os.path.isdir(directory):
        return None
    names = [n for n in os.listdir(directory) if not n.startswith(".")]
    return os.path.join(directory, names[0]) if len(names) == 1 else None
