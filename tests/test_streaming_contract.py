"""The streaming contract (streaming/_log.py): every foreachBatch runner
drains through `_log.drain`, every sink guard reads what already landed
through `_log.landed_keys`, the epoch log stamps its own batch_id, and
every accumulator is an `_log.Accumulator` that keeps one
append/read/compact/run contract."""

from __future__ import annotations

import ast
import importlib
import json
import os
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, DoubleType, StringType

from sentiment_analysis_data_pipeline_spark import streaming
from sentiment_analysis_data_pipeline_spark.streaming._log import (
    COMPACTED_STAMP,
    Accumulator,
    landed_keys,
)
from sentiment_analysis_data_pipeline_spark.streaming.ingest import run_sentiment_stream

STREAMING = Path(streaming.__file__).parent


def _modules():
    for path in sorted(STREAMING.glob("*.py")):
        yield path.name, ast.parse(path.read_text())


def _sites(pred) -> set[tuple[str, str | None]]:
    """(module, top-level def) of every AST node in streaming/ that `pred`
    accepts; None for module-level code."""
    out = set()
    for name, tree in _modules():
        for top in tree.body:
            for node in ast.walk(top):
                if pred(node):
                    out.add((name, getattr(top, "name", None)))
    return out


def _attr(name):
    return lambda node: isinstance(node, ast.Attribute) and node.attr == name


def _names(node) -> set[str]:
    """Every name `node` references, imports included."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def test_runners_drain_through_one_helper():
    assert _sites(_attr("foreachBatch")) == {("_log.py", "drain")}
    # the curation stream's file sink is exactly-once through its own
    # _spark_metadata log, so it needs no foreachBatch guard
    assert _sites(_attr("writeStream")) == {
        ("_log.py", "drain"),
        ("curation_stream.py", "run_curation_stream"),
    }
    runners = {}
    for name, tree in _modules():
        tops = [t for t in tree.body if isinstance(t, ast.FunctionDef)]
        for cls in (t for t in tree.body if isinstance(t, ast.ClassDef)):
            tops += [f for f in cls.body if isinstance(f, ast.FunctionDef)]
        for top in tops:
            if top.name == "run" or top.name.startswith("run_"):
                last = top.body[-1]
                runners[top.name] = (
                    isinstance(last, ast.Return)
                    and isinstance(last.value, ast.Call)
                    and isinstance(last.value.func, ast.Name)
                    and last.value.func.id == "drain"
                )
    assert runners.pop("run_curation_stream") is False
    # six stream runners plus Accumulator.run, which runs all seven accumulators
    assert len(runners) == 7 and runners.pop("run") and all(runners.values()), runners


def test_sink_guards_read_through_landed_keys():
    assert _sites(lambda n: "AnalysisException" in _names(n)) == set()
    exists_calls = _sites(lambda n: isinstance(n, ast.Call) and _attr("exists")(n.func))
    existence = exists_calls | _sites(lambda n: "_fs_for" in _names(n))
    assert {module for module, _ in existence} == {"_log.py"}


def test_batch_id_stamped_in_one_place():
    def stamps(node):
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "withColumn"
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value == "batch_id"
            and "lit" in _names(node.args[1])
        )

    assert _sites(stamps) == {
        ("_log.py", "guarded_append"),
        ("_log.py", "compact_log"),
        ("dedup_stream.py", "land_pairs"),
    }


def _orphan_append(spark, tmp_path: Path, target: Path, df) -> None:
    """Leave `target` holding only a killed first append's _temporary/
    part file."""
    partial = tmp_path / "partial"
    df.coalesce(1).write.parquet(str(partial))
    orphan = target / "_temporary" / "0" / "_temporary"
    orphan.mkdir(parents=True)
    shutil.copy(next(partial.glob("part-*.parquet")), orphan / "part-0.parquet")
    shutil.rmtree(partial)


def test_landed_keys_absent_and_temporary_only(spark, tmp_path):
    assert landed_keys(spark, str(tmp_path / "absent"), "doc_id long") is None
    target = tmp_path / "sink"
    _orphan_append(spark, tmp_path, target, spark.createDataFrame([(1,)], "doc_id long"))
    landed = landed_keys(spark, str(target), "doc_id long")
    assert landed is not None and landed.count() == 0


def test_sentiment_stream_lands_over_a_killed_first_processed_append(spark, tmp_path):
    """The processed sink's guard reads a _temporary/-only dir as zero
    rows, so the first epoch still lands every scored row."""
    src, proc = tmp_path / "src", tmp_path / "proc"
    src.mkdir()
    _orphan_append(
        spark, tmp_path, proc, spark.createDataFrame([("x",)], "doc_id string")
    )
    rows = [(0, "great excellent best"), (1, "terrible worst hate")]
    (src / "a.json").write_text(
        "".join(
            json.dumps(
                {
                    "source_api": "newsapi",
                    "fetched_at": "2024-01-01T00:00:00.000Z",
                    "article": {
                        "title": title,
                        "url": f"https://e.com/{i}",
                        "publishedAt": "2024-01-01T00:00:00.000Z",
                    },
                }
            )
            + "\n"
            for i, title in rows
        )
    )
    query = run_sentiment_stream(
        spark, str(src), str(tmp_path / "raw"), str(proc), str(tmp_path / "ckpt")
    )
    query.awaitTermination(120)
    assert query.exception() is None
    got = {r["url"] for r in spark.read.parquet(str(proc)).collect()}
    assert got == {"https://e.com/0", "https://e.com/1"}


def _accumulators() -> list:
    """Every module-level Accumulator value under streaming/."""
    out = []
    for path in sorted(STREAMING.glob("*.py")):
        module = importlib.import_module(f"{streaming.__name__}.{path.stem}")
        for name, value in sorted(vars(module).items()):
            if isinstance(value, Accumulator):
                out.append(pytest.param(value, id=f"{path.stem}.{name}"))
    return out


ACCUMULATORS = _accumulators()
_WORDS = ["alpha beta", "beta gamma delta", "gamma"]


def _drop(schema, start: int, n: int) -> list[dict]:
    """n deterministic rows of a stream schema: strings cycle through three
    phrases (segments, texts), doubles step by 0.75, longs are distinct."""

    def value(field, i):
        if isinstance(field.dataType, StringType):
            return _WORDS[i % len(_WORDS)]
        if isinstance(field.dataType, DoubleType):
            return i * 0.75
        return i * 7_919 + 1

    return [{f.name: value(f, i) for f in schema.fields} for i in range(start, start + n)]


def _read(acc: Accumulator, spark, log: str) -> list[tuple]:
    """The merged read's sorted rows; a sketch column compares by its
    HLL estimate (union order may change the bytes, not the estimate)."""
    df = acc.read(spark, log)
    cols = [
        F.expr(f"hll_sketch_estimate({c.name})").alias(c.name)
        if isinstance(c.dataType, BinaryType)
        else F.col(c.name)
        for c in df.schema.fields
    ]
    return sorted(map(tuple, df.select(cols).collect()))


def _stamps(acc: Accumulator, spark, log: str) -> set[int]:
    rows = spark.read.schema(acc.log_schema).parquet(log).select("batch_id").distinct()
    return {r["batch_id"] for r in rows.collect()}


def test_seven_accumulators():
    assert len(ACCUMULATORS) == 7, [p.id for p in ACCUMULATORS]


@pytest.mark.parametrize("acc", ACCUMULATORS)
def test_accumulator_contract(spark, tmp_path, acc):
    schema = spark.createDataFrame([], acc.stream_schema).schema
    drops = [_drop(schema, 0, 40), _drop(schema, 40, 40)]
    batches = [spark.createDataFrame(d, schema) for d in drops]
    log = str(tmp_path / "log")

    # a replayed batch_id lands nothing; a new one lands
    assert acc.append(spark, batches[0], log, 0)
    once = _read(acc, spark, log)
    assert not acc.append(spark, batches[0], log, 0)
    assert _read(acc, spark, log) == once
    assert acc.append(spark, batches[1], log, 1)
    assert _stamps(acc, spark, log) == {0, 1}
    merged = _read(acc, spark, log)

    # compaction keeps the read, folds every stamp, and leaves nothing staged
    acc.compact(spark, log)
    assert _read(acc, spark, log) == merged
    assert _stamps(acc, spark, log) == {COMPACTED_STAMP}
    assert os.listdir(tmp_path) == ["log"]

    # one run over the two drops as json files reads as the two appends
    source = tmp_path / "incoming"
    source.mkdir()
    for i, drop in enumerate(drops):
        (source / f"{i}.json").write_text("".join(json.dumps(r) + "\n" for r in drop))
    streamed = str(tmp_path / "streamed")
    query = acc.run(spark, str(source), streamed, str(tmp_path / "ckpt"))
    query.awaitTermination(120)
    assert query.exception() is None
    assert _read(acc, spark, streamed) == merged


def test_log_protocol_runs_through_accumulator():
    """Outside _log.py nothing calls compact_log, and guarded_append is
    called only by experiment's first-seen user log, whose anti-join needs
    the log itself."""
    package = STREAMING.parent
    calls = set()
    for path in sorted(package.rglob("*.py")):
        module = path.relative_to(package).as_posix()
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if not isinstance(node, ast.Call):
                    continue
                fn = node.func
                name = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
                if name in ("compact_log", "guarded_append") and module != "streaming/_log.py":
                    calls.add((module, getattr(top, "name", None), name))
    assert calls == {("streaming/experiment_stream.py", "append_users", "guarded_append")}
