"""Streaming Count-Min accumulator (streaming/sketch_stream.py): each
micro-batch appends ONE bounded sketch partial; the merged sketch equals
the batch sketch over the union of drops (mergeability), estimates track
the oracle-checked batch audit query, and a replayed epoch cannot
double-count (batch-stamp drop)."""

from __future__ import annotations

import json

import pyspark.sql.functions as F

from sentiment_analysis_data_pipeline_spark.operators.sketch import (
    CM_DEPTH,
    CM_WIDTH,
    countmin_cells,
    estimate_counts,
)
from sentiment_analysis_data_pipeline_spark.streaming import sketch_stream

DOCS_A = [(1, "apple banana apple cherry"), (2, "banana apple date")]
DOCS_B = [(3, "cherry cherry apple"), (4, "elderberry fig apple banana")]


def _write_drop(path: str, rows: list[tuple[int, str]]) -> None:
    with open(path, "w") as f:
        for doc_id, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def _cells_dict(df) -> dict[tuple[int, int], int]:
    return {(r["j"], r["col"]): r["cnt"] for r in df.collect()}


def test_streamed_sketch_equals_batch_sketch(spark, tmp_path):
    source = tmp_path / "incoming"
    source.mkdir()
    cells = str(tmp_path / "cells")
    ckpt = str(tmp_path / "ckpt")

    _write_drop(str(source / "a.json"), DOCS_A)
    q = sketch_stream.CELLS.run(spark, str(source), cells, ckpt)
    q.awaitTermination(120)
    _write_drop(str(source / "b.json"), DOCS_B)
    q = sketch_stream.CELLS.run(spark, str(source), cells, ckpt)
    q.awaitTermination(120)

    streamed = _cells_dict(sketch_stream.CELLS.read(spark, cells))
    batch = _cells_dict(
        countmin_cells(
            spark.createDataFrame(DOCS_A + DOCS_B, "doc_id long, text string")
        )
    )
    # mergeability: sum of per-epoch partials == one-shot batch sketch
    assert streamed == batch
    # bounded state: every epoch appended at most DEPTH*WIDTH cell rows
    per_epoch = (
        spark.read.schema(sketch_stream.CELLS_SCHEMA)
        .parquet(cells)
        .groupBy("batch_id")
        .count()
        .collect()
    )
    assert len(per_epoch) == 2
    assert all(r["count"] <= CM_DEPTH * CM_WIDTH for r in per_epoch)
    # total mass = DEPTH * token occurrences (7 + 7 tokens)
    assert sum(streamed.values()) == CM_DEPTH * 14


def test_replayed_epoch_lands_nothing(spark, tmp_path):
    cells = str(tmp_path / "cells")
    batch = spark.createDataFrame(DOCS_A, "doc_id long, text string")
    sketch_stream.CELLS.append(spark, batch, cells, batch_id=0)
    before = _cells_dict(sketch_stream.CELLS.read(spark, cells))
    # a foreachBatch retry re-runs the epoch with the SAME batch_id
    sketch_stream.CELLS.append(spark, batch, cells, batch_id=0)
    assert _cells_dict(sketch_stream.CELLS.read(spark, cells)) == before
    # a NEW epoch still lands
    sketch_stream.CELLS.append(spark, batch, cells, batch_id=1)
    after = _cells_dict(sketch_stream.CELLS.read(spark, cells))
    assert after == {k: 2 * v for k, v in before.items()}


def test_estimates_never_underestimate_and_compaction(spark, tmp_path):
    cells = str(tmp_path / "cells")
    for i, docs in enumerate((DOCS_A, DOCS_B)):
        sketch_stream.CELLS.append(
            spark, spark.createDataFrame(docs, "doc_id long, text string"), cells, i
        )
    toks = spark.createDataFrame(
        [("apple",), ("banana",), ("cherry",), ("missing",)], "token string"
    )
    est = {
        r["token"]: r["cm_estimate"]
        for r in estimate_counts(
            sketch_stream.CELLS.read(spark, cells), toks
        ).collect()
    }
    exact = {"apple": 5, "banana": 3, "cherry": 3, "missing": 0}
    for t, c in exact.items():
        if c > 0:
            assert est[t] >= c
    # 7 distinct tokens in a 4x512 sketch: no all-rows collision here, so
    # estimates are exact (deterministic given md5)
    assert est["apple"] == 5 and est["banana"] == 3 and est["cherry"] == 3
    # CM point-query semantics (round-8 ADVICE fix): an absent counter is
    # 0, so a never-seen token APPEARS in the output with estimate 0
    # instead of vanishing (all 4 addressed cells empty here)
    assert est["missing"] == 0
    # compaction folds the log to one batch_id=-1 partial, same merged state
    before = _cells_dict(sketch_stream.CELLS.read(spark, cells))
    sketch_stream.CELLS.compact(spark, cells)
    assert _cells_dict(sketch_stream.CELLS.read(spark, cells)) == before
    ids = (
        spark.read.schema(sketch_stream.CELLS_SCHEMA)
        .parquet(cells)
        .select("batch_id")
        .distinct()
        .collect()
    )
    assert [r["batch_id"] for r in ids] == [-1]
    import os

    assert not os.path.exists(cells.rstrip("/") + "__compact_tmp")


def test_streamed_estimates_match_batch_audit_query(spark, tmp_path):
    """End-to-end parity chain: the streamed sketch's estimates for the
    top tokens equal the hash-green batch audit query's cm_estimate column
    on the same corpus."""
    from sentiment_analysis_data_pipeline_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    cells = str(tmp_path / "cells")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    # two "epochs" of the corpus split by doc_id parity
    for i in (0, 1):
        sketch_stream.CELLS.append(
            spark, docs.filter(F.col("doc_id") % 2 == i), cells, i
        )
    audit = Q.REGISTRY["countmin_heavy_hitters"][0](spark, sf).collect()
    toks = spark.createDataFrame([(r["token"],) for r in audit], "token string")
    est = {
        r["token"]: r["cm_estimate"]
        for r in estimate_counts(
            sketch_stream.CELLS.read(spark, cells), toks
        ).collect()
    }
    for r in audit:
        assert est[r["token"]] == r["cm_estimate"], r["token"]


def test_replay_guard_raises_on_corrupt_log_not_silent_pass(spark, tmp_path):
    """A real read error on the epoch log must PROPAGATE (round-8 ADVICE
    fix): the old broad-except treated any failure as 'first epoch', so a
    transient flake during a foreachBatch retry double-appended the batch.
    Path-absent stays a clean False (first epoch)."""
    import pytest

    from sentiment_analysis_data_pipeline_spark.streaming._log import log_has_epoch

    missing = str(tmp_path / "nope")
    assert log_has_epoch(spark, missing, sketch_stream.CELLS_SCHEMA, 0) is False
    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    (corrupt / "part-00000.parquet").write_text("this is not parquet")
    with pytest.raises(Exception):
        log_has_epoch(spark, str(corrupt), sketch_stream.CELLS_SCHEMA, 0)


def test_compact_is_swap_based_no_partial_live_state(spark, tmp_path):
    """Compaction stages to a tmp dir and atomically renames into place: at
    no point is the live log deleted-then-repopulated, and the tmp/trash
    dirs are gone afterwards (round-8 ADVICE fix, compact_bucketed swap)."""
    import os

    cells = str(tmp_path / "cells")
    for i, docs in enumerate((DOCS_A, DOCS_B)):
        sketch_stream.CELLS.append(
            spark, spark.createDataFrame(docs, "doc_id long, text string"), cells, i
        )
    before = _cells_dict(sketch_stream.CELLS.read(spark, cells))
    sketch_stream.CELLS.compact(spark, cells)
    assert _cells_dict(sketch_stream.CELLS.read(spark, cells)) == before
    leftovers = [
        p
        for p in os.listdir(tmp_path)
        if p.startswith("cells") and p != "cells"
    ]
    assert not leftovers, leftovers
