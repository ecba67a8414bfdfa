"""Streaming HDR-histogram accumulator (streaming/hdr_stream.py): each
micro-batch appends ONE bounded histogram partial; the merged histogram
EXACTLY equals the batch histogram over the union of drops (integer
mergeability -- equality, not tolerance), served quantiles are bucket
lower bounds (<= exact, within the 2^-4 relative envelope), a replayed
epoch cannot double-count, and compaction preserves answers."""

from __future__ import annotations

import json

from sentiment_analysis_data_pipeline_spark.operators.sketch import (
    HDR_SUB_BITS,
    hdr_cells,
)
from sentiment_analysis_data_pipeline_spark.streaming import hdr_stream

EVENTS_A = [(1, "click", 1.25), (2, "click", 7.0), (3, "view", 120.5),
            (4, "view", 0.0), (5, "click", 33.33)]
EVENTS_B = [(6, "click", 500.0), (7, "view", 120.5), (8, "view", None),
            (9, "click", 2.0)]

SCHEMA = "event_id long, event_type string, value double"


def _write_drop(path: str, rows) -> None:
    with open(path, "w") as f:
        for eid, typ, val in rows:
            f.write(json.dumps({"event_id": eid, "event_type": typ, "value": val}) + "\n")


def _cells_dict(df) -> dict[tuple[str, int], int]:
    return {(r["segment"], r["idx"]): r["cnt"] for r in df.collect()}


def test_streamed_hist_equals_batch_hist(spark, tmp_path):
    source = tmp_path / "incoming"
    source.mkdir()
    cells = str(tmp_path / "cells")
    ckpt = str(tmp_path / "ckpt")

    _write_drop(str(source / "a.json"), EVENTS_A)
    q = hdr_stream.CELLS.run(spark, str(source), cells, ckpt)
    q.awaitTermination(120)
    _write_drop(str(source / "b.json"), EVENTS_B)
    q = hdr_stream.CELLS.run(spark, str(source), cells, ckpt)
    q.awaitTermination(120)

    streamed = _cells_dict(hdr_stream.CELLS.read(spark, cells))
    batch = _cells_dict(
        hdr_cells(spark.createDataFrame(EVENTS_A + EVENTS_B, SCHEMA))
    )
    # exact integer mergeability: per-epoch partials sum to the one-shot hist
    assert streamed == batch
    # total mass = event count (null value clamps to bucket 0, still counted)
    assert sum(streamed.values()) == len(EVENTS_A) + len(EVENTS_B)
    per_epoch = (
        spark.read.schema(hdr_stream.CELLS_SCHEMA)
        .parquet(cells)
        .groupBy("batch_id")
        .count()
        .collect()
    )
    assert len(per_epoch) == 2


def test_replayed_epoch_lands_nothing(spark, tmp_path):
    cells = str(tmp_path / "cells")
    batch = spark.createDataFrame(EVENTS_A, SCHEMA)
    hdr_stream.CELLS.append(spark, batch, cells, batch_id=0)
    before = _cells_dict(hdr_stream.CELLS.read(spark, cells))
    hdr_stream.CELLS.append(spark, batch, cells, batch_id=0)
    assert _cells_dict(hdr_stream.CELLS.read(spark, cells)) == before
    hdr_stream.CELLS.append(spark, batch, cells, batch_id=1)
    after = _cells_dict(hdr_stream.CELLS.read(spark, cells))
    assert after == {k: 2 * v for k, v in before.items()}


def test_served_quantile_lower_bound_envelope(spark, tmp_path):
    """Served p50 is the bucket lower bound: <= the exact median cents and
    within the 2^-HDR_SUB_BITS relative envelope of it."""
    cells = str(tmp_path / "cells")
    for i, ev in enumerate((EVENTS_A, EVENTS_B)):
        hdr_stream.CELLS.append(
            spark, spark.createDataFrame(ev, SCHEMA), cells, i
        )
    served = {
        r["segment"]: (r["n"], r["p_est"])
        for r in hdr_stream.quantiles_from_hist(
            hdr_stream.CELLS.read(spark, cells), percent=50
        ).collect()
    }
    import math

    vals: dict[str, list[int]] = {}
    for _, typ, val in EVENTS_A + EVENTS_B:
        cents = max(int(math.floor((val or 0.0) * 100)), 0)
        vals.setdefault(typ, []).append(cents)
    for seg, xs in vals.items():
        xs.sort()
        exact = xs[(len(xs) + 1) // 2 - 1]  # disc p50, rank ceil(n/2)
        n, est = served[seg]
        assert n == len(xs)
        assert est <= exact
        assert exact - est <= max(est >> HDR_SUB_BITS, 1)


def test_compaction_preserves_answers(spark, tmp_path):
    cells = str(tmp_path / "cells")
    for i, ev in enumerate((EVENTS_A, EVENTS_B)):
        hdr_stream.CELLS.append(
            spark, spark.createDataFrame(ev, SCHEMA), cells, i
        )
    before = _cells_dict(hdr_stream.CELLS.read(spark, cells))
    hdr_stream.CELLS.compact(spark, cells)
    assert _cells_dict(hdr_stream.CELLS.read(spark, cells)) == before
    ids = (
        spark.read.schema(hdr_stream.CELLS_SCHEMA)
        .parquet(cells)
        .select("batch_id")
        .distinct()
        .collect()
    )
    assert [r["batch_id"] for r in ids] == [-1]


def test_streamed_quantiles_match_batch_audit_query(spark):
    """End-to-end parity chain: histogram cells built from the real events
    table serve the same p50/p90/p99 the hash-green batch audit reports."""
    from sentiment_analysis_data_pipeline_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    audit = {r["event_type"]: r for r in Q.REGISTRY["hdr_quantiles"][0](spark, sf).collect()}
    Q._events_view(spark, sf)
    ev = spark.sql("SELECT event_type, value FROM events")
    hist = hdr_cells(ev)
    for pct, col in ((50, "p50_est"), (90, "p90_est"), (99, "p99_est")):
        served = {
            r["segment"]: r["p_est"]
            for r in hdr_stream.quantiles_from_hist(hist, percent=pct).collect()
        }
        for seg, row in audit.items():
            assert served[seg] == row[col], (pct, seg)
