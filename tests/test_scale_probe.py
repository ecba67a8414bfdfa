"""tools/scale_probe.py: the one corpus inflater (key remap, dup-heavy and
disjoint text models) and the probe's cleanup of the throwaway corpus."""

from __future__ import annotations

import os
import shutil
import tempfile
from collections import Counter

import pytest
from pyspark.sql import functions as F

from sentiment_analysis_data_pipeline_spark.sources.tables import _warehouse_dir
import tools.scale_probe as P
from tools.scale_probe import REMAP, TABLES, inflate, probe

MULT = 2
KEYS = ("doc_id", "event_id", "o_orderkey", "vec_id", "c_custkey", "p_partkey")


@pytest.fixture(scope="module")
def corpora(spark, sf_dir):
    """(dup-heavy dir, disjoint dir), each inflated MULT x from sf_dir."""
    dirs = [tempfile.mkdtemp(prefix="scale-probe-test-") for _ in range(2)]
    inflate(spark, sf_dir, dirs[0], MULT)
    inflate(spark, sf_dir, dirs[1], MULT, disjoint=True)
    yield dirs
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


def _read(spark, d, t):
    return spark.read.parquet(f"{d}/{t}.parquet")


def test_fact_tables_grow_and_dims_stay(spark, sf_dir, corpora):
    out = corpora[0]
    for t in TABLES:
        n_src, n_out = _read(spark, sf_dir, t).count(), _read(spark, out, t).count()
        assert n_out == (MULT * n_src if t in REMAP else n_src), t
    for t in ("nation", "region", "supplier"):
        src, got = _read(spark, sf_dir, t), _read(spark, out, t)
        assert sorted(got.collect()) == sorted(src.collect()), t


def test_remapped_keys_are_fresh_per_copy(spark, sf_dir, corpora):
    out = corpora[0]
    for t, keys in REMAP.items():
        src, got = _read(spark, sf_dir, t), _read(spark, out, t)
        for k in keys:
            n_src = src.select(k).distinct().count()
            assert got.select(k).distinct().count() == MULT * n_src, (t, k)
            if k in KEYS:
                assert got.select(k).distinct().count() == got.count(), (t, k)
    # lineitem still references existing orders
    orphans = _read(spark, out, "lineitem").join(
        _read(spark, out, "orders"), F.col("l_orderkey") == F.col("o_orderkey"), "left_anti"
    )
    assert orphans.count() == 0


def test_default_model_keeps_text_multiset(spark, sf_dir, corpora):
    src = Counter(r.text for r in _read(spark, sf_dir, "documents").collect())
    got = Counter(r.text for r in _read(spark, corpora[0], "documents").collect())
    assert got == Counter({t: MULT * c for t, c in src.items()})


def _shingles(text: str) -> set:
    w = text.split()
    return {tuple(w[i : i + 3]) for i in range(len(w) - 2)}


def test_disjoint_copies_share_no_shingle(spark, sf_dir, corpora):
    offset = _read(spark, sf_dir, "documents").agg(F.max("doc_id")).first()[0] + 1
    docs = {r.doc_id: r for r in _read(spark, corpora[1], "documents").collect()}
    checked = 0
    for doc_id, r in docs.items():
        twin = docs.get(doc_id + offset)
        if twin is None or len(r.text.split()) < 3:
            continue
        assert not _shingles(r.text) & _shingles(twin.text), doc_id
        assert r.n_chars == len(r.text)
        checked += 1
    assert checked > 0


def test_probe_leaves_no_tagged_table_or_tmp_dir(spark, sf_dir, monkeypatch):
    out = tempfile.mkdtemp(prefix="scale-probe-test-")
    tag = os.path.basename(out).replace("-", "_").lower()
    dropped, real_drop = [], P.drop_table_with_files

    def drop(spark, table):
        dropped.append(table)
        return real_drop(spark, table)

    monkeypatch.setattr(P, "drop_table_with_files", drop)
    summary = probe(spark, sf_dir, out, MULT, ["winnow_pairs_indexed"])
    assert summary["failed"] == [] and summary["queries"] == 1
    assert dropped and all(t.endswith(tag) for t in dropped)  # the index was built and swept
    assert not os.path.exists(out)
    assert [t.name for t in spark.catalog.listTables() if t.name.endswith(tag)] == []
    assert [d for d in os.listdir(_warehouse_dir()) if d.endswith(tag)] == []
