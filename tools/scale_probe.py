"""Scale probe: inflate the sf0.1 corpus MULT times and time registry
queries at 1x and at MULTx.

One inflation model for every caller. Each copy gets fresh keys offset
above the original range: doc_id, event_id and user_id, o_orderkey (and
l_orderkey with it), vec_id, c_custkey and p_partkey. Growth adds users
on the same calendar and new orders with the same basket shapes, so daily
relations, per-user activity and basket pairs stay bounded. vec_ids stay
above the original range, so the fixed KNN query panel (vec_id below
MOD * KNN_QUERY_BUDGET) is the same panel at every scale. customer and
part copies get a per-copy cent jitter on c_acctbal and p_retailprice:
identical values would manufacture tie runs. orders and lineitem keep
pointing at the original customers and parts (more volume per market and
per part). l_partkey, the ts calendar, supplier, nation and region are
unchanged.

By default texts and vectors are identical across copies (dup-heavy: the
near-dup graph grows deeper duplicate clusters). --disjoint inserts a
` c{copy} ` marker between words, so copies share no shingle (throughput
growth, not pair explosion), and jitters each copy's vector.

Timing, per query and scale: a cold run, then a timed warm run, both
into the noop sink, which computes every column and moves nothing to the
driver. (`.count()` lets Catalyst prune every column of a 1-row
aggregate and with them the whole scan: a fake pass.) Rows come from a
count() after the warm run. For an indexed query, cold_s - warm_s at
MULTx is the index build. Each query prints one JSON line.

Registry rows that share one oracle builder (minhash_pairs and
minhash_pairs_indexed, ...) must return equal rows at each scale. A
mismatch, an exception or a run over BUDGET_S is listed in the closing
summary line and exits 1. The catalog tables keyed to the tmp corpus
and the tmp dir itself are removed on the way out.

Usage: python tools/scale_probe.py [--disjoint] MULT [name ...]
With no names it runs every registry query in REGISTRY order.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from sentiment_analysis_data_pipeline_spark import queries as Q  # noqa: E402
from sentiment_analysis_data_pipeline_spark.session import get_spark  # noqa: E402
from sentiment_analysis_data_pipeline_spark.sources.tables import (  # noqa: E402
    drop_table_with_files,
)

SRC = "/root/testdata/sf0.1"
BUDGET_S = 300  # wall budget for one run of one query; its job group is cancelled past it
TABLES = (
    "region", "nation", "supplier", "customer", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# table -> key columns offset per copy (l_orderkey takes o_orderkey's offset)
REMAP = {
    "customer": ("c_custkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey",),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
JITTER = {"customer": "c_acctbal", "part": "p_retailprice"}  # + copy * 0.01


def inflate(spark, src: str, out: str, mult: int, disjoint: bool = False) -> None:
    """Write every table of `src` into `out` under the model above: the
    REMAP tables `mult` copies deep, the rest unchanged."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(t: str):
        return spark.read.parquet(f"{src}/{t}.parquet")

    offset = {}
    for t, keys in REMAP.items():
        if t != "lineitem":
            offset.update(zip(keys, read(t).agg(*(F.max(k) + 1 for k in keys)).first()))
    offset["l_orderkey"] = offset["o_orderkey"]
    files = 2 * spark.sparkContext.defaultParallelism  # never one file per table
    for t in TABLES:
        df = read(t)
        if t in REMAP:
            copy = F.col("copy")
            cols = {k: F.col(k) + copy * F.lit(offset[k]) for k in REMAP[t]}
            if t in JITTER:
                cols[JITTER[t]] = F.col(JITTER[t]) + copy * F.lit(0.01)
            if disjoint and t == "documents":
                cols["text"] = F.expr("replace(text, ' ', concat(' c', cast(copy as string), ' '))")
                cols["n_chars"] = F.length(cols["text"]).cast("long")
            if disjoint and t == "embeddings":
                cols["embedding"] = F.expr(
                    "transform(embedding, (x, i) -> cast(x + copy * 0.001 * (i + 1) as float))"
                )
            df = (
                df.select("*", F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("copy"))
                .withColumns(cols)
                .drop("copy")
                .repartition(files)
            )
        df.write.mode("overwrite").parquet(f"{out}/{t}.parquet")


def cleanup(spark, out: str) -> None:
    """Drop every catalog table keyed to the throwaway corpus at `out`
    (stamped index tables end in its basename tag), files included, then
    remove `out`."""
    suffix = Q._index_table_name("", out).lower()
    for t in spark.catalog.listTables():
        if not t.isTemporary and t.name.endswith(suffix):
            drop_table_with_files(spark, t.name)
    shutil.rmtree(out, ignore_errors=True)


def _bounded(spark, name: str, run):
    """run() in job group `name`; past BUDGET_S the group is cancelled and
    TimeoutError raised."""
    sc = spark.sparkContext
    box: dict = {}

    def target() -> None:
        # the job group is thread-local: set it here so cancelJobGroup
        # from the main thread finds this thread's jobs
        sc.setJobGroup(name, name, interruptOnCancel=True)
        try:
            box["value"] = run()
        except Exception as e:  # noqa: BLE001 -- re-raised below
            box["error"] = e

    th = threading.Thread(target=target, daemon=True)
    th.start()
    th.join(BUDGET_S)
    if th.is_alive():
        sc.cancelJobGroup(name)
        th.join(30)
        raise TimeoutError(f"over {BUDGET_S}s")
    if "error" in box:
        raise box["error"]
    return box.get("value")


def _measure(spark, name: str, sf_dir: str) -> dict:
    """cold_s, warm_s and rows of one registry query on one corpus, or
    {"error": ...} when a run raises or overruns BUDGET_S."""
    fn = Q.REGISTRY[name][0]
    secs = []
    try:
        for _ in range(2):
            t0 = time.perf_counter()
            _bounded(spark, name, lambda: fn(spark, sf_dir).write.format("noop").mode("overwrite").save())
            secs.append(round(time.perf_counter() - t0, 2))
        rows = _bounded(spark, name, lambda: fn(spark, sf_dir).count())
    except Exception as e:  # noqa: BLE001 -- reported in the summary
        traceback.print_exc()
        return {"error": f"{type(e).__name__}: {(str(e).splitlines() or [''])[0][:160]}"}
    return {"cold_s": secs[0], "warm_s": secs[1], "rows": rows}


def probe(spark, src: str, out: str, mult: int, names: list[str], disjoint: bool = False) -> dict:
    """Inflate `src` into `out`, measure `names` at 1x and multx, check
    same-oracle rows, always clean `out` up; print and return the summary."""
    scales = (("1x", src), (f"{mult}x", out))
    results: dict[str, dict] = {}
    try:
        inflate(spark, src, out, mult, disjoint)
        for name in names:
            res = {tag: _measure(spark, name, d) for tag, d in scales}
            if not any("error" in r for r in res.values()):
                res["ratio"] = round(res[f"{mult}x"]["warm_s"] / max(res["1x"]["warm_s"], 1e-9), 1)
            results[name] = res
            print(json.dumps({"name": name, **res}), flush=True)
    finally:
        cleanup(spark, out)
    groups: dict = {}
    for name in results:
        if Q.REGISTRY[name][1] is not None:
            groups.setdefault(Q.REGISTRY[name][1], []).append(name)
    mismatched = []
    for group in (g for g in groups.values() if len(g) > 1):
        for tag, _ in scales:
            rows = [results[n][tag].get("rows") for n in group]
            if None not in rows and len(set(rows)) > 1:
                mismatched.append({tag: dict(zip(group, rows))})
    summary = {
        "multiplier": mult,
        "disjoint": disjoint,
        "queries": len(results),
        "failed": [
            f"{n}@{t}: {r[t]['error']}" for n, r in results.items() for t, _ in scales if "error" in r[t]
        ],
        "mismatched": mismatched,
    }
    print(json.dumps(summary), flush=True)
    return summary


def main(argv: list[str]) -> int:
    disjoint = "--disjoint" in argv
    args = [a for a in argv if a != "--disjoint"]
    if not args or not args[0].isdigit() or int(args[0]) < 1:
        print(__doc__.rsplit("Usage:", 1)[1].strip(), file=sys.stderr)
        return 2
    names = list(dict.fromkeys(args[1:])) or list(Q.REGISTRY)
    unknown = [n for n in names if n not in Q.REGISTRY]
    if unknown:
        print(f"not registry queries: {unknown}", file=sys.stderr)
        return 2
    spark = get_spark("scale-probe")
    out = tempfile.mkdtemp(prefix="scale-probe-")
    summary = probe(spark, SRC, out, int(args[0]), names, disjoint)
    return 1 if summary["failed"] or summary["mismatched"] else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
