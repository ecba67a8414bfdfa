"""Constrained-memory spill smoke (round 6, VERDICT r5 item 6).

All prior scale evidence is wall-time under a 128 GiB driver; the 100 TB
claim also needs demonstrated GRACEFUL DEGRADATION: the heavy dedup
queries must finish (slower, spilling) when the per-process memory budget
looks like one real executor, not a workstation. This runs them on an
inflated corpus inside a deliberately small JVM heap and records
completion + per-query sort/agg/shuffle spill bytes pulled from the
status REST API (the same numbers the Spark UI shows).

Usage: python tools/spill_smoke.py [mult=10] [heap=4g] [threads=8]
Prints one JSON line; results recorded in SCALE.md.
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, "/root/repo")

HEAVY = ["minhash_pairs", "containment_pairs", "winnow_pairs", "perplexity_bands"]


def _spill_totals(ui_port: int, app_id: str) -> tuple[int, int]:
    url = f"http://localhost:{ui_port}/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=10) as r:
        stages = json.load(r)
    mem = sum(s.get("memoryBytesSpilled", 0) for s in stages)
    disk = sum(s.get("diskBytesSpilled", 0) for s in stages)
    return mem, disk


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    heap = sys.argv[2] if len(sys.argv) > 2 else "4g"
    threads = int(sys.argv[3]) if len(sys.argv) > 3 else 8

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{threads}]")
        .appName("spill-smoke")
        .config("spark.driver.memory", heap)
        .config("spark.sql.shuffle.partitions", str(threads * 4))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    ui_port = int(spark.sparkContext.uiWebUrl.rsplit(":", 1)[1])

    from sentiment_analysis_data_pipeline_spark import queries as Q
    from tools.scale_probe import SRC, cleanup, inflate

    out = tempfile.mkdtemp(prefix="spill-smoke-")
    qs = Q.spark_queries()
    results = {}
    try:
        inflate(spark, SRC, out, mult, disjoint=True)
        for name in HEAVY:
            m0, d0 = _spill_totals(ui_port, app_id)
            t0 = time.perf_counter()
            n = qs[name](spark, out).count()
            dt = round(time.perf_counter() - t0, 1)
            m1, d1 = _spill_totals(ui_port, app_id)
            results[name] = {
                "sec": dt,
                "rows": n,
                "mem_spill_mb": round((m1 - m0) / 1e6, 1),
                "disk_spill_mb": round((d1 - d0) / 1e6, 1),
            }
            print(json.dumps({name: results[name]}), flush=True)
    finally:
        cleanup(spark, out)

    print(
        json.dumps(
            {"multiplier": mult, "heap": heap, "threads": threads, "queries": results}
        )
    )


if __name__ == "__main__":
    main()
