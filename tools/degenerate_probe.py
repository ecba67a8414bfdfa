"""Degenerate-corpus robustness probe: run every registry query against a
2-ROW version of each table (and optionally a CONSTANT-column variant)
and report exceptions.

Why: Spark ANSI throws on division by zero -- doubles included -- so any
statistic whose denominator can reach exactly 0 on a degenerate slice
(constant metric, single class, zero variance, empty join) CRASHES
instead of degrading. Hypothesis found two live instances (runs_test
zero-variance, welch/permutation/cuped constant slices); this probe is
the registry-wide mechanical sweep for the rest of the class. A query
that needs a minimum corpus may legitimately return 0 rows here -- only
EXCEPTIONS are findings.

Usage: python tools/degenerate_probe.py [tiny|const] [name ...]
"""
from __future__ import annotations

import json
import sys
import tempfile

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from sentiment_analysis_data_pipeline_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def build(spark, src: str, out: str, mode: str) -> None:
    from pyspark.sql.types import DoubleType, LongType

    for t in TABLES:
        df = spark.read.parquet(f"{src}/{t}.parquet").limit(2)
        if mode == "const":
            # constant-ify every numeric column EXCEPT keys (suffix 'key',
            # '_id'): zero-variance everywhere variance can be zero
            for f in df.schema.fields:
                n = f.name.lower()
                if n.endswith("key") or n.endswith("_id"):
                    continue
                if isinstance(f.dataType, LongType):
                    df = df.withColumn(f.name, F.lit(7).cast("long"))
                elif isinstance(f.dataType, DoubleType):
                    df = df.withColumn(f.name, F.lit(7.0))
        df.write.mode("overwrite").parquet(f"{out}/{t}.parquet")


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "tiny"
    spark = get_spark("degenerate-probe")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out = tempfile.mkdtemp(prefix=f"degen-{mode}-")
    build(spark, "/root/testdata/sf0.001", out, mode)

    from sentiment_analysis_data_pipeline_spark.queries import spark_queries

    qs = spark_queries()
    names = sys.argv[2:] or sorted(qs)
    bad = []
    for name in names:
        try:
            rows = len(qs[name](spark, out).collect())
            print(json.dumps({name: {"rows": rows}}), flush=True)
        except Exception as e:  # noqa: BLE001 -- the probe reports, not hides
            msg = str(e).split("\n")[0][:160]
            bad.append(name)
            print(json.dumps({name: {"ERROR": msg}}), flush=True)
    # drop the snapshot-stamped index tables the probe's queries built for
    # the throwaway corpus (keyed to the tmp dir's basename, they would
    # otherwise accumulate one warehouse directory set per probe run) and
    # the corpus itself
    from tools.scale_probe import cleanup

    cleanup(spark, out)
    print(json.dumps({"mode": mode, "errors": bad}), flush=True)
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
