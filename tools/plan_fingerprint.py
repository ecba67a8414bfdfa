"""Plan fingerprint of every registry query: one JSON object
{name: sha256} on stdout.

A query's hash covers the optimized logical plan of every relation its
constructor checkpoints (in order) plus that of the final statement, so a
refactor that moves a materialization boundary shows up even when the final
statement's plan reads the same. Checkpointed relations are captured by
wrapping DataFrame.localCheckpoint inside this process, so the file works on
any revision of the engine, whichever helper does the checkpointing.
Expression ids (`#123`, `#123L`), RDD ids and physical plan ids are
normalized away; nothing is collected beyond what the constructors
themselves run.

Usage: python tools/plan_fingerprint.py sf_dir [query_name ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402

from sentiment_analysis_data_pipeline_spark.session import get_spark  # noqa: E402

_EXPR_ID = re.compile(r"#\d+L?")
_RDD_ID = re.compile(r"(RDD|rdd)(\[|_)\d+")
# session-global counters inside cached relations' physical plans
_PLAN_ID = re.compile(r"plan_id=\d+")


def normalize(plan: str) -> str:
    plan = _EXPR_ID.sub("#N", plan)
    plan = _RDD_ID.sub(r"\1\2N", plan)
    return _PLAN_ID.sub("plan_id=N", plan)


def optimized_plan(df: DataFrame) -> str:
    return normalize(df._jdf.queryExecution().optimizedPlan().toString())


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    sf_dir = sys.argv[1].rstrip("/")
    only = set(sys.argv[2:])

    spark = get_spark("plan-fingerprint")
    spark.sparkContext.setLogLevel("ERROR")

    # the concrete class (pyspark.sql.classic.dataframe.DataFrame in Spark 4
    # classic mode) overrides the abstract DataFrame's method: patch that one
    captured: list[str] = []
    cls = type(spark.range(0))
    original = cls.localCheckpoint

    def capturing(self, *a, **kw):
        captured.append(optimized_plan(self))
        return original(self, *a, **kw)

    cls.localCheckpoint = capturing

    from sentiment_analysis_data_pipeline_spark.queries import REGISTRY

    out: dict[str, str] = {}
    for name, (fn, _) in REGISTRY.items():
        if only and name not in only:
            continue
        captured.clear()
        final = optimized_plan(fn(spark, sf_dir))
        h = hashlib.sha256()
        for plan in [*captured, final]:
            h.update(plan.encode())
            h.update(b"\n--\n")
        out[name] = h.hexdigest()
        print(f"{name} {len(captured)} {out[name][:12]}", file=sys.stderr, flush=True)
    print(json.dumps(out, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
