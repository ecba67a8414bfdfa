"""Optimization profiler: isolate one query at a time per guide §1.

For each named query (default: the current bench board's heaviest), run

  - an untimed warm build + noop-sink write (file listing, codegen,
    shuffle-file creation land here, never in a sample),
  - N timed noop-sink writes (`df.write.format("noop")` -- computes every
    column of every row, §1.4) so we time the computation, not collect(),
  - capture `.explain("formatted")` to <plan-dir>/<name>_<tag>.txt,
  - count plan features (Exchange, SortMergeJoin/BroadcastHashJoin,
    BatchEvalPython/ArrowEvalPython, WholeStageCodegen spans) so plan-shape
    claims in an optimization ledger (OPTIMIZATION_rNN.md) are mechanical,
    not eyeballed.

Usage: python tools/query_profile.py --plan-dir plans/r12 [--tag before|after] [--runs 3] name ...
The plan dir names the round whose ledger the plans back (plans/r11,
plans/r12, ...); a relative path is taken from the repo root.
Writes a JSON summary line per query to stdout and the plan file per query.
Jobs are labelled (setJobDescription) per guide §1.5.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PLAN_FEATURES = {
    "exchanges": r"\bExchange\b",
    "smj": r"\bSortMergeJoin\b",
    "bhj": r"\bBroadcastHashJoin\b",
    "shj": r"\bShuffledHashJoin\b",
    "bnlj": r"\bBroadcastNestedLoopJoin\b",
    "python_eval": r"\b(BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas)\b",
    "codegen_spans": r"\bWholeStageCodegen \(\d+\)",
    "scans": r"\bScan parquet\b|\bFileScan parquet\b",
}


def plan_counts(plan: str) -> dict[str, int]:
    return {k: len(re.findall(rx, plan)) for k, rx in PLAN_FEATURES.items()}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--plan-dir", required=True)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default=None)
    args = ap.parse_args()

    from sentiment_analysis_data_pipeline_spark.queries import spark_queries
    from sentiment_analysis_data_pipeline_spark.session import get_spark
    from sentiment_analysis_data_pipeline_spark.sources.tables import DEFAULT_SF_DIR

    sf_dir = args.sf_dir or DEFAULT_SF_DIR
    plan_dir = os.path.join(REPO, args.plan_dir)
    label = os.path.basename(os.path.normpath(plan_dir))
    os.makedirs(plan_dir, exist_ok=True)
    spark = get_spark(f"{label}-profile")
    qs = spark_queries()
    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warmup

    for name in args.names:
        if name not in qs:
            print(json.dumps({"name": name, "error": "unknown query"}))
            continue
        fn = qs[name]
        sc = spark.sparkContext
        sc.setJobDescription(f"{label}:{name}:warm")
        t_build0 = time.perf_counter()
        df = fn(spark, sf_dir)
        build_s = time.perf_counter() - t_build0
        df.write.format("noop").mode("overwrite").save()
        plan = df._sc is not None and df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        path = os.path.join(plan_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        samples = []
        for i in range(args.runs):
            sc.setJobDescription(f"{label}:{name}:sample{i}")
            t0 = time.perf_counter()
            # re-build per sample: index-ensure / checkpoint work inside the
            # query fn is part of what the bench times, so it belongs here too
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 4))
        spark.catalog.clearCache()
        jmap = sc._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            r = jmap.get(rid)
            if r is not None:
                r.unpersist(False)
        sc.setJobDescription(None)
        print(
            json.dumps(
                {
                    "name": name,
                    "tag": args.tag,
                    "first_build_s": round(build_s, 4),
                    "noop_samples_s": samples,
                    "min_s": min(samples),
                    "plan": plan_counts(plan),
                    "plan_file": path,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
