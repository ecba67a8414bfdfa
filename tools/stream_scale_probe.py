"""Composed streaming pipeline at 40x drop volume (round-8 verdict item 7).

SCALE.md's sweeps are batch-side; this probe drives the COMPOSED streaming
ingest (streaming/full_pipeline.py: validate -> curation gate -> dedup
probe -> sentiment -> idempotent landing) at 1x and 40x file-drop volume
and records the two claims the module makes:

  - per-epoch wall is linear in DROP SIZE (each epoch is projection +
    broadcast/bucketed joins sized by the batch; the corpus side of the
    dedup probe reads bucket files in place);
  - cross-batch state is EXACTLY the persisted artifacts (corpus rows +
    band-index rows + curated rows), i.e. bounded by corpus size -- there
    is no streaming aggregation state to grow with epoch count, and a
    second epoch of the SAME drop adds zero state (replay idempotence).

Each epoch also records its code-generation cost: Janino compilations and
their seconds (Spark's CodegenMetrics) and JIT compile seconds (the JVM's
CompilationMXBean). A steady epoch should find its generated classes in the
codegen cache and compile only per-epoch literals (the batch_id stamp);
a count near the epoch's whole working set (~100 classes) means the cache
stopped holding it.

Docs are synthesized gate-clean (>= 25 distinct English words each) with
word sequences drawn by per-doc stride over a fixed bank, so texts pass
the curation gate without being near-duplicates of each other.

Usage: python tools/stream_scale_probe.py [base_docs] [factor]
Emits one JSON line; run alone (bench-isolation rule).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sentiment_analysis_data_pipeline_spark.operators.dedup import minhash_band_keys  # noqa: E402
from sentiment_analysis_data_pipeline_spark.session import get_spark  # noqa: E402
from sentiment_analysis_data_pipeline_spark.sources.tables import (  # noqa: E402
    drop_table_with_files,
    write_bucketed,
)
from sentiment_analysis_data_pipeline_spark.streaming import (  # noqa: E402
    dedup_stream,
    full_pipeline,
)

BANK = (
    "every morning brings fresh coffee and quiet conversation about distant "
    "mountains where eager travelers discover hidden valleys beneath golden "
    "sunlight while children play near rivers full of shining fish completely "
    "different material concerning engine rooms with broadcast joins running "
    "across many executors at considerable scale during long nights when "
    "operators watch dashboards showing steady progress everywhere gardens "
    "bloom under warm skies as farmers gather ripened fruit baskets along "
    "winding paths toward village markets filled with cheerful voices trading "
    "stories bread honey wool lanterns maps candles barrels copper wheels"
).split()


def make_text(i: int, n_words: int = 28) -> str:
    step = 7 + (i % 13)
    return " ".join(BANK[(i * 11 + j * step) % len(BANK)] for j in range(n_words))


def write_drop(path: str, start_id: int, n: int) -> None:
    with open(path, "w") as f:
        for k in range(n):
            doc_id = start_id + k
            f.write(json.dumps({"doc_id": doc_id, "text": make_text(doc_id)}) + "\n")


def jvm_compile_counters(spark) -> tuple[int, int | None, int]:
    """(Janino compilations, their total ms, JIT compile ms) since JVM start.
    The Janino ms come from CodegenMetrics' histogram reservoir, which keeps
    every sample only until it fills (1,028 samples); past that the total
    is not exact and is None."""
    jvm = spark._jvm
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    count = hist.getCount()
    snap = hist.getSnapshot()
    compile_ms = jvm.java.util.Arrays.stream(snap.getValues()).sum() if snap.size() == count else None
    jit_ms = jvm.java.lang.management.ManagementFactory.getCompilationMXBean().getTotalCompilationTime()
    return count, compile_ms, jit_ms


def run_arm(spark, n_docs: int, label: str) -> dict:
    root = tempfile.mkdtemp(prefix=f"stream_scale_{label}_")
    table = f"stream_scale_idx_{uuid.uuid4().hex[:8]}"
    source = os.path.join(root, "incoming")
    os.makedirs(source)
    corpus_path = os.path.join(root, "corpus")
    pairs_path = os.path.join(root, "pairs")
    curated_path = os.path.join(root, "curated")

    # bootstrapped corpus snapshot + band index (the deployment's standing
    # artifacts), tiny and identical across arms
    seed = spark.createDataFrame(
        [(i, make_text(10_000_000 + i)) for i in range(4)], "doc_id long, text string"
    )
    seed.write.parquet(corpus_path)
    write_bucketed(
        minhash_band_keys(seed, "text", "doc_id"),
        table,
        "band_key",
        dedup_stream.INDEX_BUCKETS,
    )

    out = {"n_docs": n_docs, "epochs": [], "codegen": []}
    try:
        for epoch_i in range(2):
            write_drop(
                os.path.join(source, f"drop{epoch_i}.json"),
                1000 + epoch_i * n_docs,
                n_docs,
            )
            ckpt = os.path.join(root, f"ckpt{epoch_i}")
            n0, ms0, jit0 = jvm_compile_counters(spark)
            t0 = time.perf_counter()
            q = full_pipeline.run_curated_ingest(
                spark, source, table, corpus_path, pairs_path, curated_path, ckpt
            )
            q.awaitTermination(600)
            out["epochs"].append(round(time.perf_counter() - t0, 2))
            n1, ms1, jit1 = jvm_compile_counters(spark)
            out["codegen"].append(
                {
                    "janino_compiles": n1 - n0,
                    "janino_s": round((ms1 - ms0) / 1000, 3) if ms1 is not None else None,
                    "jit_s": round((jit1 - jit0) / 1000, 3),
                }
            )
            # fresh checkpoint each round means round 2 REPLAYS drop0 too:
            # the idempotent landing must add zero state for it

        state = {
            "corpus_rows": spark.read.parquet(corpus_path).count(),
            "index_rows": spark.table(table).count(),
            "curated_rows": spark.read.parquet(curated_path).count(),
        }
        out["state"] = state
        # state == seed + every unique kept doc, NOT inflated by the replay
        assert state["corpus_rows"] <= 4 + 2 * n_docs, state
        assert state["curated_rows"] <= 2 * n_docs, state
    finally:
        drop_table_with_files(spark, table)
        shutil.rmtree(root, ignore_errors=True)
    return out


def main() -> None:
    base = int(sys.argv[1]) if len(sys.argv) > 1 else 500
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 40
    spark = get_spark("stream-scale-probe")
    small = run_arm(spark, base, "1x")
    big = run_arm(spark, base * factor, f"{factor}x")
    # epoch 2 of each arm processes (replayed drop0 reduced to a no-op by
    # the re-crawl guard) + drop1: compare SECOND epochs -- steady state
    ratio = round(big["epochs"][1] / small["epochs"][1], 2)
    print(
        json.dumps(
            {"base_docs": base, "factor": factor, "small": small, "big": big,
             "steady_epoch_ratio": ratio}
        )
    )


if __name__ == "__main__":
    main()
