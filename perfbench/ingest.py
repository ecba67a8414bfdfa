"""ingest_stream: one op is one 200-doc drop (one reference fetch cycle)
written atomically into the source directory, drained by
``streaming.full_pipeline.run_curated_ingest`` with one checkpoint shared by
every drop, and awaited to termination. It is the only workload that writes:
streaming engine, curation gate, dedup probe, index append, sentiment kernel
and landing all run, and the stores grow with every drop."""

from __future__ import annotations

import json
import os
import re
import statistics
import time
import uuid

import eventlog
import fixtures

CORPUS_DOCS = 100
THRESHOLD = 0.5


def shingles(text: str) -> set[str]:
    """Python mirror of the engine's verify relation: lowercase, split on
    runs of non-alphanumerics, word 3-grams joined by '_'."""
    toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
    return {"_".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


class IngestStream:
    name = "ingest_stream"
    # The first drops run while the JIT still compiles the streaming path
    # (about 14, 9, then 8 s per drop on a 4-vCPU box), so two drops warm up.
    warmup_ops = 2
    units_per_op = fixtures.DROP_DOCS

    def setup(self, run, n_ops: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from sentiment_analysis_data_pipeline_spark.operators.dedup import minhash_band_keys
        from sentiment_analysis_data_pipeline_spark.sources.tables import (
            drop_table_with_files,
            table_location,
            write_bucketed,
        )
        from sentiment_analysis_data_pipeline_spark.streaming import dedup_stream

        spark = run.spark
        self.corpus_rows = fixtures.documents(run.seed, CORPUS_DOCS)
        self.paths = {k: run.path(k) for k in ("incoming", "corpus", "pairs", "curated", "ckpt")}
        for k in ("incoming", "corpus"):
            os.makedirs(self.paths[k])
        pq.write_table(
            pa.Table.from_pylist([{"doc_id": r["doc_id"], "text": r["text"]} for r in self.corpus_rows]),
            os.path.join(self.paths["corpus"], "part-bootstrap.parquet"),
        )
        self.table = f"perfbench_idx_{uuid.uuid4().hex[:12]}"
        run.cleanups.append(lambda: drop_table_with_files(run.spark, self.table))
        warehouse = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "", 1)
        run.owned_dirs.append(os.path.join(warehouse, self.table))
        write_bucketed(
            minhash_band_keys(spark.read.parquet(self.paths["corpus"]), "text", "doc_id"),
            self.table,
            "band_key",
            dedup_stream.INDEX_BUCKETS,
        )
        self.paths["index"] = table_location(spark, self.table).replace("file:", "", 1)
        self.gen = fixtures.IngestDrops(run.seed, self.corpus_rows)
        self.drops: list[list[dict]] = []
        self.written_ms: list[int] = []
        self.windows: list[tuple[int, int]] = []
        self.progress: list[list[dict]] = []

    def op(self, run, i: int) -> int:
        from sentiment_analysis_data_pipeline_spark.streaming import full_pipeline

        rows = self.gen.next_drop()
        self.drops.append(rows)
        t0 = int(time.time() * 1000)
        tmp = os.path.join(self.paths["incoming"], f".drop{i:05d}.json.tmp")
        with open(tmp, "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows)
        os.rename(tmp, os.path.join(self.paths["incoming"], f"drop{i:05d}.json"))
        self.written_ms.append(int(time.time() * 1000))
        with run.spans.span("streaming.run_curated_ingest"):
            q = full_pipeline.run_curated_ingest(
                run.spark, self.paths["incoming"], self.table, self.paths["corpus"],
                self.paths["pairs"], self.paths["curated"], self.paths["ckpt"], THRESHOLD,
            )
            q.awaitTermination()
        self.windows.append((t0, int(time.time() * 1000)))
        self.progress.append([p for p in q.recentProgress if p["numInputRows"] > 0])
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return len(rows)

    # -- correctness ---------------------------------------------------------

    def check(self, run, timed: list[int]) -> dict:
        spark = run.spark
        curated = spark.read.parquet(self.paths["curated"]).select("doc_id", "kept").collect()
        corpus = [r.doc_id for r in spark.read.parquet(self.paths["corpus"]).select("doc_id").collect()]
        index = spark.table(self.table).select("doc").collect()
        pairs = spark.read.parquet(self.paths["pairs"]).select("id_a", "id_b", "jaccard", "batch_id").collect()
        gen = self.gen
        drop_of: dict[int, int] = {}
        sent_in: dict[int, list[int]] = {}
        for d, rows in enumerate(self.drops):
            for r in rows:
                sent_in.setdefault(r["doc_id"], []).append(d)
                if r["doc_id"] in gen.kinds:
                    drop_of.setdefault(r["doc_id"], d)  # first sent; later sends are replays
        bad: set[int] = set()
        problems: list[str] = []

        def flag(doc_id: int, what: str) -> None:
            bad.update(sent_in.get(doc_id, [-1]))
            if len(problems) < 10:
                problems.append(f"{what}: doc {doc_id}")

        cur_count: dict[int, int] = {}
        for r in curated:
            cur_count[r.doc_id] = cur_count.get(r.doc_id, 0) + 1
        kept = {r.doc_id for r in curated if r.kept}
        for doc_id in set(cur_count) | set(drop_of):
            if cur_count.get(doc_id, 0) != 1 or doc_id not in drop_of:
                flag(doc_id, f"curated rows {cur_count.get(doc_id, 0)}")
        corpus_ids = {r["doc_id"] for r in self.corpus_rows}
        corpus_count: dict[int, int] = {}
        for doc_id in corpus:
            corpus_count[doc_id] = corpus_count.get(doc_id, 0) + 1
        for doc_id in set(corpus_count) | kept | corpus_ids:
            if corpus_count.get(doc_id, 0) != 1 or not (doc_id in kept or doc_id in corpus_ids):
                flag(doc_id, f"corpus rows {corpus_count.get(doc_id, 0)}")
        index_count: dict[int, int] = {}
        for r in index:
            index_count[r.doc] = index_count.get(r.doc, 0) + 1
        per_doc = statistics.mode(index_count.values())
        for doc_id in kept | set(index_count):
            if index_count.get(doc_id, 0) != per_doc or not (doc_id in kept or doc_id in corpus_ids):
                flag(doc_id, f"index rows {index_count.get(doc_id, 0)}")
        batch_drop = self.batch_to_drop()
        found: set[frozenset] = set()
        for p in pairs:
            found.add(frozenset((p.id_a, p.id_b)))
            exact = jaccard(gen.text[p.id_a], gen.text[p.id_b])
            if exact < THRESHOLD or abs(exact - p.jaccard) > 1e-9:
                bad.add(batch_drop.get(p.batch_id, -1))
                if len(problems) < 10:
                    problems.append(f"pair ({p.id_a}, {p.id_b}) jaccard {p.jaccard} vs {exact}")
        eligible = [(a, b) for a, b in gen.planted if a in kept]
        recall = sum(frozenset(x) in found for x in eligible) / len(eligible) if eligible else 1.0

        n_sent = sum(len(r) for r in self.drops)
        kinds = {k: 0 for k, _ in fixtures.IngestDrops.SHARES}
        # measured input shares: replays are the ids sent before
        seen: set[int] = set(corpus_ids)
        for rows in self.drops:
            for r in rows:
                kinds["replay" if r["doc_id"] in seen else gen.kinds[r["doc_id"]]] += 1
                seen.add(r["doc_id"])
        self.kept_ratio = len(kept) / len(drop_of) if drop_of else 0.0
        self.recall = recall
        return {
            "failed_ops": bad,
            "problems": problems,
            "input_shares": {k: v / n_sent for k, v in kinds.items()},
            "planted_pairs": len(eligible),
            "planted_recall": recall,
            "kept_ratio": self.kept_ratio,
        }

    def batch_to_drop(self) -> dict[int, int]:
        """Streaming batch id -> index of the drop its run drained."""
        return {p["batchId"]: d for d, progs in enumerate(self.progress) for p in progs}

    # -- per-layer metrics (traced run) --------------------------------------

    def trace_metrics(self, run, timed: list[int]) -> dict[str, float]:
        m: dict[str, float] = {}
        n = len(timed)
        sums = dict.fromkeys(("trigger_s", "add_batch_s", "latest_offset_s", "query_planning_s",
                              "wal_commit_s", "input_rows", "queue_wait_s"), 0.0)
        keys = {"triggerExecution": "trigger_s", "addBatch": "add_batch_s",
                "latestOffset": "latest_offset_s", "queryPlanning": "query_planning_s",
                "walCommit": "wal_commit_s"}
        for i in timed:
            data = self.progress[i]
            for p in data:
                for src, dst in keys.items():
                    sums[dst] += p["durationMs"].get(src, 0) / 1e3
                sums["input_rows"] += p["numInputRows"]
            if data:
                start_ms = _iso_ms(data[0]["timestamp"])
                sums["queue_wait_s"] += max(0, start_ms - self.written_ms[i]) / 1e3
        m.update({f"streaming.{k}": v / n for k, v in sums.items()})
        m["dedup.planted_recall"] = self.recall
        m["gate.kept_ratio"] = self.kept_ratio
        lat = [run.latencies[i] for i in timed]
        q = max(1, len(lat) // 4)
        m["epoch.late_over_early"] = statistics.median(lat[-q:]) / statistics.median(lat[:q])
        for key, name in (("index", "index_files"), ("corpus", "corpus_files"), ("curated", "curated_files")):
            m[f"state.{name}"] = float(_count_data_files(self.paths[key]))
        return m

    def event_metrics(self, run, events: list[dict], timed: list[int]) -> dict[str, float]:
        """Epoch steps, and the dedup probe's candidate and pair counts read
        from the SQL metrics of each timed epoch's pairs write."""
        groups = eventlog.nested_groups(eventlog.sql_executions(events))
        totals = eventlog.sql_metric_totals(events)
        paths = {k: self.paths[k] for k in ("pairs", "curated", "index", "corpus")}
        sums = dict.fromkeys(eventlog.EPOCH_STEPS, 0.0)
        seen = cands = pairs = 0
        for group in groups:
            if not any(self.windows[i][0] <= group[0]["start"] <= self.windows[i][1] for i in timed):
                continue
            steps = eventlog.epoch_steps(group, paths)
            if steps is not None:
                seen += 1
                for k, v in steps.items():
                    sums[k] += v
            for x in group[1:]:
                if x["writes"] == paths["pairs"].rstrip("/") and x["plan"] is not None:
                    c, p = eventlog.verify_rows(x["plan"], totals)
                    cands += c
                    pairs += p
        m = {f"epoch.{k}_s": (v / seen if seen else 0.0) for k, v in sums.items()}
        m["dedup.candidates"] = cands / len(timed)
        m["dedup.pairs"] = pairs / len(timed)
        m["dedup.verify_yield"] = pairs / cands if cands else 0.0
        return m


def _iso_ms(ts: str) -> int:
    import datetime as dt

    return int(dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000)


def _count_data_files(path: str) -> int:
    n = 0
    for _, _, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n
