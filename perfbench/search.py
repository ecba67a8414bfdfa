"""The board's search panel: one search page over the processed table that
``plans.pipeline.write_processed`` landed -- a keyword search, a sentiment
term query sorted by confidence, and a sentiment facet, every result
collected. It covers the search operators, the text analyzer, aggregates
and per-request build/plan cost. A page is timed as one unit rather than as
three calls because the calls differ about tenfold in cost."""

from __future__ import annotations

import collections
import re

import eventlog
import fixtures

PAGE_SIZE = 50
CALLS = ("keyword", "term", "facet")


class SearchPanel:
    def setup(self, run, sf_dir: str, docs: list[dict], n_pages: int) -> None:
        """Land ``sf_dir``'s documents table (whose rows are ``docs``) as the
        processed table with ``plans.pipeline.write_processed``, and draw
        the pages."""
        from sentiment_analysis_data_pipeline_spark.plans.pipeline import write_processed

        self.processed = run.path("processed")
        write_processed(run.spark, sf_dir, self.processed)
        self.df = run.spark.read.parquet(self.processed)
        # the landed vocabulary, most frequent first
        freq = collections.Counter(
            w for d in docs for w in re.split(r"[^a-z0-9]+", d["text"].lower())
            if len(w) > 2
        )
        vocab = [w for w, _ in sorted(freq.items(), key=lambda x: (-x[1], x[0]))]
        self.pages = fixtures.search_pages(run.seed, vocab, n_pages)
        self.results: dict[int, dict] = {}

    def page(self, run, i: int) -> None:
        from sentiment_analysis_data_pipeline_spark.operators import aggregates, search

        page = self.pages[i]
        spans = run.spans
        out = {}
        calls = {
            "keyword": lambda: search.keyword_search(self.df, " ".join(page["terms"]), size=PAGE_SIZE),
            "term": lambda: search.term_query(
                self.df, "sentiment.overall", page["sentiment"], "sentiment.confidence", "doc_id", PAGE_SIZE
            ),
            "facet": lambda: aggregates.terms_agg(self.df, "sentiment.overall"),
        }
        for name in CALLS:
            if run.trace:
                run.spark.sparkContext.setJobGroup(f"search.{name}", name)
            with spans.span(f"search.{name}.build_s"):
                df = calls[name]()
            if run.trace:
                with spans.span(f"search.{name}.plan_s"):
                    df._jdf.queryExecution().executedPlan()
            with spans.span(f"search.{name}.exec_s"):
                out[name] = df.collect()
        self.results[i] = {
            "keyword": [(r.doc, r.score) for r in out["keyword"]],
            "term": [r.doc_id for r in out["term"]],
            "facet": [(r.key, r.doc_count) for r in out["facet"]],
        }

    def check(self, run, timed: list[int]) -> dict:
        """Every page against DuckDB evaluations of the same requests, built
        from the engine's DuckDB dialect fragments over the landed parquet."""
        import duckdb

        from sentiment_analysis_data_pipeline_spark.functions import dialect as D
        from sentiment_analysis_data_pipeline_spark.functions import text as TX

        con = duckdb.connect()
        con.sql(
            "CREATE VIEW processed AS SELECT * FROM "
            f"read_parquet('{self.processed}/**/*.parquet', hive_partitioning = true)"
        )
        toks = D.arr_distinct(D.DUCKDB, TX.analyzed_tokens(D.DUCKDB, "text"))
        bad, problems = set(), []
        for i in sorted(self.results):
            page, got = self.pages[i], self.results[i]
            query = " ".join(page["terms"]).replace("'", "''")
            terms = D.arr_distinct(D.DUCKDB, TX.analyzed_tokens(D.DUCKDB, f"'{query}'"))
            score = D.arr_size(D.DUCKDB, D.arr_intersect(D.DUCKDB, toks, terms))
            kw = con.sql(
                f"SELECT doc_id AS doc, {score} AS score FROM processed "
                f"WHERE {score} > 0 ORDER BY score DESC, doc ASC LIMIT {PAGE_SIZE}"
            ).fetchall()
            value = page["sentiment"].replace("'", "''")
            term = [r[0] for r in con.sql(
                "SELECT doc_id FROM processed WHERE sentiment.overall = "
                f"'{value}' ORDER BY sentiment.confidence DESC, doc_id ASC LIMIT {PAGE_SIZE}"
            ).fetchall()]
            facet = con.sql(
                "SELECT sentiment.overall AS key, count(*) AS doc_count FROM processed "
                "GROUP BY 1 ORDER BY doc_count DESC, key ASC LIMIT 10"
            ).fetchall()
            want = {"keyword": [tuple(r) for r in kw], "term": term, "facet": [tuple(r) for r in facet]}
            for name in CALLS:
                if got[name] != want[name]:
                    bad.add(i)
                    problems.append(f"page {i} {name}: {got[name][:3]} vs {want[name][:3]}")
        con.close()
        pages = [self.pages[i] for i in timed]
        terms = [t for p in pages for t in p["terms"]]
        return {
            "failed_ops": bad,
            "problems": problems,
            "input_shares": {
                "zero_hit_terms": sum(t.startswith("qqzx") for t in terms) / len(terms),
                "zero_hit_pages": sum(1 for i in timed if not self.results.get(i, {}).get("keyword")) / len(timed),
                **{
                    f"terms_{k}": sum(len(p["terms"]) == k for p in pages) / len(pages)
                    for k in (1, 2, 3)
                },
            },
        }

    def trace_metrics(self, run, timed: list[int]) -> dict[str, float]:
        ops = set(timed)
        return {
            f"search.{c}.{part}": run.spans.total(f"search.{c}.{part}", ops) / len(timed)
            for c in CALLS
            for part in ("build_s", "plan_s", "exec_s")
        }

    def event_metrics(self, run, events: list[dict], timed: list[int]) -> dict[str, float]:
        """Rows the keyword searches' scans produced (read from the SQL
        metrics of their executions in the timed window) per hit returned."""
        t0, t1 = run.window["epoch0_ms"], run.window["epoch1_ms"]
        totals = eventlog.sql_metric_totals(events)
        examined = sum(
            eventlog.scan_rows(x["plan"], totals)
            for x in eventlog.sql_executions(events)
            if x["group"] == "search.keyword" and t0 <= x["start"] <= t1 and x["plan"] is not None
        )
        hits = sum(len(self.results[i]["keyword"]) for i in timed if i in self.results)
        return {"search.rows_examined_per_hit": examined / max(1, hits)}

