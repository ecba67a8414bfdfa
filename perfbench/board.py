"""analytics_board: one op is one board refresh -- a pass over a fixed list
of live registry queries, each run as
``queries.spark_queries()[name](spark, sf_dir)`` and collected, plus one
search page (``search.SearchPanel``), in a seeded order per pass. Read-only.

``heavy`` is the similarity-join tail, dominated by join execution;
``light`` is dominated by the fixed per-query cost. The list is short so
that each query runs several times per run: JIT warm-up advances per
invocation, not per second. Left out, to keep a run inside the benchmark's
time budget: indexed queries (their index builds take the shared warehouse
build lock and cost tens of seconds), ``range_partition_bounds`` (a cheap
scan at this table size, with a 7 s first run), ``containment_pairs`` (another
df-capped shingle self-join, like the two kept), ``sentiment_terms_agg`` and
``curation_pipeline`` (the sentiment kernel and the curation gate run in
``ingest_stream``), and ``hourly_events``, ``freshness`` and ``quality_rate``
(fixed-cost scans like the three light queries kept; their time went to a
second ingest warm-up drop)."""

from __future__ import annotations

import os
import re
import time

import fixtures
from search import SearchPanel

HEAVY = ("dup_span_pairs", "winnow_pairs")
LIGHT = ("top_customer_revenue", "pricing_summary", "sessionize")
DOCS = 300
ORDERS = 1500
PARTS = ("build_s", "plan_s", "exec_s")
SEARCH_PAGE = "search_page"
_EXCHANGE = re.compile(r"\b(?:Broadcast|Shuffle)?Exchange\b")


def _schemas():
    import pyarrow as pa

    ts = pa.timestamp("us")
    return {
        "documents": pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                                ("source", pa.string()), ("n_chars", pa.int64())]),
        "customer": pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                               ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                               ("c_mktsegment", pa.string())]),
        "orders": pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                             ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                             ("o_orderdate", ts), ("o_orderpriority", pa.string())]),
        "lineitem": pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                               ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                               ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                               ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                               ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                               ("l_shipdate", ts)]),
        "events": pa.schema([("event_id", pa.int64()), ("ts", ts), ("user_id", pa.int64()),
                             ("event_type", pa.string()), ("value", pa.float64()),
                             ("props", pa.string())]),
    }


class AnalyticsBoard:
    name = "analytics_board"
    # the first pass takes about twice a warm one
    warmup_ops = 1
    units_per_op = len(HEAVY + LIGHT) + 1

    def setup(self, run, n_ops: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from sentiment_analysis_data_pipeline_spark import queries

        self.sf_dir = run.path("sf")
        os.makedirs(self.sf_dir)
        tables = {"documents": fixtures.documents(run.seed, DOCS), **fixtures.relational_tables(run.seed, ORDERS)}
        for name, schema in _schemas().items():
            pq.write_table(pa.Table.from_pylist(tables[name], schema=schema), f"{self.sf_dir}/{name}.parquet")
        self.panel = SearchPanel()
        self.panel.setup(run, self.sf_dir, tables["documents"], n_ops)
        registry = queries.spark_queries()
        self.fns = {n: registry[n] for n in HEAVY + LIGHT}
        self.orders = fixtures.board_orders(run.seed, [*HEAVY, *LIGHT, SEARCH_PAGE], n_ops)
        self.rows: dict[int, dict[str, list]] = {}
        self.exchanges: dict[int, int] = {}

    def op(self, run, i: int) -> int:
        spark, spans = run.spark, run.spans
        self.rows[i] = {}
        self.exchanges[i] = 0
        for name in self.orders[i]:
            if name == SEARCH_PAGE:
                self.panel.page(run, i)
                continue
            group = "heavy" if name in HEAVY else "light"
            if run.trace:
                spark.sparkContext.setJobGroup(f"board.{group}", name)
            with spans.span(f"board.{group}.build_s"):
                df = self.fns[name](spark, self.sf_dir)
            if run.trace:
                with spans.span(f"board.{group}.plan_s"):
                    plan = df._jdf.queryExecution().executedPlan()
                # the plan's text is the tracer's own work, not planning
                t0 = time.perf_counter()
                self.exchanges[i] += len(_EXCHANGE.findall(plan.toString()))
                spans.cost_s += time.perf_counter() - t0
            with spans.span(f"board.{group}.exec_s"):
                rows = df.collect()
            self.rows[i][name] = rows
            spark.catalog.clearCache()
        return len(self.orders[i])

    def check(self, run, timed: list[int]) -> dict:
        """Every invocation's result against its registry oracle on DuckDB,
        compared by the correctness gate's order-insensitive value hash."""
        import duckdb

        from sentiment_analysis_data_pipeline_spark import queries
        from tools.selfcheck import value_hash

        oracles = queries.oracle_sqls()
        con = duckdb.connect()
        for t in _schemas():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        want = {}
        for name in HEAVY + LIGHT:
            want[name] = value_hash(con.sql(oracles[name]).df().to_dict("records"))
        con.close()
        verdict = self.panel.check(run, timed)
        bad, problems = verdict.pop("failed_ops"), verdict.pop("problems")
        result_rows = {}
        for i, results in self.rows.items():
            for name, rows in results.items():
                result_rows[name] = len(rows)
                if value_hash([r.asDict(recursive=True) for r in rows]) != want[name]:
                    bad.add(i)
                    if len(problems) < 10:
                        problems.append(f"pass {i} {name}: value hash differs from the oracle")
        return {
            "failed_ops": bad,
            "problems": problems,
            "result_rows": result_rows,
            "input_shares": {
                "heavy_queries": len(HEAVY) / (len(HEAVY + LIGHT) + 1),
                **verdict["input_shares"],
            },
        }

    def trace_metrics(self, run, timed: list[int]) -> dict[str, float]:
        ops = set(timed)
        m = {
            f"board.{g}.{p}": run.spans.total(f"board.{g}.{p}", ops) / len(timed)
            for g in ("heavy", "light")
            for p in PARTS
        }
        m["board.exchanges"] = sum(self.exchanges[i] for i in timed) / len(timed)
        m.update(self.panel.trace_metrics(run, timed))
        return m

    def event_metrics(self, run, events: list[dict], timed: list[int]) -> dict[str, float]:
        t0, t1 = run.window["epoch0_ms"], run.window["epoch1_ms"]
        jobs = sum(
            1 for e in events
            if e["Event"] == "SparkListenerJobStart" and t0 <= e["Submission Time"] <= t1
            and e.get("Properties", {}).get("spark.jobGroup.id") in ("board.heavy", "board.light")
        )
        return {"board.jobs": jobs / len(timed), **self.panel.event_metrics(run, events, timed)}
