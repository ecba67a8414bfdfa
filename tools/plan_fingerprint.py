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

Normalizing the ids is not enough on its own: Catalyst orders some rewrites
by the hash of expression ids (the Expand of a distinct aggregate, a
projection collapse), and those ids come from one JVM-wide counter. So
before each query the tool drops the session's temp views and read memo
and sets that counter to a fixed base for the query (its registry position
times a stride no query draws through). A query then hashes the same
whatever ran before it in the process.

Nor does it depend on the warehouse. A constructor that builds a stamped
index (sources.tables.ensure_stamped_table) draws more ids than one that
finds it registered in the session, and one that registers a copy a
previous process left in the warehouse draws a few more than that. So
when a constructor ensures a stamped index, the tool re-pins and hashes a
second call, which finds every index it needs registered: a fresh and a
warm warehouse hash the same.

Usage: python tools/plan_fingerprint.py sf_dir [query_name ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

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


# expression ids one query may draw; far above any registry query's count
ID_STRIDE = 1 << 36


def expr_id_pinner(spark: SparkSession) -> Callable[[int], None]:
    """pin(base): isolate the session from earlier queries (temp views, the
    catalog's resolved-table cache, the engine's parquet read memo) and set
    Catalyst's expression-id counter (NamedExpression.curId, a private
    AtomicLong) to `base`. The isolation
    matters when a base is used twice (one query fingerprinted again): ids
    then repeat, and no plan that holds the earlier ones may stay
    reachable. The AtomicLong cannot cross py4j as an object (it arrives
    as a number), so its getter and set() are joined into one method
    handle on the JVM side."""
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    field = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.NamedExpression$"
    ).getDeclaredField("curId")
    field.setAccessible(True)
    lookup = jvm.java.lang.invoke.MethodHandles.publicLookup()
    sig = gw.new_array(jvm.java.lang.Class, 1)
    sig[0] = jvm.java.lang.Long.TYPE
    setter = lookup.unreflect(
        jvm.java.lang.Class.forName("java.util.concurrent.atomic.AtomicLong").getMethod("set", sig)
    )
    handle = jvm.java.lang.invoke.MethodHandles.collectArguments(
        setter, 0, lookup.unreflectGetter(field)
    )

    def pin(base: int) -> None:
        catalog = spark._jsparkSession.sessionState().catalog()
        catalog.clearTempTables()
        catalog.invalidateAllCachedTables()
        spark.__dict__.pop("_graft_read_cache", None)
        args = gw.new_array(jvm.java.lang.Object, 1)
        args[0] = base
        handle.invokeWithArguments(args)

    return pin


class Fingerprinter:
    """fp(fn, base) -> the sha256 of query constructor `fn`'s plans over
    `sf_dir` (module docstring), its expression ids pinned at `base`.

    A context manager: inside it, DataFrame.localCheckpoint records each
    checkpointed relation's plan in `captured` and
    sources.tables.ensure_stamped_table records each table it ensures in
    `ensured`; leaving it restores both."""

    def __init__(self, spark: SparkSession, sf_dir: str) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.pin = expr_id_pinner(spark)
        self.captured: list[str] = []
        self.ensured: list[str] = []

    def __enter__(self) -> "Fingerprinter":
        from sentiment_analysis_data_pipeline_spark.sources import tables

        # the concrete class (pyspark.sql.classic.dataframe.DataFrame in
        # Spark 4 classic mode) overrides the abstract DataFrame's method:
        # patch that one
        self._cls = type(self.spark.range(0))
        self._originals = checkpoint, ensure = (
            self._cls.localCheckpoint,
            tables.ensure_stamped_table,
        )

        def capturing(df, *a, **kw):
            self.captured.append(optimized_plan(df))
            return checkpoint(df, *a, **kw)

        def ensuring(spark, table, *a, **kw):
            self.ensured.append(table)
            return ensure(spark, table, *a, **kw)

        self._cls.localCheckpoint, tables.ensure_stamped_table = capturing, ensuring
        return self

    def __exit__(self, *exc) -> None:
        from sentiment_analysis_data_pipeline_spark.sources import tables

        self._cls.localCheckpoint, tables.ensure_stamped_table = self._originals

    def __call__(self, fn: Callable, base: int) -> str:
        for _ in range(2):
            self.captured.clear()
            self.ensured.clear()
            self.pin(base)
            final = optimized_plan(fn(self.spark, self.sf_dir))
            if not self.ensured:
                break
        h = hashlib.sha256()
        for plan in [*self.captured, final]:
            h.update(plan.encode())
            h.update(b"\n--\n")
        return h.hexdigest()


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    sf_dir = sys.argv[1].rstrip("/")
    only = set(sys.argv[2:])

    spark = get_spark("plan-fingerprint")
    spark.sparkContext.setLogLevel("ERROR")

    from sentiment_analysis_data_pipeline_spark.queries import REGISTRY

    out: dict[str, str] = {}
    with Fingerprinter(spark, sf_dir) as fp:
        for pos, (name, (fn, _)) in enumerate(REGISTRY.items(), 1):
            if only and name not in only:
                continue
            out[name] = fp(fn, pos * ID_STRIDE)
            print(f"{name} {len(fp.captured)} {out[name][:12]}", file=sys.stderr, flush=True)
    print(json.dumps(out, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
