"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same sf dir; compare
row count, schema shape, and an order-insensitive value hash.

Usage: python tools/selfcheck.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb

sys.path.insert(0, "/root/repo")

from __spark_entry__ import oracle_sql, queries  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v) -> str:
    import datetime
    import decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def _num_kind(v) -> str | None:
    """Classify a cell's numeric representation kind; cross-engine results
    must agree per-column (decimal vs float hashes differently driver-side)."""
    import decimal

    import numpy as np

    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        return "decimal"
    if isinstance(v, (bool, np.bool_)):
        return "bool"
    if isinstance(v, (float, np.floating)):
        return "float"
    if isinstance(v, (int, np.integer)):
        return "int"
    return "other"


def value_hash(rows: list[dict]) -> str:
    lines = sorted(
        "|".join(f"{k}={norm_cell(r[k])}" for k in sorted(r)) for r in rows
    )
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--default-session"]
    default_session = "--default-session" in sys.argv
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    if default_session:
        # simulate the driver: vanilla session, no UTC/AQE/shuffle tuning
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").appName("selfcheck-default").getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
    else:
        from sentiment_analysis_data_pipeline_spark.session import get_spark

        spark = get_spark("selfcheck")

    # one-line capability report: which env-gated paths (Delta MERGE, live
    # Kafka, real lexicon libs, pixel decode) would activate in THIS env
    from sentiment_analysis_data_pipeline_spark.capabilities import report_line

    print(report_line(spark), flush=True)

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = queries()
    oracles = oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = [r.asDict(recursive=True) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:400]}", flush=True)
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only check, {len(srows)} rows ({time.time()-t0:.1f}s)", flush=True)
            continue
        try:
            ddf = con.sql(oracles[name]).df()
            drows = ddf.to_dict("records")
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:400]}", flush=True)
            failures.append(name)
            continue
        ok_rows = len(srows) == len(drows)
        scols = sorted(srows[0]) if srows else sorted(c for c in sdf.columns)
        dcols = sorted(drows[0]) if drows else sorted(ddf.columns)
        ok_schema = scols == dcols
        sh, dh = value_hash(srows), value_hash(drows)
        ok_hash = sh == dh
        # Strict numeric-kind parity: the driver's normalizer hashes Decimal
        # and float differently, so a Spark decimal vs DuckDB double column
        # (or vice versa) must fail HERE even though norm_cell coerces both.
        type_mismatches = []
        if ok_schema and srows and drows:
            for col in scols:
                skinds = {_num_kind(r[col]) for r in srows} - {None}
                dkinds = {_num_kind(r[col]) for r in drows} - {None}
                if skinds != dkinds:
                    type_mismatches.append(f"{col}: spark={sorted(skinds)} duck={sorted(dkinds)}")
        ok_types = not type_mismatches
        status = "PASS" if (ok_rows and ok_schema and ok_hash and ok_types) else "FAIL"
        print(
            f"{status} {name}: rows {len(srows)}/{len(drows)} schema={ok_schema} hash={ok_hash} types={ok_types} ({time.time()-t0:.1f}s)",
            flush=True,
        )
        if status == "FAIL":
            failures.append(name)
            for tm in type_mismatches:
                print("   type mismatch:", tm)
            if not ok_schema:
                print(f"   spark cols: {scols}\n   duck cols: {dcols}")
            if ok_schema and not ok_hash:
                import itertools

                sset = {
                    "|".join(f"{k}={norm_cell(r[k])}" for k in sorted(r)) for r in srows
                }
                dset = {
                    "|".join(f"{k}={norm_cell(r[k])}" for k in sorted(r)) for r in drows
                }
                for ln in itertools.islice(sorted(sset - dset), 3):
                    print("   spark-only:", ln[:220])
                for ln in itertools.islice(sorted(dset - sset), 3):
                    print("   duck-only: ", ln[:220])
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL PASS")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
