"""Local mirror of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet dir, compare
row count, column names, and order-insensitive values.

Usage: python scripts/check_oracle.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod  # noqa: E402
from bench import driver_memory  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out)


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory(16))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    unknown = only - set(qs)
    if unknown:
        # a typo'd or unregistered name must FAIL loudly — a silent skip
        # reads as ALL OK for a query that was never checked
        print(f"FAIL unknown query names: {sorted(unknown)}")
        sys.exit(2)
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows={len(srows)}) [{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.sql(oracles[name])
            ocols = list(res.columns)
            orows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {e}")
            continue
        sc, sv = norm_rows(scols, srows)
        oc, ov = norm_rows(ocols, orows)
        status = "OK"
        if sc != oc:
            status = f"COLS MISMATCH spark={sc} duck={oc}"
        elif len(sv) != len(ov):
            status = f"ROWCOUNT spark={len(sv)} duck={len(ov)}"
        elif sv != ov:
            diffs = [(a, b) for a, b in zip(sv, ov) if a != b][:3]
            status = f"VALUES ({sum(1 for a, b in zip(sv, ov) if a != b)} differing) e.g. {diffs}"
        if status != "OK":
            failures.append(name)
            print(f"FAIL {name}: {status} [{time.time()-t0:.1f}s]")
        else:
            print(f"OK   {name}: rows={len(sv)} [{time.time()-t0:.1f}s]")

    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
