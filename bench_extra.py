"""Targeted bench harness for optimization work (bench.py is FROZEN for
measurement; this file reuses its session builder + methodology so subset
numbers are comparable, and adds explain-plan capture per guide §1).

Usage:
    python bench_extra.py [--passes 2] [--explain plans/r06 --suffix before]
                          [--sf /root/testdata/sf0.1] name [name ...]

Per query: min-of-N wall seconds of df.count() with the cache cleared
between passes (identical to bench.py), plus optional
``df.explain("formatted")`` dumped to ``<dir>/<name>_<suffix>.txt``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from bench import make_session  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--explain", default=None, help="dir for explain dumps")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    spark = make_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # same JIT warmup as bench.py
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for wname in ("pagerank_ps", "dedup_exact"):
            try:
                qs[wname](spark, warm_dir).count()
            except Exception as exc:
                print(f"# warmup {wname} skipped: {exc}", file=sys.stderr)
        spark.catalog.clearCache()

    times = {}
    for name in args.names:
        if name not in qs:
            print(f"# UNKNOWN {name}", file=sys.stderr)
            continue
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            spark.sparkContext.setJobDescription(f"explain:{name}")
            df = qs[name](spark, args.sf)
            with open(os.path.join(args.explain, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
            spark.catalog.clearCache()
        if args.passes == 0:
            continue
        best, rows = None, 0
        for _pass in range(args.passes):
            spark.sparkContext.setJobDescription(f"bench:{name}:pass{_pass}")
            t0 = time.time()
            df = qs[name](spark, args.sf)
            rows = df.count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
            spark.catalog.clearCache()
        times[name] = round(best, 3)
        print(f"# {name}: {best:.2f}s rows={rows}", file=sys.stderr)

    print(json.dumps({"queries": times, "sf": args.sf, "passes": args.passes}))
    spark.stop()


if __name__ == "__main__":
    main()
