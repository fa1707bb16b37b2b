"""Round-6 optimization harness — per-query isolation with the noop sink
(guide §1.4), plan capture, and steal attribution. Supplements the FROZEN
bench.py: numbers quoted in OPTIMIZATION_r06.md come from here; the driver's
comparison still runs bench.py.

Usage:
  python bench_extra.py [--plans DIR] [--reps N] [query ...]

Times each selected entry with df.write.format("noop") (computes every
column, unlike bench.py's .count() — so these numbers are upper bounds on
the bench's) and writes `<query>.txt` explain("formatted") files to --plans.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


import __spark_entry__ as entrymod  # noqa: E402
import bench as benchmod  # noqa: E402
from azure_blob_crawler_spark.session import get_spark  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans", default=None, help="dir to write explain() files")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--sink", choices=["noop", "count"], default="noop")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("bench_extra", cores=cpus, shuffle_partitions=max(int(cpus), 8))
    spark.range(1).count()

    qs = dict(entrymod.queries())
    # the bench.py series-comparable tiers (the timed surface)
    qs["q_minhash_dedup"] = benchmod.minhash_dedup_full
    qs["q_bm25_search"] = benchmod.bm25_scan_once
    qs["q_hybrid_search"] = benchmod.hybrid_scan_once
    qs["q_url_canonicalize"] = benchmod.url_canon_plain

    names = args.queries or benchmod.BENCH_QUERIES
    out = {}
    for name in names:
        fn = qs[name]
        times = []
        for rep in range(args.reps):
            c0 = benchmod._cpu_sample()
            t0 = time.time()
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            df = fn(spark, sf_dir)
            if args.sink == "noop":
                noop(df)
            else:
                df.count()
            dt = time.time() - t0
            c1 = benchmod._cpu_sample()
            times.append((round(dt, 3), benchmod._steal_pct(c0, c1)))
        spark.sparkContext.setJobDescription(None)
        out[name] = times
        print(name, times, flush=True)
    # plans pass (separate so timing isn't polluted by explain)
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
        for name in names:
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                f.write(plan)
    print(json.dumps({k: v for k, v in out.items()}))


if __name__ == "__main__":
    main()
