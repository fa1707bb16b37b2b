"""Scaling-efficiency evidence (BASELINE.json criterion: ≥0.8 from N to 4N).

Runs the SAME frontier schedule+dedup job (the primary-metric workload) at
two parallelism levels — local[8] and local[32] — on the same input size,
in separate JVMs (one per run, sequential), and reports throughput at both
plus efficiency = (T_N/T_4N)/4 ... expressed as rate ratio / core ratio.

Usage: python tools/bench_scaling.py [n_urls]  (default 4,000,000)
Prints one JSON line; paste the table into BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench as benchmod  # noqa: E402

RUNNER = r"""
import json, sys, time
sys.path.insert(0, ".")
from pyspark.sql import functions as F
from azure_blob_crawler_spark.session import get_spark
from azure_blob_crawler_spark.functions.urls import canonical_url, url_hash, url_host
from azure_blob_crawler_spark.operators.scheduler import claim_round
from azure_blob_crawler_spark.sources.synthetic import robots_df, seed_frontier_df

cores, n = int(sys.argv[1]), int(sys.argv[2])
spark = get_spark(f"scale-{cores}", cores=cores, shuffle_partitions=max(cores, 8))

def job(m):
    # phase 1 — frontier ingest: canonicalize + hash + MERGE-style dedup,
    # materialized (in production this is the stored frontier table; the
    # claim never recomputes ingest lineage)
    seeds = seed_frontier_df(spark, m)
    frontier = (
        seeds.withColumn("url", canonical_url("url"))
        .withColumn("host", url_host(F.col("url")))
        .withColumn("url_hash", url_hash(F.col("url")))
        .dropDuplicates(["url_hash"])
        .withColumn("state", F.lit("pending"))
        .withColumn("attempts", F.lit(0))
    ).persist()
    frontier.count()
    # phase 2 — politeness claim over the materialized frontier
    # cached salt widths, as in CrawlRunner's steady state (empty: this
    # corpus's hottest host is under CLAIM_SALT_TARGET_ROWS); the O(pending)
    # width derivation is amortized over drift, not paid per claim
    claimed = claim_round(frontier, robots_df(spark), round_size=200_000,
                          round_seconds=1000.0, hot_hosts=())
    nc = claimed.count()
    frontier.unpersist()
    return nc

import os
job(10_000)  # warm-up: JIT/codegen compile of the exact plan (single-threaded, one-time)
best, nc = None, 0
# min-of-k: the sandbox is a shared VM with noisy neighbors; k=1 is used for
# very long (large-n, low-core) runs where a single run already amortizes noise
repeats = int(os.environ.get("BENCH_SCALING_REPEATS", "3"))
for _ in range(repeats):
    t0 = time.time()
    nc = job(n)
    dt = time.time() - t0
    best = dt if best is None or dt < best else best
print(json.dumps({"cores": cores, "n": n, "sec": round(best, 2),
                  "urls_per_sec": round(n / best), "claimed": nc}))
"""


def run(cores: int, n: int) -> dict:
    c0 = benchmod._cpu_sample()
    out = subprocess.run(
        [sys.executable, "-c", RUNNER, str(cores), str(n)],
        capture_output=True, text=True, check=True, cwd=ROOT,
    )
    c1 = benchmod._cpu_sample()
    res = json.loads(out.stdout.strip().splitlines()[-1])
    res["steal_pct_of_nonidle"] = benchmod._steal_pct(c0, c1)
    return res


def run_clean(cores: int, n: int, max_steal: float, max_tries: int) -> dict:
    """Retry a measurement whose window exceeded ``max_steal``% co-tenant
    steal (round-4 verdict item 8: the harness measures contention — use
    it to REJECT contended windows instead of reporting them). Returns the
    first clean run, else the least-stolen one, with every attempt's steal
    recorded so a 'no clean window existed' claim is checkable."""
    attempts = []
    best = None
    for _ in range(max_tries):
        r = run(cores, n)
        attempts.append(r["steal_pct_of_nonidle"])
        if best is None or r["steal_pct_of_nonidle"] < best["steal_pct_of_nonidle"]:
            best = r
        if r["steal_pct_of_nonidle"] <= max_steal:
            break
    best["attempt_steals"] = attempts
    best["clean"] = best["steal_pct_of_nonidle"] <= max_steal
    return best


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    pairs = sys.argv[2] if len(sys.argv) > 2 else "2,8,32"
    cores = [int(c) for c in pairs.split(",")]
    max_steal = float(os.environ.get("BENCH_SCALING_MAX_STEAL", "3.0"))
    max_tries = int(os.environ.get("BENCH_SCALING_MAX_TRIES", "3"))
    runs = [run_clean(c, n, max_steal, max_tries) for c in cores]
    effs = {}
    for a, b in zip(runs, runs[1:]):
        ratio = b["cores"] / a["cores"]
        effs[f"scaling_efficiency_{a['cores']}_to_{b['cores']}"] = round(
            (b["urls_per_sec"] / a["urls_per_sec"]) / ratio, 3
        )
    print(
        json.dumps(
            {
                "runs": runs,
                **effs,
                "note": "single shared VM; /proc/stat shows hypervisor steal "
                "time — high-occupancy (32-thread) runs compete with "
                "co-tenants, low-occupancy pairs reflect engine scaling",
            }
        )
    )


if __name__ == "__main__":
    main()
