"""spark-submit entry point for the crawl engine (north-rule deployment
mode: ``spark-submit --py-files <package.zip> tools/crawl_job.py``).

On a cluster, drop ``--master local[*]`` for YARN/K8s; the job only touches
the SparkSession it is given, the store root, and the deterministic synthetic
fetch — swap the ``content_for_url``/``fetch_ok`` calls in
plans/crawl_round.document_pass for a real fetcher to crawl real bytes.

Usage:
    spark-submit --py-files pkg.zip tools/crawl_job.py \
        --store /tmp/crawlstore --seeds 100 --round-size 10 --max-rounds 50
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# direct `python tools/crawl_job.py` runs resolve the package from the repo
# root; under spark-submit --py-files the zip is already on the path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--store", required=True)
    ap.add_argument("--seeds", type=int, default=100)
    ap.add_argument("--round-size", type=int, default=10)
    ap.add_argument("--max-rounds", type=int, default=1000)
    ap.add_argument(
        "--no-text-index", action="store_true",
        help="skip the per-round BM25 postings upsert (reference parity keeps it on)",
    )
    args = ap.parse_args()

    spark = SparkSession.builder.appName("crawl-frontier-job").getOrCreate()

    from azure_blob_crawler_spark.plans.crawl_round import CrawlRunner
    from azure_blob_crawler_spark.sources import synthetic

    runner = CrawlRunner(
        spark, args.store, round_size=args.round_size, n_buckets=8,
        maintain_text_index=not args.no_text_index,
    )
    if not runner.store.exists("frontier"):
        seeds = spark.createDataFrame(
            [
                (e["url"], e["depth"], e["discovery_seq"])
                for e in synthetic.seed_frontier_py(args.seeds)
            ],
            "url string, depth int, discovery_seq long",
        )
        runner.init_frontier(seeds, synthetic.robots_df(spark))
    metrics = runner.run(max_rounds=args.max_rounds)
    print(
        json.dumps(
            {
                "rounds": len(metrics),
                "last": metrics[-1] if metrics else None,
                "chunks": runner.store.read("chunks").count(),
                "frontier": runner.store.read("frontier").count(),
            },
            default=str,
        )
    )


if __name__ == "__main__":
    main()
