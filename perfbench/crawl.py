"""``crawl`` workload: full-lifecycle BSP crawl rounds.

``CrawlRunner.run_round`` with the production defaults (round lock, claim
log and text-index maintenance all on) and ``n_buckets=8`` over 5k seed
URLs. ``round_size=500`` with ``round_seconds=250`` caps the hot host
``h0`` (30% of seeds, crawl delay 5 s) at 50 claims per round, so the
per-host budget path runs. A round costs ~16-20 s of per-job overhead at
any size from 200 to 2000 URLs; 500 keeps some per-document work in it.

The timed op is round 1, the first round after ``init_frontier`` (which is
set-up): claim, fetch, extract / chunk / embed UDFs, the round-lock and
final frontier MERGEs, the cuckoo seen-set MERGE, and the first commit of
the claim-log, chunks, doc-meta and text-index tables. Its plan is the same
in every run (84 jobs). Rounds from 2 on run the steady plan (121 jobs, 7
MERGEs), but timing one needs round 1 as warm-up in every run, which
takes a run from ~40 s to ~55 s on a quiet 4-vCPU host and to ~90 s on a
loaded one, and a full benchmark pass (48 runs) has to stay under an
hour. Later rounds join the timed window only while ``--seconds`` has not
passed; at the 5 s of BENCHMARK.json that is never, so round 1 is timed
alone.

The seed picks the seed id range; the ids map to URLs through the
program's synthetic generator, which carries ~10% duplicates and case /
dot-segment / fragment variants that canonicalize together.

Checks, after the timed window:

- the claim log of every round equals ``plans.simulator.simulate`` over the
  same seeds (a round that differs counts as a failed op), and the final
  seen set equals the simulator's;
- the seed rows stored in the frontier, and the round-1 claim count, equal
  a DuckDB oracle over the same seeds using the program's DuckDB rendering
  of URL canonicalization (``canonicalize_sql(dialect="duckdb")``).
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

N_SEEDS = 5_000
ROUND_SIZE = 500
ROUND_SECONDS = 250.0
N_BUCKETS = 8
WARMUP_OPS = 0
MIN_TIMED_OPS = 1
OP_CYCLE = 1


def seed_urls(seed: int) -> list[str]:
    from azure_blob_crawler_spark.sources.synthetic import seed_url_py

    base = (seed % 100_000) * N_SEEDS
    dup_space = (N_SEEDS * 9) // 10
    return [seed_url_py(base + i, dup_space) for i in range(N_SEEDS)]


def setup(run) -> None:
    from azure_blob_crawler_spark.plans.crawl_round import CrawlRunner
    from azure_blob_crawler_spark.sources import synthetic

    spark = run.spark
    urls = seed_urls(run.seed)
    seeds = spark.createDataFrame(
        [(u, 0, i) for i, u in enumerate(urls)],
        "url string, depth int, discovery_seq long",
    )
    runner = CrawlRunner(
        spark, os.path.join(run.work, "store"),
        round_size=ROUND_SIZE, round_seconds=ROUND_SECONDS, n_buckets=N_BUCKETS,
    )
    runner.init_frontier(seeds, synthetic.robots_df(spark))
    run.state.update(urls=urls, runner=runner, rounds={})
    run.store_root = runner.store.root


def op(run, i: int):
    runner = run.state["runner"]

    def round_op() -> int:
        m = runner.run_round()
        run.state["rounds"][i] = m
        return int(m.get("claimed", 0))

    return "round", round_op


def _duckdb_oracle(urls: list[str], robots: dict) -> tuple[int, int]:
    """(distinct canonical seeds, round-1 claim count) computed in DuckDB."""
    from azure_blob_crawler_spark.functions.urls import canonicalize_sql

    con = duckdb.connect()
    try:
        con.register("seeds", pd.DataFrame({"url": urls}))
        con.register(
            "robots",
            pd.DataFrame({"host": list(robots), "delay": [robots[h] for h in robots]}),
        )
        canon = canonicalize_sql("url", "duckdb", from_clause="seeds")
        n_distinct, n_claim = con.execute(f"""
            with c as (select distinct canon from ({canon})),
            h as (
                select split_part(split_part(split_part(canon, '://', 2), '/', 1), '?', 1)
                       as host, count(*) as n
                from c group by 1
            ),
            b as (
                select h.n, greatest(1, floor({ROUND_SECONDS} / coalesce(r.delay, 1.0)))
                       as budget
                from h left join robots r using (host)
            )
            select (select count(*) from c),
                   least({ROUND_SIZE}, (select sum(least(n, budget)) from b))
        """).fetchone()
    finally:
        con.close()
    return int(n_distinct), int(n_claim)


def check(run):
    from pyspark.sql import functions as F

    from azure_blob_crawler_spark import config
    from azure_blob_crawler_spark.plans.simulator import simulate
    from azure_blob_crawler_spark.sources import synthetic

    runner, urls, rounds = run.state["runner"], run.state["urls"], run.state["rounds"]
    robots = {r["host"]: r["crawl_delay_s"] for r in synthetic.robots_rows()}
    sim = simulate(
        urls, robots, round_size=ROUND_SIZE, round_seconds=ROUND_SECONDS,
        default_delay=config.DEFAULT_CRAWL_DELAY_S, max_rounds=len(rounds),
    )
    engine_log = runner.claim_log()
    per_op = {}
    for i, m in rounds.items():
        rnd = m["round"]
        got = [r for r in engine_log if r[0] == rnd]
        want = [r for r in sim.claim_log if r[0] == rnd]
        per_op[i] = got == want and m["claimed"] == len(want)
    seen_ok = runner.seen_set() == sim.seen

    n_distinct, n_claim = _duckdb_oracle(urls, robots)
    n_seed_rows = runner.store.read("frontier").filter(F.col("depth") == 0).count()
    first = rounds.get(0, {})
    oracle_ok = n_seed_rows == n_distinct and first.get("claimed") == n_claim
    run.state["checks"] = {
        "claim_log_rounds_ok": sum(per_op.values()), "seen_set_ok": seen_ok,
        "duckdb_seed_rows_ok": n_seed_rows == n_distinct,
        "duckdb_round1_claims_ok": first.get("claimed") == n_claim,
    }
    return all(per_op.values()) and seen_ok and oracle_ok, per_op


def detail(run) -> dict:
    return {
        "rounds": {str(i): {k: m.get(k) for k in ("round", "claimed", "new_links", "emitted_chunks")}
                   for i, m in run.state["rounds"].items()},
        **run.state.get("checks", {}),
    }
