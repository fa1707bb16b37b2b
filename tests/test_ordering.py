"""North-rule gates: engine crawl ordering == reference-semantics simulator
ordering; final URL-seen sets equal; per-host politeness budget respected;
resume-from-crash equals uninterrupted run."""

import pytest
from pyspark.sql import functions as F

from azure_blob_crawler_spark import config
from azure_blob_crawler_spark.functions.urls import canonical_url, canonical_url_py
from azure_blob_crawler_spark.plans.crawl_round import CrawlRunner
from azure_blob_crawler_spark.plans.simulator import simulate
from azure_blob_crawler_spark.sources import synthetic

N_SEEDS = 40
ROUND_SIZE = 10


@pytest.fixture(scope="module")
def sim_result():
    seeds = [e["url"] for e in synthetic.seed_frontier_py(N_SEEDS)]
    robots = {r["host"]: r["crawl_delay_s"] for r in synthetic.robots_rows()}
    return simulate(seeds, robots, round_size=ROUND_SIZE)


@pytest.fixture(scope="module")
def engine_runner(spark, tmp_path_factory, sim_result):
    root = tmp_path_factory.mktemp("crawl")
    runner = CrawlRunner(spark, str(root), round_size=ROUND_SIZE, n_buckets=8)
    seeds = spark.createDataFrame(
        [(e["url"], e["depth"], e["discovery_seq"]) for e in synthetic.seed_frontier_py(N_SEEDS)],
        "url string, depth int, discovery_seq long",
    )
    runner.init_frontier(seeds, synthetic.robots_df(spark))
    runner.run(max_rounds=100)
    return runner


def test_salt_width_invariance(spark):
    """The claim set is identical for any salt width, and the per-host width
    derived from pending counts bounds every phase-1 window task's input to
    ~salt_target_rows even under 90% single-host skew."""
    from azure_blob_crawler_spark.operators.scheduler import claim_round

    n = 2000
    rows = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot.com"))
        .otherwise(F.concat(F.lit("c"), (F.col("id") % 7).cast("string"), F.lit(".com")))
        .alias("host"),
        F.col("id").alias("discovery_seq"),
        (F.col("id") % 3).cast("int").alias("depth"),
        F.lit("pending").alias("state"),
        F.lit(0).alias("attempts"),
    )
    frontier = rows.withColumn(
        "url",
        F.concat(F.lit("https://"), "host", F.lit("/d"), F.col("discovery_seq").cast("string")),
    ).withColumn("url_hash", F.xxhash64("url"))
    robots = spark.createDataFrame([("hot.com", 0.5)], "host string, crawl_delay_s double")

    target = 50
    salted = claim_round(
        frontier, robots, round_size=500, round_seconds=10.0, salt_target_rows=target
    )
    plain = claim_round(
        frontier, robots, round_size=500, round_seconds=10.0, salt_target_rows=1 << 40
    )
    key = lambda df: [(r["claim_rank"], r["url"]) for r in df.orderBy("claim_rank").collect()]
    assert key(salted) == key(plain)

    # the derived width bounds every (host, salt) group below ~target rows
    counts = frontier.groupBy("host").count().collect()
    for r in counts:
        w = max(1, -(-r["count"] // target))  # ceil
        sizes = (
            frontier.filter(F.col("host") == r["host"])
            .groupBy(F.pmod("discovery_seq", F.lit(w)))
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert sizes <= 2 * target, (r["host"], w, sizes)


def test_cached_hot_hosts_match_auto(spark):
    """claim_round(hot_hosts=...) — the cached-width fast path CrawlRunner
    and the bench use — yields the identical claim set as the per-claim
    auto derivation, for an explicit width list, an empty cache (single
    exact window, no salting), and a STALE cache (widths derived before the
    frontier grew — safe by width invariance)."""
    from azure_blob_crawler_spark.operators.scheduler import claim_round, hot_host_widths

    def frontier_of(n):
        rows = spark.range(n).select(
            F.when(F.col("id") % 10 < 9, F.lit("hot.com"))
            .otherwise(F.concat(F.lit("c"), (F.col("id") % 7).cast("string"), F.lit(".com")))
            .alias("host"),
            F.col("id").alias("discovery_seq"),
            (F.col("id") % 3).cast("int").alias("depth"),
            F.lit("pending").alias("state"),
            F.lit(0).alias("attempts"),
        )
        return rows.withColumn(
            "url",
            F.concat(F.lit("https://"), "host", F.lit("/d"),
                     F.col("discovery_seq").cast("string")),
        ).withColumn("url_hash", F.xxhash64("url"))

    frontier = frontier_of(2000)
    robots = spark.createDataFrame([("hot.com", 0.5)], "host string, crawl_delay_s double")
    target = 50
    key = lambda df: [(r["claim_rank"], r["url"]) for r in df.orderBy("claim_rank").collect()]

    auto = key(claim_round(frontier, robots, round_size=500, round_seconds=10.0,
                           salt_target_rows=target))
    widths = hot_host_widths(frontier, target)
    assert ("hot.com", 36) in widths  # 1800 pending / 50 target → width 36
    cached = key(claim_round(frontier, robots, round_size=500, round_seconds=10.0,
                             salt_target_rows=target, hot_hosts=widths))
    empty = key(claim_round(frontier, robots, round_size=500, round_seconds=10.0,
                            salt_target_rows=target, hot_hosts=()))
    assert cached == auto
    assert empty == auto

    # stale cache: widths from the 2000-row frontier against a 3000-row one
    stale = key(claim_round(frontier_of(3000), robots, round_size=500,
                            round_seconds=10.0, salt_target_rows=target,
                            hot_hosts=widths))
    fresh = key(claim_round(frontier_of(3000), robots, round_size=500,
                            round_seconds=10.0, salt_target_rows=target))
    assert stale == fresh


def test_python_spark_canonical_parity(spark):
    urls = [e["url"] for e in synthetic.seed_frontier_py(200)]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    got = [r["c"] for r in df.select(canonical_url("url").alias("c")).collect()]
    assert got == [canonical_url_py(u) for u in urls]


def test_claim_ordering_equals_reference(engine_runner, sim_result):
    engine_log = engine_runner.claim_log()
    assert engine_log == sim_result.claim_log


def test_seen_set_equals_reference(engine_runner, sim_result):
    assert engine_runner.seen_set() == sim_result.seen


def test_terminal_states(engine_runner, sim_result):
    rows = engine_runner.store.read("frontier").select("url", "state", "attempts").collect()
    engine_states = {r["url"]: r["state"] for r in rows}
    assert set(engine_states.values()) <= {"done", "done_skipped", "dead"}
    for url, st in sim_result.states.items():
        assert engine_states[url] == st
    # failure injection exercised: some rows retried, dead-letters match sim
    attempts = {r["url"]: r["attempts"] for r in rows}
    assert any(a > 0 for a in attempts.values())
    sim_dead = {u for u, s in sim_result.states.items() if s == "dead"}
    eng_dead = {u for u, s in engine_states.items() if s == "dead"}
    assert eng_dead == sim_dead


def test_politeness_budget_respected(engine_runner):
    """No round claims more than its per-host budget."""
    robots = {r["host"]: r["crawl_delay_s"] for r in synthetic.robots_rows()}
    log = engine_runner.claim_log()
    from azure_blob_crawler_spark.functions.urls import url_host_py
    from azure_blob_crawler_spark.plans.simulator import budget_for

    per_round_host: dict[tuple[int, str], int] = {}
    for rnd, _rank, url in log:
        h = url_host_py(url)
        per_round_host[(rnd, h)] = per_round_host.get((rnd, h), 0) + 1
    for (rnd, h), n in per_round_host.items():
        assert n <= budget_for(h, robots, config.ROUND_SECONDS, config.DEFAULT_CRAWL_DELAY_S)


def test_metrics_lineage_in_snapshots(engine_runner):
    hist = engine_runner.store.history("frontier")
    commits = [h["summary"] for h in hist if h["summary"].get("phase") == "commit"]
    assert commits, "no round commits recorded"
    for s in commits:
        assert {"claimed", "fetched", "new_links", "emitted_chunks", "touched_buckets"} <= set(s)


def test_resume_equals_uninterrupted(spark, tmp_path, sim_result):
    """Kill after the in-flight lock of round 2, recover, rerun → identical
    claim log and seen set."""
    runner = CrawlRunner(spark, str(tmp_path / "crash"), round_size=ROUND_SIZE, n_buckets=8)
    seeds = spark.createDataFrame(
        [(e["url"], e["depth"], e["discovery_seq"]) for e in synthetic.seed_frontier_py(N_SEEDS)],
        "url string, depth int, discovery_seq long",
    )
    runner.init_frontier(seeds, synthetic.robots_df(spark))
    runner.run_round()  # round 1 committed

    # simulate a crash mid-round-2: claim locked in_flight, then abort
    frontier = runner.store.read("frontier")
    robots = runner.store.read("robots")
    from azure_blob_crawler_spark.operators.scheduler import claim_round

    claimed = claim_round(frontier, robots, ROUND_SIZE)
    runner.store.merge(
        "frontier",
        claimed.select(
            "url_hash", "url", "host", "depth", "discovery_seq",
            F.lit("in_flight").alias("state"), "attempts",
        ),
        summary={"round": 2, "phase": "claim"},
    )
    # fresh runner recovers and finishes
    runner2 = CrawlRunner(spark, str(tmp_path / "crash"), round_size=ROUND_SIZE, n_buckets=8)
    assert runner2.recover() == ROUND_SIZE
    runner2.run(max_rounds=100)
    assert runner2.claim_log() == sim_result.claim_log
    assert runner2.seen_set() == sim_result.seen


def test_unparseable_seed_is_dropped(spark, tmp_path):
    """A seed URL java.net.URI rejects (a space in its path) canonicalizes
    to NULL: ``init_frontier`` drops it instead of keying a NULL-url row,
    its discovery_seq stays used, and the crawl matches the simulator."""
    urls = [e["url"] for e in synthetic.seed_frontier_py(12)]
    urls.insert(3, "https://h1.example.com/p q.txt")
    seeds = spark.createDataFrame(
        [(u, 0, i) for i, u in enumerate(urls)], "url string, depth int, discovery_seq long"
    )
    runner = CrawlRunner(spark, str(tmp_path / "bad-seed"), round_size=ROUND_SIZE, n_buckets=8)
    runner.init_frontier(seeds, synthetic.robots_df(spark))
    runner.run(max_rounds=3)
    robots = {r["host"]: r["crawl_delay_s"] for r in synthetic.robots_rows()}
    sim = simulate(urls, robots, round_size=ROUND_SIZE, max_rounds=3)
    assert runner.claim_log() == sim.claim_log
    assert runner.seen_set() == sim.seen
