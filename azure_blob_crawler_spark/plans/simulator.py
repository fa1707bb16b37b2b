"""Reference-semantics simulator — the pure-Python oracle for the north
rule's ordering + seen-set equality gates.

Implements the CITED reference behaviors as a single-worker loop
(SURVEY.md §5.2): batch rounds of ≤ round_size (servicebus_client.py:85,
settings.py:80), FIFO by enqueue/discovery order within a per-host politeness
budget (engine extension, same formula as operators/scheduler.py), dedup on
canonical URL (first enqueue wins), admission size filter
(file_extractor.py:69-76), at-most-once completion.

The engine's claim is a pure function of frontier state; this simulator is
the same function computed sequentially. tests/test_ordering.py asserts
equality of (round, seq, url) claim logs and of final seen sets.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from azure_blob_crawler_spark import config
from azure_blob_crawler_spark.functions.urls import canonical_url_py, url_host_py
from azure_blob_crawler_spark.operators.admission import MAX_BYTES
from azure_blob_crawler_spark.sources.synthetic import (
    content_for_url,
    fetch_ok,
    links_for_url,
)


@dataclass
class SimEntry:
    url: str
    host: str
    depth: int
    seq: int
    state: str = "pending"
    attempts: int = 0


@dataclass
class SimResult:
    claim_log: list[tuple[int, int, str]] = field(default_factory=list)  # (round, rank, url)
    seen: set[str] = field(default_factory=set)
    states: dict[str, str] = field(default_factory=dict)
    rounds: int = 0


def budget_for(host: str, robots: dict[str, float | None], round_seconds: float, default_delay: float) -> int:
    delay = robots.get(host)
    if delay is None:
        delay = default_delay
    return max(1, int(round_seconds / delay))


def simulate(
    seed_urls: list[str],
    robots: dict[str, float | None],
    round_size: int = config.ROUND_SIZE,
    round_seconds: float = config.ROUND_SECONDS,
    default_delay: float = config.DEFAULT_CRAWL_DELAY_S,
    max_rounds: int = 1_000_000,
) -> SimResult:
    res = SimResult()
    frontier: list[SimEntry] = []
    next_seq = 0
    for raw in seed_urls:
        canon = canonical_url_py(raw)
        if canon is None or canon in res.seen:
            next_seq += 1  # seq space mirrors the engine: one per seed row
            continue
        res.seen.add(canon)
        frontier.append(SimEntry(canon, url_host_py(canon), 0, next_seq))
        next_seq += 1

    rnd = 0
    while rnd < max_rounds:
        pending = [e for e in frontier if e.state == "pending"]
        if not pending:
            break
        rnd += 1
        pending.sort(key=lambda e: (e.depth, e.seq, e.url))
        per_host: dict[str, int] = {}
        claimed: list[SimEntry] = []
        for e in pending:
            b = budget_for(e.host, robots, round_seconds, default_delay)
            if per_host.get(e.host, 0) >= b:
                continue
            per_host[e.host] = per_host.get(e.host, 0) + 1
            claimed.append(e)
            if len(claimed) >= round_size:
                break
        for rank, e in enumerate(claimed, start=1):
            res.claim_log.append((rnd, rank, e.url))
            if not fetch_ok(e.url, e.attempts):
                # abandon path: redelivered with delivery-count++, dead-letter
                # at MAX_ATTEMPTS (servicebus_processor.py:243-250)
                e.attempts += 1
                e.state = "dead" if e.attempts >= config.MAX_ATTEMPTS else "pending"
                res.states[e.url] = e.state
                continue
            content, size = content_for_url(e.url, e.depth)
            if size > MAX_BYTES:
                e.state = "done_skipped"
                res.states[e.url] = e.state
                continue
            e.state = "done"
            res.states[e.url] = e.state
            for raw_link in links_for_url(e.url, e.depth):
                canon = canonical_url_py(raw_link)
                if canon is None or canon in res.seen:
                    continue
                res.seen.add(canon)
                frontier.append(
                    SimEntry(canon, url_host_py(canon), e.depth + 1, next_seq)
                )
                next_seq += 1
    res.rounds = rnd
    return res
