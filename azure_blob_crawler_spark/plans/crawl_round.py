"""CrawlRunner — iterated BSP crawl rounds over SnapshotStore tables.

One round = the engine equivalent of the reference's full message lifecycle
(SURVEY.md §3.1: receive → extract → chunk → embed → upload → complete):

  claim (scheduler) → mark in_flight → document pass → MERGE chunks +
  doc_meta → link extraction → canonicalize → seen-set pass → exact
  anti-join → MERGE cuckoo shards → MERGE frontier (done states +
  discovered links) → commit

A round crosses into Python twice, once per phase, because every wave of
Python tasks has a fixed cost that dwarfs the work inside it:
- the **document pass** (``document_pass``): one ``mapInPandas`` over the
  claimed rows runs fetch (deterministic simulator) → admission → span
  extraction → pages/full_content → chunking → embedding, and returns one
  row per claimed URL with its chunks and vectors nested; the chunk rows,
  their token counts and ids are Catalyst expressions over that row;
- the **seen-set pass** (``seen.cuckoo_probe``): one cogroup per cuckoo
  shard tags each discovered link maybe-seen against the shard as read,
  inserts the rest, and returns the new shard blobs in the same frame.
Each pass is persisted once and read by every later step of its phase.

State machine per frontier row (reference complete/abandon/dead-letter
semantics, servicebus_client.py:191-264 + exceptions.py taxonomy):
pending → in_flight → done | done_skipped | pending(attempts+1) | dead.

Every merge is idempotent on its key, and the claim is a pure function of
committed frontier state — so a crash anywhere mid-round replays to the
identical result (tests/test_ordering.py::test_resume_equals_uninterrupted).
The final frontier merge of a round carries the round's metrics +
touched-bucket lineage in its snapshot summary (north rule's per-partition
lineage + fetch/dedup/emit metrics).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from azure_blob_crawler_spark import config
from azure_blob_crawler_spark.functions.embedding import embed_texts
from azure_blob_crawler_spark.functions.text import token_count
from azure_blob_crawler_spark.functions.urls import canonical_url, url_hash, url_host
from azure_blob_crawler_spark.operators.admission import MAX_BYTES, nonempty_content
from azure_blob_crawler_spark.operators.chunker import chunk_document
from azure_blob_crawler_spark.operators.extraction import extract_spans_py, reassemble_py
from azure_blob_crawler_spark.operators.linkextract import extract_links
from azure_blob_crawler_spark.operators.scheduler import claim_round, hot_host_widths
from azure_blob_crawler_spark.operators.sequence import assign_global_seq
from azure_blob_crawler_spark.operators.seen import (
    cuckoo_insert,
    cuckoo_probe,
    filter_unseen,
    rebuild_overgrown_shards,
    shards_of,
)
from azure_blob_crawler_spark.operators.search_index import TextSearchIndex
from azure_blob_crawler_spark.sources.store import SnapshotStore
from azure_blob_crawler_spark.sources.synthetic import content_for_url, fetch_ok

FRONTIER = "frontier"
CHUNKS = "chunks"
DOC_META = "doc_meta"
CLAIM_LOG = "claim_log"
SEEN_CUCKOO = "seen_cuckoo"
SEARCH_PREFIX = "search"

# the columns the document pass adds to its input rows
DOC_PASS_COLUMNS = (
    "size bigint, ok boolean, full_content string,"
    " chunks array<struct<content: string, vector: array<float>>>"
)
# the embedding-input cap of functions/embedding.truncate_for_embedding
# (document_processor.py:190-196): an over-budget chunk embeds its prefix
EMBED_INPUT_CHARS = config.EMBEDDING_MAX_TOKENS * config.FALLBACK_CHARS_PER_TOKEN


def documents_batch(pdf: pd.DataFrame, embed_dim: int) -> pd.DataFrame:
    """The document pass over one batch of fetched rows (url, content, size,
    ok, ...): admission → extract spans → pages/full_content → chunk →
    embed. Returns the rows without ``content``, plus ``full_content``
    (NULL unless the fetch succeeded and the size passed the admission
    gate) and ``chunks`` (content, vector), empty unless full_content is
    non-blank by Spark's ``trim`` (U+0020 only, as ``nonempty_content``).
    The batch's chunks embed in one call."""
    fulls, counts, texts = [], [], []
    for url, content, size, ok in zip(pdf["url"], pdf["content"], pdf["size"], pdf["ok"]):
        full, pieces = None, []
        if ok and size <= MAX_BYTES:
            pages, full, paged = reassemble_py(extract_spans_py(url, content, int(size)))
            if full.strip(" "):
                pieces = chunk_document(pages, full, paged)
        fulls.append(full)
        counts.append(len(pieces))
        texts.extend(pieces)
    capped = pd.Series([t[:EMBED_INPUT_CHARS] for t in texts], dtype=object)
    vectors = list(embed_texts(capped, embed_dim))
    chunks, at = [], 0
    for n in counts:
        chunks.append([{"content": texts[j], "vector": vectors[j]} for j in range(at, at + n)])
        at += n
    return pdf.drop(columns="content").assign(full_content=fulls, chunks=chunks)


def document_pass(work: DataFrame, embed_dim: int) -> DataFrame:
    """The round's one Python pass over its claimed rows (url, depth,
    attempts, ...): the deterministic fetch (``content_for_url`` and
    ``fetch_ok``; swap them for a real fetcher to crawl real bytes), then
    ``documents_batch``. Returns ``work``'s rows, one per URL, plus
    ``size``, ``ok``, ``full_content`` and ``chunks``. Fetch failures follow
    the reference's abandon path (servicebus_processor.py:243-250): the
    caller redelivers them."""

    def documents(batches):
        for pdf in batches:
            fetched = [content_for_url(u, int(d)) for u, d in zip(pdf["url"], pdf["depth"])]
            yield documents_batch(
                pdf.assign(
                    content=[c for c, _ in fetched],
                    size=[n for _, n in fetched],
                    ok=[fetch_ok(u, int(a)) for u, a in zip(pdf["url"], pdf["attempts"])],
                ),
                embed_dim,
            )

    columns = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in work.schema.fields)
    return work.mapInPandas(documents, f"{columns}, {DOC_PASS_COLUMNS}")


class CrawlRunner:
    def __init__(
        self,
        spark: SparkSession,
        store_root: str,
        round_size: int = config.ROUND_SIZE,
        round_seconds: float = config.ROUND_SECONDS,
        default_delay: float = config.DEFAULT_CRAWL_DELAY_S,
        embed_dim: int = config.TEST_EMBEDDING_DIM,
        n_buckets: int = config.SEEN_BUCKETS,
        expire_every: int = 0,
        maintain_text_index: bool = True,
    ):
        """``expire_every`` > 0 runs snapshot GC (expire_snapshots,
        keep_last=3) on every table each N rounds — the reference's
        delete-after-processing cleanup (document_processor.py:344-358) as
        periodic table maintenance; keep_last ≥ 2 so crash-replay still sees
        the last committed round.
        ``maintain_text_index`` mirrors the reference's per-document search
        upsert (search_client.py:70-121): the round's chunks MERGE also
        MERGEs BM25 postings + doc stats so text/hybrid queries serve from
        the stored index instead of re-tokenizing the corpus."""
        self.spark = spark
        self.store = SnapshotStore(spark, store_root)
        self.round_size = round_size
        self.round_seconds = round_seconds
        self.default_delay = default_delay
        self.embed_dim = embed_dim
        self.n_buckets = n_buckets
        self.expire_every = expire_every
        self.maintain_text_index = maintain_text_index
        self.search_index = TextSearchIndex(
            self.store, SEARCH_PREFIX,
            n_term_buckets=n_buckets, n_doc_buckets=n_buckets,
        )
        # cached per-host salt widths for the claim (round-4 verdict: the
        # O(pending) width derivation must not run per round). None →
        # derive on next claim; afterwards reused until pending-set drift
        # (new links + recovered redeliveries) exceeds half the per-task
        # target, so a host can overshoot its width's assumption by at most
        # ~0.5×CLAIM_SALT_TARGET_ROWS before a recount. Staleness never
        # changes the claim set (width invariance, test_salt_width_invariance).
        self._hot_widths: list[tuple[str, int]] | None = None
        self._widths_drift = 0

    # --- bootstrap -----------------------------------------------------------

    def init_frontier(self, seeds: DataFrame, robots: DataFrame) -> None:
        """Seed ingest: canonicalize, first-seq-wins dedup, state=pending.
        A seed that does not parse as a URL canonicalizes to NULL and is
        dropped; its discovery_seq stays used, as a duplicate's does.

        ``seeds``: (url, depth, discovery_seq)."""
        canon = (
            seeds.withColumn("url", canonical_url("url"))
            .filter(F.col("url").isNotNull())
            .withColumn("host", url_host("url"))
            .withColumn("url_hash", url_hash("url"))
        )
        w = Window.partitionBy("url_hash").orderBy("discovery_seq")
        deduped = (
            canon.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .withColumn("state", F.lit("pending"))
            .withColumn("attempts", F.lit(0))
        )
        n_seed_rows = seeds.count()
        deduped = deduped.persist()
        self.store.create(
            FRONTIER,
            deduped.select(
                "url_hash", "url", "host", "depth", "discovery_seq", "state", "attempts"
            ),
            key="url_hash",
            n_buckets=self.n_buckets,
            summary={"round": 0, "next_seq": n_seed_rows},
        )
        # cuckoo seen-set shards (north star: partitioned cuckoo filter, one
        # binary blob per bucket; invariant cuckoo ⊇ frontier keys)
        shards = cuckoo_insert(
            deduped.select("url_hash"), None, n_store_buckets=self.n_buckets
        ).select("bucket", "blob")
        self.store.create(SEEN_CUCKOO, shards, key="bucket", n_buckets=8)
        deduped.unpersist()
        self.store.create(
            "robots", robots, key="host", n_buckets=1, summary={"rows": robots.count()}
        )

    # --- recovery ------------------------------------------------------------

    def recover(self) -> int:
        """Reset stale in_flight rows (crash artifacts) to pending.

        Returns the number of rows reset. Reference analogue: peek-lock
        expiry redelivers the message with delivery-count++
        (servicebus_client.py:229-264)."""
        frontier = self.store.read(FRONTIER)
        stale = frontier.filter(F.col("state") == "in_flight")
        n = stale.count()
        if n:
            reset = stale.withColumn("state", F.lit("pending")).withColumn(
                "attempts", F.col("attempts") + 1
            )
            dead = reset.filter(F.col("attempts") >= config.MAX_ATTEMPTS).withColumn(
                "state", F.lit("dead")
            )
            alive = reset.filter(F.col("attempts") < config.MAX_ATTEMPTS)
            self.store.merge(FRONTIER, alive.unionByName(dead), summary={"recovered": n})
            self._widths_drift += n  # redeliveries grow the pending set
        return n

    # --- one BSP round ---------------------------------------------------------

    def _last_commit_summary(self) -> dict:
        """Round state comes only from *committed* rounds (summaries carrying
        ``next_seq``) — mid-round phase summaries (claim locks, recovery)
        must not advance the round counter, or crash-replay would renumber."""
        for v in range(self.store.current_version(FRONTIER), 0, -1):
            try:
                s = self.store.summary(FRONTIER, v)
            except FileNotFoundError:
                break  # older snapshots expired; nothing committed beyond this
            if "next_seq" in s:
                return s
        return {"round": 0, "next_seq": 0}

    def run_round(self) -> dict:
        # persist the reconciled frontier snapshot for the round: it feeds
        # the claim, the seen-set anti-join and the commit, and with a
        # merge-on-read table its lineage (multi-gen union + newest-wins)
        # should execute once, not once per action
        frontier = self.store.read(FRONTIER).persist()
        robots = self.store.read("robots")
        prev = self._last_commit_summary()
        rnd = int(prev.get("round", 0)) + 1
        next_seq = int(prev.get("next_seq", 0))

        if (
            self._hot_widths is None
            or self._widths_drift * 2 > config.CLAIM_SALT_TARGET_ROWS
        ):
            self._hot_widths = hot_host_widths(frontier)
            self._widths_drift = 0
        claimed = claim_round(
            frontier, robots, self.round_size, self.round_seconds, self.default_delay,
            hot_hosts=self._hot_widths,
        ).persist()
        n_claimed = claimed.count()
        if n_claimed == 0:
            claimed.unpersist()
            frontier.unpersist()
            return {"round": rnd, "claimed": 0, "done": True}

        # 1. lock: pending → in_flight (reference peek-lock parity,
        # servicebus_client.py:154-171; a crash before the final commit
        # replays the round)
        self.store.merge(
            FRONTIER,
            claimed.select(
                "url_hash", "url", "host", "depth", "discovery_seq",
                F.lit("in_flight").alias("state"), "attempts",
            ),
            summary={"round": rnd, "phase": "claim", "claimed": n_claimed},
        )

        # 2. claim log (ordering oracle surface)
        log_rows = claimed.select(
            F.lit(rnd).alias("round"),
            F.col("claim_rank").alias("rank"),
            "url",
            (F.lit(int(rnd)).cast("long") * F.lit(100_000_000).cast("long")
             + F.col("claim_rank").cast("long")).alias("log_key"),
        )
        self._merge_or_create(CLAIM_LOG, log_rows, key="log_key")

        # 3. the document pass: fetch → admission (size gate BEFORE
        # extraction) → extract → chunk → embed, one row per claimed URL.
        # The claim's global orderBy+limit collapses to ONE partition —
        # spread the round across the cluster before the pass runs, or it
        # executes on one task.
        par = self.spark.sparkContext.defaultParallelism
        work = claimed.repartition(par, "url_hash") if n_claimed > par else claimed
        docs = (
            document_pass(work, self.embed_dim)
            .withColumn("doc_id", F.regexp_replace("url", "[^A-Za-z0-9_-]", "_"))
            .persist()
        )
        # one aggregate job runs the pass and counts every outcome
        counts = docs.agg(
            F.sum(F.when(F.col("ok") & (F.col("size") > MAX_BYTES), 1).otherwise(0)).alias("s"),
            F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("f"),
            F.sum(F.size("chunks")).alias("c"),
        ).collect()[0]
        n_skipped, n_failed = int(counts["s"] or 0), int(counts["f"] or 0)
        n_chunks = int(counts["c"] or 0)

        # 4. chunk rows: the pass's nested chunks, exploded in Catalyst
        chunks = docs.select(
            "doc_id", "url", F.posexplode("chunks").alias("chunk_index", "__c")
        ).select(
            F.concat_ws("_", "doc_id", F.lit("chunk"), "chunk_index").alias("chunk_id"),
            "doc_id", "url", "chunk_index",
            F.col("__c.content").alias("content"),
            token_count(F.col("__c.content")).alias("n_tokens"),
            F.col("__c.vector").alias("vector"),
        )
        if self.store.exists(CHUNKS):
            self.store.merge(CHUNKS, chunks)
        elif n_chunks:
            self.store.create(CHUNKS, chunks, key="chunk_id", n_buckets=self.n_buckets)
        # search-index upsert rides the same commit point as the chunks MERGE
        # (reference: every processed document is upserted into the Azure
        # Search index, search_client.py:70-121); a crash before the frontier
        # commit replays the round and re-MERGEs the same keys idempotently
        if self.maintain_text_index and n_chunks:
            self.search_index.update(chunks, approx_rows=n_chunks)

        # 5. doc metadata (document_processor.py:327-336 analogue)
        nonempty = docs.filter(nonempty_content(F.col("full_content")))
        meta = (
            nonempty.select("doc_id", "url", "depth")
            .join(
                chunks.groupBy("doc_id").agg(
                    F.sum("n_tokens").alias("total_tokens"),
                    F.count("*").alias("chunk_count"),
                ),
                "doc_id",
                "left",
            )
            .withColumn("processed_round", F.lit(rnd))
        )
        self._merge_or_create(DOC_META, meta, key="doc_id")

        # 6. discovery: links → canonical → batch-dedup → unseen → new frontier rows
        links = extract_links(
            docs.filter(F.col("full_content").isNotNull())
            .select("url", "depth", "claim_rank", "full_content")
        ).select(
            F.col("link_url").alias("url"),
            F.col("link_host").alias("host"),
            F.col("link_hash").alias("url_hash"),
            (F.col("depth") + 1).alias("depth"),
            "claim_rank",
            "link_idx",
        )
        w_first = Window.partitionBy("url_hash").orderBy("claim_rank", "link_idx")
        batch_unique = (
            links.withColumn("__rn", F.row_number().over(w_first))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        # the seen-set pass probes and inserts in one cogroup per shard;
        # persisted, it feeds the exact check and the shard commit below
        probed = cuckoo_probe(
            batch_unique, self.store.read(SEEN_CUCKOO), self.n_buckets
        ).persist()
        fresh = filter_unseen(probed, frontier).persist()
        n_new = fresh.count()
        # global numbering without an unbounded single-partition window:
        # small rounds rank in one task (bound proven by the count just
        # taken), big rounds use the two-phase range-partition + prefix-sum
        # path — same discovery_seq values either way
        new_rows = assign_global_seq(
            fresh,
            ["claim_rank", "link_idx", "url"],
            "discovery_seq",
            start=next_seq,
            bounded_rows=n_new,
            input_materialized=True,  # fresh is persisted above
        ).select(
            "url_hash", "url", "host", "depth", "discovery_seq",
            F.lit("pending").alias("state"), F.lit(0).alias("attempts"),
        )

        # 6b. maintain the cuckoo seen-set BEFORE the frontier commit so the
        # invariant cuckoo ⊇ frontier survives a crash between the two
        # commits (a cuckoo false positive only costs an exact check; a
        # frontier key missing from the cuckoo would be a correctness bug)
        if n_new:
            # bound chain growth: shards whose chain exceeds MAX_CHAIN are
            # rebuilt at larger geometry from the authoritative key source
            # (frontier ∪ this round's new rows — preserves cuckoo ⊇
            # frontier). Shard ids share the frontier table's bucket
            # transform, so the authoritative read prunes to exactly the
            # overgrown buckets instead of scanning the frontier
            # (round-3 verdict item 5).
            def _keys_for(over: list[int]):
                cur = self.store.read_buckets(FRONTIER, over)
                new = new_rows.select("url_hash")
                if cur is None:
                    return new
                return cur.select("url_hash").unionByName(new)

            updated = rebuild_overgrown_shards(
                shards_of(probed), _keys_for, n_store_buckets=self.n_buckets
            )
            self.store.merge(SEEN_CUCKOO, updated)

        # 7. final frontier commit: done states + failure redeliveries +
        # discovered rows + metrics
        new_attempts = F.when(~F.col("ok"), F.col("attempts") + 1).otherwise(F.col("attempts"))
        done_states = docs.withColumn(
            "state",
            F.when(
                ~F.col("ok"),
                F.when(F.col("attempts") + 1 >= config.MAX_ATTEMPTS, F.lit("dead")).otherwise(
                    F.lit("pending")
                ),
            )
            .when(F.col("size") > MAX_BYTES, F.lit("done_skipped"))
            .otherwise(F.lit("done")),
        ).select(
            "url_hash", "url", "host", "depth", "discovery_seq", "state",
            new_attempts.alias("attempts"),
        )
        summary = self.store.merge(
            FRONTIER,
            done_states.unionByName(new_rows),
            summary={
                "round": rnd,
                "phase": "commit",
                "claimed": n_claimed,
                "fetched": n_claimed - n_skipped - n_failed,
                "skipped": n_skipped,
                "failed": n_failed,
                "new_links": n_new,
                "emitted_chunks": n_chunks,
                "next_seq": next_seq + n_new,
            },
        )
        claimed.unpersist()
        docs.unpersist()
        probed.unpersist()
        fresh.unpersist()
        frontier.unpersist()
        # drift for the width cache: new pending rows this round (failed
        # redeliveries also return to pending — count them too)
        self._widths_drift += n_new + n_failed
        return {**summary, "done": False}

    def _merge_or_create(self, name: str, df: DataFrame, key: str) -> None:
        """MERGE into an existing table; create it only from a non-empty
        ``df`` (the count runs on the create path alone)."""
        if self.store.exists(name):
            self.store.merge(name, df)
            return
        df = df.persist()
        if df.count():
            self.store.create(name, df, key=key, n_buckets=self.n_buckets)
        df.unpersist()

    def run(self, max_rounds: int = 1000) -> list[dict]:
        self.recover()
        out = []
        for i in range(max_rounds):
            m = self.run_round()
            if m.get("done"):
                break
            out.append(m)
            if self.expire_every and (i + 1) % self.expire_every == 0:
                self.gc(keep_last=3)
        return out

    def gc(self, keep_last: int = 3) -> dict:
        """Snapshot GC across all engine tables (old manifests + orphaned
        data dirs removed; readers of kept versions unaffected). A dirty
        text index (possible only after out-of-band re-index/delete — the
        crawl's frontier dedup keeps in-band maintenance append-only) is
        vacuumed first, restoring one-job query serving as part of the
        same maintenance sweep."""
        stats = {}
        if (
            self.maintain_text_index
            and self.search_index.exists()
            and self.store.summary(self.search_index.docs).get("dirty", False)
        ):
            stats["index_vacuum"] = self.search_index.vacuum()
        for t in (
            FRONTIER, CHUNKS, DOC_META, CLAIM_LOG, SEEN_CUCKOO, "robots",
            self.search_index.postings, self.search_index.docs,
        ):
            if self.store.exists(t):
                stats[t] = self.store.expire_snapshots(t, keep_last=keep_last)
        return stats

    # --- oracle surfaces ---------------------------------------------------------

    def claim_log(self) -> list[tuple[int, int, str]]:
        rows = self.store.read(CLAIM_LOG).orderBy("round", "rank").collect()
        return [(r["round"], r["rank"], r["url"]) for r in rows]

    def seen_set(self) -> set[str]:
        return {r["url"] for r in self.store.read(FRONTIER).select("url").collect()}
