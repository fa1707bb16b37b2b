"""Persistent BM25 index: score parity with the scan tier, incremental
update/delete semantics, term-pruned scans, and no corpus tokenization at
query time (round-3 verdict item 1)."""

import math
import os
import re
import shutil
from collections import Counter

import pytest
from pyspark.sql import functions as F

from azure_blob_crawler_spark.functions.text import TOKEN_PATTERN
from azure_blob_crawler_spark.operators.query import BM25_B, BM25_K1, bm25_scores
from azure_blob_crawler_spark.operators.search_index import TextSearchIndex
from azure_blob_crawler_spark.sources.store import SnapshotStore

DOCS = [
    ("d%02d" % i, txt)
    for i, txt in enumerate(
        [
            "spark merge shuffle join",
            "merge shuffle",
            "spark spark spark streaming",
            "window rank partition",
            "shuffle partition merge spark",
            "tokenize corpus postings index",
            "the quick brown fox",
            "merge into frontier table",
            "empty",
            "spark sql catalyst tungsten",
        ]
        * 4
    )
]


def _corpus(spark, rows=None):
    return spark.createDataFrame(rows or DOCS, "chunk_id string, content string")


def _scores(df):
    return {
        r["chunk_id"]: round(r["score"], 9)
        for r in df.select("chunk_id", "score").collect()
    }


@pytest.fixture()
def store(spark, tmp_path):
    return SnapshotStore(spark, str(tmp_path / "store"))


def test_index_matches_scan_scores(spark, store):
    corpus = _corpus(spark)
    idx = TextSearchIndex(store, n_term_buckets=8, n_doc_buckets=8)
    idx.update(corpus)
    for q in ("spark merge shuffle", "postings", "quick fox spark", "absent-term"):
        want = _scores(bm25_scores(corpus, q))
        got = _scores(idx.bm25(q))
        assert got.keys() == want.keys(), q
        for k in want:
            assert abs(got[k] - want[k]) < 1e-9, (q, k)


def test_incremental_update_and_vanished_terms(spark, store):
    """A re-indexed chunk's vanished terms stop matching; the index equals a
    fresh scan over the CURRENT corpus state after every commit."""
    idx = TextSearchIndex(store, n_term_buckets=8, n_doc_buckets=8)
    idx.update(_corpus(spark))
    # re-crawl d00: 'join' vanishes, 'zebra' appears; d01 unchanged text but
    # re-indexed; a brand-new doc d99 arrives
    delta = [
        ("d00", "spark zebra"),
        ("d01", "merge shuffle"),
        ("d99", "zebra crossing spark"),
    ]
    idx.update(_corpus(spark, delta))
    current = {cid: txt for cid, txt in DOCS}
    current.update({c: t for c, t in delta})
    corpus_now = _corpus(spark, list(current.items()))
    for q in ("join spark", "zebra", "merge shuffle spark"):
        want = _scores(bm25_scores(corpus_now, q))
        got = _scores(idx.bm25(q))
        assert got.keys() == want.keys(), q
        for k in want:
            assert abs(got[k] - want[k]) < 1e-9, (q, k)
    # 'join' no longer matches d00 specifically
    assert "d00" not in _scores(idx.bm25("join"))
    n_docs, sum_len = idx.stats()
    assert n_docs == corpus_now.count()


def test_delete_removes_docs_and_stats(spark, store):
    idx = TextSearchIndex(store, n_term_buckets=8, n_doc_buckets=8)
    idx.update(_corpus(spark))
    victims = spark.createDataFrame([("d00",), ("d06",)], "chunk_id string")
    idx.delete(victims)
    remaining = [(c, t) for c, t in DOCS if c not in ("d00", "d06")]
    corpus_now = _corpus(spark, remaining)
    for q in ("spark merge", "quick fox"):
        want = _scores(bm25_scores(corpus_now, q))
        got = _scores(idx.bm25(q))
        assert got.keys() == want.keys(), q
        for k in want:
            assert abs(got[k] - want[k]) < 1e-9, (q, k)
    assert idx.stats()[0] == len(remaining)


def test_rebuild_clears_dirty_and_matches_scan(spark, store):
    """A full rebuild resets the index to clean (single-job queries) and
    still scores identically to a fresh scan."""
    idx = TextSearchIndex(store, n_term_buckets=8, n_doc_buckets=8)
    idx.update(_corpus(spark))
    idx.update(_corpus(spark, [("d00", "spark zebra")]))  # replacing → dirty
    assert store.summary(idx.docs)["dirty"] is True
    current = {cid: txt for cid, txt in DOCS}
    current["d00"] = "spark zebra"
    corpus_now = _corpus(spark, list(current.items()))
    idx.rebuild(corpus_now)
    assert store.summary(idx.docs)["dirty"] is False
    for q in ("join spark", "zebra merge"):
        want = _scores(bm25_scores(corpus_now, q))
        got = _scores(idx.bm25(q))
        assert got.keys() == want.keys(), q
        for k in want:
            assert abs(got[k] - want[k]) < 1e-9, (q, k)


def _py_bm25(rows, query):
    """Reference BM25 in plain Python over (id, text) rows: every row is a
    document (n_docs, avg_len); a document's postings sum tf per (id, term,
    doc_len); a term's df counts its DISTINCT ids, so a duplicated id
    counts once however its rows differ."""
    q = set(re.findall(TOKEN_PATTERN, query.lower()))
    toks = [(cid, re.findall(TOKEN_PATTERN, txt.lower())) for cid, txt in rows]
    n_docs = len(toks)
    avg_len = sum(len(ts) for _, ts in toks) / n_docs or 1.0
    postings = Counter(
        (cid, t, len(ts)) for cid, ts in toks for t in ts if t in q
    )
    ids_of = {}
    for cid, t, _ in postings:
        ids_of.setdefault(t, set()).add(cid)
    scores = {}
    for (cid, t, dl), tf in postings.items():
        df = len(ids_of[t])
        idf = math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        tf_norm = tf * (BM25_K1 + 1) / (tf + BM25_K1 * (1 - BM25_B + BM25_B * dl / avg_len))
        scores[cid] = scores.get(cid, 0.0) + idf * tf_norm
    return scores


def _assert_scores(got_df, want):
    got = {r["chunk_id"]: r["score"] for r in got_df.select("chunk_id", "score").collect()}
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, k


def test_df_counts_distinct_ids(spark, store):
    """A term's document frequency counts distinct ids: on a scan-tier
    corpus with a duplicated id (same text, then different text of another
    length), and on an index made dirty by a replacing update and a delete,
    whose stale postings must not count."""
    base = DOCS[:10]
    q = "spark merge shuffle zebra"
    for dup in (base[0], ("d00", "spark zebra")):
        rows = base + [dup]
        _assert_scores(bm25_scores(_corpus(spark, rows), q), _py_bm25(rows, q))

    idx = TextSearchIndex(store, n_term_buckets=8, n_doc_buckets=8)
    idx.update(_corpus(spark, base))
    idx.update(_corpus(spark, [("d00", "spark zebra"), ("d04", "merge merge")]))
    idx.delete(spark.createDataFrame([("d09",)], "chunk_id string"))
    assert store.summary(idx.docs)["dirty"] is True
    state = dict(base)
    state.update({"d00": "spark zebra", "d04": "merge merge"})
    state.pop("d09")
    _assert_scores(idx.bm25(q), _py_bm25(list(state.items()), q))


def test_query_reads_no_corpus_and_prunes_term_buckets(spark, store, tmp_path):
    """The serving path must touch ONLY index tables — proven by deleting
    the corpus files after the index build — and the postings scan must
    touch only the query terms' buckets."""
    corpus_dir = str(tmp_path / "corpus")
    _corpus(spark).write.parquet(corpus_dir)
    corpus = spark.read.parquet(corpus_dir)
    idx = TextSearchIndex(store, n_term_buckets=8, n_doc_buckets=8)
    idx.update(corpus)
    want = _scores(bm25_scores(spark.read.parquet(corpus_dir), "postings corpus"))

    shutil.rmtree(corpus_dir)  # physically impossible to re-tokenize now
    got = _scores(idx.bm25("postings corpus"))
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9

    # term-bucket pruning: the postings read for these two terms lists only
    # files under their own buckets' partition dirs
    term_df = spark.createDataFrame([("postings",), ("corpus",)], "term string")
    t_buckets = {
        r["b"]
        for r in term_df.select(store.bucket_expr(idx.postings).alias("b")).collect()
    }
    pruned = store.read_buckets(idx.postings, sorted(t_buckets))
    files = pruned.inputFiles()
    assert files, "pruned read is non-empty"
    for f in files:
        assert any(f"__bucket={b}/" in f or f.endswith(f"__bucket={b}") for b in t_buckets), f
    # and it is a strict subset of the full table's files
    assert len(files) < len(store.read(idx.postings).inputFiles())


def test_many_small_updates_compact_and_stay_exact(spark, store):
    """A long run of small merge-on-read update commits (past the
    same-commit compaction threshold) keeps scores exact and the manifest's
    file lists bounded."""
    idx = TextSearchIndex(store, n_term_buckets=4, n_doc_buckets=4)
    rows = []
    for batch in range(8):
        delta = [
            (f"b{batch}_d{i}", f"spark merge batch{batch} doc{i} shuffle")
            for i in range(6)
        ]
        rows += delta
        idx.update(_corpus(spark, delta))
    m = store._manifest(idx.postings)
    assert max(len(ps) for ps in m["buckets"].values()) <= 5  # compaction bounded
    corpus_now = _corpus(spark, rows)
    for q in ("spark shuffle", "batch3 doc2"):
        want = _scores(bm25_scores(corpus_now, q))
        got = _scores(idx.bm25(q))
        assert got.keys() == want.keys(), q
        for k in want:
            assert abs(got[k] - want[k]) < 1e-9, (q, k)
    assert store.summary(idx.docs)["dirty"] is False  # disjoint ids stay clean


def test_vacuum_restores_one_job_serving(spark, store, tmp_path):
    """A long update/delete history dirties the index; vacuum() purges the
    stale postings bucket-locally — WITHOUT the chunk corpus (files deleted
    first) — clears dirty, leaves clean buckets' files untouched, and
    subsequent queries serve from postings files alone (no gen-validity
    join, no docs read) with scan-tier-exact scores."""
    corpus_dir = str(tmp_path / "corpus")
    _corpus(spark).write.parquet(corpus_dir)
    idx = TextSearchIndex(store, n_term_buckets=8, n_doc_buckets=8)
    idx.update(spark.read.parquet(corpus_dir))

    # long history: two replacing re-crawl batches + a delete batch
    state = {cid: txt for cid, txt in DOCS}
    for delta in (
        [("d00", "spark zebra"), ("d03", "rank rank rank")],
        [("d00", "quokka merge"), ("d07", "frontier crawl")],
    ):
        idx.update(_corpus(spark, delta))
        state.update(dict(delta))
    idx.delete(spark.createDataFrame([("d06",), ("d09",)], "chunk_id string"))
    for cid in ("d06", "d09"):
        state.pop(cid)
    summ = store.summary(idx.docs)
    assert summ["dirty"] is True and summ["dirty_pb"], summ
    assert set(summ["dirty_pb"]) < set(range(8)), "mask tracked a strict subset"
    pre_manifest = store._manifest(idx.postings)["buckets"]
    want = {
        q: _scores(bm25_scores(_corpus(spark, list(state.items())), q))
        for q in ("join spark", "zebra quokka", "merge shuffle", "quick fox")
    }

    shutil.rmtree(corpus_dir)  # vacuum must not need the corpus
    out = idx.vacuum()
    assert out["dirty"] is False and out["dirty_pb"] == []
    assert store.summary(idx.docs)["dirty"] is False

    # clean buckets' file lists untouched; only dirty_pb buckets rewritten
    post_manifest = store._manifest(idx.postings)["buckets"]
    for b, ps in pre_manifest.items():
        if int(b) not in summ["dirty_pb"]:
            assert post_manifest.get(b) == ps, b
    # no physically stale posting remains: every (chunk_id, gen) is live
    live = store.read(idx.docs).select("chunk_id", "gen")
    stale = store.read(idx.postings).join(live, ["chunk_id", "gen"], "left_anti")
    assert stale.count() == 0

    for q, w in want.items():
        result = idx.bm25(q)
        # one-job clean serving: the plan reads postings files only
        for f in result.inputFiles():
            assert idx.postings in f and idx.docs not in f, f
        got = _scores(result)
        assert got.keys() == w.keys(), q
        for k in w:
            assert abs(got[k] - w[k]) < 1e-9, (q, k)

    # a vacuumed index keeps evolving correctly: another replacing update
    # re-dirties, and scores stay exact through it
    idx.update(_corpus(spark, [("d01", "vacuumed again")]))
    state["d01"] = "vacuumed again"
    assert store.summary(idx.docs)["dirty"] is True
    w = _scores(bm25_scores(_corpus(spark, list(state.items())), "vacuumed merge"))
    got = _scores(idx.bm25("vacuumed merge"))
    assert got.keys() == w.keys()
    for k in w:
        assert abs(got[k] - w[k]) < 1e-9, k


def test_serving_job_budgets(spark, store, count_jobs):
    """Exact Spark job counts of top-k serving on a clean index and of the
    scan tier. Each shuffle stage is its own job under adaptive execution:
    a clean bm25 query is the postings scan, the per-term df window and the
    per-chunk sum (the store read infers no schema); text_search collects
    its top-k and projects it from the corpus (one shuffle to one sorted
    partition); hybrid_search collects the vector leg and the text pool's
    membership in one corpus scan and fuses on the driver; the scan tier
    adds its one stats job. A cache, checkpoint or broadcast step slipped
    back into the query path shows here."""
    from azure_blob_crawler_spark import config
    from azure_blob_crawler_spark.functions.embedding import make_embed_udf
    from azure_blob_crawler_spark.operators import query as Q

    chunks = _corpus(spark).withColumn(
        "vector", make_embed_udf(config.TEST_EMBEDDING_DIM)("content")
    ).persist()
    chunks.count()
    idx = TextSearchIndex(store, n_term_buckets=8, n_doc_buckets=8)
    idx.update(chunks)
    q = "spark merge shuffle"
    assert count_jobs(lambda: idx.bm25(q).collect()) == 3
    assert count_jobs(lambda: Q.text_search(chunks, q, index=idx).collect()) == 5
    assert count_jobs(lambda: Q.hybrid_search(chunks, q, index=idx).collect()) == 6
    assert count_jobs(lambda: bm25_scores(chunks, q).collect()) == 6
    assert count_jobs(lambda: Q.hybrid_search(chunks, q).collect()) == 9
    chunks.unpersist()


def test_crawl_round_job_budgets(spark, tmp_path, count_jobs):
    """Exact Spark job counts of crawl round 1 (creates the claim-log,
    chunks, text-index and doc-meta tables) and round 2 (MERGEs into every
    table) on a 25-seed, 10-per-round crawl. A MERGE into an existing table
    runs no count before it. A count, cache or re-evaluated plan slipped
    back into the round shows here."""
    from azure_blob_crawler_spark.plans.crawl_round import CrawlRunner
    from azure_blob_crawler_spark.sources import synthetic

    runner = CrawlRunner(spark, str(tmp_path / "crawl"), round_size=10, n_buckets=8)
    seeds = spark.createDataFrame(
        [(e["url"], e["depth"], e["discovery_seq"]) for e in synthetic.seed_frontier_py(25)],
        "url string, depth int, discovery_seq long",
    )
    runner.init_frontier(seeds, synthetic.robots_df(spark))
    assert count_jobs(runner.run_round) == 70
    assert count_jobs(runner.run_round) == 91


def test_crawl_round_maintains_index(spark, tmp_path):
    """After real crawl rounds, the incrementally-maintained index serves the
    same BM25 scores as a fresh scan of the chunks table."""
    from azure_blob_crawler_spark.plans.crawl_round import CHUNKS, CrawlRunner
    from azure_blob_crawler_spark.sources import synthetic

    runner = CrawlRunner(spark, str(tmp_path / "crawl"), round_size=10, n_buckets=8)
    seeds = spark.createDataFrame(
        [
            (e["url"], e["depth"], e["discovery_seq"])
            for e in synthetic.seed_frontier_py(12)
        ],
        "url string, depth int, discovery_seq long",
    )
    runner.init_frontier(seeds, synthetic.robots_df(spark))
    runner.run(max_rounds=4)
    chunks = runner.store.read(CHUNKS).select("chunk_id", "content")
    q = "document section page"
    want = _scores(bm25_scores(chunks, q))
    got = _scores(runner.search_index.bm25(q))
    assert want, "query matched nothing — pick terms present in synthetic docs"
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


def test_python_xxhash64_matches_spark(spark):
    """The driver-side term→bucket mapping (functions/hashing.py) must be
    bit-identical to Spark's xxhash64 expression — every length branch of
    the algorithm: empty, <4, <8, <32, exact/over 32-byte block sizes,
    multi-byte UTF-8."""
    from pyspark.sql import functions as F

    from azure_blob_crawler_spark.functions.hashing import xxhash64_str

    cases = [
        "", "a", "ab", "abc", "abcd", "abcde", "spark", "merge", "shuffle",
        "x" * 7, "x" * 8, "x" * 9, "y" * 31, "y" * 32, "y" * 33, "z" * 100,
        "héllo wörld", "naïve—dash", "日本語テキスト",
    ]
    row = spark.range(1).select(
        *[F.xxhash64(F.lit(c)).alias(f"c{i}") for i, c in enumerate(cases)]
    ).collect()[0]
    for i, c in enumerate(cases):
        assert xxhash64_str(c) == row[i], repr(c)
