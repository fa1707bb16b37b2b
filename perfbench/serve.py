"""``serve`` workload: a closed loop of one client issuing top-10 queries.

Set-up builds a corpus of ``N_CHUNKS`` chunks through the program's write
path (``SnapshotStore.create`` of the chunks table with 64-dim
``make_embed_udf`` vectors, then ``TextSearchIndex.update``). Chunk text is
drawn from a ``VOCAB``-term Zipf(1.1) vocabulary, so query terms can be
head terms (long postings lists) or torso terms (short ones); the synthetic
crawl vocabulary has only 45 words, too few for that.

Queries cycle bm25 → vector → hybrid:

- bm25: ``text_search(index=)`` (served from the stored postings);
- vector: brute-force ``vector_search``;
- hybrid: ``hybrid_search(index=)`` (RRF of both legs).

The first ``WARMUP_OPS`` queries (three of each kind) are warm-up; the timed
window then holds whole bm25/vector/hybrid cycles, at least
``MIN_TIMED_OPS`` queries. The loop is read-only: no commits, no UDFs.

The seed draws the corpus; the query texts are the same for every seed. A
query's cost follows the vocabulary ranks of its terms (a rank-0 term has
~70x the postings of a rank-49 one), so queries drawn per seed would make
the run-to-run spread follow which terms were drawn, not the program.

Checks on a sample, after the timed window: index-tier bm25 top-k equals
scan-tier ``bm25_scores`` top-k; vector top-k equals a numpy brute force
over the stored vectors; hybrid returns a non-empty, score-ordered top-k.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_CHUNKS = 10_000
VOCAB = 50_000
ZIPF_S = 1.1
TOKENS = (24, 48)          # chunk length range, tokens
HEAD, TORSO = (0, 50), (500, 5000)  # vocabulary rank ranges of query terms
EMBED_DIM = 64
TOP = 10
N_QUERIES = 300
KINDS = ("bm25", "vector", "hybrid")
WARMUP_OPS = 9
MIN_TIMED_OPS = 12
OP_CYCLE = len(KINDS)       # the timed window ends on a whole cycle of kinds
QUERY_SEED = 7919
BM25_SAMPLE = 1            # bm25 queries re-run on the scan tier


def word(rank: int) -> str:
    """Vocabulary term of ``rank``: 'w' + base-26 letters (≤ 5 chars, one
    token under the program's tokenizer)."""
    s = ""
    n = rank
    while True:
        s = chr(97 + n % 26) + s
        n //= 26
        if n == 0:
            return "w" + s


def corpus(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    p /= p.sum()
    lens = rng.integers(TOKENS[0], TOKENS[1] + 1, size=N_CHUNKS)
    ranks = rng.choice(VOCAB, size=int(lens.sum()), p=p)
    words = np.array([word(r) for r in range(VOCAB)], dtype=object)
    toks = words[ranks]
    ends = np.cumsum(lens)
    texts = [" ".join(toks[e - n:e]) for e, n in zip(ends, lens)]
    doc = np.arange(N_CHUNKS) // 4
    idx = np.arange(N_CHUNKS) % 4
    return pd.DataFrame({
        "chunk_id": [f"d{d}_chunk_{k}" for d, k in zip(doc, idx)],
        "doc_id": [f"d{d}" for d in doc],
        "url": [f"https://s{d % 97}.example.com/doc{d}.txt" for d in doc],
        "chunk_index": idx.astype(np.int32),
        "content": texts,
        "n_tokens": lens.astype(np.int32),
    })


def queries() -> tuple[list[str], int]:
    """``N_QUERIES`` query texts (the same for every seed), and how many
    generated texts were dropped because they embed to the zero vector."""
    from azure_blob_crawler_spark.functions.embedding import embed_query

    rng = np.random.default_rng(QUERY_SEED)
    shapes = (("h", "t"), ("t", "t", "t"), ("h", "h", "t"))
    out, dropped = [], 0
    while len(out) < N_QUERIES:
        text = " ".join(
            word(int(rng.integers(*(HEAD if c == "h" else TORSO))))
            for c in shapes[len(out) % len(shapes)]
        )
        # Stopgap for a known program defect; remove this filter once it is
        # fixed. functions/vectors.cosine divides by the query vector's
        # norm, so vector_search and hybrid_search raise DIVIDE_BY_ZERO
        # (ANSI mode) when the query embeds to the zero vector (two terms
        # hashing to one dimension with opposite signs, ~1 in 500 queries
        # here). The count is reported as ``zero_vector_queries_dropped``.
        if any(embed_query(text, EMBED_DIM)):
            out.append(text)
        else:
            dropped += 1
    return out, dropped


def setup(run) -> None:
    from pyspark.sql import functions as F

    from azure_blob_crawler_spark.functions.embedding import make_embed_udf, truncate_for_embedding
    from azure_blob_crawler_spark.operators.search_index import TextSearchIndex
    from azure_blob_crawler_spark.sources.store import SnapshotStore

    spark = run.spark
    pdf = corpus(run.seed)
    src = os.path.join(run.work, "corpus")
    os.makedirs(src)
    n_files = 2 * run.cores
    for k in range(n_files):
        part = pdf.iloc[k::n_files]
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), f"{src}/part-{k}.parquet")
    embed = make_embed_udf(EMBED_DIM)
    raw = spark.read.parquet(src)
    store = SnapshotStore(spark, os.path.join(run.work, "store"))
    store.create(
        "chunks", raw.withColumn("vector", embed(truncate_for_embedding(F.col("content")))),
        key="chunk_id", n_buckets=8,
    )
    chunks = store.read("chunks")
    index = TextSearchIndex(store, "search")
    index.update(chunks, approx_rows=N_CHUNKS)
    texts, dropped = queries()
    run.state.update(store=store, chunks=chunks, index=index, queries=texts,
                     zero_vector_queries_dropped=dropped, results={})


def op(run, i: int):
    from azure_blob_crawler_spark.operators import query as Q

    kind = KINDS[i % len(KINDS)]
    text = run.state["queries"][(i // len(KINDS)) % N_QUERIES]
    chunks, index = run.state["chunks"], run.state["index"]

    def query_op() -> int:
        if kind == "bm25":
            df = Q.text_search(chunks, text, top=TOP, index=index)
        elif kind == "vector":
            df = Q.vector_search(chunks, query_text=text, top=TOP, embed_dim=EMBED_DIM)
        else:
            df = Q.hybrid_search(chunks, text, top=TOP, index=index, embed_dim=EMBED_DIM)
        rows = df.select("chunk_id", "score").collect()
        run.state["results"][i] = (kind, text, [(r["chunk_id"], float(r["score"])) for r in rows])
        return 1

    return kind, query_op


def topk_agree(got, want, tol: float) -> bool:
    """Same scores position by position (within ``tol``) and the same ids,
    except among ids tied with the k-th score, where the cut is arbitrary."""
    if len(got) != len(want):
        return False
    if any(abs(a[1] - b[1]) > tol * max(1.0, abs(b[1])) for a, b in zip(got, want)):
        return False
    if not want:
        return True
    kth = want[-1][1]
    firm = lambda rows: {c for c, s in rows if abs(s - kth) > tol * max(1.0, abs(kth))}
    return firm(got) == firm(want)


def stored_vectors(store) -> tuple[np.ndarray, np.ndarray]:
    """(chunk ids, float64 vectors) read straight from the chunks table's
    files, bypassing Spark."""
    m = store._manifest("chunks")
    dirs = sorted({os.path.join(store.root, "chunks", p) for ps in m["buckets"].values() for p in ps})
    t = pa.concat_tables([pq.read_table(d, columns=["chunk_id", "vector"]) for d in dirs])
    ids = np.array(t.column("chunk_id").to_pylist(), dtype=object)
    vecs = np.array(t.column("vector").to_pylist(), dtype=np.float64)
    return ids, vecs


def check(run):
    from pyspark.sql import functions as F

    from azure_blob_crawler_spark.functions.embedding import embed_query
    from azure_blob_crawler_spark.operators import query as Q

    results, chunks = run.state["results"], run.state["chunks"]
    per_op = {}
    bm25_ops = [i for i, (k, _, _) in sorted(results.items()) if k == "bm25"][-BM25_SAMPLE:]
    for i in bm25_ops:
        _, text, got = results[i]
        want = [
            (r["chunk_id"], float(r["score"]))
            for r in Q.bm25_scores(chunks, text)
            .orderBy(F.desc("score"), F.asc("chunk_id")).limit(TOP).collect()
        ]
        per_op[i] = bool(got) and topk_agree(got, want, 1e-9)

    ids, vecs = stored_vectors(run.state["store"])
    norms = np.linalg.norm(vecs, axis=1)
    for i, (kind, text, got) in sorted(results.items()):
        if kind == "vector":
            qv = np.array(embed_query(text, EMBED_DIM), dtype=np.float64)
            denom = norms * np.linalg.norm(qv)
            sims = np.divide(vecs @ qv, denom, out=np.zeros_like(denom), where=denom > 0)
            want = [(ids[j], float(sims[j])) for j in _topk(sims, ids)]
            per_op[i] = topk_agree(got, want, 1e-6)
        elif kind == "hybrid":
            scores = [s for _, s in got]
            per_op[i] = 0 < len(got) <= TOP and scores == sorted(scores, reverse=True)
    run.state["checks"] = {
        "bm25_checked": len(bm25_ops),
        "checked_ok": sum(per_op.values()), "checked": len(per_op),
    }
    return all(per_op.values()), per_op


def _topk(sims: np.ndarray, ids: np.ndarray) -> list[int]:
    """Indices of the TOP highest similarities, ties broken by id, without
    sorting the whole corpus."""
    cand = np.argpartition(-sims, TOP)[: TOP * 4]
    cut = np.sort(sims[cand])[::-1][TOP - 1]
    cand = np.nonzero(sims >= cut - 1e-12)[0]
    return sorted(cand, key=lambda j: (-sims[j], ids[j]))[:TOP]


def detail(run) -> dict:
    out = {}
    for kind in KINDS:
        ms = [r["ms"] for r in run.ops if r["timed"] and not r["error"] and r["kind"] == kind]
        out[f"{kind}_ms_p50"] = float(np.median(ms)) if ms else 0.0
    return {
        **out, "n_chunks": N_CHUNKS,
        "zero_vector_queries_dropped": run.state["zero_vector_queries_dropped"],
        **run.state.get("checks", {}),
    }
