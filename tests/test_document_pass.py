"""The crawl round's one Python pass per document (fetch → admission →
extract → chunk → embed) returns what the per-stage chain returns:
``extract_spans_py`` → ``with_extraction`` → ``make_chunk_doc_udf`` →
``make_embed_udf(truncate_for_embedding(..))``, with the admission gate and
the ``nonempty_content`` filter in Catalyst between them."""

import json

from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from azure_blob_crawler_spark import config
from azure_blob_crawler_spark.functions.embedding import make_embed_udf, truncate_for_embedding
from azure_blob_crawler_spark.operators.admission import MAX_BYTES, nonempty_content
from azure_blob_crawler_spark.operators.chunker import make_chunk_doc_udf
from azure_blob_crawler_spark.operators.extraction import (
    SPANS_TYPE,
    extract_spans_py,
    with_extraction,
)
from azure_blob_crawler_spark.plans.crawl_round import (
    DOC_PASS_COLUMNS,
    document_pass,
    documents_batch,
)
from azure_blob_crawler_spark.sources import synthetic

DIM = config.TEST_EMBEDDING_DIM
FETCHED = "url string, content string, size bigint, ok boolean"

# one fetched row of each kind: (url, content, size, ok)
# one chunk (3,900 tokens ≤ the chunk budget) longer than the embedding cap
LONG_WORDS = " ".join(f"w{i:07d}" for i in range(3900))
assert len(LONG_WORDS) > config.EMBEDDING_MAX_TOKENS * config.FALLBACK_CHARS_PER_TOKEN
KINDS = [
    ("https://h.example.com/a.txt", "One sentence here. Café au lait, naïve—straße.", 52, True),
    ("https://h.example.com/long.txt", LONG_WORDS, len(LONG_WORDS), True),
    ("https://h.example.com/many.md", " ".join(f"Sentence {i} has words." for i in range(1500)),
     30_000, True),
    ("https://h.example.com/b.json",
     json.dumps({"title": "T", "items": [{"a": 1}, "x"], "body": "json body text."}), 60, True),
    ("https://h.example.com/bad.json", "not json {", 10, True),
    ("https://h.example.com/c.pdf", "  page one text.\f\f  \fpage two text.  ", 40, True),
    ("https://h.example.com/d.docx", "\n".join(f"para {i}." for i in range(45)), 400, True),
    ("https://h.example.com/e.jpg", "", 524_288, True),
    ("https://h.example.com/ws.txt", "   \n  ", 6, True),
    ("https://h.example.com/sp.txt", "    ", 4, True),
    ("https://h.example.com/big.txt", "too big to admit", MAX_BYTES + 1, True),
    ("https://h.example.com/fail.txt", "never read", 10, False),
]


def _chain(spark, fetched) -> dict:
    """url -> (full_content, [(chunk, vector)]) through the per-stage chain."""
    admitted = [
        (u, extract_spans_py(u, c, s)) for u, c, s, ok in fetched if ok and s <= MAX_BYTES
    ]
    schema = StructType([StructField("url", StringType()), StructField("spans", SPANS_TYPE)])
    docs = with_extraction(spark.createDataFrame(admitted, schema))
    chunks = (
        docs.filter(nonempty_content(F.col("full_content")))
        .select(
            "url",
            F.posexplode(make_chunk_doc_udf()("pages", "full_content", "use_pages")).alias(
                "i", "chunk"
            ),
        )
        .withColumn("vector", make_embed_udf(DIM)(truncate_for_embedding(F.col("chunk"))))
    )
    out = {u: (None, []) for u, *_ in fetched}
    for r in docs.collect():
        out[r["url"]] = (r["full_content"], [])
    for r in chunks.orderBy("url", "i").collect():
        out[r["url"]][1].append((r["chunk"], list(r["vector"])))
    return out


def _pass_rows(rows) -> dict:
    return {
        r["url"]: (r["full_content"], [(c["content"], list(c["vector"])) for c in r["chunks"]])
        for r in rows
    }


def test_documents_batch_matches_chain(spark):
    """Every kind, through the pass's batch core inside Spark (Arrow both
    ways) and through the chain: same full_content, chunks and vectors."""
    df = spark.createDataFrame(KINDS, FETCHED).repartition(3)
    out_schema = f"url string, {DOC_PASS_COLUMNS}"
    got = _pass_rows(
        df.mapInPandas(lambda it: (documents_batch(p, DIM) for p in it), out_schema).collect()
    )
    want = _chain(spark, KINDS)
    assert got.keys() == want.keys()
    for url in want:
        assert got[url] == want[url], url
    # the kinds exercise what they are named for
    assert got["https://h.example.com/big.txt"] == (None, [])
    assert got["https://h.example.com/fail.txt"] == (None, [])
    assert got["https://h.example.com/ws.txt"] == ("   \n  ", [])
    assert got["https://h.example.com/c.pdf"][0].startswith("--- Page 1 ---\npage one text.")
    assert len(got["https://h.example.com/many.md"][1]) > 1
    assert len(got["https://h.example.com/d.docx"][1]) == 1
    assert len(got["https://h.example.com/long.txt"][1]) == 1


def test_document_pass_fetches_like_the_chain(spark):
    """The pass on claimed rows (url, depth, attempts): its fetch matches
    ``content_for_url``/``fetch_ok`` and every synthetic kind — txt, md,
    json, pdf, docx, media, over the size limit, failed — matches the chain."""
    urls = [e["url"] for e in synthetic.seed_frontier_py(400)]
    picked, kinds = [], set()
    for u in urls:
        content, size = synthetic.content_for_url(u, 0)
        ok = synthetic.fetch_ok(u, 0)
        kind = "failed" if not ok else "big" if size > MAX_BYTES else u.rsplit(".", 1)[-1]
        if kind not in kinds:
            kinds.add(kind)
            picked.append((u, content, size, ok))
    assert {"txt", "md", "json", "pdf", "docx", "bin", "jpg", "big", "failed"} <= kinds
    claimed = spark.createDataFrame(
        [(u, 0, 0, i) for i, (u, *_) in enumerate(picked)],
        "url string, depth int, attempts int, claim_rank int",
    )
    rows = document_pass(claimed.repartition(2), DIM).collect()
    assert {r["url"]: (r["size"], r["ok"]) for r in rows} == {
        u: (s, ok) for u, _, s, ok in picked
    }
    assert _pass_rows(rows) == _chain(spark, picked)
