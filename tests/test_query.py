"""Query surface: BM25 text search, exact vector search, hybrid RRF,
clamps / field selection / vector exclusion / wildcard — the reference's
MCP semantics (SURVEY.md §2.8)."""

import pytest
from pyspark.sql import functions as F

from azure_blob_crawler_spark import config
from azure_blob_crawler_spark.functions.embedding import embed_query, make_embed_udf
from azure_blob_crawler_spark.operators import query as Q


@pytest.fixture(scope="module")
def chunks(spark):
    rows = [
        ("c1", "spark shuffle partition spark spark", 0),
        ("c2", "spark appears once here with other words", 0),
        ("c3", "completely unrelated text about cats and dogs", 0),
        ("c4", "shuffle shuffle shuffle nothing else matters", 0),
        ("c5", "partition pruning and predicate pushdown in spark", 0),
    ]
    df = spark.createDataFrame(rows, "chunk_id string, content string, pad int").drop("pad")
    embed = make_embed_udf(config.TEST_EMBEDDING_DIM)
    return df.withColumn("vector", embed("content")).persist()


def test_bm25_ranking(chunks):
    out = Q.text_search(chunks, "spark shuffle", top=5).collect()
    ids = [r["chunk_id"] for r in out]
    assert ids[0] == "c1"  # highest combined tf
    assert "c3" not in ids  # no query term


def test_bm25_empty_query(chunks):
    # "???" tokenizes to three "?" tokens, and no chunk contains "?"
    assert Q.text_search(chunks, "???", top=5).count() == 0
    assert Q.text_search(chunks, "", top=5).count() == 0


def test_vector_search_exact_self_match(chunks):
    qv = embed_query("spark shuffle partition spark spark", config.TEST_EMBEDDING_DIM)
    out = Q.vector_search(chunks, query_vector=qv, top=3).collect()
    assert out[0]["chunk_id"] == "c1"
    assert out[0]["score"] == pytest.approx(1.0, abs=1e-6)


def test_zero_vector_scores_zero(chunks):
    """A zero vector has no direction: its cosine with anything is 0.0,
    not a DIVIDE_BY_ZERO under ANSI mode — as the query vector of a
    vector or hybrid search, and as a stored vector."""
    zero = [0.0] * config.TEST_EMBEDDING_DIM
    out = Q.vector_search(chunks, query_vector=zero, top=5).collect()
    assert [(r["chunk_id"], r["score"]) for r in out] == [
        (c, 0.0) for c in ("c1", "c2", "c3", "c4", "c5")
    ]  # all tied, so ids break the ties
    hyb = Q.hybrid_search(chunks, "spark shuffle", top=5, query_vector=zero).collect()
    assert hyb[0]["chunk_id"] == "c1"  # the text leg's top, vector leg all tied
    assert len(hyb) == 5
    stored_zero = chunks.withColumn("vector", F.array(*[F.lit(0.0)] * len(zero)))
    qv = embed_query("spark shuffle", config.TEST_EMBEDDING_DIM)
    out = Q.vector_search(stored_zero, query_vector=qv, top=5).collect()
    assert [r["score"] for r in out] == [0.0] * 5


def test_hybrid_rrf(chunks):
    out = Q.hybrid_search(chunks, "spark shuffle", top=5).collect()
    assert out[0]["chunk_id"] == "c1"
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    # RRF score bounded by 2/(k+1)
    assert all(s <= 2 / (config.RRF_K + 1) + 1e-9 for s in scores)


def test_run_query_clamps_and_projection(chunks):
    out = Q.run_query(
        chunks, query_text="spark", search_type="text", top=10_000,
        select_fields=["chunk_id"],
    )
    assert out.columns == ["chunk_id", "score"]
    assert out.count() <= config.MAX_TOP


def test_run_query_drops_vector(chunks):
    out = Q.run_query(chunks, query_text="spark", search_type="vector")
    assert "vector" not in out.columns


def test_run_query_wildcard(chunks):
    assert Q.run_query(chunks, query_text="*", search_type="text").count() == 5


def test_run_query_filter_pushdown(chunks):
    out = Q.run_query(
        chunks, query_text="spark", search_type="text", filter_expr="chunk_id != 'c1'"
    ).collect()
    assert all(r["chunk_id"] != "c1" for r in out)


def test_run_query_validation(chunks):
    with pytest.raises(ValueError):
        Q.run_query(chunks, query_text="x", search_type="bogus")
    with pytest.raises(ValueError):
        Q.run_query(chunks, query_text=None, search_type="text")


def test_odata_translation():
    assert Q.odata_filter_to_sql("depth eq 2") == "depth = 2"
    assert (
        Q.odata_filter_to_sql("lang eq 'en' and n_chars gt 100")
        == "lang = 'en' AND n_chars > 100"
    )
    assert (
        Q.odata_filter_to_sql("not (state eq 'dead') or depth le 3")
        == "NOT ( state = 'dead' ) OR depth <= 3"
    )
    assert Q.odata_filter_to_sql("name eq 'it''s'") == "name = 'it''s'"
    # a field that spells an operator word is an identifier in field
    # position (position-aware translation, hypothesis-found round 4)
    assert Q.odata_filter_to_sql("GE eq 2") == "GE = 2"
    assert Q.odata_filter_to_sql("eq ne 'x'") == "eq <> 'x'"
    # truncated expressions raise instead of emitting a dangling predicate
    with pytest.raises(ValueError):
        Q.odata_filter_to_sql("depth eq")
    with pytest.raises(ValueError):
        Q.odata_filter_to_sql("( depth eq 1")
    with pytest.raises(ValueError):
        Q.odata_filter_to_sql("chunk_id eq 'x'; drop table frontier")
    with pytest.raises(ValueError):
        Q.odata_filter_to_sql("")
    # unterminated string literals must raise, never flow into F.expr
    with pytest.raises(ValueError):
        Q.odata_filter_to_sql("name eq 'a")
    with pytest.raises(ValueError):
        Q.odata_filter_to_sql("'0")
    with pytest.raises(ValueError):
        Q.odata_filter_to_sql("name eq '")


def test_run_query_odata_filter(chunks):
    out = Q.run_query(
        chunks, query_text="spark", search_type="text",
        odata_filter="chunk_id ne 'c1'",
    ).collect()
    assert out and all(r["chunk_id"] != "c1" for r in out)


def test_embedding_truncation_cap(spark):
    """>max-token text embeds identically to its truncated prefix
    (document_processor.py:190-196 semantics)."""
    from azure_blob_crawler_spark.functions.embedding import truncate_for_embedding

    long_text = "word " * 30_000  # ≫ 8000 tokens
    cap_chars = config.EMBEDDING_MAX_TOKENS * config.FALLBACK_CHARS_PER_TOKEN
    df = spark.createDataFrame([(long_text,)], ["content"])
    embed = make_embed_udf(16)
    row = df.select(
        embed(truncate_for_embedding(F.col("content"))).alias("v_capped"),
        embed(F.substring("content", 1, cap_chars)).alias("v_prefix"),
    ).collect()[0]
    assert row["v_capped"] == row["v_prefix"]


def test_text_search_releases_cache(chunks):
    """Repeated searches must not accumulate cached RDDs: each text_search
    call adds exactly one storage entry, its materialized top-k (released
    by the context cleaner once the result DataFrame is gone), and never a
    corpus or token cache."""
    sc = chunks.sparkSession.sparkContext
    chunks.count()  # the module fixture's own cache is in place before

    def cached_rdds() -> set[int]:
        return {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}

    before = cached_rdds()
    # results held, so the cleaner cannot drop an entry mid-count
    outs = [Q.text_search(chunks, "spark shuffle", top=3) for _ in range(3)]
    for out in outs:
        out.collect()
    assert len(cached_rdds() - before) == len(outs)
