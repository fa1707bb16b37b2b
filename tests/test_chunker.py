"""Chunker fidelity: every pinned behavior from SURVEY.md §2.10
(reference chunking.py:58-271 semantics, regex-lexer tokenizer)."""

import pandas as pd

from azure_blob_crawler_spark.operators.chunker import (
    chunk_pages,
    chunk_text,
    count_tokens,
    make_chunk_doc_udf,
)


def sent(i, n=10):
    return " ".join(f"w{i}x{j}" for j in range(n)) + "."


def test_empty_and_whitespace():
    assert chunk_text("") == []
    assert chunk_text("   \n  ") == []


def test_whole_doc_fast_path():
    text = "short doc. two sentences."
    assert chunk_text(text, max_tokens=100) == [text]


def test_budget_respected_and_overlap():
    text = " ".join(sent(i) for i in range(40))
    chunks = chunk_text(text, max_tokens=60, overlap_tokens=12)
    assert len(chunks) > 1
    for c in chunks:
        assert count_tokens(c) <= 60
    # overlap: tail words of chunk k reappear at head of chunk k+1
    for a, b in zip(chunks, chunks[1:]):
        tail = a.split()[-1]
        assert tail in b.split()[:13]


def test_no_overlap_when_zero():
    text = " ".join(sent(i) for i in range(40))
    chunks = chunk_text(text, max_tokens=60, overlap_tokens=0)
    seen = set()
    for c in chunks:
        words = set(c.split())
        assert not (words & seen)
        seen |= words


def test_long_sentence_word_split():
    # one "sentence" (no terminators) far over budget → word-level split
    text = " ".join(f"word{i}" for i in range(300))
    chunks = chunk_text(text, max_tokens=50, overlap_tokens=5)
    assert len(chunks) >= 6
    for c in chunks:
        assert count_tokens(c) <= 50


def test_char_split_cascade():
    # a single token longer than the char window
    word = "x" * 1000
    chunks = chunk_text(word + " tail.", max_tokens=10, overlap_tokens=0)
    width = 10 * 4
    assert chunks[0] == "x" * width
    assert all(len(c) <= width for c in chunks[:-1])


def test_sentence_terminators_split():
    # greedy packing across ., !, ? terminators: 2+2 tokens fit a 5 budget
    text = "alpha beta. gamma delta! epsilon zeta? eta theta."
    chunks = chunk_text(text, max_tokens=5, overlap_tokens=0)
    assert chunks == ["alpha beta gamma delta", "epsilon zeta eta theta"]
    # budget of 3 forces one sentence per chunk
    assert chunk_text(text, max_tokens=3, overlap_tokens=0) == [
        "alpha beta",
        "gamma delta",
        "epsilon zeta",
        "eta theta",
    ]


def test_chunk_pages_packing():
    pages = [f"--- Page {i} ---\n" + sent(i, 8) for i in range(1, 7)]
    chunks = chunk_pages(pages, max_tokens=40)
    assert len(chunks) > 1
    joined = "\n\n".join(pages)
    # pages are kept intact inside chunks
    for c in chunks:
        assert c in joined or all(p in joined for p in c.split("\n\n"))


def test_chunk_pages_oversized_page():
    small = "--- Page 1 ---\n" + sent(1, 5)
    big = "--- Page 2 ---\n" + " ".join(sent(i, 10) for i in range(30))
    chunks = chunk_pages([small, big], max_tokens=50)
    assert any(count_tokens(c) <= 50 for c in chunks)
    assert len(chunks) >= 3
    # residue quirk: the small page is flushed before the big page re-chunks
    assert chunks[0].startswith("--- Page 1 ---")


def test_doc_udf_strategy_dispatch(spark):
    pages = [f"--- Page {i} ---\n" + sent(i, 8) for i in range(1, 5)]
    full = "\n\n".join(pages)
    pdf = pd.DataFrame({"pages": [pages], "full": [full], "paged": [True]})
    txt = pd.DataFrame({"pages": [[full]], "full": [full], "paged": [False]})
    df = spark.createDataFrame(pd.concat([pdf, txt], ignore_index=True))
    udf = make_chunk_doc_udf(max_tokens=40, overlap_tokens=8)
    rows = df.select("paged", udf("pages", "full", "paged").alias("chunks")).collect()
    by_flag = {r["paged"]: r["chunks"] for r in rows}
    assert by_flag[True] == chunk_pages(pages, 40)
    assert by_flag[False] == chunk_text(full, 40, 8)


def test_make_counter_fallback_and_validation():
    import pytest

    from azure_blob_crawler_spark.operators.chunker import count_tokens, make_counter

    assert make_counter("lexer") is count_tokens
    # container has no tiktoken → degrades to the lexer, never crashes
    c = make_counter("tiktoken")
    assert c("a b c") >= 1
    with pytest.raises(ValueError):
        make_counter("bogus")


def test_chunker_tiktoken_parity_when_available():
    """Runs only where tiktoken is installed (reference chunking.py:37-56):
    counting and budget enforcement must use cl100k_base exactly."""
    import pytest

    tiktoken = pytest.importorskip("tiktoken")
    from azure_blob_crawler_spark.operators.chunker import chunk_text, make_counter

    enc = tiktoken.get_encoding("cl100k_base")
    counter = make_counter("tiktoken")
    assert counter("hello world, a test.") == len(enc.encode("hello world, a test."))
    chunks = chunk_text("word " * 200, max_tokens=30, overlap_tokens=5, counter=counter)
    assert chunks
    assert all(counter(c) <= 35 for c in chunks)


def test_count_tokens_matches_spark_token_count(spark):
    """The chunker budgets with Python ``count_tokens``; the chunks table's
    ``n_tokens`` is Spark ``token_count``. Java regex reads \\w as ASCII, so
    the Python twin must: "café" is caf, é in both."""
    from pyspark.sql import functions as F

    from azure_blob_crawler_spark.functions.text import token_count

    texts = ["café au lait", "naïve—straße", "日本語 text", "tab\tand\u00a0nbsp", "ascii words"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    got = [r["n"] for r in df.orderBy("i").select(token_count(F.col("t")).alias("n")).collect()]
    assert got == [count_tokens(t) for t in texts]
    assert count_tokens("café au lait") == 4
