"""Span extraction: format dispatch, marker fidelity, span-sequence
invariant (kind, text, media_ref, order), full-content reassembly."""

import json

from pyspark.sql.types import StringType, StructField, StructType

from azure_blob_crawler_spark import config
from azure_blob_crawler_spark.operators.admission import split_admission
from azure_blob_crawler_spark.operators.extraction import (
    SPANS_TYPE,
    extract_spans_py,
    flatten_json_text,
    reassemble_py,
    with_extraction,
)


def test_text_single_span():
    spans = extract_spans_py("a/b.txt", "hello world", 11)
    assert spans == [{"kind": "text", "text": "hello world", "media_ref": None, "offset": 0}]


def test_json_flatten():
    data = {"title": "T", "items": [{"a": 1}, "x"], "n": 3}
    out = flatten_json_text(data)
    assert out == "title: T\nitems: [0] a: 1\n[1] x\nn: 3"
    spans = extract_spans_py("d.json", json.dumps(data), 10)
    assert spans[0]["kind"] == "text"
    assert spans[0]["text"] == out


def test_json_invalid_falls_back_to_raw():
    spans = extract_spans_py("d.json", "not json {", 10)
    assert spans[0]["text"] == "not json {"


def test_pdf_pages_markers_and_blank_skip():
    content = "page one text\f\f  \fpage two text"
    spans = extract_spans_py("d.pdf", content, 30)
    assert [s["kind"] for s in spans] == ["page", "page"]
    assert spans[0]["text"] == "--- Page 1 ---\npage one text"
    assert spans[1]["text"] == "--- Page 2 ---\npage two text"
    assert [s["offset"] for s in spans] == [0, 1]


def test_docx_sections_20_para_window():
    paras = "\n".join(f"para {i}" for i in range(45))
    spans = extract_spans_py("d.docx", paras, 100)
    assert [s["kind"] for s in spans] == ["section"] * 3
    assert spans[0]["text"].startswith("--- Section 1 ---\npara 0\n")
    assert spans[0]["text"].count("\n") == 20  # marker + 20 paras
    assert spans[2]["text"].startswith("--- Section 3 ---\npara 40")


def test_media_placeholder():
    spans = extract_spans_py("img/photo.jpg", "", 524288)
    assert spans == [
        {
            "kind": "media",
            "text": "Binary file: img/photo.jpg (Size: 0.50MB, Type: jpg)",
            "media_ref": "img/photo.jpg",
            "offset": 0,
        }
    ]


def test_udf_and_reassembly(spark):
    rows = [
        ("a.txt", "plain text doc", 14),
        ("b.pdf", "p1\fp2\fp3", 8),
        ("c.bin", "", 1024),
    ]
    schema = StructType([StructField("url", StringType()), StructField("spans", SPANS_TYPE)])
    spans = {u: extract_spans_py(u, c, s) for u, c, s in rows}
    out = with_extraction(spark.createDataFrame(list(spans.items()), schema))
    got = {r["url"]: r for r in out.collect()}
    # the Python twin the crawl's document pass uses agrees
    for u, r in got.items():
        assert reassemble_py(spans[u]) == (r["pages"], r["full_content"], r["use_pages"])
    assert got["a.txt"]["full_content"] == "plain text doc"
    assert got["a.txt"]["use_pages"] is False
    assert got["b.pdf"]["pages"] == [
        "--- Page 1 ---\np1", "--- Page 2 ---\np2", "--- Page 3 ---\np3",
    ]
    assert got["b.pdf"]["full_content"] == (
        "--- Page 1 ---\np1\n\n--- Page 2 ---\np2\n\n--- Page 3 ---\np3"
    )
    assert got["b.pdf"]["use_pages"] is True
    assert "Binary file: c.bin" in got["c.bin"]["full_content"]


def test_span_order_preserved_when_shuffled(spark):
    """offset, not physical order, defines the sequence."""
    spans = [
        {"kind": "page", "text": "--- Page 2 ---\nb", "media_ref": None, "offset": 1},
        {"kind": "page", "text": "--- Page 1 ---\na", "media_ref": None, "offset": 0},
    ]
    df = spark.createDataFrame([("d", spans)], "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>")
    row = with_extraction(df).collect()[0]
    assert row["pages"][0].startswith("--- Page 1")


def test_admission_split(spark):
    rows = [
        ("ok.txt", 100),
        ("big.txt", config.MAX_FILE_SIZE_MB * 1024 * 1024 + 1),
        ("weird.xyz", 100),
    ]
    df = spark.createDataFrame(rows, "url string, size long")
    admitted, skipped = split_admission(df)
    assert [r["url"] for r in admitted.collect()] == ["ok.txt"]
    reasons = {r["url"]: r["skip_reason"] for r in skipped.collect()}
    assert reasons == {"big.txt": "size_exceeds_limit", "weird.xyz": "unsupported_extension"}


def test_queue_path_skips_extension_filter(spark):
    """SURVEY.md §3.2: the queue path admits any extension (media spans)."""
    df = spark.createDataFrame([("weird.xyz", 100)], "url string, size long")
    admitted, _ = split_admission(df, enforce_extension=False)
    assert admitted.count() == 1
