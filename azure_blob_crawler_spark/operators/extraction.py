"""Document extraction into ordered span sequences.

Data model (BASELINE.json input_hint): a document is
``(doc_id, spans: array<struct<kind, text, media_ref, offset>>)`` — the
engine's typed replacement for the reference's ``(full_content, pages)``
tuple (shared/processing/file_extractor.py:44-116):

- txt/md/csv  → one ``kind='text'`` span (file_extractor.py:84-86)
- json        → one ``kind='text'`` span, recursive "k: v" flatten (:88-95,206-234)
- pdf         → ``kind='page'`` spans, "--- Page N ---" markers (:118-153)
- docx/doc    → ``kind='section'`` spans, 20-paragraph windows (:155-204)
- other       → one ``kind='media'`` placeholder span with media_ref (:103-106)

This module's wire format for paged documents is plain text with ``\\f``
page breaks (pdf) / paragraph streams (docx). Binary bodies are out of
scope: the fetch ``content`` column is text, so no fetch yields raw bytes.

``extract_spans_py`` is the Python core; the crawl round runs it, with
``reassemble_py``, inside its one per-document pass (plans/crawl_round.py).
For a spans table, span→pages/full_content reassembly is Catalyst-native
(``with_extraction``: array_sort/transform/array_join).
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from azure_blob_crawler_spark import config

SPAN_TYPE = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)
SPANS_TYPE = ArrayType(SPAN_TYPE)


def file_extension(name: Column) -> Column:
    """Lowercased extension, '' when the name has no dot
    (file_extractor.py:82 semantics)."""
    return F.when(
        name.contains("."), F.lower(F.substring_index(name, ".", -1))
    ).otherwise(F.lit(""))


def flatten_json_text(data) -> str:
    """Recursive "key: value" / "[i] value" rendering (file_extractor.py:206-234)."""
    if isinstance(data, dict):
        parts = []
        for key, value in data.items():
            rendered = flatten_json_text(value)
            if rendered:
                parts.append(f"{key}: {rendered}")
        return "\n".join(parts)
    if isinstance(data, list):
        parts = []
        for i, item in enumerate(data):
            rendered = flatten_json_text(item)
            if rendered:
                parts.append(f"[{i}] {rendered}")
        return "\n".join(parts)
    if isinstance(data, str):
        return data
    return str(data)


def _pdf_spans(content: str) -> list[dict]:
    spans = []
    for raw in content.split("\f"):
        body = raw.strip()
        if not body:
            continue  # blank pages skipped (file_extractor.py:138)
        n = len(spans) + 1
        spans.append(
            {
                "kind": "page",
                "text": f"{config.PAGE_PREFIX}{n}{config.PAGE_SUFFIX}\n{body}",
                "media_ref": None,
                "offset": len(spans),
            }
        )
    return spans


def _docx_spans(content: str) -> list[dict]:
    spans: list[dict] = []
    window: list[str] = []
    for para in content.split("\n"):
        p = para.strip()
        if not p:
            continue
        window.append(p)
        if len(window) >= config.PARAGRAPHS_PER_PAGE:
            _flush_section(spans, window)
            window = []
    if window:
        _flush_section(spans, window)
    return spans


def _flush_section(spans: list[dict], window: list[str]) -> None:
    n = len(spans) + 1
    body = "\n".join(window)
    spans.append(
        {
            "kind": "section",
            "text": f"{config.SECTION_PREFIX}{n}{config.PAGE_SUFFIX}\n{body}",
            "media_ref": None,
            "offset": len(spans),
        }
    )


def extract_spans_py(name: str, content: str, size_bytes: int) -> list[dict]:
    """Per-document span extraction (Python core, called batch-wise)."""
    ext = name.lower().rsplit(".", 1)[-1] if "." in name else ""
    if ext in config.SUPPORTED_TEXT_EXTENSIONS:
        return [{"kind": "text", "text": content, "media_ref": None, "offset": 0}]
    if ext in config.SUPPORTED_STRUCTURED_EXTENSIONS:
        try:
            text = flatten_json_text(json.loads(content))
        except (json.JSONDecodeError, TypeError):
            text = content
        return [{"kind": "text", "text": text, "media_ref": None, "offset": 0}]
    if ext == "pdf":
        return _pdf_spans(content)
    if ext in ("docx", "doc"):
        return _docx_spans(content)
    size_mb = size_bytes / (1024 * 1024)
    placeholder = f"Binary file: {name} (Size: {size_mb:.2f}MB, Type: {ext})"
    return [{"kind": "media", "text": placeholder, "media_ref": name, "offset": 0}]


def reassemble_py(spans: list[dict]) -> tuple[list[str], str, bool]:
    """Python twin of ``with_extraction``: (pages, full_content, use_pages)
    of one document's spans. Spark's ``trim`` strips U+0020 only, so the
    paged full_content does too."""
    pages = [s["text"] for s in sorted(spans, key=lambda s: s["offset"])]
    joined = "\n\n".join(pages)
    paged = any(s["kind"] in ("page", "section") for s in spans)
    return pages, joined.strip(" ") if paged else joined, paged and len(spans) > 1


# --- span reassembly: Catalyst-native -------------------------------------


def spans_sorted(spans: Column) -> Column:
    return F.array_sort(
        spans, lambda a, b: F.when(a.offset < b.offset, -1).when(a.offset > b.offset, 1).otherwise(0)
    )


def pages_of(spans: Column) -> Column:
    """Ordered page texts (the reference's ``pages`` list)."""
    return F.transform(spans_sorted(spans), lambda s: s.text)


def full_content_of(spans: Column) -> Column:
    """Reference full-content rule: pages joined with blank lines; paged
    documents strip the result (file_extractor.py:141,149 vs :86)."""
    joined = F.array_join(pages_of(spans), "\n\n")
    has_paged = F.exists(spans, lambda s: s.kind.isin("page", "section"))
    return F.when(has_paged, F.trim(joined)).otherwise(joined)


def is_paged_doc(spans: Column) -> Column:
    """Dispatch flag for page-aware chunking (document_processor.py:310-313)."""
    return F.exists(spans, lambda s: s.kind.isin("page", "section")) & (F.size(spans) > 1)


def with_extraction(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Attach pages / full_content / chunk-strategy columns to a spans table."""
    spans = F.col(spans_col)
    return (
        df.withColumn("pages", pages_of(spans))
        .withColumn("full_content", full_content_of(spans))
        .withColumn("use_pages", is_paged_doc(spans))
    )
