"""Token-budget document chunker — the reference's core UDTF surface.

Observable semantics match shared/utils/chunking.py:58-271 exactly,
parameterized by tokenizer (the reference uses tiktoken cl100k_base; this
engine uses the deterministic regex lexer from functions/text.py — same
contract: ``count(a ⊕ " " ⊕ b) == count(a) + count(b)`` holds for the lexer,
which the reference's own accumulation arithmetic already assumes).

Pinned behaviors (each has a test):
- whole-doc fast path when the doc fits the budget (chunking.py:74-76)
- greedy sentence packing with strip-on-flush (:84-115)
- 200-token word-suffix overlap carried into the next chunk (:247-271)
- oversized sentence → word split → char split cascade (:194-245), including
  the quirk that a single over-budget word at the tail is emitted unsplit
- page-aware packing for multi-page docs with the oversized-page
  re-chunk + ``replace(page, "")`` residue quirk (:123-174)

Spark surface: Arrow-vectorized pandas UDFs returning ``array<string>`` —
per-batch Python, zero shuffle; callers ``posexplode`` to (doc_id,
chunk_index, content) rows.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from azure_blob_crawler_spark import config
from azure_blob_crawler_spark.functions.text import TOKEN_PATTERN

_TOKEN_RE = re.compile(TOKEN_PATTERN)
# non-capturing group: Python re.split would interleave captured groups
_SENT_RE = re.compile(r"[.!?]+(?:\s+|$)")


def count_tokens(text: str) -> int:
    """Python-side twin of functions.text.token_count (same regex)."""
    return len(_TOKEN_RE.findall(text))


def make_counter(tokenizer: str = "lexer"):
    """Token-counter factory. ``'tiktoken'`` uses cl100k_base exactly like
    the reference (chunking.py:37-56) when the package is importable, with
    the reference's char/4 estimate on encode failure (settings.py:77); the
    container ships no tiktoken, so it degrades to the deterministic regex
    lexer — the contract queries and fixtures pin the lexer explicitly so
    oracle results never depend on which tokenizer is installed."""
    if tokenizer == "tiktoken":
        try:
            import tiktoken  # noqa: PLC0415

            enc = tiktoken.get_encoding("cl100k_base")

            def count(text: str) -> int:
                try:
                    return len(enc.encode(text))
                except Exception:  # noqa: BLE001 — reference chunking.py:52-56
                    return max(1, len(text) // config.FALLBACK_CHARS_PER_TOKEN)

            return count
        except ImportError:
            return count_tokens
    if tokenizer != "lexer":
        raise ValueError(f"unknown tokenizer: {tokenizer}")
    return count_tokens


def _char_windows(word: str, max_tokens: int) -> list[str]:
    width = max_tokens * config.FALLBACK_CHARS_PER_TOKEN
    return [word[off : off + width] for off in range(0, len(word), width)]


def _pack_words(sentence: str, max_tokens: int, counter=count_tokens) -> list[str]:
    """Split an over-budget sentence at word granularity (char fallback)."""
    pieces: list[str] = []
    acc = ""
    for word in sentence.split():
        candidate = f"{acc} {word}" if acc else word
        if counter(candidate) > max_tokens:
            if acc:
                pieces.append(acc)
                acc = word
            else:
                pieces.extend(_char_windows(word, max_tokens))
                acc = ""
        else:
            acc = candidate
    if acc:
        pieces.append(acc)
    return pieces


def _tail_overlap(text: str, overlap_tokens: int, counter=count_tokens) -> str:
    """Longest word-suffix of ``text`` within the overlap token budget."""
    if overlap_tokens <= 0:
        return ""
    words = text.split()
    # suffix token sums, rightmost first (additive lexer ⇒ O(n))
    best = ""
    running = 0
    taken: list[str] = []
    for w in reversed(words):
        running += counter(w)
        if running > overlap_tokens:
            break
        taken.append(w)
        best = " ".join(reversed(taken))
    return best


def chunk_text(
    text: str,
    max_tokens: int = config.CHUNK_MAX_TOKENS,
    overlap_tokens: int = config.OVERLAP_TOKENS,
    counter=count_tokens,
) -> list[str]:
    if not text or not text.strip():
        return []
    if counter(text) <= max_tokens:
        return [text]

    sentences = [s.strip() for s in _SENT_RE.split(text) if s.strip()]
    out: list[str] = []
    acc = ""
    acc_tokens = 0
    for sentence in sentences:
        s_tokens = counter(sentence)
        if s_tokens > max_tokens:
            if acc.strip():
                out.append(acc.strip())
                acc, acc_tokens = "", 0
            pieces = _pack_words(sentence, max_tokens, counter)
            out.extend(pieces[:-1])
            acc = pieces[-1] if pieces else ""
            acc_tokens = counter(acc)
        elif acc_tokens + s_tokens > max_tokens:
            if acc.strip():
                out.append(acc.strip())
            acc = f"{_tail_overlap(acc, overlap_tokens, counter)} {sentence}"
            acc_tokens = counter(acc)
        else:
            acc = f"{acc} {sentence}" if acc else sentence
            acc_tokens += s_tokens
    if acc.strip():
        out.append(acc.strip())
    return out


def chunk_pages(
    pages: list[str], max_tokens: int = config.CHUNK_MAX_TOKENS, counter=count_tokens
) -> list[str]:
    """Page-boundary-preserving packing (multi-page pdf/docx path)."""
    if not pages:
        return []
    out: list[str] = []
    acc = ""
    acc_tokens = 0
    for page in pages:
        p_tokens = counter(page)
        if acc and acc_tokens + p_tokens > max_tokens:
            out.append(acc.strip())
            acc, acc_tokens = page, p_tokens
        elif not acc:
            acc, acc_tokens = page, p_tokens
        else:
            acc = f"{acc}\n\n{page}"
            acc_tokens += p_tokens
        if p_tokens > max_tokens:
            if acc != page:
                # residue quirk preserved from the reference (:161-162)
                out.append(acc.replace(page, "").strip())
            sub = chunk_text(page, max_tokens, counter=counter)
            out.extend(sub[:-1])
            acc = sub[-1] if sub else ""
            acc_tokens = counter(acc)
    if acc.strip():
        out.append(acc.strip())
    return out


# --- Spark UDF surface ---------------------------------------------------


def make_chunk_doc_udf(
    max_tokens: int = config.CHUNK_MAX_TOKENS,
    overlap_tokens: int = config.OVERLAP_TOKENS,
    tokenizer: str = "lexer",
):
    """Strategy-dispatching chunker: (pages, full_content, use_pages) -> chunks.

    Mirrors document_processor.py:310-317 — page-aware when the doc type is a
    paged document AND it has >1 page, else plain text chunking.
    ``tokenizer='tiktoken'`` counts with cl100k_base when importable
    (reference chunking.py:37-56), else the deterministic regex lexer.
    """

    @F.pandas_udf(ArrayType(StringType()))
    def chunk_doc_udf(
        pages: pd.Series, full_content: pd.Series, use_pages: pd.Series
    ) -> pd.Series:
        counter = make_counter(tokenizer)  # resolved executor-side
        res = []
        for pgs, full, paged in zip(pages, full_content, use_pages):
            if paged and pgs is not None and len(pgs) > 1:
                res.append(chunk_pages(list(pgs), max_tokens, counter))
            else:
                res.append(chunk_text(full or "", max_tokens, overlap_tokens, counter))
        return pd.Series(res)

    return chunk_doc_udf
