"""Deterministic pseudo-embeddings (stand-in for the reference's OpenAI call,
shared/azure_clients/openai_client.py:44-89) as an Arrow-vectorized pandas UDF.

Feature hashing: each lexer token hashes (crc32, salted) to one of ``dim``
buckets with a ±1 sign bit; counts are accumulated and L2-normalized. Fully
deterministic across runs/processes (no PYTHONHASHSEED dependence), so test
fixtures and the cosine-similarity oracle are stable.

Scale note: the UDF is Arrow-batched (one numpy matrix per batch); Python
executes per *batch*, not per row. On a cluster this runs embarrassingly
parallel per partition with zero shuffle.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType

from azure_blob_crawler_spark import config
from azure_blob_crawler_spark.functions.text import TOKEN_RE


def embed_texts(texts: pd.Series, dim: int) -> pd.Series:
    """Batch feature-hash embedding; pure numpy inner loop."""
    out = []
    for text in texts:
        vec = np.zeros(dim, dtype=np.float64)
        if text:
            toks = TOKEN_RE.findall(text)
            if toks:
                hashes = np.fromiter(
                    (zlib.crc32(t.encode("utf-8", "ignore")) for t in toks),
                    dtype=np.uint64,
                    count=len(toks),
                )
                idx = (hashes % dim).astype(np.int64)
                sign = np.where((hashes >> np.uint64(16)) & np.uint64(1), 1.0, -1.0)
                np.add.at(vec, idx, sign)
                norm = np.linalg.norm(vec)
                if norm > 0:
                    vec /= norm
        out.append(vec.astype(np.float32))
    return pd.Series(out)


def make_embed_udf(dim: int = config.EMBEDDING_DIM):
    """pandas UDF text -> array<float> of length ``dim``.

    Embedding failure fallback in the reference is a zero vector
    (document_processor.py:202-205); here empty/None text yields the zero
    vector by construction.
    """

    @F.pandas_udf(ArrayType(FloatType()))
    def embed(texts: pd.Series) -> pd.Series:
        return embed_texts(texts.fillna(""), dim)

    return embed


def truncate_for_embedding(text: Column, max_tokens: int = config.EMBEDDING_MAX_TOKENS) -> Column:
    """Reference truncates >8000-token text before embedding
    (document_processor.py:190-196). Columnar fast path: char-cap at
    max_tokens * 4 (settings.py:77 fallback ratio)."""
    return F.substring(text, 1, max_tokens * config.FALLBACK_CHARS_PER_TOKEN)


def embed_query(text: str, dim: int = config.EMBEDDING_DIM) -> list[float]:
    """Driver-side single-string embedding (query path, mcp app.py:85-94)."""
    return [float(x) for x in embed_texts(pd.Series([text]), dim).iloc[0]]
