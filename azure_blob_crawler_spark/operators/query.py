"""Top-k query surface over the chunks table — the engine twin of the
reference's MCP search path (services/mcp_server/app/app.py:66-135 +
shared/azure_clients/search_client.py:199-374).

Modes (search_client.py:25-29 enum): text (BM25), vector (cosine k-NN),
hybrid (RRF fusion). Exact computation at every scale tier that fits —
the reference's HNSW index (index.json:44-55) is an ANN approximation of
the same cosine ordering; exactness supersedes approximation for the
correctness oracle, and the LSH-bucketed path in operators/similarity.py
is the 10^10-scale approximate variant.

All scoring is Catalyst-native: tokenization by split/explode, BM25 as a
grouped aggregation over a posting-list DataFrame, cosine via higher-order
functions against a broadcast query vector, RRF as two rank windows.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from azure_blob_crawler_spark import config
from azure_blob_crawler_spark.functions.embedding import embed_query
from azure_blob_crawler_spark.functions.text import TOKEN_PATTERN
from azure_blob_crawler_spark.functions.vectors import cosine
from azure_blob_crawler_spark.operators.sequence import assign_global_seq

BM25_K1 = 1.2
BM25_B = 0.75


def _tokens(col):
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_PATTERN), 0)


def _postings(toks: DataFrame, id_col: str, terms: list[str] | None = None) -> DataFrame:
    """(id, term, doc_len, tf) from a tokenized (id, __ts) frame — the one
    postings builder: the scan tier builds postings per query (``terms``
    prunes each token array to the query terms before the explode, so
    ~|matches| rows reach the shuffle; ``doc_len`` stays the full token
    count), the index tier builds them once per delta and stores them."""
    ts = F.col("__ts")
    if terms is not None:
        terms_lit = F.array(*[F.lit(t) for t in terms])
        ts = F.filter(ts, lambda t: F.array_contains(terms_lit, t))
    return (
        toks.select(id_col, F.size("__ts").alias("doc_len"), F.explode(ts).alias("term"))
        .groupBy(id_col, "term", "doc_len")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _bm25(postings: DataFrame, n_docs: int, avg_len: float, id_col: str) -> DataFrame:
    """(id, score) = Σ over a doc's postings of idf · tf-norm — the one BM25
    formula, fed by on-the-fly postings (scan tier) or stored ones (index
    tier). Per-term document frequencies are a tree-aggregated groupBy
    broadcast back onto the postings."""
    df_by_term = postings.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_norm = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("doc_len") / F.lit(float(avg_len)))
    )
    return (
        postings.join(F.broadcast(df_by_term), "term")
        .withColumn("term_score", idf * tf_norm)
        .groupBy(id_col)
        .agg(F.sum("term_score").alias("score"))
    )


def bm25_scores(
    chunks: DataFrame,
    query: str,
    content_col: str = "content",
    id_col: str = "chunk_id",
) -> DataFrame:
    """(id, score) for every chunk containing ≥1 query term — the full BM25
    score set, no top-k (its exact DuckDB twin backs the q_bm25_search
    oracle; reference scoring surface: search_client.py:351-374).

    The scan tier: one stats job (document count + average token length),
    then postings of the *query terms only* built on the fly and scored."""
    q_terms = sorted(set(_py_tokens(query)))
    if not q_terms:
        return chunks.select(id_col).limit(0).withColumn("score", F.lit(0.0))
    toks = chunks.select(F.col(id_col), _tokens(F.col(content_col)).alias("__ts"))
    stats = toks.agg(
        F.count(F.lit(1)).alias("n"), F.avg(F.size("__ts")).alias("a")
    ).collect()[0]
    return _bm25(_postings(toks, id_col, q_terms), int(stats["n"]), stats["a"] or 1.0, id_col)


def text_search(
    chunks: DataFrame,
    query: str,
    top: int | None = config.DEFAULT_TOP,
    content_col: str = "content",
    id_col: str = "chunk_id",
    index=None,
) -> DataFrame:
    """BM25 top-k over the chunk corpus with full chunk columns + ``score``.

    ``top=None`` skips the limit (full ranking — hybrid's unbounded pool).
    ``index`` (a TextSearchIndex) serves the scores from the persistent
    postings+stats tables instead of tokenizing the corpus — the 100-TB
    serving path; ``chunks`` is then only the projection source for the
    result join. The small (id, score) set is materialized before the
    projection join, which broadcasts it."""
    if index is not None:
        scored = index.bm25(query)
        if id_col != "chunk_id":
            scored = scored.withColumnRenamed("chunk_id", id_col)
    else:
        scored = bm25_scores(chunks, query, content_col, id_col)
    if top is not None:
        scored = scored.orderBy(F.desc("score"), F.asc(id_col)).limit(
            min(top, config.MAX_TOP)
        )
    top_k = scored.localCheckpoint(eager=True)
    out = chunks.join(F.broadcast(top_k), id_col, "inner")
    return out.orderBy(F.desc("score"), F.asc(id_col))


def _py_tokens(text: str) -> list[str]:
    return re.findall(TOKEN_PATTERN, text.lower())


def vector_search(
    chunks: DataFrame,
    query_vector: list[float] | None = None,
    query_text: str | None = None,
    top: int | None = config.DEFAULT_TOP,
    vector_col: str = "vector",
    id_col: str = "chunk_id",
    embed_dim: int = config.TEST_EMBEDDING_DIM,
) -> DataFrame:
    """Exact cosine top-k against a broadcast query vector
    (search_client.py:249-259 semantics; embedding of the query mirrors
    mcp app.py:85-94). ``top=None`` returns the full score set."""
    if query_vector is None:
        if query_text is None:
            raise ValueError("vector search requires query_vector or query_text")
        query_vector = embed_query(query_text, embed_dim)
    qv = F.array(*[F.lit(float(x)) for x in query_vector])
    scored = chunks.withColumn("score", cosine(F.col(vector_col), qv))
    if top is None:
        return scored
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(min(top, config.MAX_TOP))


def hybrid_search(
    chunks: DataFrame,
    query_text: str,
    top: int = config.DEFAULT_TOP,
    rrf_k: int = config.RRF_K,
    content_col: str = "content",
    vector_col: str = "vector",
    id_col: str = "chunk_id",
    embed_dim: int = config.TEST_EMBEDDING_DIM,
    pool: int | None = config.MAX_TOP,
    query_vector: list[float] | None = None,
    rank_rounding: int | None = None,
    index=None,
) -> DataFrame:
    """Reciprocal-rank fusion of text + vector rankings
    (search_client.py:298-324 — Azure fuses server-side with RRF;
    score = Σ 1/(k + rank)). ``query_vector`` overrides the embedded
    ``query_text`` for the vector leg (app.py:85-94 accepts either);
    ``pool=None`` ranks the full corpus (no leg truncation);
    ``rank_rounding`` ranks on round(score, n) so rank order is reproducible
    across engines/arithmetic orders — the determinism knob the DuckDB
    oracle relies on (ties then break on id in both engines). ``index``
    routes the text leg through the persistent TextSearchIndex (no corpus
    tokenization in the plan)."""
    # Legs are bare (id, score) sets: only the fused top joins back onto the
    # chunk rows. The index tier's text leg gets text_search(index=)'s
    # membership in ``chunks`` as a semi-join after the same pool limit.
    cap = min(pool, config.MAX_TOP) if pool is not None else None

    def pooled(scores: DataFrame) -> DataFrame:
        if cap is None:
            return scores
        return scores.orderBy(F.desc("score"), F.asc(id_col)).limit(cap)

    if index is not None:
        tscore = index.bm25(query_text)
        if id_col != "chunk_id":
            tscore = tscore.withColumnRenamed("chunk_id", id_col)
        tscore = pooled(tscore).join(chunks.select(id_col), id_col, "left_semi")
    else:
        tscore = pooled(bm25_scores(chunks, query_text, content_col, id_col))

    if query_vector is None:
        query_vector = embed_query(query_text, embed_dim)
    qv = F.array(*[F.lit(float(x)) for x in query_vector])
    vscore = pooled(chunks.select(id_col, cosine(F.col(vector_col), qv).alias("score")))

    rank_key = (
        F.round(F.col("score"), rank_rounding) if rank_rounding is not None
        else F.col("score")
    )
    order = [rank_key.desc(), F.asc(id_col)]

    def ranked(leg: DataFrame, rank_col: str) -> DataFrame:
        # A pooled leg is bounded by its limit, so assign_global_seq ranks
        # it in one single-task window straight off the lineage. A
        # full-corpus leg (pool=None, oracle determinism) is materialized
        # once: a cheap count then picks the single window for a small leg
        # (score sets are ∝ matching docs, not corpus) and a big leg
        # two-phases over the materialized input. Ranks are identical
        # either way (assign_global_seq contract).
        leg = leg.select(id_col, "score")
        if cap is None:
            leg = leg.localCheckpoint(eager=True)
        return assign_global_seq(
            leg, order, rank_col,
            bounded_rows=cap if cap is not None else leg.count(),
            input_materialized=cap is None,
        ).select(id_col, rank_col)

    fused = (
        ranked(tscore, "rank_text")
        .join(ranked(vscore, "rank_vec"), id_col, "full_outer")
        .withColumn(
            "score",
            F.coalesce(1.0 / (F.lit(rrf_k) + F.col("rank_text")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("rank_vec")), F.lit(0.0)),
        )
    )
    fused_top = (
        fused.select(id_col, "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(min(top, config.MAX_TOP))
        .localCheckpoint(eager=True)
    )
    out = chunks.join(F.broadcast(fused_top), id_col, "inner")
    return out.orderBy(F.desc("score"), F.asc(id_col))


_ODATA_OPS = {"eq": "=", "ne": "<>", "gt": ">", "ge": ">=", "lt": "<", "le": "<="}
_ODATA_TOKEN = re.compile(
    r"'(?:[^']|'')*'"        # string literal, '' escapes a quote
    r"|\(|\)"                 # grouping
    r"|[^\s()]+"              # word: field, op, keyword, number
)
_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
_NUMBER = re.compile(r"^-?\d+(\.\d+)?$")


def odata_filter_to_sql(filter_str: str) -> str:
    """Translate the reference's OData filter subset to a SQL predicate.

    The reference passes ``$filter`` strings straight to Azure Search
    (search_client.py:257-263); the MCP server builds conjunctions of
    ``field eq value`` terms (app.py:90-101). Supported grammar: comparisons
    ``field (eq|ne|gt|ge|lt|le) literal`` combined with and/or/not and
    parentheses; literals are single-quoted strings (``''`` escape), numbers,
    true/false/null (an identifier in value position compares field-to-
    field). Everything else raises — no silent passthrough of unvalidated
    expressions into the engine.

    Translation is POSITION-AWARE (an LL(1) walk over the term grammar), not
    a context-free token rewrite: a field named ``GE`` or ``eq`` is an
    identifier in field position and an operator only in operator position
    (hypothesis-found in round 4 — the flat rewrite turned the field ``GE``
    into ``>=``). Only ``not`` stays reserved in field position (it opens a
    negation there); a malformed or truncated expression raises instead of
    emitting a dangling predicate."""
    tokens = _ODATA_TOKEN.findall(filter_str)
    if not tokens:
        raise ValueError("empty OData filter")
    out: list[str] = []
    state = "term"  # term → op → value → conj → term …
    depth = 0
    for tok in tokens:
        low = tok.lower()
        if state == "term":
            if tok == "(":
                out.append(tok)
                depth += 1
            elif low == "not":
                out.append("NOT")
            elif not tok.startswith("'") and _IDENT.match(tok):
                out.append(tok)
                state = "op"
            else:
                raise ValueError(f"expected field, got: {tok!r}")
        elif state == "op":
            if low in _ODATA_OPS:
                out.append(_ODATA_OPS[low])
                state = "value"
            else:
                raise ValueError(f"expected comparison operator, got: {tok!r}")
        elif state == "value":
            if tok.startswith("'"):
                # complete quoted literal only ('' escapes a quote) — a
                # dangling `'a` matches the word branch of _ODATA_TOKEN and
                # would flow unbalanced into F.expr
                if not re.fullmatch(r"'(?:[^']|'')*'", tok):
                    raise ValueError(f"unterminated string literal: {tok!r}")
                out.append(tok)
            elif low in ("true", "false", "null"):
                out.append(low)
            elif _NUMBER.match(tok):
                out.append(tok)
            elif low not in ("and", "or", "not") and _IDENT.match(tok):
                out.append(tok)  # field-to-field comparison
            else:
                raise ValueError(f"expected literal, got: {tok!r}")
            state = "conj"
        else:  # conj
            if tok == ")":
                if depth == 0:
                    raise ValueError("unbalanced ')' in OData filter")
                out.append(tok)
                depth -= 1
            elif low in ("and", "or"):
                out.append(low.upper())
                state = "term"
            else:
                raise ValueError(f"expected and/or, got: {tok!r}")
    if state != "conj":
        raise ValueError("incomplete OData expression")
    if depth != 0:
        raise ValueError("unbalanced '(' in OData filter")
    return " ".join(out)


def run_query(
    chunks: DataFrame,
    query_text: str | None = None,
    search_type: str = "text",
    top: int = config.DEFAULT_TOP,
    select_fields: list[str] | None = None,
    filter_expr: str | None = None,
    odata_filter: str | None = None,
    include_vector: bool = False,
    embed_dim: int = config.TEST_EMBEDDING_DIM,
    index=None,
) -> DataFrame:
    """Full query path: validate → filter → score → top-k → project.

    Mirrors mcp app.py:66-135: top clamp (≤100, :97), OData-ish pre-filter
    (:96), field selection (:104-121), vector-field exclusion (:127).
    Wildcard '*' returns the match-all scan capped at GET_ALL_DOCS_CAP
    (:156-165). ``index`` (TextSearchIndex) serves text/hybrid scoring from
    the persistent postings index. Note the pre-filter applies to the
    PROJECTION join, not the score set — BM25 statistics always reflect the
    whole indexed corpus, matching the reference (Azure Search applies
    $filter against index-wide statistics too)."""
    if search_type not in ("text", "vector", "hybrid"):
        raise ValueError(f"unknown search_type: {search_type}")  # search_client.py:230-236
    if search_type in ("text", "hybrid") and not query_text:
        raise ValueError("text/hybrid search requires query_text")
    if odata_filter:
        filter_expr = odata_filter_to_sql(odata_filter)
    base = chunks.filter(F.expr(filter_expr)) if filter_expr else chunks
    top = min(top, config.MAX_TOP)
    if query_text == "*":
        out = base.limit(config.GET_ALL_DOCS_CAP).withColumn("score", F.lit(1.0))
    elif search_type == "text":
        out = text_search(base, query_text, top, index=index)
    elif search_type == "vector":
        out = vector_search(base, query_text=query_text, top=top, embed_dim=embed_dim)
    else:
        out = hybrid_search(base, query_text, top, embed_dim=embed_dim, index=index)
    if select_fields:
        keep = list(select_fields) + (["score"] if "score" not in select_fields else [])
        out = out.select(*keep)
    if not include_vector and "vector" in out.columns:
        out = out.drop("vector")  # field exclusion, app.py:127 + settings.py:147
    return out
