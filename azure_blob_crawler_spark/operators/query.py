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
functions against a literal query vector. A top-k of at most ``MAX_TOP``
rows is small enough to finish on the driver: the (id, score) rows are
collected, and the result rows are the chunks whose id is in that set,
scored by a literal map — no join, broadcast or checkpoint. Hybrid search
collects both pooled legs the same way and fuses them by RRF in Python.
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
    tier). A term's document frequency is the number of distinct ids in its
    window, read as the highest dense rank of the id there: one shuffle by
    term, and a duplicated id (a scan-tier corpus may hold one with two
    texts) counts once."""
    by_term = Window.partitionBy("term")
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_norm = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("doc_len") / F.lit(float(avg_len)))
    )
    return (
        postings.withColumn("__rank", F.dense_rank().over(by_term.orderBy(id_col)))
        .withColumn("df", F.max("__rank").over(by_term))
        .groupBy(id_col)
        .agg(F.sum(idf * tf_norm).alias("score"))
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


def _project_top(chunks: DataFrame, top: list[tuple], id_col: str) -> DataFrame:
    """The ``chunks`` rows of a collected top-k ``[(id, score), ...]``, id
    first and ``score`` last, ordered by score desc, id asc. The corpus scan
    filters on the ids and takes each score from a literal map (the offset
    move of ``assign_global_seq``), so it stays parallel; only the ≤
    ``MAX_TOP`` matches go through one shuffle to the partition that sorts
    them. A chunk outside ``chunks`` (a caller's filter, an index entry for
    a chunk the caller dropped) is simply not found."""
    cols = [id_col, *[c for c in chunks.columns if c != id_col]]
    if not top:
        return chunks.select(*cols).filter(F.lit(False)).withColumn("score", F.lit(0.0))
    score_of = F.create_map(*[F.lit(x) for row in top for x in row])
    return (
        chunks.select(*cols)
        .filter(F.col(id_col).isin([i for i, _ in top]))
        .withColumn("score", score_of[F.col(id_col)])
        .repartition(1)
        .sortWithinPartitions(F.desc("score"), F.asc(id_col))
    )


def _index_scores(index, query: str, id_col: str) -> DataFrame:
    scored = index.bm25(query)
    return scored if id_col == "chunk_id" else scored.withColumnRenamed("chunk_id", id_col)


def text_search(
    chunks: DataFrame,
    query: str,
    top: int = config.DEFAULT_TOP,
    content_col: str = "content",
    id_col: str = "chunk_id",
    index=None,
) -> DataFrame:
    """BM25 top-k over the chunk corpus with full chunk columns + ``score``.

    ``index`` (a TextSearchIndex) serves the scores from the persistent
    postings+stats tables instead of tokenizing the corpus — the 100-TB
    serving path; ``chunks`` is then only the projection source. The
    ≤ ``MAX_TOP`` (id, score) rows are collected to the driver and the
    result is their projection from ``chunks`` (``_project_top``)."""
    if index is not None:
        scored = _index_scores(index, query, id_col)
    else:
        scored = bm25_scores(chunks, query, content_col, id_col)
    top_rows = (
        scored.orderBy(F.desc("score"), F.asc(id_col))
        .limit(min(top, config.MAX_TOP))
        .collect()
    )
    return _project_top(chunks, [(r[id_col], r["score"]) for r in top_rows], id_col)


def _py_tokens(text: str) -> list[str]:
    return re.findall(TOKEN_PATTERN, text.lower())


def vector_search(
    chunks: DataFrame,
    query_vector: list[float] | None = None,
    query_text: str | None = None,
    top: int = config.DEFAULT_TOP,
    vector_col: str = "vector",
    id_col: str = "chunk_id",
    embed_dim: int = config.TEST_EMBEDDING_DIM,
) -> DataFrame:
    """Exact cosine top-k against a literal query vector
    (search_client.py:249-259 semantics; embedding of the query mirrors
    mcp app.py:85-94)."""
    if query_vector is None:
        if query_text is None:
            raise ValueError("vector search requires query_vector or query_text")
        query_vector = embed_query(query_text, embed_dim)
    qv = F.array(*[F.lit(float(x)) for x in query_vector])
    scored = chunks.withColumn("score", cosine(F.col(vector_col), qv))
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
    tokenization in the plan); a text-leg chunk missing from ``chunks`` is
    dropped before ranking, as text_search's projection drops it.

    Pooled legs (the default) hold ≤ ``MAX_TOP`` rows each, so both are
    collected and fused on the driver (``_pooled_ranks``). ``pool=None``
    legs are unbounded, so they are ranked and fused in Spark
    (``_unbounded_fused_top``); only the bench's series entry uses it.
    Either way the fused top is projected by ``_project_top``."""
    cap = min(pool, config.MAX_TOP) if pool is not None else None
    if index is not None:
        tscore = _index_scores(index, query_text, id_col)
    else:
        tscore = bm25_scores(chunks, query_text, content_col, id_col)
    if query_vector is None:
        query_vector = embed_query(query_text, embed_dim)
    qv = F.array(*[F.lit(float(x)) for x in query_vector])
    cos = cosine(F.col(vector_col), qv)

    def rank_key(c):
        return F.round(c, rank_rounding) if rank_rounding is not None else c

    n = min(top, config.MAX_TOP)
    if cap is None:
        if index is not None:
            tscore = tscore.join(chunks.select(id_col), id_col, "left_semi")
        vscore = chunks.select(id_col, cos.alias("score"))
        top_rows = _unbounded_fused_top(tscore, vscore, rank_key, rrf_k, n, id_col)
    else:
        rank_text, rank_vec = _pooled_ranks(chunks, tscore, cos, cap, rank_key, id_col)
        fused = {
            i: (1.0 / (rrf_k + rank_text[i]) if i in rank_text else 0.0)
            + (1.0 / (rrf_k + rank_vec[i]) if i in rank_vec else 0.0)
            for i in rank_text.keys() | rank_vec.keys()
        }
        top_rows = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:n]
    return _project_top(chunks, top_rows, id_col)


def _desc(v) -> tuple:
    """Python sort key of Spark's ``desc`` (nulls last) for a double."""
    return (v is None, -v if v is not None else 0.0)


def _pooled_ranks(
    chunks: DataFrame, tscore: DataFrame, cos, cap: int, rank_key, id_col: str
) -> tuple[dict, dict]:
    """{id: rank} of each pooled leg, from two collects of ≤ 2·cap rows.

    The text pool is the top ``cap`` scores. One scan of ``chunks`` then
    yields both the vector leg and the pool's membership in ``chunks``:
    ordered by (member desc, cosine desc, id asc), its first
    ``cap + |pool|`` rows hold every member and the top ``cap``
    non-members, so they hold the true top-``cap`` cosines. Each leg's
    pool is cut on the raw score and ranked on ``rank_key`` (computed in
    the plan: Spark's HALF_UP ``round`` is not Python's)."""
    pool = (
        tscore.orderBy(F.desc("score"), F.asc(id_col))
        .limit(cap)
        .select(id_col, rank_key(F.col("score")).alias("key"))
        .collect()
    )
    vec = (
        chunks.select(
            id_col, F.col(id_col).isin([r[0] for r in pool]).alias("member"),
            cos.alias("score"),
        )
        .orderBy(F.desc("member"), F.desc("score"), F.asc(id_col))
        .limit(cap + len(pool))
        .select(id_col, "member", "score", rank_key(F.col("score")).alias("key"))
        .collect()
    )
    members = {r[0] for r in vec if r["member"]}
    vec_top = sorted(vec, key=lambda r: (_desc(r["score"]), r[0]))[:cap]

    def ranks(rows) -> dict:
        ordered = sorted(rows, key=lambda r: (_desc(r["key"]), r[0]))
        return {r[0]: rank for rank, r in enumerate(ordered, 1)}

    return ranks([r for r in pool if r[0] in members]), ranks(vec_top)


def _unbounded_fused_top(
    tscore: DataFrame, vscore: DataFrame, rank_key, rrf_k: int, n: int, id_col: str
) -> list[tuple]:
    """The top ``n`` [(id, RRF score)] of two unbounded (id, score) legs,
    ranked and fused in Spark. Each leg is materialized once: a count then
    lets ``assign_global_seq`` pick the single window for a small leg
    (score sets are ∝ matching docs, not corpus) or two phases over the
    materialized input for a big one; ranks are identical either way."""
    order = [rank_key(F.col("score")).desc(), F.asc(id_col)]

    def ranked(leg: DataFrame, rank_col: str) -> DataFrame:
        leg = leg.select(id_col, "score").localCheckpoint(eager=True)
        return assign_global_seq(
            leg, order, rank_col, bounded_rows=leg.count(), input_materialized=True
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
    rows = fused.orderBy(F.desc("score"), F.asc(id_col)).limit(n).select(id_col, "score")
    return [(r[0], r[1]) for r in rows.collect()]


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
