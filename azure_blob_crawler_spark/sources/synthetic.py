"""Deterministic synthetic corpus / frontier / robots generators.

Two consumers must agree bit-for-bit:
- the Spark engine (frontier built natively with column expressions so a
  10^7-row bench frontier generates in-JVM without Python; the crawl
  round's per-document pass calls ``content_for_url``/``fetch_ok``), and
- the pure-Python reference-semantics simulator (plans/simulator.py) used by
  the north-rule ordering/seen-set equality tests.

So every generator here is pure integer/crc32 arithmetic mirrored exactly in
both column expressions and Python. No wall clock, no RNG state.
"""

from __future__ import annotations

import json
import zlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from azure_blob_crawler_spark.operators.extraction import SPANS_TYPE

# --- shared knobs ---------------------------------------------------------

N_HOSTS = 50
HOT_HOST = "h0"          # ~30% of seed URLs land here → skew-handling tests
EXTS = ("txt", "md", "json", "pdf", "docx", "bin", "jpg")
MAX_DEPTH = 2
FANOUT = 3
LINK_UNIVERSE = 10_000   # child-url id space (small → cross-discovery dups)
_KNUTH = 2654435761
_M32 = 4_294_967_296

VOCAB = (
    "data spark shuffle partition frontier crawl host queue merge snapshot "
    "token chunk embed vector index page section span media document robots "
    "delay budget bloom cuckoo hash url link fetch extract dedup emit round "
    "state commit resume lineage metric skew salt broadcast window rank"
).split()


def crc(s: str) -> int:
    return zlib.crc32(s.encode("utf-8"))


# --- seed frontier ----------------------------------------------------------


def _host_id_py(i: int) -> int:
    return 0 if i % 10 < 3 else 1 + (i * _KNUTH % _M32) % (N_HOSTS - 1)


def seed_url_py(i: int, dup_space: int) -> str:
    host = f"h{_host_id_py(i)}"
    ext = EXTS[i % len(EXTS)]
    pid = i % dup_space
    url = f"https://{host}.example.com/p{pid}/doc{pid}.{ext}"
    if i % 19 == 0:
        url = url.replace("https://", "HTTPS://").replace(host, host.upper(), 1)
    if i % 17 == 0:
        url = url.replace("/p", "/./p", 1)
    if i % 13 == 0:
        url = url + "#frag"
    return url


def seed_frontier_py(n: int) -> list[dict]:
    dup_space = max(1, (n * 9) // 10)
    return [
        {
            "url": seed_url_py(i, dup_space),
            "depth": 0,
            "discovery_seq": i,
        }
        for i in range(n)
    ]


def seed_frontier_df(spark: SparkSession, n: int) -> DataFrame:
    """Native (no-Python) twin of seed_frontier_py — generates 10^7+ rows
    entirely in the JVM from spark.range."""
    dup_space = max(1, (n * 9) // 10)
    df = spark.range(n).withColumnRenamed("id", "i")
    host_id = F.when(F.pmod("i", F.lit(10)) < 3, F.lit(0)).otherwise(
        1 + F.pmod(F.pmod(F.col("i") * F.lit(_KNUTH), F.lit(_M32)), F.lit(N_HOSTS - 1))
    )
    host = F.concat(F.lit("h"), host_id.cast("string"))
    ext = F.element_at(F.array(*[F.lit(e) for e in EXTS]), (F.pmod("i", F.lit(len(EXTS))) + 1).cast("int"))
    pid = F.pmod("i", F.lit(dup_space)).cast("string")
    url_upper = F.concat(
        F.lit("HTTPS://"), F.upper(host), F.lit(".example.com/p"), pid, F.lit("/doc"), pid, F.lit("."), ext
    )
    url_plain = F.concat(
        F.lit("https://"), host, F.lit(".example.com/p"), pid, F.lit("/doc"), pid, F.lit("."), ext
    )
    url = F.when(F.pmod("i", F.lit(19)) == 0, url_upper).otherwise(url_plain)
    url = F.when(F.pmod("i", F.lit(17)) == 0, F.regexp_replace(url, "/p", "/./p")).otherwise(url)
    url = F.when(F.pmod("i", F.lit(13)) == 0, F.concat(url, F.lit("#frag"))).otherwise(url)
    return df.select(
        url.alias("url"),
        F.lit(0).alias("depth"),
        F.col("i").cast("long").alias("discovery_seq"),
    )


# --- robots / politeness -----------------------------------------------------


def robots_rows() -> list[dict]:
    """Per-host crawl delays; hot host gets a tight budget, every 7th host a
    loose one, rest default (null → engine default)."""
    rows = []
    for h in range(N_HOSTS):
        if h == 0:
            delay = 5.0
        elif h % 7 == 0:
            delay = 0.5
        else:
            delay = None
        rows.append({"host": f"h{h}.example.com", "crawl_delay_s": delay})
    return rows


def robots_df(spark: SparkSession) -> DataFrame:
    """Literal-projection build (same rows/schema as ``robots_rows``):
    ``createDataFrame`` via pandas/Arrow costs ~0.2-0.5 s of driver time per
    call, which lands inside the bench's timed claim window; an exploded
    literal array is milliseconds."""
    pairs = F.array(*[
        F.struct(
            F.lit(r["host"]).alias("host"),
            (F.lit(r["crawl_delay_s"]) if r["crawl_delay_s"] is not None
             else F.lit(None)).cast("double").alias("crawl_delay_s"),
        )
        for r in robots_rows()
    ])
    return spark.range(1).select(F.explode(pairs).alias("r")).select(
        "r.host", "r.crawl_delay_s"
    )


# --- deterministic fetch simulation ------------------------------------------


def _ext_of(url: str) -> str:
    tail = url.rsplit("/", 1)[-1]
    return tail.rsplit(".", 1)[-1].lower() if "." in tail else ""


def _sentence(seed: int, j: int) -> str:
    n_words = 5 + (seed + j) % 8
    words = [VOCAB[(seed + j * 31 + k * 7) % len(VOCAB)] for k in range(n_words)]
    return " ".join(words) + "."


def text_for_seed(seed: int, n_sentences: int) -> str:
    return " ".join(_sentence(seed, j) for j in range(n_sentences))


def links_for_url(url: str, depth: int) -> list[str]:
    """Deterministic outlinks; embedded verbatim into fetched content as
    href anchors so engine-side link *extraction* (regex over span text)
    recovers exactly this list."""
    if depth >= MAX_DEPTH or _ext_of(url) in ("bin", "jpg"):
        return []
    seed = crc(url)
    k = seed % (FANOUT + 1)
    out = []
    for i in range(k):
        child_host = f"h{crc(f'{url}|h{i}') % N_HOSTS}"
        cid = crc(f"{url}|c{i}") % LINK_UNIVERSE
        out.append(f"https://{child_host}.example.com/c/{cid}.txt")
    return out


def content_for_url(url: str, depth: int) -> tuple[str, int]:
    """(content, size_bytes). Deterministic; media types get no text body;
    every ~97th url reports an over-limit size (admission-filter case)."""
    seed = crc(url)
    ext = _ext_of(url)
    anchors = "".join(f' <a href="{u}">x</a>' for u in links_for_url(url, depth))
    if ext in ("bin", "jpg", ""):
        content = ""
    elif ext == "json":
        payload = {
            "title": text_for_seed(seed, 1),
            "body": text_for_seed(seed + 1, 3) + anchors,
            "tags": [VOCAB[(seed + t) % len(VOCAB)] for t in range(3)],
        }
        content = json.dumps(payload, sort_keys=True)
    elif ext == "pdf":
        n_pages = 2 + seed % 4
        pages = [text_for_seed(seed + 10 * p, 4) for p in range(n_pages)]
        pages[0] += anchors
        content = "\f".join(pages)
    elif ext in ("docx", "doc"):
        n_paras = 10 + seed % 40
        paras = [text_for_seed(seed + 100 * p, 2) for p in range(n_paras)]
        paras[0] += anchors
        content = "\n".join(paras)
    else:  # txt/md/csv
        content = text_for_seed(seed, 4 + seed % 20) + anchors
    size = len(content.encode("utf-8"))
    if seed % 97 == 0:
        size = 200 * 1024 * 1024  # trips the 100 MB admission filter
    return content, size


def fetch_ok(url: str, attempts: int) -> bool:
    """Deterministic failure injection (reference retry taxonomy,
    shared/utils/retry.py + exceptions.py): ~1/23 of URLs fail transiently
    on their first attempt (abandon → redeliver, attempts+1); ~1/311 fail
    on every attempt (→ dead-letter at MAX_ATTEMPTS)."""
    if crc(f"{url}!dead") % 311 == 0:
        return False
    if crc(f"{url}!fail") % 23 == 0 and attempts == 0:
        return False
    return True


# --- interleaved spans corpus from driver testdata ----------------------------


def documents_with_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver documents.parquet → the input_hint interleaved spans table.

    Deterministic per doc_id: mode 0 → single text span; 1 → pdf-like page
    spans; 2 → docx-like section spans; 3 → text span interleaved with a
    media span. Column shape fixed by BASELINE.json input_hint.
    """
    from azure_blob_crawler_spark.parallel import fan_out

    # fan_out: the single-row-group documents file otherwise runs the span
    # builder and every downstream pandas UDF (extraction, chunker,
    # embedding) on one task
    docs = fan_out(spark.read.parquet(f"{sf_dir}/documents.parquet"))

    @F.pandas_udf(SPANS_TYPE)
    def build_spans(doc_ids: pd.Series, texts: pd.Series) -> pd.Series:
        out = []
        for did, text in zip(doc_ids, texts):
            out.append(spans_for_doc(int(did), text or ""))
        return pd.Series(out)

    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        build_spans("doc_id", "text").alias("spans"),
        "lang",
        "source",
    )


def spans_for_doc(doc_id: int, text: str) -> list[dict]:
    from azure_blob_crawler_spark import config

    mode = doc_id % 4
    if mode == 0:
        return [{"kind": "text", "text": text, "media_ref": None, "offset": 0}]
    if mode == 3:
        return [
            {"kind": "text", "text": text, "media_ref": None, "offset": 0},
            {
                "kind": "media",
                "text": f"Binary file: asset_{doc_id}.jpg (Size: 0.50MB, Type: jpg)",
                "media_ref": f"asset_{doc_id}.jpg",
                "offset": 1,
            },
        ]
    sentences = [s.strip() for s in text.split(".") if s.strip()]
    per_page = 3
    groups = [sentences[i : i + per_page] for i in range(0, len(sentences), per_page)] or [[""]]
    prefix = config.PAGE_PREFIX if mode == 1 else config.SECTION_PREFIX
    kind = "page" if mode == 1 else "section"
    spans = []
    for g in groups:
        n = len(spans) + 1
        body = ". ".join(g) + "."
        spans.append(
            {
                "kind": kind,
                "text": f"{prefix}{n}{config.PAGE_SUFFIX}\n{body}",
                "media_ref": None,
                "offset": len(spans),
            }
        )
    return spans
