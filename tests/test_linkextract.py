"""Link extraction: relative-href resolution against the base URL, scheme
filtering, anchor-position stability, and Spark↔Python parity."""

import pytest
from pyspark.sql import functions as F

from azure_blob_crawler_spark.functions.urls import canonical_url_py, resolve_href_py
from azure_blob_crawler_spark.operators.linkextract import extract_links

BASE = "https://ex.com/a/b/page.html"

CASES = [
    # (href, expected canonical link_url or None when dropped)
    ("https://other.com/x", "https://other.com/x"),
    ("HTTP://EX.com:80/abs", "http://ex.com/abs"),
    ("/p2", "https://ex.com/p2"),
    ("p2.html", "https://ex.com/a/b/p2.html"),
    ("../up.html", "https://ex.com/a/up.html"),
    ("./same.html", "https://ex.com/a/b/same.html"),
    ("//cdn.ex.com/lib.js", "https://cdn.ex.com/lib.js"),
    ("?q=1", "https://ex.com/a/b/page.html?q=1"),
    ("#frag", None),
    ("mailto:x@y.z", None),
    ("javascript:void(0)", None),
    ("ftp://files.ex.com/f", None),
    # hrefs that resolve to a URL java.net.URI rejects canonicalize to NULL
    ("/p q", None),
    ("/a|b", None),
    ("/%zz", None),
    ("http://a b.com/", None),
]


def _docs(spark):
    content = "".join(f'<a href="{h}">x</a>' for h, _ in CASES)
    return spark.createDataFrame([(BASE, content)], "url string, full_content string")


def test_relative_resolution(spark):
    out = extract_links(_docs(spark)).select("link_idx", "link_url").collect()
    got = {r["link_idx"]: r["link_url"] for r in out}
    want = {i: exp for i, (_, exp) in enumerate(CASES) if exp is not None}
    assert got == want


def test_link_idx_keeps_original_positions(spark):
    """Dropped hrefs leave gaps — surviving anchors keep their in-document
    index, so claim ordering is independent of what was filtered."""
    idxs = sorted(
        r["link_idx"] for r in extract_links(_docs(spark)).select("link_idx").collect()
    )
    assert idxs == [i for i, (_, exp) in enumerate(CASES) if exp is not None]


def test_hosts_never_empty(spark):
    hosts = [r["link_host"] for r in extract_links(_docs(spark)).collect()]
    assert all(h for h in hosts)


@pytest.mark.parametrize("href,expected", CASES)
def test_python_twin_parity(href, expected):
    resolved = resolve_href_py(BASE, href)
    got = canonical_url_py(resolved) if resolved is not None else None
    assert got == expected


def test_empty_href_dropped(spark):
    """Empty / whitespace-only hrefs are RFC 3986 same-document references —
    both twins drop them instead of fabricating a basedir/ URL."""
    from azure_blob_crawler_spark.functions.urls import resolve_href

    for h in ("", "   ", "\t"):
        assert resolve_href_py(BASE, h) is None
    df = spark.createDataFrame(
        [(BASE, ""), (BASE, "   "), (BASE, "ok.html")], "base string, href string"
    )
    got = [
        r["r"]
        for r in df.select(resolve_href(F.col("base"), F.col("href")).alias("r")).collect()
    ]
    assert got[0] is None and got[1] is None and got[2] is not None


def test_base_with_embedded_url_in_query(spark):
    """A base URL whose query embeds another absolute URL must resolve
    relative hrefs against the OUTER document's path."""
    base = "https://a.com/dir/p?next=https://b.com/x/y"
    docs = spark.createDataFrame(
        [(base, '<a href="child.html">x</a><a href="/root.html">y</a>')],
        "url string, full_content string",
    )
    got = sorted(r["link_url"] for r in extract_links(docs).collect())
    assert got == ["https://a.com/dir/child.html", "https://a.com/root.html"]
    assert resolve_href_py(base, "child.html") == "https://a.com/dir/child.html"


def test_link_plan_compiles(spark, tmp_path):
    """The link plan and a whole crawl round run as compiled code: with
    codegen fallback off, a stage whose generated Java outgrows the JVM's
    64 KB method limit raises instead of silently running interpreted."""
    from azure_blob_crawler_spark.plans.crawl_round import CrawlRunner
    from azure_blob_crawler_spark.sources import synthetic

    runner = CrawlRunner(spark, str(tmp_path / "crawl"), round_size=10, n_buckets=8)
    seeds = spark.createDataFrame(
        [(e["url"], e["depth"], e["discovery_seq"]) for e in synthetic.seed_frontier_py(40)],
        "url string, depth int, discovery_seq long",
    )
    prior = spark.conf.get("spark.sql.codegen.fallback", None)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        assert extract_links(_docs(spark)).count() == sum(e is not None for _, e in CASES)
        runner.init_frontier(seeds, synthetic.robots_df(spark))
        assert runner.run_round()["claimed"] == 10
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.codegen.fallback")
        else:
            spark.conf.set("spark.sql.codegen.fallback", prior)
