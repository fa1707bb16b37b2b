"""Link extraction — engine-only operator (the reference receives work from
Event Grid, deploy-infrastructure.ps1:495-501; a crawler must discover).

Fully Catalyst-native: ``regexp_extract_all`` over the document's full
content pulls the href anchors into an array; each element is resolved
against the document URL and canonicalized inside that array (two
``transform`` lambdas, functions/urls.py), and only then is the array
exploded with its in-document positions. No Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from azure_blob_crawler_spark.functions.urls import (
    canonical_url,
    resolve_href,
    url_hash,
    url_host,
)

HREF_PATTERN = r'href="([^"]+)"'


def extract_links(
    docs: DataFrame, content_col: str = "full_content", base_col: str = "url"
) -> DataFrame:
    """(doc columns) -> one row per extracted link with ``link_idx`` position.

    Relative hrefs (``/page2``, ``page2.html``, ``//h/p``, ``?q=1``) resolve
    against the source document's URL (``base_col``) before canonicalization;
    unsupported schemes (mailto:, javascript:, ...), fragment-only hrefs and
    URLs that do not parse (``/p q``) are dropped. ``link_idx`` keeps the
    ORIGINAL in-document anchor position (dropped rows leave gaps), so
    discovery order of surviving links is unchanged by the filtering.

    Each href is resolved once and canonicalized once, per array element,
    before the explode. ``canonical_url`` refers to its input about 20
    times; applied to a lambda variable, every reference is a slot read.
    Applied to the resolve expression after the explode, Catalyst would
    inline that whole CASE into each reference (and again into the
    pushed-down null filter), and the stage's generated code would outgrow
    the JVM's 64 KB method limit and run interpreted.

    Output: all input columns + link_idx int, link_url (canonical),
    link_host, link_hash.
    """
    anchors = F.regexp_extract_all(F.col(content_col), F.lit(HREF_PATTERN), 1)
    resolved = F.transform(anchors, lambda h: resolve_href(F.col(base_col), h))
    # one-argument lambda: transform passes the element index as a second
    # argument to a two-parameter function (canonical_url's sort_query)
    canon = F.transform(resolved, lambda u: canonical_url(u))
    return (
        docs.select("*", F.posexplode_outer(canon).alias("link_idx", "link_url"))
        .filter(F.col("link_url").isNotNull())
        .withColumn("link_host", url_host(F.col("link_url")))
        .withColumn("link_hash", url_hash(F.col("link_url")))
    )
