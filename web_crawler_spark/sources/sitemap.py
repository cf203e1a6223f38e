"""S5: sitemap seed-expansion.

Reference semantics (site-crawler.service.js:199-239, restated): regex
`<loc>(.*?)</loc>` over a fetched sitemap's XML body, strip tags, drop
excluded URLs.

Spark restatement: the `<loc>` mining is JVM-side `regexp_extract_all` +
`posexplode` (document order preserved, no Python), and index sitemaps
route their locs to the next fetch round instead of the page frontier.
Exclusion reuses the F1 kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from web_crawler_spark.functions import urls as U

LOC_RE = "<loc>(.*?)</loc>"


def extract_locs(
    sitemaps: DataFrame, xml_col: str = "xml", exclude: bool = True
) -> DataFrame:
    """Mine `<loc>` entries in document order; optionally apply the F1
    exclusion filter (shouldExcludeUrl, site-crawler.service.js:221)."""
    out = sitemaps.select(
        "*",
        F.posexplode_outer(
            F.expr(f"regexp_extract_all({xml_col}, '{LOC_RE}', 1)")
        ).alias("loc_idx", "loc_url"),
    ).filter(F.col("loc_url").isNotNull())
    if exclude:
        out = out.filter(~U.is_excluded("loc_url"))
    return out


def classify_sitemap(xml: "Column | str") -> "Column":
    """'index' (a <sitemapindex> of child sitemaps, sitemaps.org protocol)
    vs 'urlset' (a leaf page list).

    The reference treats every sitemap response as a leaf — its regex
    harvests <loc> entries without looking at the root element
    (site-crawler.service.js:199-239), so a real large site's
    /sitemap_index.xml would seed child-SITEMAP urls into the page
    frontier. At 10^10-URL scale index indirection is the norm (the
    protocol caps a urlset at 50k entries), so the engine distinguishes
    the two and routes accordingly."""
    c = F.col(xml) if isinstance(xml, str) else xml
    return (
        F.when(c.contains("<sitemapindex"), F.lit("index"))
        .otherwise(F.lit("urlset"))
    )


def split_locs(
    sitemaps: DataFrame, xml_col: str = "xml", exclude: bool = True
) -> DataFrame:
    """extract_locs + index routing: a loc mined from an index document is
    a CHILD SITEMAP (next fetch round's input), a loc from a urlset is a
    candidate page. Adds (doc_kind, loc_kind); the F1 exclusion filter
    applies only to page locs — child sitemap URLs are fetch targets, not
    crawl candidates, and excluding them would silently drop whole
    subtrees. Fixed-round expansion (fetch children → split_locs again)
    terminates because the protocol forbids index→index nesting beyond
    one level in practice; the caller owns the loop."""
    out = extract_locs(sitemaps, xml_col, exclude=False).withColumn(
        "doc_kind", classify_sitemap(xml_col)
    )
    out = out.withColumn(
        "loc_kind",
        F.when(F.col("doc_kind") == "index", F.lit("sitemap"))
        .otherwise(F.lit("page")),
    )
    if exclude:
        out = out.filter(
            (F.col("loc_kind") == "sitemap") | ~U.is_excluded("loc_url")
        )
    return out
