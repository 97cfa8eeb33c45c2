"""Sitemap (sitemaps.org XML) generation, parsing, and crawl-coverage
audit — the discovery-side complement to robots.txt: a crawl operator
compares what each domain ADVERTISES (its sitemap <loc> entries) against
what was actually crawled, yielding per-domain coverage statistics.

Spark shape: sitemap XML bodies are per-domain documents built with one
groupBy + collect_list (bounded by a domain's advertised url count, the
same cardinality a real sitemap file has); building and parsing the XML
are per-row kernels over stdlib ElementTree, mapped by the package's row
stage (`rows.map_rows`); the audit is one full-outer equi-join on
(host, url) followed by a per-host aggregate.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .rows import map_rows

_NS = "http://www.sitemaps.org/schemas/sitemap/0.9"


def build_sitemap(urls: list[str]) -> str:
    """One urlset document listing `urls` in order."""
    root = ET.Element(f"{{{_NS}}}urlset")
    for u in urls:
        el = ET.SubElement(root, f"{{{_NS}}}url")
        ET.SubElement(el, f"{{{_NS}}}loc").text = u
    return ET.tostring(root, encoding="unicode")


def parse_sitemap(xml_text: str) -> list[str]:
    """<loc> entries of a urlset document; raises ValueError on malformed
    XML (quarantine class)."""
    try:
        root = ET.fromstring(xml_text)
    except ET.ParseError as exc:
        raise ValueError(f"malformed sitemap XML: {exc}") from exc
    return [
        loc.text or ""
        for loc in root.findall(f"{{{_NS}}}url/{{{_NS}}}loc")
    ]


def sitemaps_from_pages(
    pages: DataFrame, advertise_filter
) -> DataFrame:
    """(host, sitemap_xml): each domain advertises the subset of its page
    urls passing `advertise_filter` (a Column predicate over the page
    row). sort_array makes the per-domain document deterministic."""
    adv = pages.where(advertise_filter).select(
        F.try_parse_url(F.col("url"), F.lit("HOST")).alias("host"), "url"
    )
    grouped = adv.groupBy("host").agg(
        F.sort_array(F.collect_list("url")).alias("urls")
    )
    return map_rows(
        grouped,
        ["host", "urls"],
        T.StructType.fromDDL("host string, sitemap_xml string"),
        lambda host, urls: [{"host": host, "sitemap_xml": build_sitemap(urls)}],
    )


def sitemap_coverage(pages: DataFrame, sitemaps: DataFrame) -> DataFrame:
    """Per-host crawl-coverage audit: n_advertised (sitemap <loc> count),
    n_crawled, n_matched (advertised AND crawled). The sitemap side is
    re-expanded through the REAL XML parser, so the statistic exercises
    build -> parse -> join end-to-end."""
    # distinct BOTH sides: a re-crawled url (or a sitemap listing one loc
    # twice) must count once, or the full-outer join multiplies rows and
    # the audit reports >100% coverage
    advertised = (
        map_rows(
            sitemaps,
            ["host", "sitemap_xml"],
            T.StructType.fromDDL("host string, url string"),
            lambda host, xml: ({"host": host, "url": u} for u in parse_sitemap(xml)),
        )
        .distinct()
        .withColumn("adv", F.lit(1))
    )
    crawled = (
        pages.select(
            F.try_parse_url(F.col("url"), F.lit("HOST")).alias("host"), "url"
        )
        .distinct()
        .withColumn("crawl", F.lit(1))
    )
    joined = advertised.join(crawled, ["host", "url"], "full_outer")
    return joined.groupBy("host").agg(
        F.count_if(F.col("adv").isNotNull()).alias("n_advertised"),
        F.count_if(F.col("crawl").isNotNull()).alias("n_crawled"),
        F.count_if(
            F.col("adv").isNotNull() & F.col("crawl").isNotNull()
        ).alias("n_matched"),
    )
