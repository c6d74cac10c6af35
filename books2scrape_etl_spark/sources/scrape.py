"""Web-scraping source, Spark-first (SURVEY.md §2.1 S1-S4, §2.10 U2).

The reference scrapes books.toscrape.com with a serial driver-side loop:
one HTTP GET per listing page and per book, BeautifulSoup parsing, a
Python list of dicts (extract_pipeline.py:57-90). Throughput ceiling:
~0.07 rows/s (BASELINE.md).

The Spark-native design decomposes that into relational stages over a
**URL frontier DataFrame**:

1. S4 ``page_range`` — ``spark.range`` -> listing-page URLs (a real
   distributed source, partitioned).
2. S1 ``fetch`` — ``mapInPandas`` over URL partitions; one HTTP session
   per partition (connection reuse), optional per-partition throttle
   (politeness — the site, not Spark, is the bottleneck at scale;
   SURVEY.md §7.4.5). Every action over an unstaged frame re-runs
   its fetch; ``plans.books.transform_books`` stages the parsed frame,
   so a live scrape is fetched (and parsed) once per ETL run.
3. S3 ``extract_links`` — listing HTML -> array of detail URLs ->
   ``explode`` (the 1->N fan-out the reference does with a Python loop,
   extract_pipeline.py:57-73).
4. S2 ``parse_book`` — detail HTML -> typed struct -> star-expanded
   columns (extract_pipeline.py:1-51).

Parsing uses stdlib ``re`` against the page structure (BeautifulSoup is
not in this container and a dependency the engine doesn't need: the
fields are table cells and well-known tags). Network access is gated:
tests and CI always run on local HTML fixtures via ``html_source``.
"""

from __future__ import annotations

import re
import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SITE_PREFIX = "http://books.toscrape.com/catalogue/"

RATING_WORDS = {"One": 1, "Two": 2, "Three": 3, "Four": 4, "Five": 5}

BOOK_STRUCT = T.StructType(
    [
        T.StructField("Title", T.StringType()),
        T.StructField("Description", T.StringType()),
        T.StructField("Category", T.StringType()),
        T.StructField("Image_link", T.StringType()),
        T.StructField("Is_in_Stock", T.BooleanType()),
        T.StructField("No_of_books_in_Stock", T.IntegerType()),
        T.StructField("Rating", T.IntegerType()),
        T.StructField("UPC", T.StringType()),
        T.StructField("Product Type", T.StringType()),
        T.StructField("Price (excl. tax)", T.StringType()),
        T.StructField("Price (incl. tax)", T.StringType()),
        T.StructField("Tax", T.StringType()),
        T.StructField("Number of reviews", T.StringType()),
    ]
)


def page_range(spark: SparkSession, n_pages: int) -> DataFrame:
    """S4 — page-range source (extract_pipeline.py:81-83 analogue):
    ``spark.range`` is a real partitioned source, so the frontier is
    parallel from the first stage."""
    return spark.range(1, n_pages + 1).select(
        F.col("id").alias("page_no"),
        F.format_string("http://books.toscrape.com/catalogue/page-%d.html", F.col("id")).alias(
            "url"
        ),
    )


def fetch(urls: DataFrame, url_col: str = "url", throttle_s: float = 0.0) -> DataFrame:
    """S1 — HTTP fetch as a partition-batched operator.

    One ``requests.Session`` per partition (socket reuse), optional
    sleep between requests (politeness). Failures yield null html —
    re-runnable/idempotent; the frontier row is never lost.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import requests

        session = requests.Session()
        for pdf in it:
            htmls = []
            for u in pdf[url_col]:
                try:
                    htmls.append(session.get(u, timeout=30).text)
                except Exception:
                    htmls.append(None)
                if throttle_s:
                    time.sleep(throttle_s)
            yield pdf.assign(html=htmls)

    schema = T.StructType(urls.schema.fields + [T.StructField("html", T.StringType())])
    return urls.mapInPandas(batches, schema)


def html_source(spark: SparkSession, pages: list[tuple[str, str]]) -> DataFrame:
    """Offline stand-in for :func:`fetch`: (url, html) literals — the
    fixture path used by tests/CI so parsing never needs the network.
    Coalesced to one partition: a handful of literal rows otherwise
    fans out over defaultParallelism partitions, each paying a Python
    worker spawn for the parse UDF."""
    return spark.createDataFrame(pages, "url string, html string").coalesce(1)


# --- parsing (S3, S2) ------------------------------------------------------

_ARTICLE_RE = re.compile(r'<article class="product_pod">.*?</article>', re.S)
_HREF_RE = re.compile(r'<h3>\s*<a href="([^"]+)"')


def _extract_links(html: str) -> list[str]:
    """Listing page -> up to 20 detail URLs (extract_pipeline.py:57-73:
    the reference iterates article tags and rewrites '../' paths)."""
    if not html:
        return []
    links = []
    for article in _ARTICLE_RE.findall(html)[:20]:
        m = _HREF_RE.search(article)
        if m:
            links.append(SITE_PREFIX + m.group(1).replace("../", ""))
    return links


def extract_links(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """S3 — 1->N fan-out as an iterator ``mapInPandas`` (SURVEY §7.2-7):
    one Python crossing per Arrow batch instead of one scalar-UDF call
    per row, with the fan-out (the reference's per-article loop,
    extract_pipeline.py:57-73) emitted directly as extra output rows —
    mapInPandas output cardinality is free, so no explode round trip."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            listing, urls = [], []
            for lu, html in zip(pdf["url"], pdf[html_col]):
                for link in _extract_links(html):
                    listing.append(lu)
                    urls.append(link)
            yield pd.DataFrame({"listing_url": listing, "url": urls})

    return pages.mapInPandas(batches, "listing_url string, url string")


def _first(pattern: str, html: str, flags: int = re.S) -> str | None:
    m = re.search(pattern, html, flags)
    return m.group(1).strip() if m else None


def _parse_book(html: str) -> dict | None:
    """Detail page -> 13 typed fields (extract_pipeline.py:1-51).

    Field-for-field parity with the reference parser: h1 title,
    breadcrumb category, star-rating class word, product-table cells,
    '(N available)' stock text, missing description default
    (extract_pipeline.py:10-11)."""
    if not html:
        return None
    title = _first(r"<h1>(.*?)</h1>", html)
    category = None
    crumbs = re.findall(r'<li>\s*<a href="[^"]*">([^<]+)</a>', html)
    if len(crumbs) >= 2:
        category = crumbs[-1].strip()
    rating_word = _first(r'star-rating (\w+)"', html)
    image = _first(r'<img src="([^"]+)"', html)
    desc = _first(r'<div id="product_description"[^>]*>.*?<p>(.*?)</p>', html)
    if desc is None:
        desc = "No description available"  # extract_pipeline.py:10-11

    cells = dict(
        re.findall(r"<th>([^<]+)</th>\s*<td>([^<]*)</td>", html)
    )
    availability = cells.get("Availability", "")
    in_stock = "In stock" in availability.split("(")[0]  # extract_pipeline.py:29,32
    stock_m = re.search(r"\((\d+) available\)", availability)
    stock = int(stock_m.group(1)) if stock_m else 0  # extract_pipeline.py:30,33

    return {
        "Title": title,
        "Description": desc,
        "Category": category,
        "Image_link": (SITE_PREFIX + image.replace("../", "")) if image else None,
        "Is_in_Stock": in_stock,
        "No_of_books_in_Stock": stock,
        "Rating": RATING_WORDS.get(rating_word, 0),  # extract_pipeline.py:92-94
        "UPC": cells.get("UPC"),
        "Product Type": cells.get("Product Type"),
        "Price (excl. tax)": cells.get("Price (excl. tax)"),
        "Price (incl. tax)": cells.get("Price (incl. tax)"),
        "Tax": cells.get("Tax"),
        "Number of reviews": cells.get("Number of reviews"),
    }


def parse_books(detail_pages: DataFrame, html_col: str = "html") -> DataFrame:
    """S2 — HTML -> typed book columns, batched: iterator ``mapInPandas``
    crosses into Python once per Arrow batch (SURVEY §7.2-7; the former
    per-row scalar UDF paid serialization per page), and unparseable
    pages drop inside the batch (no separate null-filter stage)."""
    cols = [f.name for f in BOOK_STRUCT.fields]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            recs = [r for r in (_parse_book(h) for h in pdf[html_col]) if r is not None]
            yield pd.DataFrame(recs, columns=cols)

    return detail_pages.mapInPandas(batches, BOOK_STRUCT)


def scrape_books(spark: SparkSession, n_pages: int, throttle_s: float = 0.5) -> DataFrame:
    """End-to-end live pipeline (network!): page range -> fetch listing
    -> explode links -> fetch detail -> parse. Never called in tests/CI;
    the offline path swaps both fetches for ``html_source`` fixtures."""
    listings = fetch(page_range(spark, n_pages), throttle_s=throttle_s)
    details = fetch(extract_links(listings), throttle_s=throttle_s)
    return parse_books(details)
