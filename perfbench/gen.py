"""Seeded input generators for the perfbench workloads.

Pure Python + numpy + pyarrow: nothing here imports Spark or the engine
package, so the inputs (and the answers the output checks expect) are
computed independently of the code under test. The same seed always
gives byte-identical inputs.

- :func:`books_catalog` renders a books.toscrape.com-shaped site (50
  listing pages x 20 detail pages) from the benchmark's own template and
  computes the five report summary values in plain Python.
- :func:`write_star_tables` writes TPC-H-shaped star tables (the columns
  and value domains the analytic qnames read) as parquet.
- :func:`write_corpus` writes a Zipf-vocabulary document corpus with
  planted exact and near duplicates, plus clustered embeddings.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SITE = "http://books.toscrape.com/"
CATALOGUE = SITE + "catalogue/"

# books.toscrape.com's category list (the site has exactly these 50)
CATEGORIES = (
    "Travel", "Mystery", "Historical Fiction", "Sequential Art", "Classics",
    "Philosophy", "Romance", "Womens Fiction", "Fiction", "Childrens",
    "Religion", "Nonfiction", "Music", "Default", "Science Fiction",
    "Sports and Games", "Add a comment", "Fantasy", "New Adult", "Young Adult",
    "Science", "Poetry", "Paranormal", "Art", "Psychology", "Autobiography",
    "Parenting", "Adult Fiction", "Humor", "Horror", "History",
    "Food and Drink", "Christian Fiction", "Business", "Biography",
    "Thriller", "Contemporary", "Spirituality", "Academic",
    "Self Help", "Historical", "Christian", "Suspense", "Short Stories",
    "Novels", "Health", "Politics", "Cultural", "Erotica", "Crime",
)
RATING_WORDS = ("One", "Two", "Three", "Four", "Five")
_TITLE_WORDS = (
    "light attic velvet soumission sharp objects sapiens requiem dead "
    "coming woman boys boat rise starving artist shakespeare sonnets set "
    "free black maria bright hidden secret garden silent river winter "
    "summer night city stars ocean glass iron paper golden empty last "
    "first little great lost broken wild quiet house road fire water"
).split()
_DESC_WORDS = (
    "a an the story of in on with about life love young old world time "
    "family friend journey heart war city secret history novel author "
    "reader page book dream memory truth power years home woman man"
).split()


# ---------------------------------------------------------------------------
# books_etl: a rendered catalogue
# ---------------------------------------------------------------------------


@dataclass
class Catalog:
    """One scheduled run's input: the site's pages plus expected answers."""

    listings: list[tuple[str, str]]  # (listing url, html)
    details: dict[str, str]  # detail url -> html
    detail_urls: list[str]  # in listing order
    categories: set[str]
    summary: dict[str, float | int]  # the five report values
    html_bytes: int = 0


def _inventory_total(prices: list[float], stocks: list[int]) -> float:
    """SUM(CAST(price * stock AS DECIMAL(18,4))) cast to double — the
    report's exact-decimal inventory sum, computed with ``decimal``."""
    q = Decimal("0.0001")
    total = sum(
        (Decimal(repr(p * s)).quantize(q, rounding=ROUND_HALF_UP) for p, s in zip(prices, stocks)),
        Decimal(0),
    )
    return float(total)


def _listing_html(page_no: int, n_pages: int, books: list[dict]) -> str:
    pods = "\n".join(
        f"""<li class="col-xs-6 col-sm-4 col-md-3 col-lg-3">
<article class="product_pod">
  <div class="image_container"><a href="{b['slug']}/index.html"><img src="../media/cache/{b['upc'][:2]}/{b['upc'][2:4]}/{b['upc']}.jpg" alt="{b['title']}" class="thumbnail"></a></div>
  <p class="star-rating {b['rating_word']}"><i class="icon-star"></i><i class="icon-star"></i><i class="icon-star"></i><i class="icon-star"></i><i class="icon-star"></i></p>
  <h3><a href="{b['slug']}/index.html" title="{b['title']}">{b['title'][:40]}</a></h3>
  <div class="product_price"><p class="price_color">Â£{b['price']}</p>
    <p class="instock availability"><i class="icon-ok"></i> {'In stock' if b['in_stock'] else 'Out of stock'}</p>
    <form><button type="submit" class="btn btn-primary btn-block" data-loading-text="Adding...">Add to basket</button></form>
  </div>
</article>
</li>"""
        for b in books
    )
    return f"""<!DOCTYPE html>
<html lang="en-us" class="no-js"><head><title>All products | Books to Scrape - Sandbox</title>
<meta http-equiv="content-type" content="text/html; charset=UTF-8" /></head>
<body id="default" class="default"><header class="header container-fluid"><div class="page_inner"><div class="row">
<div class="col-sm-8 h1"><a href="../index.html">Books to Scrape</a><small> We love being scraped!</small></div></div></div></header>
<div class="container-fluid page"><div class="page_inner"><ul class="breadcrumb"><li><a href="../index.html">Home</a></li><li class="active">All products</li></ul>
<div class="row"><div class="col-sm-8 col-md-9"><div class="page-header action"><h1>All products</h1></div>
<form method="get" class="form-horizontal"><strong>1000</strong> results - showing <strong>{20 * (page_no - 1) + 1}</strong> to <strong>{20 * page_no}</strong>.</form>
<section><div><ol class="row">
{pods}
</ol>
<div><ul class="pager"><li class="current">Page {page_no} of {n_pages}</li></ul></div></div></section></div></div></div></div>
</body></html>"""


def _detail_html(b: dict) -> str:
    desc_html = (
        '<div id="product_description" class="sub-header"><h2>Product Description</h2></div>\n'
        f"<p>{b['description']}</p>"
        if b["description"] is not None
        else ""
    )
    availability = (
        f"In stock ({b['stock']} available)" if b["in_stock"] else "Out of stock"
    )
    return f"""<!DOCTYPE html>
<html lang="en-us" class="no-js"><head><title>{b['title']} | Books to Scrape - Sandbox</title>
<meta http-equiv="content-type" content="text/html; charset=UTF-8" /></head>
<body id="default" class="default"><header class="header container-fluid"><div class="page_inner"><div class="row">
<div class="col-sm-8 h1"><a href="../../index.html">Books to Scrape</a><small> We love being scraped!</small></div></div></div></header>
<div class="container-fluid page"><div class="page_inner">
<ul class="breadcrumb">
    <li><a href="../../index.html">Home</a></li>
    <li><a href="../category/books_1/index.html">Books</a></li>
    <li><a href="../category/books/{b['category_slug']}/index.html">{b['category']}</a></li>
    <li class="active">{b['title']}</li>
</ul>
<div id="messages"></div>
<div class="content"><div id="promotions"></div><div id="content_inner">
<article class="product_page"><div class="row">
<div class="col-sm-6"><div id="product_gallery" class="carousel"><div class="thumbnail"><div class="carousel-inner">
<div class="item active"><img src="../../media/cache/{b['upc'][:2]}/{b['upc'][2:4]}/{b['upc']}.jpg" alt="{b['title']}" /></div>
</div></div></div></div>
<div class="col-sm-6 product_main"><h1>{b['title']}</h1>
<p class="price_color">Â£{b['price']}</p>
<p class="instock availability"><i class="icon-ok"></i> {availability}</p>
<p class="star-rating {b['rating_word']}"><i class="icon-star"></i><i class="icon-star"></i><i class="icon-star"></i><i class="icon-star"></i><i class="icon-star"></i></p>
<hr/></div></div>
{desc_html}
<div class="sub-header"><h2>Product Information</h2></div>
<table class="table table-striped">
<tr><th>UPC</th><td>{b['upc']}</td></tr>
<tr><th>Product Type</th><td>Books</td></tr>
<tr><th>Price (excl. tax)</th><td>Â£{b['price']}</td></tr>
<tr><th>Price (incl. tax)</th><td>Â£{b['price']}</td></tr>
<tr><th>Tax</th><td>Â£0.00</td></tr>
<tr><th>Availability</th><td>{availability}</td></tr>
<tr><th>Number of reviews</th><td>{b['reviews']}</td></tr>
</table>
</article></div></div></div></div>
</body></html>"""


def books_catalog(seed: int, iteration: int, n_books: int = 1000, per_page: int = 20) -> Catalog:
    """A fresh ``n_books`` catalogue for (seed, iteration).

    Categories are drawn Zipf-like from the site's 50, so the number of
    distinct categories (dim_category's row count) varies with the seed.
    About 5% of books are out of stock and 10% have no description.
    """
    rng = np.random.default_rng([seed, iteration, 1])
    cat_w = 1.0 / np.arange(1, len(CATEGORIES) + 1) ** 1.1
    cat_w /= cat_w.sum()
    cats = rng.choice(len(CATEGORIES), size=n_books, p=cat_w)
    books = []
    for k in range(n_books):
        words = rng.choice(len(_TITLE_WORDS), size=int(rng.integers(1, 5)))
        title = " ".join(_TITLE_WORDS[w] for w in words).title()
        book_no = n_books - k
        slug = re.sub(r"[^a-z0-9]+", "-", title.lower()).strip("-") + f"_{book_no}"
        in_stock = bool(rng.random() >= 0.05)
        if rng.random() < 0.10:
            description = None
        else:
            dw = rng.choice(len(_DESC_WORDS), size=int(rng.integers(20, 80)))
            description = " ".join(_DESC_WORDS[w] for w in dw).capitalize()
            if rng.random() < 0.3:
                description += " ...more"
        cat = CATEGORIES[int(cats[k])]
        books.append(
            {
                "title": title,
                "slug": slug,
                "category": cat,
                "category_slug": cat.lower().replace(" ", "-") + f"_{int(cats[k]) + 2}",
                "rating_word": RATING_WORDS[int(rng.integers(0, 5))],
                "price": f"{int(rng.integers(1000, 6000)) / 100:.2f}",
                "in_stock": in_stock,
                "stock": int(rng.integers(1, 23)) if in_stock else 0,
                "upc": "".join(f"{b:02x}" for b in rng.integers(0, 256, size=8)),
                "description": description,
                "reviews": 0,
            }
        )
    n_pages = (n_books + per_page - 1) // per_page
    listings, details, detail_urls = [], {}, []
    for p in range(n_pages):
        page_books = books[p * per_page : (p + 1) * per_page]
        listings.append((f"{CATALOGUE}page-{p + 1}.html", _listing_html(p + 1, n_pages, page_books)))
        for b in page_books:
            url = f"{CATALOGUE}{b['slug']}/index.html"
            detail_urls.append(url)
            details[url] = _detail_html(b)
    prices = [float(b["price"]) for b in books]
    stocks = [b["stock"] for b in books]
    summary = {
        "total_books": n_books,
        "total_categories": len({b["category"] for b in books}),
        "total_inventory_value": _inventory_total(prices, stocks),
        "avg_rating": float(sum(RATING_WORDS.index(b["rating_word"]) + 1 for b in books)) / n_books,
        "books_in_stock": sum(1 for b in books if b["in_stock"]),
    }
    html_bytes = sum(len(h) for _, h in listings) + sum(len(h) for h in details.values())
    return Catalog(
        listings=listings,
        details=details,
        detail_urls=detail_urls,
        categories={b["category"] for b in books},
        summary=summary,
        html_bytes=html_bytes,
    )


# ---------------------------------------------------------------------------
# star_analytics: TPC-H-shaped tables
# ---------------------------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
P_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_DAY_US = 86_400 * 1_000_000


def _days(start: str, rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + (rng.integers(lo, hi, size=n) * _DAY_US).astype("timedelta64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), size=n) / 100.0, 2)


def star_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """TPC-H-shaped tables at scale factor ``sf`` (lineitem ~ 6M x sf)."""
    rng = np.random.default_rng([seed, 2])
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_li = max(int(6_000_000 * sf), 400)
    n_ev = max(int(1_000_000 * sf), 100)
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": list(REGIONS)}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, size=n_cust).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, size=n_cust)],
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, size=n_supp).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype="int64")
    t["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, size=n_part), rng.integers(0, 8, size=n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, size=n_part)],
            "p_type": np.array(P_TYPES, dtype=object)[rng.integers(0, 6, size=n_part)],
            "p_size": rng.integers(1, 51, size=n_part).astype("int32"),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, size=n_ord).astype("int64"),
            "o_orderstatus": np.array(("F", "O", "P"), dtype=object)[rng.integers(0, 3, size=n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days("1995-01-01", rng, 0, 2404, n_ord),
            "o_orderpriority": np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, size=n_ord)],
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, size=n_li).astype("int64"),
            "l_partkey": rng.integers(0, n_part, size=n_li).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, size=n_li).astype("int64"),
            "l_linenumber": rng.integers(1, 8, size=n_li).astype("int32"),
            "l_quantity": rng.integers(1, 51, size=n_li).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
            "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
            "l_returnflag": np.array(("A", "N", "R"), dtype=object)[rng.integers(0, 3, size=n_li)],
            "l_linestatus": np.array(("F", "O"), dtype=object)[rng.integers(0, 2, size=n_li)],
            "l_shipdate": _days("1995-01-02", rng, 0, 2498, n_li),
        }
    )
    gaps = rng.exponential(30 * 86_400 * 1_000_000 / n_ev, size=n_ev).astype("int64")
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(n_ev // 66, 10), size=n_ev).astype("int64"),
            "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, size=n_ev)],
            "value": np.round(rng.gamma(1.5, 30.0, size=n_ev) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)],
        }
    )
    return t


def write_star_tables(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """One parquet file per table (``<name>.parquet``); returns row counts."""
    tables = star_tables(seed, sf)
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False), os.path.join(out_dir, f"{name}.parquet")
        )
    return {name: len(df) for name, df in tables.items()}


# ---------------------------------------------------------------------------
# llm_curation: a corpus with planted duplicates, plus embeddings
# ---------------------------------------------------------------------------

# mirrors the engine's language-ID stopword sets; the generator keeps
# its content vocabulary disjoint from them so planted languages hold
STOPWORDS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "les"),
    "es": ("el", "que", "de"),
}
_SYLLABLES = (
    "ka lo mi ra ven tor sul bre pin dax qui zor fel mon tas gri hul "
    "nep cor vid sam bol rek tiv nar pol gus fen lim dor wex"
).split()


def normalize(text: str) -> str:
    """The dedup fingerprint's canonical form, in plain Python."""
    return re.sub(r"[^a-z0-9]+", " ", text.lower()).strip()


@dataclass
class Corpus:
    texts: list[str]
    langs: list[str]
    base_count: int  # documents that are neither exact nor near copies
    n_exact: int
    n_near: int
    distinct_normalized: int
    embeddings: np.ndarray  # (n_vec, dim) float32
    labels: np.ndarray
    query_ids: list[int]


def corpus(
    seed: int,
    n_docs: int,
    n_vec: int = 3000,
    dim: int = 64,
    n_queries: int = 20,
    exact_share: float = 0.05,
    near_share: float = 0.10,
    edit_share: float = 0.05,
) -> Corpus:
    """Documents over a Zipf vocabulary in 4 stopword languages plus
    'unknown'; ``exact_share`` of them are exact copies of a base
    document (with case and punctuation changed, so only the normalised
    text matches) and ``near_share`` are copies with ``edit_share`` of
    their words replaced."""
    rng = np.random.default_rng([seed, 3])
    stop = {w for ws in STOPWORDS.values() for w in ws}
    vocab: list[str] = []
    seen: set[str] = set()
    while len(vocab) < 5000:
        w = "".join(rng.choice(_SYLLABLES, size=int(rng.integers(1, 4))))
        if w not in seen and w not in stop:
            seen.add(w)
            vocab.append(w)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 1.07
    zipf /= zipf.sum()
    langs_all = ("en", "de", "fr", "es", "unknown")

    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_base = n_docs - n_exact - n_near
    texts: list[str] = []
    langs: list[str] = []
    for _ in range(n_base):
        lang = langs_all[int(rng.integers(0, 5))]
        n_words = int(rng.integers(30, 121))
        words = [vocab[i] for i in rng.choice(len(vocab), size=n_words, p=zipf)]
        if lang != "unknown":
            sw = STOPWORDS[lang]
            for pos in rng.choice(n_words, size=max(1, n_words // 8), replace=False):
                words[int(pos)] = sw[int(rng.integers(0, 3))]
        # sentences: capitalised, period-terminated, the odd comma and number
        out, start = [], True
        for j, w in enumerate(words):
            tok = w.capitalize() if start else w
            start = False
            r = rng.random()
            if r < 0.08:
                tok += "."
                start = True
            elif r < 0.12:
                tok += ","
            elif r < 0.13:
                tok += f" {int(rng.integers(1, 2000))}"
            out.append(tok)
        texts.append(" ".join(out) + ".")
        langs.append(lang)
    for _ in range(n_exact):
        src = int(rng.integers(0, n_base))
        t = texts[src]
        texts.append(t.upper() if rng.random() < 0.5 else t.replace(".", " ;"))
        langs.append(langs[src])
    for _ in range(n_near):
        src = int(rng.integers(0, n_base))
        words = texts[src].split(" ")
        k = max(1, int(round(len(words) * edit_share)))
        for pos in rng.choice(len(words), size=k, replace=False):
            words[int(pos)] = vocab[int(rng.integers(len(vocab) // 2, len(vocab)))]
        texts.append(" ".join(words))
        langs.append(langs[src])
    # shuffle so copies are interleaved with (and may precede) their sources
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    langs = [langs[i] for i in order]

    centers = rng.normal(size=(30, dim))
    labels = rng.integers(0, 30, size=n_vec)
    emb = (centers[labels] + 0.6 * rng.normal(size=(n_vec, dim))).astype("float32")
    query_ids = sorted(int(q) for q in rng.choice(n_vec, size=n_queries, replace=False))
    return Corpus(
        texts=texts,
        langs=langs,
        base_count=n_base,
        n_exact=n_exact,
        n_near=n_near,
        distinct_normalized=len({normalize(t) for t in texts}),
        embeddings=emb,
        labels=labels.astype("int32"),
        query_ids=query_ids,
    )


def write_corpus(c: Corpus, out_dir: str) -> dict[str, int]:
    """``documents.parquet`` and ``embeddings.parquet`` in the testdata
    schema, so the engine reads them through ``io.read_table``."""
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(len(c.texts), dtype="int64"),
            "text": c.texts,
            "lang": c.langs,
            "source": [f"src{i % 20}" for i in range(len(c.texts))],
            "n_chars": np.array([len(t) for t in c.texts], dtype="int64"),
        }
    )
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(len(c.embeddings), dtype="int64")),
            "embedding": pa.array(list(c.embeddings), type=pa.list_(pa.float32())),
            "label": pa.array(c.labels),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"documents": len(docs), "embeddings": len(c.embeddings)}


def topk_reference(emb: np.ndarray, query_ids: list[int], k: int) -> dict[int, list[tuple[int, float]]]:
    """Exact cosine top-k per query, excluding the query itself, with the
    engine's arithmetic: float32 inputs widened to double, dot products
    and squared norms summed left to right in index order."""
    e = emb.astype("float64")
    norms = np.zeros(len(e))
    for j in range(e.shape[1]):
        norms = norms + e[:, j] * e[:, j]
    norms = np.sqrt(norms)
    out = {}
    for q in query_ids:
        dots = np.zeros(len(e))
        for j in range(e.shape[1]):
            dots = dots + e[q, j] * e[:, j]
        cos = dots / (norms[q] * norms)
        cos[q] = -np.inf
        idx = np.lexsort((np.arange(len(e)), -cos))[:k]
        out[q] = [(int(i), float(cos[i])) for i in idx]
    return out
