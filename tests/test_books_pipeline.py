"""Golden-output tests for the books ETL transform on the boundary
fixture (FIXTURES.md §A invariants)."""

import pytest
from pyspark.sql import functions as F

from books2scrape_etl_spark.plans.books import (
    DIM_SPECS,
    PRICE_EXCL,
    clean_books,
    transform_books,
)
from books2scrape_etl_spark.plans.report import SUMMARY_KEYS, summary_aggregates
from tests.fixtures import BOOKS_RAW_ROWS, books_raw_df


@pytest.fixture(scope="module")
def cleaned(spark):
    df = clean_books(books_raw_df(spark))
    df.cache()
    return df


def test_currency_cleaned(cleaned):
    rows = {r["Title"]: r for r in cleaned.collect()}
    assert rows["edge0"][PRICE_EXCL] == 10.0
    assert rows["plain-price"][PRICE_EXCL] == 23.88
    assert rows["pound-sign"][PRICE_EXCL] == 10.0
    # Tax 'Â£0.00' -> 0.0 everywhere
    assert all(r["Tax"] == 0.0 for r in rows.values())


def test_description_cleaned(cleaned):
    rows = {r["Title"]: r for r in cleaned.collect()}
    assert rows["suffix"]["Description"] == "Great story"  # ' ...more' stripped
    assert rows["nodesc"]["Description"] == ""  # null -> ''
    # cp1252 mojibake 'â€™' -> right single quote (reference round trip)
    assert rows["mojibake"]["Description"] == "It’s good"


def test_stock_bins_half_open(cleaned):
    rows = {r["Title"]: r["Stock_Bin"] for r in cleaned.collect()}
    assert rows["edge0"] == "Critical"
    assert rows["edge9"] == "Critical"
    assert rows["edge10"] == "Low"  # right=False: 10 goes UP
    assert rows["edge17"] == "Low"
    assert rows["edge18"] == "Healthy"  # 18 goes UP
    assert rows["edge19"] == "Healthy"
    assert rows["edge100000"] is None  # out of range -> null


def test_binary_flag_and_inventory(cleaned):
    rows = {r["Title"]: r for r in cleaned.collect()}
    assert rows["oos"]["In_Stock_Binary"] == 0
    assert rows["edge10"]["In_Stock_Binary"] == 1
    assert rows["edge10"]["Inventory Value"] == pytest.approx(200.0)
    assert "Is_in_Stock" not in cleaned.columns  # P5 drop


def test_price_tiers_balanced(cleaned):
    tiers = [r["Price_Tier"] for r in cleaned.collect()]
    assert set(tiers) == {"Budget", "Standard", "Premium"}
    n = len(tiers)
    for t in ("Budget", "Standard", "Premium"):
        assert abs(tiers.count(t) - n / 3) <= 1  # ntile balance


def test_star_schema_invariants(spark):
    raw = books_raw_df(spark)
    cleaned, dims, fact = transform_books(raw)
    n_cleaned = cleaned.count()
    # fact <-> dim round trip lossless (J1-J4 incl. null-key rows)
    assert fact.count() == n_cleaned
    for name, (natural_key, id_col) in DIM_SPECS.items():
        dim = dims[name]
        ids = [r[id_col] for r in dim.select(id_col).collect()]
        # surrogate keys dense, unique, 1-based (D3)
        assert sorted(ids) == list(range(1, len(ids) + 1)), name
        # distinct: dim rows == distinct natural keys (D1/D2)
        assert dim.count() == cleaned.select(*natural_key).distinct().count(), name
        # referential integrity: every fact id exists in the dim
        unmatched = fact.join(dim, on=id_col, how="left_anti").count()
        assert unmatched == 0, name
    # duplicate full rows collapsed in dim_book but kept in fact
    dup_rows = fact.count() - fact.dropDuplicates().count()
    assert dup_rows >= 1  # the two identical 'dup' rows


def test_summary_aggregates(spark):
    raw = books_raw_df(spark)
    cleaned, dims, fact = transform_books(raw)
    row = summary_aggregates(cleaned).collect()[0].asDict()
    assert set(row) == set(SUMMARY_KEYS)
    assert row["total_books"] == len(BOOKS_RAW_ROWS)
    assert row["total_categories"] == 4  # Fiction, Travel, Poetry, History
    n_in_stock = sum(1 for r in BOOKS_RAW_ROWS if r[4])
    assert row["books_in_stock"] == n_in_stock
    expect_avg = sum(r[6] for r in BOOKS_RAW_ROWS) / len(BOOKS_RAW_ROWS)
    assert row["avg_rating"] == pytest.approx(expect_avg)


def test_clean_currency_idempotent(spark):
    from books2scrape_etl_spark.functions.columns import clean_currency

    df = books_raw_df(spark).select(clean_currency(PRICE_EXCL).alias("once"))
    twice = df.select(clean_currency(F.col("once")).alias("twice"))
    assert [r["twice"] for r in twice.collect()] == [r["once"] for r in df.collect()]


def test_books_run_parses_each_page_once(spark, tmp_path):
    """One ETL run (transform, the 5 parquet sinks, the report) reads
    the HTML source once: the parsed frame is staged in
    ``transform_books``, so the probes, sinks and report do not re-run
    the source and its Python parse per action."""
    from books2scrape_etl_spark.io import write_parquet
    from books2scrape_etl_spark.plans.report import run_report
    from books2scrape_etl_spark.sources.fixtures_html import DETAIL_PAGES
    from books2scrape_etl_spark.sources.scrape import html_source, parse_books

    pages_read = spark.sparkContext.accumulator(0)

    def count_pages(batches):
        for pdf in batches:
            pages_read.add(len(pdf))
            yield pdf

    pages = html_source(spark, DETAIL_PAGES).mapInPandas(
        count_pages, "url string, html string"
    )
    cleaned, dims, fact = transform_books(parse_books(pages))
    for name, dim in dims.items():
        write_parquet(dim, str(tmp_path / name))
    write_parquet(fact, str(tmp_path / "fact"))
    assert run_report(cleaned)["total_books"] == len(DETAIL_PAGES)
    assert pages_read.value == len(DETAIL_PAGES)
