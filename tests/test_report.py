"""Report layer tests: summary contract, HTML render, gate, SMTP no-op."""

import pytest

from books2scrape_etl_spark.plans.report import (
    SUMMARY_KEYS,
    quality_gate,
    render_html_report,
    run_report,
    send_report,
)
from tests.fixtures import books_raw_df


def test_render_html_contains_all_keys():
    summary = dict.fromkeys(SUMMARY_KEYS, 1)
    html = render_html_report(summary, generated_at="2026-01-01")
    for k in SUMMARY_KEYS:
        assert k in html
    assert html.startswith("<html>")


def test_render_html_missing_key_raises():
    with pytest.raises(KeyError):
        render_html_report({"total_books": 1})  # airflow.py:123-126 analogue


def test_quality_gate(spark):
    with pytest.raises(ValueError):
        quality_gate(spark.createDataFrame([], "a int"))


def test_send_report_noop_without_config(monkeypatch):
    monkeypatch.delenv("SMTP_HOST", raising=False)
    monkeypatch.delenv("SMTP_PASSWORD", raising=False)
    assert send_report("<html></html>") is False


def test_run_report_end_to_end(spark, monkeypatch):
    monkeypatch.delenv("SMTP_HOST", raising=False)
    from books2scrape_etl_spark.plans.books import clean_books

    cleaned = clean_books(books_raw_df(spark))
    summary = run_report(cleaned)
    assert set(summary) == set(SUMMARY_KEYS)
    assert summary["total_books"] > 0


def test_run_report_empty_raises(spark, monkeypatch):
    monkeypatch.delenv("SMTP_HOST", raising=False)
    from books2scrape_etl_spark.io import BOOKS_RAW_SCHEMA
    from books2scrape_etl_spark.plans.books import clean_books

    empty = spark.createDataFrame([], BOOKS_RAW_SCHEMA)
    with pytest.raises(ValueError):
        run_report(clean_books(empty))


def test_observed_pipeline_metrics(spark):
    from books2scrape_etl_spark.plans.books import clean_books
    from books2scrape_etl_spark.plans.report import observed_pipeline
    from tests.fixtures import BOOKS_RAW_ROWS

    cleaned = clean_books(books_raw_df(spark))
    observed, obs = observed_pipeline(cleaned)
    n = observed.count()  # the action the metrics piggyback on
    assert obs.get["rows_seen"] == n == len(BOOKS_RAW_ROWS)
    assert obs.get["inventory_total"] > 0


def test_format_summary_reference_parity():
    from books2scrape_etl_spark.plans.report import format_summary

    got = format_summary(
        {
            "total_books": 20,
            "total_categories": 5,
            "total_inventory_value": 1031.8599999999999,
            "avg_rating": 2.95,
            "books_in_stock": 12,
        }
    )
    # airflow.py:104-105: f"${x:.2f}" / f"{x:.2f}"
    assert got["total_inventory_value"] == "$1031.86"
    assert got["avg_rating"] == "2.95"
    assert got["total_books"] == 20 and got["books_in_stock"] == 12


def test_run_with_policy_retries_transient_failure():
    from books2scrape_etl_spark.orchestration import run_with_policy

    calls = []

    def flaky():
        calls.append(1)
        if len(calls) < 2:
            raise RuntimeError("transient")
        return "ok"

    assert run_with_policy(flaky, retries=1, retry_delay=0.0) == "ok"
    assert len(calls) == 2


def test_run_with_policy_exhausted_fires_on_failure():
    import pytest

    from books2scrape_etl_spark.orchestration import run_with_policy

    seen = []

    def always_fails():
        raise ValueError("boom")

    with pytest.raises(ValueError):
        run_with_policy(
            always_fails, retries=2, retry_delay=0.0, on_failure=lambda e: seen.append(e)
        )
    assert len(seen) == 1 and isinstance(seen[0], ValueError)


def test_run_with_policy_timeout():
    import time

    import pytest

    from books2scrape_etl_spark.orchestration import PipelineTimeout, run_with_policy

    with pytest.raises(PipelineTimeout):
        run_with_policy(lambda: time.sleep(5), retries=0, timeout=0.2)


def test_single_flight_blocks_second_entry():
    import pytest

    from books2scrape_etl_spark.orchestration import AlreadyRunning, single_flight

    with single_flight("t_sf"):
        with pytest.raises(AlreadyRunning):
            with single_flight("t_sf"):
                pass
    # lock released -> re-entry fine
    with single_flight("t_sf"):
        pass
