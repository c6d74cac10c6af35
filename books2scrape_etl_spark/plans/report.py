"""Summary aggregates + report sink (SURVEY.md §2.6 A1-A5, §2.1 S8-S9).

The reference computes five scalar aggregates in driver-side pandas
(airflow.py:101-107), renders a styled HTML email (airflow.py:128-188)
and sends it over SMTP (airflow.py:196-229). Here the aggregates are a
single one-row Spark plan (one pass, map-side partial aggregation); the
HTML render and SMTP send are terminal driver-side actions on that one
collected row — the only ``collect()`` in the engine, by design.
"""

from __future__ import annotations

import os
import smtplib
from email.mime.multipart import MIMEMultipart
from email.mime.text import MIMEText

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from books2scrape_etl_spark.functions.agg import avg_exact, sum_exact
from books2scrape_etl_spark.functions.util import to_col

SUMMARY_KEYS = (
    "total_books",
    "total_categories",
    "total_inventory_value",
    "avg_rating",
    "books_in_stock",
)


def summary_aggregates(
    cleaned: DataFrame,
    category_col: str = "Category",
    inventory_col: str = "Inventory Value",
    rating_col: str = "Rating",
    in_stock_col: str = "In_Stock_Binary",
) -> DataFrame:
    """A1-A5 as ONE global aggregation (airflow.py:101-107 analogue).

    COUNT(*), COUNT(DISTINCT category), SUM(inventory value),
    AVG(rating), conditional count (sum of the 0/1 flag). One job, one
    shuffle-free partial+final agg; the reference needed a full pandas
    DataFrame in driver RAM for the same five numbers.
    """
    return cleaned.agg(
        F.count(F.lit(1)).alias("total_books"),
        F.countDistinct(category_col).alias("total_categories"),
        sum_exact(inventory_col, scale=4).alias("total_inventory_value"),
        avg_exact(rating_col, scale=2).alias("avg_rating"),
        F.sum(F.col(in_stock_col).cast("long")).alias("books_in_stock"),
    )


def format_summary(summary: dict) -> dict:
    """Reference display formatting (airflow.py:104-105 parity):
    ``total_inventory_value`` as ``f"${x:.2f}"`` and ``avg_rating`` as
    ``f"{x:.2f}"``; counts pass through as ints. Returns a new dict of
    display strings — raw numerics stay available in the input."""
    out = dict(summary)
    if summary.get("total_inventory_value") is not None:
        out["total_inventory_value"] = f"${float(summary['total_inventory_value']):.2f}"
    if summary.get("avg_rating") is not None:
        out["avg_rating"] = f"{float(summary['avg_rating']):.2f}"
    return out


def observed_pipeline(df: DataFrame, inventory_col: str = "Inventory Value"):
    """S9 (observability) — attach an ``Observation`` so row counts and
    control totals ride along with whatever action the pipeline runs,
    costing zero extra passes (the reference recomputes its summary in a
    separate pandas pass, airflow.py:101-107; ``observe`` piggybacks on
    the job already running). Returns (observed_df, observation) —
    read ``observation.get`` after any action on observed_df."""
    from pyspark.sql import Observation

    obs = Observation("pipeline_metrics")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(to_col(inventory_col).cast("decimal(18,4)")).cast("double").alias(
            "inventory_total"
        ),
    )
    return observed, obs


def quality_gate(df: DataFrame) -> None:
    """S9 — non-empty gate (airflow.py:95-96 analogue).

    ``isEmpty`` runs a LocalLimit(1) job — O(first non-empty partition),
    not a full count.
    """
    if df.isEmpty():
        raise ValueError("pipeline produced an empty DataFrame")


def render_html_report(summary: dict, generated_at: str = "") -> str:
    """HTML render of the summary (airflow.py:128-188 analogue).

    Pure string formatting on the driver over one collected row.
    """
    missing = [k for k in SUMMARY_KEYS if k not in summary]
    if missing:  # airflow.py:123-126 analogue
        raise KeyError(f"summary missing required keys: {missing}")
    rows = "".join(
        f"<tr><td style='padding:6px 12px;border:1px solid #ddd'>{k}</td>"
        f"<td style='padding:6px 12px;border:1px solid #ddd'>{summary[k]}</td></tr>"
        for k in SUMMARY_KEYS
    )
    return (
        "<html><body style='font-family:sans-serif'>"
        "<h2>Inventory pipeline report</h2>"
        f"<p>Generated: {generated_at}</p>"
        f"<table style='border-collapse:collapse'>{rows}</table>"
        "</body></html>"
    )


def send_report(html: str, subject: str = "Pipeline report") -> bool:
    """S8 — SMTP sink (airflow.py:196-229 analogue).

    Reads the same env-var contract the reference documents
    (README.md:5-11): SMTP_HOST/SMTP_PORT/SMTP_USER/SMTP_PASSWORD/
    EMAIL_TO. Returns False (no-op) when unconfigured so pipelines and
    tests never depend on a mail server.
    """
    host = os.environ.get("SMTP_HOST")
    password = os.environ.get("SMTP_PASSWORD")
    if not host or not password:
        return False
    user = os.environ.get("SMTP_USER", "")
    to = os.environ.get("EMAIL_TO", user)
    msg = MIMEMultipart("alternative")
    msg["Subject"] = subject
    msg["From"] = user
    msg["To"] = to
    msg.attach(MIMEText(html, "html"))
    with smtplib.SMTP(host, int(os.environ.get("SMTP_PORT", "587"))) as server:
        server.starttls()
        server.login(user, password)
        server.sendmail(user, [to], msg.as_string())
    return True


def run_report(cleaned: DataFrame, **agg_cols: str) -> dict:
    """Terminal action: aggregate -> collect one row -> render -> send.
    The rendered HTML shows reference-formatted display values
    (``$1,234.50`` / ``4.20``); the returned dict keeps raw numerics.

    One job: the non-empty gate reads ``total_books`` off the summary
    row instead of running :func:`quality_gate`'s separate probe."""
    summary = summary_aggregates(cleaned, **agg_cols).collect()[0].asDict()
    if summary["total_books"] == 0:
        raise ValueError("pipeline produced an empty DataFrame")
    html = render_html_report(format_summary(summary))
    send_report(html)
    return summary
