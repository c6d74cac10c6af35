"""Second-wave qname definitions — capability completion beyond the
reference surface (SURVEY.md §2 [EXT] rows and §2.10 UDF surfaces):
SQL-API entry, pivot/unpivot, subqueries, as-of join, analytic
windows, string/math/date function suites, pandas UDAF + grouped-map,
and the end-to-end books pipeline (scrape fixtures -> star -> summary).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from books2scrape_etl_spark.functions.agg import oracle_sum_exact, sum_exact
from books2scrape_etl_spark.io import read_table
from books2scrape_etl_spark.registry import register


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# =====================================================================
# SQL API entry (§3.4: spark.sql produces the same Catalyst plans)
# =====================================================================


@register(
    "sql_api",
    f"""
    SELECT n.n_name, COUNT(*) AS n_orders,
           {oracle_sum_exact('o.o_totalprice', 2)} AS sum_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY n.n_name
    """,
)
def q_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry point: temp views + spark.sql — same analyzer/
    optimizer path as the DataFrame API, exposed as the engine's second
    public surface."""
    read_table(spark, "orders", sf_dir).createOrReplaceTempView("v_orders")
    read_table(spark, "customer", sf_dir).createOrReplaceTempView("v_customer")
    read_table(spark, "nation", sf_dir).createOrReplaceTempView("v_nation")
    return spark.sql(
        """
        SELECT n.n_name, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM v_orders o
        JOIN v_customer c ON o.o_custkey = c.c_custkey
        JOIN v_nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY n.n_name
        """
    )


# =====================================================================
# pivot / unpivot
# =====================================================================


@register(
    "pivot",
    """
    SELECT l_returnflag,
           CAST(count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS BIGINT) AS O,
           CAST(count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS BIGINT) AS F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: linestatus values to columns (explicit value list keeps the
    plan single-pass — no extra distinct job). Empty (group, value)
    cells are coalesced to 0: Spark's pivot emits NULL for a cell with
    no rows while the conditional-count form (and the oracle) emits 0 —
    on TPC-H-faithful data R/A rows never carry linestatus 'O', so the
    empty cell is a real case, not a theoretical one."""
    li = read_table(spark, "lineitem", sf_dir)
    pv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.count(F.lit(1)))
    )
    return pv.select(
        "l_returnflag",
        F.coalesce(F.col("O"), F.lit(0)).alias("O"),
        F.coalesce(F.col("F"), F.lit(0)).alias("F"),
    )


@register(
    "unpivot",
    """
    SELECT o_orderkey, 'total' AS measure, o_totalprice AS val FROM orders
    UNION ALL
    SELECT o_orderkey, 'key_x10', CAST(o_orderkey * 10 AS DOUBLE) FROM orders
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot via stack() — columns back to rows."""
    o = read_table(spark, "orders", sf_dir)
    return o.select(
        "o_orderkey",
        F.expr(
            "stack(2, 'total', o_totalprice, 'key_x10', CAST(o_orderkey * 10 AS DOUBLE))"
        ).alias("measure", "val"),
    )


# =====================================================================
# subqueries (scalar, correlated EXISTS, IN)
# =====================================================================


@register(
    "scalar_subquery",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)
    """,
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in a filter (Catalyst rewrites to a one-row
    broadcast join). avg threshold comparison only — no float crosses
    the output boundary. Threshold 1.5x keeps the result non-empty on
    the driver testdata (2x matched zero orders — a 0-row hash match
    proves nothing)."""
    read_table(spark, "orders", sf_dir).createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM v_orders
        WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM v_orders)
        """
    )


@register(
    "correlated_subquery",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE (SELECT COUNT(*) FROM orders o
           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000) >= 2
    """,
)
def q_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — Catalyst decorrelates to an
    aggregate + join (SURVEY §4.2 'subquery decorrelation')."""
    read_table(spark, "customer", sf_dir).createOrReplaceTempView("v_customer")
    read_table(spark, "orders", sf_dir).createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM v_customer c
        WHERE (SELECT COUNT(*) FROM v_orders o
               WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000) >= 2
        """
    )


@register(
    "in_subquery",
    """
    SELECT s_suppkey, s_name FROM supplier
    WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 0)
    """,
)
def q_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN subquery -> left-semi join after rewrite."""
    read_table(spark, "supplier", sf_dir).createOrReplaceTempView("v_supplier")
    read_table(spark, "nation", sf_dir).createOrReplaceTempView("v_nation")
    return spark.sql(
        """
        SELECT s_suppkey, s_name FROM v_supplier
        WHERE s_nationkey IN (SELECT n_nationkey FROM v_nation WHERE n_regionkey = 0)
        """
    )


# =====================================================================
# as-of join + analytic windows
# =====================================================================


@register(
    "join_asof",
    """
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click_us
      FROM events
    )
    SELECT event_id, user_id, CAST(prev_click_us AS BIGINT) AS prev_click_us
    FROM marked WHERE event_type = 'purchase'
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (SURVEY §2.5 J7): for each purchase, the timestamp of
    the same user's latest strictly-earlier click. Expressed as a
    last_value(IGNORE NULLS) window over the unioned event stream — the
    Spark-native as-of formulation that needs no per-group Python
    (pd.merge_asof stays available via applyInPandas for the general
    two-table case). Timestamps surfaced as epoch micros (TZ-free)."""
    ev = read_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_us = F.when(
        F.col("event_type") == "click", F.unix_micros(F.col("ts"))
    )
    return (
        ev.withColumn("prev_click_us", F.last(click_us, ignorenulls=True).over(w))
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "prev_click_us")
    )


@register(
    "window_lag_lead",
    """
    SELECT event_id, user_id,
           lag(event_id) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_event_id,
           lead(event_id) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS next_event_id
    FROM events
    """,
)
def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4c — lag/lead navigation over per-user event sequences."""
    ev = read_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select(
        "event_id",
        "user_id",
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


@register(
    "grouping_sets",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(grouping(l_returnflag) AS INTEGER) AS g_rf
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7c — explicit GROUPING SETS with grouping() marker."""
    read_table(spark, "lineitem", sf_dir).createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(grouping(l_returnflag) AS INT) AS g_rf
        FROM v_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@register(
    "agg_having",
    f"""
    SELECT l_suppkey, COUNT(*) AS n_lines,
           {oracle_sum_exact('l_quantity', 2)} AS sum_qty
    FROM lineitem GROUP BY l_suppkey
    HAVING COUNT(*) > 100
    """,
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter)."""
    li = read_table(spark, "lineitem", sf_dir)
    return (
        li.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_lines"), sum_exact("l_quantity", 2).alias("sum_qty"))
        .where(F.col("n_lines") > 100)
    )


@register(
    "agg_stats",
    """
    SELECT l_returnflag,
           COUNT(l_quantity) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS s2,
           round((CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS DOUBLE)
                  - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                    * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity))
                 / (COUNT(l_quantity) - 1), 6) AS variance
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates from exact moments: variance assembled
    from decimal-exact sum and sum-of-squares so the result is
    order-independent (the builtin ``var_samp`` accumulates doubles in
    partition order — not reproducible across engines or runs)."""
    li = read_table(spark, "lineitem", sf_dir)
    q = F.col("l_quantity")
    n = F.count(q)
    s1 = F.sum(q.cast("decimal(18,2)")).cast("double")
    s2 = F.sum((q * q).cast("decimal(28,4)")).cast("double")
    return li.groupBy("l_returnflag").agg(
        n.alias("n"),
        s1.alias("s1"),
        s2.alias("s2"),
        F.round((s2 - s1 * s1 / n) / (n - F.lit(1)), 6).alias("variance"),
    )


# (agg_approx retired in r7 — VERDICT r6 item 4: its rows-only signal
# was strictly dominated by approx_bounds in query_defs7.py, which runs
# the same HLL++/GK sketches against their exact twins under published
# error bounds with an oracle-verified result.)


# =====================================================================
# string / math / date function suites
# =====================================================================


@register(
    "string_funcs",
    """
    SELECT p_partkey,
           upper(p_name) AS up,
           substring(p_name, 1, 5) AS sub5,
           lpad(p_brand, 12, '.') AS padded,
           levenshtein(p_brand, 'Brand#11') AS lev,
           concat_ws('|', p_brand, p_type) AS joined,
           translate(p_type, 'ae', 'AE') AS translated,
           length(p_name) AS len
    FROM part
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 string suite: case, substring, padding, edit distance,
    concat, translate — all codegen'd builtins."""
    p = read_table(spark, "part", sf_dir)
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up"),
        F.substring("p_name", 1, 5).alias("sub5"),
        F.lpad("p_brand", 12, ".").alias("padded"),
        F.levenshtein("p_brand", F.lit("Brand#11")).alias("lev"),
        F.concat_ws("|", "p_brand", "p_type").alias("joined"),
        F.translate("p_type", "ae", "AE").alias("translated"),
        F.length("p_name").alias("len"),
    )


@register(
    "math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(floor(l_extendedprice) AS BIGINT) AS fl,
           CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
           abs(l_discount - 0.05) AS ab,
           CAST(l_orderkey % 7 AS BIGINT) AS md,
           sqrt(l_quantity) AS sq,
           round(l_extendedprice / 3.0, 2) AS rd
    FROM lineitem
    """,
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 math suite — restricted to IEEE-exact operations (floor/
    ceil/abs/mod/sqrt and one explicit round) so the differential check
    stays bit-exact; transcendentals (ln/exp/pow) are excluded because
    libm results differ across engines in the last ulp."""
    li = read_table(spark, "lineitem", sf_dir)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.floor("l_extendedprice").alias("fl"),
        F.ceil("l_extendedprice").alias("ce"),
        F.abs(F.col("l_discount") - 0.05).alias("ab"),
        (F.col("l_orderkey") % 7).alias("md"),
        F.sqrt("l_quantity").alias("sq"),
        F.round(F.col("l_extendedprice") / 3.0, 2).alias("rd"),
    )


@register(
    "date_funcs",
    """
    SELECT o_orderkey,
           strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day_str,
           CAST(CASE WHEN dayofweek(o_orderdate) = 0 THEN 1
                     ELSE dayofweek(o_orderdate) + 1 END AS INTEGER) AS dow,
           CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d %H:%M:%S') AS plus30
    FROM orders
    """,
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 date suite: truncation, day-of-week (aligned to Spark's
    1=Sunday convention), day-of-year, interval arithmetic — formatted
    to strings inside the pinned-UTC session so nothing TZ-dependent
    crosses the comparison boundary."""
    _utc(spark)
    o = read_table(spark, "orders", sf_dir)
    return o.select(
        "o_orderkey",
        F.date_format(F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd").alias("day_str"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.dayofyear("o_orderdate").alias("doy"),
        F.date_format(
            F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"), "yyyy-MM-dd HH:mm:ss"
        ).alias("plus30"),
    )


# =====================================================================
# §2.10 UDAF + grouped-map surfaces (U3, U4)
# =====================================================================


@register(
    "udaf_grouped",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity * 100 AS BIGINT)) AS BIGINT) AS qty_cents
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 — user-defined aggregate via pandas_udf GROUPED_AGG: integer-
    cents summation (exact, order-independent — a float-summing UDAF
    would not reproduce across partitionings)."""

    @F.pandas_udf("long")
    def qty_cents(v: pd.Series) -> int:
        return int((v * 100).astype("int64").sum())

    li = read_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(qty_cents("l_quantity").alias("qty_cents"))


@register(
    "grouped_map",
    """
    SELECT c_mktsegment, c_custkey,
           CAST(row_number() OVER (PARTITION BY c_mktsegment
                                   ORDER BY c_acctbal DESC, c_custkey ASC) AS INTEGER) AS bal_rank
    FROM customer
    """,
)
def q_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4 — applyInPandas grouped-map: per-segment dense ranking done in
    pandas (deterministic sort + 1-based position), checked against the
    SQL window-function oracle — the differential proves the grouped-map
    path computes exactly what the relational form does."""

    def rank_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["c_acctbal", "c_custkey"], ascending=[False, True])
        pdf["bal_rank"] = range(1, len(pdf) + 1)
        return pdf[["c_mktsegment", "c_custkey", "bal_rank"]]

    cust = read_table(spark, "customer", sf_dir).select(
        "c_mktsegment", "c_custkey", "c_acctbal"
    )
    return cust.groupBy("c_mktsegment").applyInPandas(
        rank_group, "c_mktsegment string, c_custkey long, bal_rank int"
    )


# =====================================================================
# end-to-end reference pipeline (offline fixtures)
# =====================================================================


@register(
    "books_e2e",
    # golden-values oracle: the books fixture is not an oracle view, but
    # the end-to-end result over it is deterministic — one row pinned
    # from the fixture pages (same rationale as sources_suite 'parse')
    """
    SELECT CAST(3 AS BIGINT) AS total_books,
           CAST(3 AS BIGINT) AS total_categories,
           CAST(2364.04 AS DOUBLE) AS total_inventory_value,
           CAST(3.0 AS DOUBLE) AS avg_rating,
           CAST(3 AS BIGINT) AS books_in_stock
    """,
)
def q_books_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete reference pipeline, offline: parse HTML fixtures
    (S1-S4) -> clean (P1-P11) -> bins (B1-B2) -> star schema (D1-D3,
    J1-J4) -> the five summary aggregates (A1-A5) as one row
    (airflow.py's extract->transform->summarize DAG, minus SMTP).
    Value-verified against golden numbers derived from the fixture
    pages: 3 books, 3 categories, inventory value SUM(price*stock) =
    51.77*22 + 53.74*20 + 50.10*3 = 2364.04, mean rating (3+1+5)/3,
    all 3 in stock — any drift anywhere in the 4-stage chain breaks
    the hash."""
    from books2scrape_etl_spark.plans.books import transform_books
    from books2scrape_etl_spark.plans.report import summary_aggregates
    from books2scrape_etl_spark.sources.fixtures_html import DETAIL_PAGES
    from books2scrape_etl_spark.sources.scrape import html_source, parse_books

    raw = parse_books(html_source(spark, DETAIL_PAGES))
    cleaned, dims, fact = transform_books(raw)
    return summary_aggregates(cleaned)


# =====================================================================
# partitioned sink + partition pruning (SURVEY §4.2)
# =====================================================================


@register(
    "partition_pruning",
    f"""
    SELECT l_returnflag, COUNT(*) AS n,
           {oracle_sum_exact('l_extendedprice', 2)} AS sum_price
    FROM lineitem WHERE l_returnflag = 'R'
    GROUP BY l_returnflag
    """,
)
def q_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet sink + pruned scan: the fact is
    written partitionBy(l_returnflag); the filtered read touches ONE
    partition directory (PartitionFilters in .explain — static pruning;
    the same layout enables dynamic partition pruning when the filter
    arrives via a dim join). This is the engine's default layout for
    100 TB fact tables."""
    import os as _os

    li = read_table(spark, "lineitem", sf_dir)
    out = _os.path.join("/tmp/spark_graft_scratch", f"li_part_{_os.path.basename(sf_dir)}")
    li.select("l_returnflag", "l_extendedprice").write.mode("overwrite").partitionBy(
        "l_returnflag"
    ).parquet(out)
    back = spark.read.parquet(out).where(F.col("l_returnflag") == "R")
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), sum_exact("l_extendedprice", 2).alias("sum_price")
    )


# =====================================================================
# scale-path variants (operators/scale.py) + TPC-H-shaped queries
# =====================================================================


@register(
    "surrogate_key_scale",
    """
    SELECT CAST(row_number() OVER (ORDER BY l_partkey ASC NULLS FIRST,
                                   l_suppkey ASC NULLS FIRST) AS BIGINT) AS ps_id,
           l_partkey, l_suppkey
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    """,
)
def q_surrogate_key_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 scale variant — distributed dense ids (range partition + local
    rank + broadcast offsets). Checked against the SAME row_number
    oracle as the exact form: the two constructions are provably
    identical, only the plan differs (no single-task sort)."""
    from books2scrape_etl_spark.operators.scale import dense_ids_scale

    li = read_table(spark, "lineitem", sf_dir)
    return dense_ids_scale(li, ["l_partkey", "l_suppkey"], "ps_id", num_partitions=8)


@register(
    "join_salted",
    f"""
    SELECT o.o_orderpriority, COUNT(*) AS n,
           {oracle_sum_exact('l.l_quantity', 2)} AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-handling: salted join must preserve plain-join semantics —
    the oracle IS the unsalted join. (8-way salt: the hot key's volume
    spreads over 8 reducers.)"""
    from books2scrape_etl_spark.operators.scale import salted_join

    li = read_table(spark, "lineitem", sf_dir)
    orders = read_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderpriority")
    joined = salted_join(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        orders,
        "o_orderkey",
        salt_buckets=8,
        salt_src=["o_orderkey", "l_linenumber"],
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), sum_exact("l_quantity", 2).alias("sum_qty")
    )


_BIN_QS_SQL = """
SELECT 'approx_exact_agreement_ge_95' AS check_name, CAST(1 AS BIGINT) AS ok
UNION ALL SELECT 'exact_tiles_balanced', CAST(1 AS BIGINT)
UNION ALL SELECT 'no_unlabeled_rows', CAST(1 AS BIGINT)
ORDER BY check_name
"""


@register("bin_quantile_scale", _BIN_QS_SQL)
def q_bin_quantile_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 scale variant — approxQuantile (Greenwald-Khanna sketch)
    edges + CASE labels, no global sort — value-verified in-plan
    (VERDICT r8 item 5, the ann_recall pattern): the >=95%
    agreement-with-exact-ntile law that previously lived only in a
    unit test is computed inside the query and hashed against a
    constant oracle, so a sketch/edge regression flips a boolean in
    the driver row instead of hiding behind rows>0.

    The exact reference tiles come from
    :func:`operators.scale.ntile_scale` (range partition + local rank
    + broadcast offsets — bit-identical to ``ntile(3) OVER (ORDER BY
    price, orderkey, linenumber)``, no global window in this plan
    either). Checks: (a) approx label == exact label on >=95% of rows
    (integer 20x test, no float ratio); (b) exact tile sizes differ by
    at most 1 (the ntile mass law — pins ntile_scale itself); (c) the
    approx CASE labels every row (totality of the edge chain)."""
    from books2scrape_etl_spark.operators.binning import bin_quantile_approx
    from books2scrape_etl_spark.operators.scale import ntile_scale

    labels = ("Budget", "Standard", "Premium")
    li = read_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    exact = ntile_scale(
        li, ["l_extendedprice", "l_orderkey", "l_linenumber"], len(labels),
        out_col="__tile",
    )
    both = bin_quantile_approx(exact, "l_extendedprice", labels, out_col="price_tier")
    label_arr = F.array(*[F.lit(x) for x in labels])
    both = both.withColumn(
        "exact_tier", F.element_at(label_arr, F.col("__tile").cast("int"))
    )
    stats = both.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("price_tier") == F.col("exact_tier")).cast("long")).alias(
            "n_agree"
        ),
        F.sum(F.col("price_tier").isNull().cast("long")).alias("n_null"),
    )
    tiles = both.groupBy("__tile").agg(F.count(F.lit(1)).alias("c")).agg(
        (F.max("c") - F.min("c")).alias("spread")
    )
    agree = stats.select(
        F.lit("approx_exact_agreement_ge_95").alias("check_name"),
        (F.col("n_agree") * 20 >= F.col("n") * 19).cast("bigint").alias("ok"),
    )
    balanced = tiles.select(
        F.lit("exact_tiles_balanced").alias("check_name"),
        (F.col("spread") <= 1).cast("bigint").alias("ok"),
    )
    total = stats.select(
        F.lit("no_unlabeled_rows").alias("check_name"),
        (F.col("n_null") == 0).cast("bigint").alias("ok"),
    )
    return agree.union(balanced).union(total).orderBy("check_name")


@register(
    "tpch_q3",
    f"""
    SELECT l.l_orderkey,
           {oracle_sum_exact('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderstatus <> 'F'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): selective dim filter ->
    broadcast -> fact agg -> top-k. Date formatted UTC-pinned."""
    _utc(spark)
    c = read_table(spark, "customer", sf_dir).where(F.col("c_mktsegment") == "BUILDING")
    o = read_table(spark, "orders", sf_dir).where(F.col("o_orderstatus") != "F")
    li = read_table(spark, "lineitem", sf_dir)
    # orders (even minus one status) and the BUILDING customer slice are
    # fact-sized — no broadcast hints; AQE chooses the strategy (still
    # broadcast at bench scale, shuffle join at 100x without OOM).
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            sum_exact(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "tpch_q5",
    f"""
    SELECT n.n_name,
           {oracle_sum_exact('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): 6-table star with a
    two-column join condition and region filter pushed into the dims."""
    c = read_table(spark, "customer", sf_dir)
    o = read_table(spark, "orders", sf_dir)
    li = read_table(spark, "lineitem", sf_dir)
    s = read_table(spark, "supplier", sf_dir)
    n = read_table(spark, "nation", sf_dir)
    r = read_table(spark, "region", sf_dir).where(F.col("r_name") == "ASIA")
    # orders/customer are unfiltered fact-sized tables: no broadcast
    # hints (would OOM at 100x). supplier is 1/10 customer — borderline,
    # leave it to AQE as well; nation/region are true dims.
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            s,
            (li["l_suppkey"] == s["s_suppkey"]) & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(
            sum_exact(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue")
        )
    )


# (dedup_minhash_cc retired in r7 — VERDICT r6 item 4: redundant with
# dedup_cc_star, which runs minhash_dedup_cc's two stages directly —
# verified_similar_pairs, then connected_components AND
# connected_components_star over the same edges — and dedup_invariants,
# which value-verifies the survivor set. The operator and its
# union-find ground-truth unit tests are unchanged.)


# =====================================================================
# corpus curation composite (the LLM-pipeline flagship) + foreachBatch
# =====================================================================

from books2scrape_etl_spark.query_defs import _LANG_CASE_SQL, _NORM_SQL  # noqa: E402


@register(
    "corpus_curation",
    f"""
    WITH stats AS (
      SELECT doc_id, lang, text,
             length(text) AS n_chars_measured,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens,
             {_LANG_CASE_SQL} AS lang_pred,
             md5({_NORM_SQL}) AS fp
      FROM documents
    ), filtered AS (
      SELECT * FROM stats
      WHERE n_chars_measured >= 100 AND lang_pred <> 'unknown'
    ), deduped AS (
      SELECT fp, MIN(doc_id) AS doc_id FROM filtered GROUP BY fp
    )
    SELECT f.lang_pred,
           COUNT(*) AS n_docs,
           CAST(SUM(f.n_tokens) AS BIGINT) AS total_tokens
    FROM filtered f JOIN deduped d ON f.doc_id = d.doc_id
    GROUP BY f.lang_pred
    """,
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-data-pipeline composite, end to end: per-doc stats ->
    quality/language filter -> exact dedup (min-doc_id survivor) ->
    per-language document and token budget. One composed lazy plan:
    the stats projection fuses into the scan, the filter prunes before
    the dedup shuffle, and the final agg is partial+final. This is the
    query shape a 100 TB pretraining-corpus build runs daily.

    The survivor selection is a single ``min_by`` aggregation: the
    survivor of each fingerprint group is the row with MIN(doc_id), so
    carrying that row's (lang_pred, n_tokens) through ``min_by`` is
    value-identical to the textbook self-join
    (``filtered JOIN (GROUP BY fp -> MIN(doc_id)) ON (fp, doc_id)``)
    while scanning/regex-ing the corpus ONCE instead of twice and
    skipping the join entirely — doc_id is unique, so the min_by pick
    is deterministic. Same two shuffles, half the compute."""
    from books2scrape_etl_spark.operators import text as T

    docs = read_table(spark, "documents", sf_dir)
    c = F.col("text")
    stats = docs.select(
        "doc_id",
        F.length(c).alias("n_chars_measured"),
        T.token_count_bpe_ish(c).alias("n_tokens"),
        T.lang_id(c).alias("lang_pred"),
        T.fingerprint(c).alias("fp"),
    )
    filtered = stats.where(
        (F.col("n_chars_measured") >= 100) & (F.col("lang_pred") != "unknown")
    )
    survivors = filtered.groupBy("fp").agg(
        F.min_by(F.struct("lang_pred", "n_tokens"), "doc_id").alias("_s")
    )
    return (
        survivors.select(F.col("_s.lang_pred").alias("lang_pred"), F.col("_s.n_tokens").alias("n_tokens"))
        .groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


_FOREACHBATCH_SQL = """
    SELECT 'type' AS kind, event_type AS k,
           CAST(COUNT(*) AS BIGINT) AS n1, CAST(1 AS BIGINT) AS n2
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'check', v.k, CAST(0 AS BIGINT), CAST(1 AS BIGINT)
    FROM (VALUES ('every_landed_row_has_batch_id'),
                 ('landed_equals_source_multiset')) AS v(k)
    ORDER BY kind, k
    """


@register("stream_foreachbatch_rt", _FOREACHBATCH_SQL)
def q_stream_foreachbatch_rt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 sink variant — foreachBatch: each micro-batch lands as
    parquet via the engine's own writer (the exactly-once custom-sink
    idiom; batch id available for idempotent writes). Converted
    rows-only → invariant oracle, batch-split-INSENSITIVELY (how the
    stream chunks into micro-batches is planner business, so no law
    here may mention batch count):

    - 'landed_equals_source_multiset': the landed (event_id,
      event_type, value) rows re-read from the sink equal the source
      events as a multiset (exceptAll both ways) — a dropped batch,
      a double-landed batch, or a partial file all flag here; this is
      the exactly-once contract the foreachBatch idiom exists for;
    - 'every_landed_row_has_batch_id': the writer stamped each row;
    - the per-type 'type' rows carry SQL-exact landed counts.
    """
    import os as _os
    import tempfile as _tf
    import uuid as _uuid

    from books2scrape_etl_spark.streaming.windows import _stream_events

    out = _os.path.join(_tf.gettempdir(), f"fb_sink_{_uuid.uuid4().hex[:8]}")
    ckpt = out + "_ckpt"

    def land(batch_df, batch_id: int) -> None:
        (batch_df.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(out))

    ev = _stream_events(spark, sf_dir).select("event_id", "event_type", "value")
    q = (
        ev.writeStream.foreachBatch(land)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    landed = spark.read.parquet(out)
    src = spark.read.parquet(_os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "event_type", "value"
    )
    slim = landed.select("event_id", "event_type", "value")
    diff = slim.exceptAll(src).union(src.exceptAll(slim))
    type_rows = landed.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1")
    ).select(
        F.lit("type").alias("kind"),
        F.col("event_type").alias("k"),
        "n1",
        F.lit(1).cast("bigint").alias("n2"),
    )

    def check(name: str, n_df: DataFrame) -> DataFrame:
        return n_df.select(
            F.lit("check").alias("kind"),
            F.lit(name).alias("k"),
            F.col("n").cast("bigint").alias("n1"),
            (F.col("n") == 0).cast("bigint").alias("n2"),
        )

    c_multi = check(
        "landed_equals_source_multiset", diff.agg(F.count(F.lit(1)).alias("n"))
    )
    c_bid = check(
        "every_landed_row_has_batch_id",
        landed.where(F.col("batch_id").isNull()).agg(F.count(F.lit(1)).alias("n")),
    )
    return type_rows.union(c_bid).union(c_multi).orderBy("kind", "k")


# =====================================================================
# explode / UDTF fan-out surfaces (§2.10 U2)
# =====================================================================


@register(
    "explode_split",
    """
    SELECT doc_id, unnest(string_split(text, '. ')) AS sentence
    FROM documents
    """,
)
def q_explode_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 (relational form) — 1->N fan-out: split + explode (the shape
    the scraper's link extraction uses, extract_pipeline.py:57-73)."""
    docs = read_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id", F.explode(F.split("text", r"\. ")).alias("sentence")
    )


_UDTF_INVARIANTS_SQL = """
SELECT 'rowcount_match' AS check_name, CAST(1 AS BIGINT) AS ok
UNION ALL
SELECT 'symmetric_diff_zero' AS check_name, CAST(1 AS BIGINT) AS ok
"""


@register("udtf_sentences", _UDTF_INVARIANTS_SQL)
def q_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 (python UDTF form) — a table function emitting one row per
    sentence with its position: the Spark 4 @udtf surface for custom
    1->N operators that need imperative logic (the relational
    split+explode above stays the default).

    Value signal (constant-oracle invariant row, the kmeans pattern):
    the UDTF's full output is compared against its pure-relational
    twin (posexplode + whitespace word count) — same row count and a
    zero symmetric diff on the (doc_id, pos) key, so every emitted
    value is pinned, not just rows>0."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, pos int, n_words int")
    class SentenceStats:
        def eval(self, doc_id: int, text: str):
            if text is None:
                return
            for pos, s in enumerate(text.split(". ")):
                yield doc_id, pos, len(s.split())

    spark.udtf.register("sentence_stats", SentenceStats)
    docs = read_table(spark, "documents", sf_dir)
    docs.createOrReplaceTempView("v_docs")
    out = spark.sql(
        "SELECT s.* FROM v_docs, LATERAL sentence_stats(doc_id, text) s"
    )
    # Relational twin: Python str.split() == trim + split on \s+ runs,
    # with the empty-sentence edge ('' -> 0 words, not 1).
    # ASCII-text assumption (ADVICE r8): str.split() splits on Unicode
    # whitespace while Java \s+ is ASCII-only — a NBSP (U+00A0) inside
    # documents.text would flip the invariant to 0. The synthetic corpus
    # is ASCII by construction (TESTDATA.md); a Unicode corpus would
    # need [\s ]+ (or \p{IsWhite_Space}) on the Spark side AND an
    # re.ASCII split in the UDTF to keep the two sides definitionally
    # aligned.
    sent = F.trim(F.col("sentence"))
    words = (
        F.when(sent == "", F.lit(0))
        .otherwise(F.size(F.split(sent, r"\s+")))
        .cast("int")
    )
    rel = docs.select(
        "doc_id",
        F.posexplode(F.split("text", r"\. ")).alias("pos", "sentence"),
    ).select(
        "doc_id", F.col("pos").cast("int").alias("pos"), words.alias("n_words")
    )
    u = out.select("doc_id", "pos", F.col("n_words").alias("u_nw"))
    r = rel.select("doc_id", "pos", F.col("n_words").alias("r_nw"))
    j = u.join(r, ["doc_id", "pos"], "full").agg(
        F.sum((~F.col("u_nw").eqNullSafe(F.col("r_nw"))).cast("bigint")).alias(
            "n_mismatch"
        )
    )
    nu = out.agg(F.count(F.lit(1)).alias("n_u")).withColumn("k", F.lit(1))
    nr = rel.agg(F.count(F.lit(1)).alias("n_r")).withColumn("k", F.lit(1))
    counts = nu.join(F.broadcast(nr), "k").select(
        F.lit("rowcount_match").alias("check_name"),
        (F.col("n_u") == F.col("n_r")).cast("bigint").alias("ok"),
    )
    diff = j.select(
        F.lit("symmetric_diff_zero").alias("check_name"),
        (F.col("n_mismatch") == 0).cast("bigint").alias("ok"),
    )
    return counts.union(diff)
