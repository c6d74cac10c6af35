"""Wave-23–32 evidence-packing suites (round-9 window rotation).

Waves 23–32 added 31 oracle-paired qnames in round 8's continuation
sessions — more than the remaining driver-window slots can hold as
singles. These four suites pack 30 of them (change_point keeps a
direct slot: its CUSUM scan is the one ~15 s-at-sf0.01 heavy in the
group and would dominate a packed union) so every wave-23–32 qname
earns a hard driver row in round 9, per the write-ahead rotation plan
recorded in queries.py last round. Round 12 adds two out-of-cohort
sections to wave30_32_suite — sim_lsh + sim_ivf (VERDICT r11 item 3's
sanctioned pull-forward; see that suite's comment block).

Suite contract (query_defs33's, helpers in suites.py): each section
re-runs the single's registered Spark callable and wraps the single's
registered oracle SQL verbatim — with slot sources qualified as
``sub_{name}.{src}`` — and BOTH projections are generated from ONE
slot-mapping table per section, so the normalization cannot desync.
Normalized schema: ``sec`` + string slots s1.., BIGINT n1.., DOUBLE
d1.. (unused slots NULL of the right type; doubles pass through
unchanged — hash-safe in the singles by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from books2scrape_etl_spark.registry import register
from books2scrape_etl_spark.suites import (
    suite_df as _suite_df,
    suite_sql as _suite_sql,
    width as _width,
)

# Registration-order deps: each suite wraps oracles from waves 23-32;
# wave30_32_suite additionally wraps sim_lsh (query_defs) and sim_ivf
# (query_defs3) since round 12.
from books2scrape_etl_spark import query_defs as _dep1  # noqa: F401,E402
from books2scrape_etl_spark import query_defs3 as _dep3  # noqa: F401,E402
from books2scrape_etl_spark import query_defs23 as _dep23  # noqa: F401,E402
from books2scrape_etl_spark import query_defs24 as _dep24  # noqa: F401,E402
from books2scrape_etl_spark import query_defs25 as _dep25  # noqa: F401,E402
from books2scrape_etl_spark import query_defs26 as _dep26  # noqa: F401,E402
from books2scrape_etl_spark import query_defs27 as _dep27  # noqa: F401,E402
from books2scrape_etl_spark import query_defs28 as _dep28  # noqa: F401,E402
from books2scrape_etl_spark import query_defs29 as _dep29  # noqa: F401,E402
from books2scrape_etl_spark import query_defs30 as _dep30  # noqa: F401,E402
from books2scrape_etl_spark import query_defs31 as _dep31  # noqa: F401,E402
from books2scrape_etl_spark import query_defs32 as _dep32  # noqa: F401,E402


# ---------------------------------------------------------------------
# wave23_24_suite — calendar/apportionment/winsorize/zone-maps +
# Spearman/weighted-quantiles/growth/mode (8 sections).
# ---------------------------------------------------------------------

_W2324 = _width(2, 8, 2)
_W2324_SECTIONS: dict[str, dict[str, str]] = {
    "calendar_dim": {
        "s1": "d_date",
        "n1": "d_day", "n2": "d_year", "n3": "d_quarter", "n4": "d_month",
        "n5": "d_dom", "n6": "dow_iso", "n7": "is_weekend", "n8": "is_month_end",
    },
    "apportion_budget": {
        "s1": "c_mktsegment", "s2": "o_orderpriority",
        "n1": "cnt", "n2": "seat0", "n3": "remainder", "n4": "seats",
    },
    "winsorize": {
        "s1": "l_returnflag",
        "n1": "n", "n2": "cut_lo_cents", "n3": "cut_hi_cents",
        "n4": "n_clamped_lo", "n5": "n_clamped_hi",
        "d1": "mean_cents", "d2": "mean_winsor_cents",
    },
    "zone_maps": {
        "n1": "zone_id", "n2": "n_rows", "n3": "min_day", "n4": "max_day",
        "n5": "skippable",
    },
    "rank_correlation": {"n1": "n", "n2": "sum_d2", "d1": "rho"},
    "weighted_quantiles": {
        "s1": "l_returnflag",
        "n1": "total_weight", "n2": "wq25_cents", "n3": "wq50_cents",
        "n4": "wq75_cents",
    },
    "growth_mom_yoy": {
        "s1": "c_mktsegment",
        "n1": "ym", "n2": "rev_cents",
        "d1": "mom_growth", "d2": "yoy_growth",
    },
    "mode_stats": {
        "s1": "p_brand", "s2": "mode_type",
        "n1": "mode_count", "n2": "total", "n3": "n_types",
        "d1": "mode_share",
    },
}


@register("wave23_24_suite", _suite_sql(_W2324, _W2324_SECTIONS))
def q_wave23_24_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waves 23+24 in one window slot: calendar_dim (explode(sequence)
    date dimension), apportion_budget (Hamilton largest-remainder),
    winsorize (exact counting quantiles), zone_maps (file-skipping
    stats), rank_correlation (Spearman via dense_ids_scale),
    weighted_quantiles (cumulative-weight cuts), growth_mom_yoy
    (self-join month neighbors), mode_stats (deterministic-tiebreak
    mode). Each section is the single's own plan; the singles stay
    registered for targeted debugging."""
    return _suite_df(spark, sf_dir, _W2324, _W2324_SECTIONS)


# ---------------------------------------------------------------------
# wave25_26_suite — attribution/streaks/mobility/reconciliation +
# TWAP/hazard/checksum/top-k-ties (8 sections).
# ---------------------------------------------------------------------

_W2526 = _width(2, 3, 1)
_W2526_SECTIONS: dict[str, dict[str, str]] = {
    "attribution_last_touch": {
        "s1": "touch_type", "n1": "n_purchases", "n2": "attributed_cents",
    },
    "streak_islands": {"n1": "streak_len", "n2": "n_streaks", "n3": "n_users"},
    "decile_transition": {"n1": "bin_h1", "n2": "bin_h2", "n3": "n_customers"},
    "reconcile_daily": {
        "s1": "status", "n1": "day", "n2": "n_orders", "n3": "n_events",
    },
    "twap_value": {
        "s1": "event_type", "n1": "n_weighted", "n2": "total_seconds",
        "d1": "twap_cents",
    },
    "hazard_curve": {
        "n1": "month_offset", "n2": "at_risk", "n3": "active", "d1": "hazard",
    },
    "table_checksum": {"s1": "tbl", "n1": "n_rows", "n2": "xor_fp"},
    "topk_with_ties": {
        "s1": "p_brand", "s2": "p_type", "n1": "rev_cents", "n2": "rk",
    },
}


@register("wave25_26_suite", _suite_sql(_W2526, _W2526_SECTIONS))
def q_wave25_26_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waves 25+26 in one window slot: attribution_last_touch (LOCF
    credit), streak_islands (gaps-and-islands), decile_transition
    (quintile mobility matrix), reconcile_daily (full-outer audit),
    twap_value (time-weighted average), hazard_curve (survival
    hazard), table_checksum (order-free xor fingerprints),
    topk_with_ties (RANK ≤ k). Sections re-run the singles' plans."""
    return _suite_df(spark, sf_dir, _W2526, _W2526_SECTIONS)


# ---------------------------------------------------------------------
# wave27_29_suite — lexical stats/splits/2-D histogram + seasonality/
# correlation/adoption + burstiness/drawdown/CDF/rank-shift
# (10 sections).
# ---------------------------------------------------------------------

_W2729 = _width(1, 5, 3)
_W2729_SECTIONS: dict[str, dict[str, str]] = {
    "ttr_stats": {
        "s1": "source",
        "n1": "total_tokens", "n2": "distinct_tokens", "n3": "hapax_tokens",
        "d1": "ttr", "d2": "hapax_share",
    },
    "group_split": {"s1": "split", "n1": "n_users", "n2": "n_events"},
    "histogram_2d": {
        "n1": "price_bin", "n2": "qty_bin", "n3": "n", "d1": "share",
    },
    "seasonal_index": {
        "s1": "c_mktsegment", "n1": "moy", "n2": "rev_cents",
        "d1": "seasonal_index",
    },
    "discount_qty_corr": {
        "s1": "p_type",
        "n1": "n", "n2": "cov_n", "n3": "var_x_n", "n4": "var_y_n",
        "d1": "corr",
    },
    "adoption_curve": {"n1": "day", "n2": "new_users", "n3": "cum_users"},
    "burstiness": {
        "s1": "event_type",
        "n1": "n_days", "n2": "total_events", "n3": "var_n2",
        "d1": "fano", "d2": "cv",
    },
    "max_drawdown": {
        "s1": "c_mktsegment", "n1": "max_drawdown_cents", "n2": "trough_day",
    },
    "cdf_probes": {
        "s1": "c_mktsegment",
        "n1": "n", "n2": "n_le_5k", "n3": "n_le_15k", "n4": "n_le_30k",
        "d1": "cdf_5k", "d2": "cdf_15k", "d3": "cdf_30k",
    },
    "rank_shift": {
        "s1": "token",
        "n1": "rank_h1", "n2": "rank_h2", "n3": "count_h1", "n4": "count_h2",
        "n5": "rank_gain",
    },
}


@register("wave27_29_suite", _suite_sql(_W2729, _W2729_SECTIONS))
def q_wave27_29_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waves 27–29 in one window slot: ttr_stats (type-token ratio),
    group_split (hash-deterministic user splits), histogram_2d,
    seasonal_index (month-of-year index), discount_qty_corr
    (integer-moment Pearson), adoption_curve (first-touch cumsum),
    burstiness (Fano/CV), max_drawdown (prefix-max gap),
    cdf_probes (threshold CDF), rank_shift (corpus-half token rank
    deltas). Sections re-run the singles' plans."""
    return _suite_df(spark, sf_dir, _W2729, _W2729_SECTIONS)


# ---------------------------------------------------------------------
# wave30_32_suite — bootstrap/dedup-keep-best + k-anonymity/freshness +
# FD audit (5 sections; change_point keeps its direct slot) + the
# round-12 pull-forward: sim_lsh and sim_ivf (VERDICT r11 item 3 — the
# only two oracle-paired qnames with no direct-or-suite driver row in
# 11 rounds; packing them here gives both a hard r12 row through the
# sanctioned suite-stand-in path without spending direct window
# slots). Their invariant-check outputs are the suite-friendliest
# shape in the registry: (kind string, k string, n1, n2) constants
# that only match the oracle when every in-plan law holds.
# ---------------------------------------------------------------------

_W3032 = _width(2, 9, 5)
_W3032_SECTIONS: dict[str, dict[str, str]] = {
    "sim_lsh": {"s1": "kind", "s2": "k", "n1": "n1", "n2": "n2"},
    "sim_ivf": {"s1": "kind", "s2": "k", "n1": "n1", "n2": "n2"},
    "bootstrap_se": {
        "n1": "n", "n2": "n_replicas",
        "d1": "mean_full", "d2": "boot_min", "d3": "boot_max",
        "d4": "ci_lo", "d5": "ci_hi",
    },
    "dedup_keep_best": {"s1": "source", "n1": "n_survivors", "n2": "chars_kept"},
    "k_anonymity": {
        "n1": "n_groups", "n2": "n_rows", "n3": "min_group",
        "n4": "groups_lt_2", "n5": "rows_lt_2", "n6": "groups_lt_5",
        "n7": "rows_lt_5", "n8": "groups_lt_10", "n9": "rows_lt_10",
    },
    "data_freshness": {
        "s1": "event_type",
        "n1": "n_events", "n2": "last_es", "n3": "lag_s", "n4": "n_last_day",
    },
    "fd_audit": {
        "s1": "fd",
        "n1": "n_keys", "n2": "n_violating_keys", "n3": "max_rhs_cardinality",
        "d1": "violation_share",
    },
}


@register("wave30_32_suite", _suite_sql(_W3032, _W3032_SECTIONS))
def q_wave30_32_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waves 30–32 in one window slot: bootstrap_se (deterministic-hash
    bootstrap replicas), dedup_keep_best (quality-ranked survivor),
    k_anonymity (QI group-size audit), data_freshness (per-type lag),
    fd_audit (functional-dependency violations). change_point stays a
    direct window single (its CUSUM scan is the heavy of the group).
    Since round 12 the suite also packs sim_lsh + sim_ivf (the ANN
    invariant-law checks — VERDICT r11 item 3's pull-forward), giving
    both their first hard driver rows. Sections re-run the singles'
    plans."""
    return _suite_df(spark, sf_dir, _W3032, _W3032_SECTIONS)


# ---------------------------------------------------------------------
# cc_exact — exact-value oracle for the iterative connected-components
# operators (round-9 continuation; upgrades the CC evidence from
# invariant laws to value-exact).
#
# dedup_cc_star stays rows-only by nature (its edges come from xxhash64
# minhash signatures, not SQL-computable), but the CC *algorithms*
# themselves are deterministic graph ops — so run BOTH implementations
# (large-star/small-star contraction AND min-label propagation,
# operators/dedupe.py connected_components_star /
# connected_components) over a deterministic, SQL-expressible
# edge set (the winnowing candidate graph, operators/winnow.py:178,
# whose oracle already exists for winnow_candidates) and compare
# component labels value-exactly against an independent DuckDB
# transitive-closure: WITH RECURSIVE min-label reachability (UNION
# dedup terminates it; components are bounded by winnow's max_df=50
# fan-out cap, so the closure stays tiny even at sf0.1).
#
# A non-vacuity row carries the edge count: an empty candidate graph
# cannot silently hollow the check.
# ---------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402

from books2scrape_etl_spark.io import read_table  # noqa: E402
from books2scrape_etl_spark.query_defs4 import _WINNOW_FPS_CTE  # noqa: E402

# Worst-case cost cap (VERDICT r9 item 3): the synthetic corpus is SO
# near-duplicate-dense that every doc lands in the candidate graph
# (500/500 nodes, 43k edges at sf0.01), and BOTH sides pay for it —
# the min-label recursive closure materializes O(k^2) (node,label)
# pairs per dense component, and the judge measured 141.8 s under
# host contention. A deterministic doc_id % 2 == 0 cap (applied
# IDENTICALLY on both sides, so the differential stays value-exact)
# keeps a 250-node / ~14k-edge graph — ample CC signal — at ~1/3 the
# cost (~55 s -> ~18 s solo at sf0.01).
_CC_FPS_CTE = _WINNOW_FPS_CTE.replace(
    "FROM documents",
    "FROM (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0) documents",
)

_CC_EXACT_SQL = f"""
WITH RECURSIVE {_CC_FPS_CTE},
keep AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND 50),
kept AS (SELECT f.doc_id, f.fp FROM fps f JOIN keep USING (fp)),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM kept a JOIN kept b USING (fp)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= 3
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM cand
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (
  SELECT node, CAST(MIN(label) AS BIGINT) AS component FROM reach GROUP BY node
)
SELECT 'star' AS algo, CAST(node AS BIGINT) AS doc_id, component FROM comp
UNION ALL
SELECT 'prop' AS algo, CAST(node AS BIGINT) AS doc_id, component FROM comp
UNION ALL
SELECT 'edges' AS algo, CAST(-1 AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS component
FROM cand
"""


@register("cc_exact", _CC_EXACT_SQL)
def q_cc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-exact differential for BOTH connected-components
    implementations (operators/dedupe.py: min-label propagation in
    connected_components, large-star/small-star contraction in
    connected_components_star) on the deterministic
    winnowing candidate graph. The oracle recomputes components as a
    recursive-CTE transitive min-label closure in DuckDB — a third,
    independent implementation — so any wrong merge or split in either
    iterative operator flips value rows, not just law booleans. The
    'edges' row pins candidate-graph cardinality (non-vacuity: an
    empty graph can't silently pass). Input capped to doc_id % 2 == 0
    on both sides — see _CC_FPS_CTE. The cap does NOT hollow the
    differential: the corpus's template near-dup pairs span both
    parity classes, so the kept half is still a dense graph (250
    nodes / ~15.6k edges at sf0.001 — pinned by
    tests/test_wave35.py::test_cc_exact_cap_keeps_dense_near_dup_graph),
    not sparse organic pairs."""
    from books2scrape_etl_spark.operators.dedupe import (
        connected_components,
        connected_components_star,
    )
    from books2scrape_etl_spark.operators.winnow import winnow_candidates

    docs = read_table(spark, "documents", sf_dir).where(
        F.col("doc_id") % 2 == 0
    )
    cand = winnow_candidates(docs, max_df=50, min_shared=3).persist()
    pairs = cand.select("id_a", "id_b")
    star = connected_components_star(pairs)
    prop = connected_components(pairs)
    n_edges = cand.agg(
        F.lit("edges").alias("algo"),
        F.lit(-1).cast("long").alias("doc_id"),
        F.count(F.lit(1)).alias("component"),
    )
    # eager-pin the small label/edge-count union, then drop the cached
    # candidate edges BEFORE returning (the embed_generate rule: a
    # returned plan must not depend on a persisted input, or every call
    # leaks storage blocks in long-lived sessions)
    out = (
        star.select(F.lit("star").alias("algo"), "doc_id", "component")
        .union(prop.select(F.lit("prop").alias("algo"), "doc_id", "component"))
        .union(n_edges)
        .localCheckpoint(eager=True)
    )
    cand.unpersist()
    return out
