"""Aggregation queries (SURVEY §2.4) + set ops (§2.7).

All are single-pass hash aggregations (partial + final, map-side
combine free from Catalyst). The DQ-style checks are deliberately fused
into ONE aggregation over one scan — the reference runs one SQL query
per check (scripts/silver/validate_silver.py:89-107), i.e. 12 scans; at
100 TB that difference is the whole game.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import (
    CENTS_CAP,
    clamp,
    davg,
    dround,
    dsum,
    epoch_seconds,
    qround,
    sql_clamp,
    sql_davg,
    sql_dround,
    sql_dsum,
    sql_qround,
)
from ..session import load_tables
from .registry import AS_OF, query

# --------------------------------------------------------------------------
# A1 — grouped multi-agg daily summary (matview mv_daily_covid_summary)
# (reference: scripts/gold/model_gold.py:106-116)
# --------------------------------------------------------------------------


@query(
    "daily_summary",
    oracle=f"""
SELECT CAST(ts AS DATE) AS event_date,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events,
       {sql_dround(sql_dsum('value'))} AS total_value,
       {sql_dround(sql_davg('value'))} AS avg_value,
       {sql_dround('MIN(value)')} AS min_value,
       {sql_dround('MAX(value)')} AS max_value
FROM events
GROUP BY 1
""",
)
def daily_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    return events.groupBy(F.to_date("ts").alias("event_date")).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
        dround(dsum("value")).alias("total_value"),
        dround(davg("value")).alias("avg_value"),
        dround(F.min("value")).alias("min_value"),
        dround(F.max("value")).alias("max_value"),
    )


# --------------------------------------------------------------------------
# A2 — grouped agg + deterministic string agg (mv_user_company_analysis)
# (reference: scripts/gold/model_gold.py:118-127 STRING_AGG(DISTINCT ...);
#  ours sorts the set for determinism, SURVEY §7.4.1)
# --------------------------------------------------------------------------


@query(
    "segment_nation_profile",
    oracle=f"""
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       {sql_dround(sql_davg('c_acctbal', 2), 2)} AS avg_bal,
       string_agg(DISTINCT n_name, ', ' ORDER BY n_name) AS nations
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY c_mktsegment
""",
)
def segment_nation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "customer", "nation")
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            dround(davg("c_acctbal", 2), 2).alias("avg_bal"),
            F.concat_ws(", ", F.array_sort(F.collect_set("n_name"))).alias(
                "nations"
            ),
        )
    )


# --------------------------------------------------------------------------
# A3 — conditional counts (new-users-today pattern)
# (reference: scripts/gold/model_gold.py:148-157 COUNT(CASE WHEN ...))
# --------------------------------------------------------------------------


@query(
    "conditional_counts",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
       COUNT(*) FILTER (WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00')
           AS n_recent
FROM orders
GROUP BY o_orderpriority
""",
)
def conditional_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
        F.count_if(
            F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp")
        ).alias("n_recent"),
    )


# --------------------------------------------------------------------------
# A4 — two-level aggregate (group, then re-aggregate the groups)
# (reference: scripts/gold/model_gold.py:159-173)
# --------------------------------------------------------------------------


@query(
    "two_level_agg",
    oracle=f"""
WITH l1 AS (
    SELECT l_returnflag, l_linestatus,
           SUM(CAST(l_quantity AS DECIMAL(27,2))) AS qty, COUNT(*) AS n
    FROM lineitem GROUP BY 1, 2
)
SELECT l_returnflag,
       CAST(SUM(n) AS BIGINT) AS total_items,
       {sql_dround('CAST(SUM(qty) AS DOUBLE)', 2)} AS total_qty,
       {sql_dround('CAST(SUM(qty) AS DOUBLE) / COUNT(qty)', 2)} AS avg_group_qty,
       COUNT(*) AS n_groups
FROM l1 GROUP BY 1
""",
)
def two_level_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    l1 = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(27,2)")).alias("qty"),
        F.count("*").alias("n"),
    )
    return l1.groupBy("l_returnflag").agg(
        F.sum("n").alias("total_items"),
        dround(F.sum("qty").cast("double"), 2).alias("total_qty"),
        dround(F.sum("qty").cast("double") / F.count("qty"), 2).alias(
            "avg_group_qty"
        ),
        F.count("*").alias("n_groups"),
    )


# --------------------------------------------------------------------------
# A5 — argmax with deterministic tiebreak (top company by users)
# (reference: scripts/gold/model_gold.py:169-170 idxmax; SURVEY §7.4.1)
# --------------------------------------------------------------------------


@query(
    "argmax_top_segment",
    oracle="""
WITH counts AS (
    SELECT n_name, c_mktsegment, COUNT(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1, 2
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY n_name ORDER BY n_customers DESC, c_mktsegment
    ) AS rn
    FROM counts
)
SELECT n_name, c_mktsegment AS top_segment, n_customers
FROM ranked WHERE rn = 1
""",
)
def argmax_top_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, "customer", "nation")
    counts = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )
    w = Window.partitionBy("n_name").orderBy(
        F.desc("n_customers"), F.asc("c_mktsegment")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "n_name",
            F.col("c_mktsegment").alias("top_segment"),
            "n_customers",
        )
    )


# --------------------------------------------------------------------------
# A7 — latest-partition slice (max-subquery filter), collect-free
# (reference: scripts/gold/model_gold.py:250-253 WHERE d = (SELECT MAX(d)))
# --------------------------------------------------------------------------


@query(
    "latest_partition_summary",
    oracle=f"""
SELECT CAST(ts AS DATE) AS event_date,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       {sql_dround(sql_dsum('value'))} AS total_value
FROM events
WHERE CAST(ts AS DATE) = (SELECT MAX(CAST(ts AS DATE)) FROM events)
GROUP BY 1
""",
)
def latest_partition_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    with_date = events.withColumn("event_date", F.to_date("ts"))
    max_date = with_date.agg(F.max("event_date").alias("max_date"))
    return (
        with_date.join(
            F.broadcast(max_date),
            F.col("event_date") == F.col("max_date"),
        )
        .groupBy("event_date")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dround(dsum("value")).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# A8 — all data-quality predicate counts fused into ONE scan
# (reference: scripts/silver/validate_silver.py:89-233 runs one query per
#  check; ours is a single aggregation — see medallion/quality.py for the
#  config-driven rule compiler built on the same idea)
# --------------------------------------------------------------------------


@query(
    "dq_single_pass",
    oracle="""
SELECT COUNT(*) FILTER (WHERE l_orderkey IS NULL) AS null_orderkey,
       COUNT(*) FILTER (WHERE l_quantity < 0) AS negative_qty,
       COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 1) AS bad_discount,
       COUNT(*) FILTER (WHERE l_tax > l_discount) AS tax_gt_discount,
       COUNT(*) FILTER (WHERE l_shipdate IS NULL) AS null_shipdate,
       COUNT(*) AS total_rows
FROM lineitem
""",
)
def dq_single_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return li.agg(
        F.count_if(F.col("l_orderkey").isNull()).alias("null_orderkey"),
        F.count_if(F.col("l_quantity") < 0).alias("negative_qty"),
        F.count_if(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
        ).alias("bad_discount"),
        F.count_if(F.col("l_tax") > F.col("l_discount")).alias("tax_gt_discount"),
        F.count_if(F.col("l_shipdate").isNull()).alias("null_shipdate"),
        F.count("*").alias("total_rows"),
    )


# --------------------------------------------------------------------------
# A9 + U1 — per-table freshness vs pinned as-of, combined via UNION ALL
# (reference: scripts/silver/validate_silver.py:239-252)
# --------------------------------------------------------------------------


@query(
    "freshness_union",
    oracle=f"""
SELECT 'events' AS table_name,
       {sql_dround(f"(epoch(TIMESTAMP '{AS_OF}') - epoch(MAX(ts))) / 3600.0", 4)}
           AS hours_old
FROM events
UNION ALL
SELECT 'orders',
       {sql_dround(f"(epoch(TIMESTAMP '{AS_OF}') - epoch(MAX(o_orderdate))) / 3600.0", 4)}
FROM orders
UNION ALL
SELECT 'lineitem',
       {sql_dround(f"(epoch(TIMESTAMP '{AS_OF}') - epoch(MAX(l_shipdate))) / 3600.0", 4)}
FROM lineitem
""",
)
def freshness_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "events", "orders", "lineitem")
    asof = F.lit(AS_OF).cast("timestamp").cast("double")

    def fresh(df: DataFrame, name: str, ts_col: str) -> DataFrame:
        return df.agg(
            dround(
                (asof - F.max(epoch_seconds(ts_col))) / 3600.0, 4
            ).alias("hours_old")
        ).select(F.lit(name).alias("table_name"), "hours_old")

    return (
        fresh(t["events"], "events", "ts")
        .unionByName(fresh(t["orders"], "orders", "o_orderdate"))
        .unionByName(fresh(t["lineitem"], "lineitem", "l_shipdate"))
    )


# --------------------------------------------------------------------------
# Exact quantiles per group (beyond-reference: interpolated median/p90;
# scale note — exact percentile collects per-group value lists; at 100 TB
# use approx_percentile with a t-digest-sized accuracy instead)
# --------------------------------------------------------------------------


@query(
    "group_quantiles",
    oracle=f"""
SELECT l_returnflag,
       {sql_dround('quantile_cont(l_quantity, 0.5)', 4)} AS median_qty,
       {sql_dround('quantile_cont(l_extendedprice, 0.9)', 4)} AS p90_price
FROM lineitem GROUP BY 1
""",
)
def group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return li.groupBy("l_returnflag").agg(
        dround(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median_qty"),
        dround(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
    )


@query("group_quantiles_approx")
def group_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB plan for group_quantiles: approx_percentile keeps a
    bounded mergeable sketch per group (Greenwald-Khanna, accuracy
    1/10000) instead of materializing every value on the 3 reducers —
    exact percentile over 3 groups is an OOM at 100× scale. No SQL
    oracle: the sketch algorithm is engine-specific, so the driver runs
    the rows-only check; the tolerance agreement with the exact plan is
    pinned by a local test (tests/test_operators.py)."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return li.groupBy("l_returnflag").agg(
        dround(
            F.expr("approx_percentile(l_quantity, 0.5, 10000)"), 4
        ).alias("median_qty"),
        dround(
            F.expr("approx_percentile(l_extendedprice, 0.9, 10000)"), 4
        ).alias("p90_price"),
    )


# --------------------------------------------------------------------------
# ROLLUP (beyond-reference Spark-native: hierarchical totals in one pass)
# --------------------------------------------------------------------------


@query(
    "rollup_revenue",
    oracle=f"""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       {sql_dround(sql_dsum('l_extendedprice', 2), 2)} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
""",
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: rollup partials over the full scan; split measured 1.45->0.89 s
    li = load_tables(spark, sf_dir, "lineitem", split=("lineitem",))["lineitem"]
    # r14: pre-aggregate to (flag, status) grain BEFORE the rollup —
    # Spark plans rollup as Expand-then-aggregate, so the naive form
    # pushes 3x the full row count through the partial aggregate; over
    # the pre-aggregate the Expand runs at group cardinality (~6 rows).
    # Exact by the decimal discipline: the element cast mirrors
    # dsum's DECIMAL(27,2) exactly (numeric.py _PREC — the scale rule),
    # decimal addition is associative, and the outer sum only WIDENS
    # (decimal(37,2) partials -> decimal(38,2)), so re-aggregating
    # partials is bit-identical to the single-level sum; counts re-add
    # as BIGINTs. Data-NULL flag/status rows form the same detail
    # groups either way (rollup subtotal NULLs are tracked via
    # grouping_id, not the values). A/B and plan diff in
    # plans/r14/ab_twolevel.json / rollup_revenue_{before,after}.txt.
    base = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(27,2)")).alias(
            "__rev"
        ),
        F.count("*").alias("__n"),
    )
    return (
        base.rollup("l_returnflag", "l_linestatus")
        .agg(
            dround(F.sum("__rev").cast("double"), 2).alias("revenue"),
            F.sum("__n").alias("n_items"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n_items",
        )
    )


# --------------------------------------------------------------------------
# U-extra — EXCEPT (events users with no orders)
# --------------------------------------------------------------------------


@query(
    "except_inactive_users",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_inactive
FROM (
    SELECT DISTINCT user_id FROM events
    EXCEPT
    SELECT DISTINCT o_custkey FROM orders
)
""",
)
def except_inactive_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "events", "orders")
    ev_users = t["events"].select(F.col("user_id")).distinct()
    order_users = t["orders"].select(F.col("o_custkey").alias("user_id")).distinct()
    return ev_users.exceptAll(order_users).agg(F.count("*").alias("n_inactive"))


# --------------------------------------------------------------------------
# Single-pass table profiling — the dq-engine companion every pipeline
# ships: per-column row/null/distinct counts + min/max, computed in ONE
# scan (the N-distinct Expand is the standard profiling trade: k
# projections of one pass beat k separate scans; same fusion story as
# dq_single_pass). Value formatting is engine-proofed: timestamps
# profile as dates, doubles as integer cents (floor(x*100) — min/max
# are monotone, so cents-of-extreme == extreme-of-cents), so the
# cross-engine string comparison can never hit float-format or
# rounding-mode drift.
# --------------------------------------------------------------------------

_PROFILE_COLS: list[tuple[str, str, str]] = [
    # (label, spark value expr, duckdb value expr)
    ("o_orderkey", "cast(o_orderkey AS string)", "CAST(o_orderkey AS VARCHAR)"),
    ("o_custkey", "cast(o_custkey AS string)", "CAST(o_custkey AS VARCHAR)"),
    ("o_orderstatus", "o_orderstatus", "o_orderstatus"),
    ("o_orderpriority", "o_orderpriority", "o_orderpriority"),
    (
        "o_orderdate",
        "cast(cast(o_orderdate AS date) AS string)",
        "CAST(CAST(o_orderdate AS DATE) AS VARCHAR)",
    ),
    (
        "o_totalprice_cents",
        "cast(cast(floor(o_totalprice * 100) AS bigint) AS string)",
        "CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS VARCHAR)",
    ),
]


def _profile_oracle() -> str:
    parts = []
    for label, _, dexpr in _PROFILE_COLS:
        parts.append(f"""
SELECT '{label}' AS column_name,
       COUNT(*) AS n_rows,
       COUNT(*) - COUNT({dexpr}) AS n_nulls,
       COUNT(DISTINCT {dexpr}) AS n_distinct,
       MIN({dexpr}) AS min_value,
       MAX({dexpr}) AS max_value
FROM orders""")
    return "\nUNION ALL\n".join(parts)


@query("profile_orders", oracle=_profile_oracle())
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    aggs = [F.count("*").alias("n_rows")]
    for label, sexpr, _ in _PROFILE_COLS:
        v = F.expr(sexpr)
        aggs += [
            F.count_if(v.isNull()).alias(f"{label}__nulls"),
            F.countDistinct(v).alias(f"{label}__distinct"),
            F.min(v).alias(f"{label}__min"),
            F.max(v).alias(f"{label}__max"),
        ]
    one = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{label}', {label}__nulls, {label}__distinct, "
        f"{label}__min, {label}__max"
        for label, _, _ in _PROFILE_COLS
    )
    return one.select(
        "n_rows",
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
            "(column_name, n_nulls, n_distinct, min_value, max_value)"
        ),
    ).select(
        "column_name", "n_rows", "n_nulls", "n_distinct",
        "min_value", "max_value",
    )


# --------------------------------------------------------------------------
# Salted (two-stage) aggregation, driver-checked: the explicit skew
# fallback for groupBy keys too hot even for AQE — stage 1 counts on
# (key, salt) so a hot key spreads across 16 reducers, stage 2 combines
# the 16 partials per key. Result is exactly GROUP BY (the oracle), so
# the skew machinery itself sits under the value-hash gate. The salt is
# derived from a per-row id, never from data values — membership is
# irrelevant, only spread matters.
# --------------------------------------------------------------------------


@query(
    "salted_event_counts",
    oracle="""
SELECT event_type, COUNT(*) AS n
FROM events GROUP BY event_type
""",
)
def salted_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_count

    events = load_tables(spark, sf_dir, "events")["events"]
    return salted_count(events, "event_type")


# --------------------------------------------------------------------------
# Pareto (cumulative-contribution) analysis: nation revenue share and
# running share in descending-revenue order — "which 20% of markets
# carry 80%". The base aggregation shuffles once on nation; the share
# math runs over the NATION-CARDINALITY result (25 rows): the
# unpartitioned cumulative window is bounded by the dimension, never
# the fact table, and the grand total rides a broadcast 1-row join.
# --------------------------------------------------------------------------


@query(
    "revenue_pareto_by_nation",
    oracle=f"""
WITH rev AS (
    SELECT n_name AS nation,
           {sql_dround(sql_dsum('l_extendedprice * (1 - l_discount)', 4), 2)}
               AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    GROUP BY 1
),
tot AS (SELECT {sql_dsum('revenue', 2)} AS t FROM rev),
ranked AS (
    SELECT nation, revenue,
           {sql_dround('revenue / tot.t * 100.0')} AS pct,
           {sql_dround('''CAST(SUM(CAST(revenue AS DECIMAL(27,2))) OVER (
               ORDER BY revenue DESC, nation
               ROWS UNBOUNDED PRECEDING) AS DOUBLE) / tot.t * 100.0''')}
               AS cum_pct
    FROM rev CROSS JOIN tot
)
SELECT nation, revenue, pct, cum_pct FROM ranked
""",
)
def revenue_pareto_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, "lineitem", "supplier", "nation")
    rev = (
        t["lineitem"]
        .join(
            t["supplier"].select("s_suppkey", "s_nationkey"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(t["nation"]),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            dround(
                dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4),
                2,
            ).alias("revenue")
        )
    )
    tot = rev.agg(dsum("revenue", 2).alias("t"))
    # decimal running sum over the 25-row dimension result: exact and
    # order-pinned (revenue DESC, nation tiebreak)
    w = (
        Window.orderBy(F.desc("revenue"), F.asc("nation"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        F.sum(F.col("revenue").cast("decimal(27,2)"))
        .over(w)
        .cast("double")
    )
    return (
        rev.crossJoin(F.broadcast(tot))
        .select(
            "nation",
            "revenue",
            dround(F.col("revenue") / F.col("t") * 100.0).alias("pct"),
            dround(cum / F.col("t") * 100.0).alias("cum_pct"),
        )
    )


# --------------------------------------------------------------------------
# Ordered string aggregation (LISTAGG/STRING_AGG): unordered on many
# engines and arbitrary under parallel combine — the portable form
# sorts INSIDE the aggregate (array_sort(collect_list) / STRING_AGG
# ORDER BY), so the concatenation is reshard-stable. Market segments
# per nation: dimension-bounded output.
# --------------------------------------------------------------------------


@query(
    "string_agg_segments",
    oracle="""
SELECT c_nationkey,
       STRING_AGG(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment)
           AS segments,
       COUNT(DISTINCT c_mktsegment) AS n_segments
FROM customer
GROUP BY 1
""",
)
def string_agg_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    return cust.groupBy("c_nationkey").agg(
        F.concat_ws(
            ",", F.array_sort(F.collect_set("c_mktsegment"))
        ).alias("segments"),
        F.countDistinct("c_mktsegment").alias("n_segments"),
    )


# --------------------------------------------------------------------------
# Bitwise aggregation: each user's set of seen event types folded into
# one integer bitmask via BIT_OR of fixed per-type powers of two —
# exact, associative, order-independent (the cheapest possible "which
# behaviors has this user shown" encoding: 5 types = 5 bits, vs a
# collect_set of strings). The combo census groups the user-cardinality
# mask table into <= 2^5 rows.
# --------------------------------------------------------------------------

_TYPE_BITS = {
    "click": 1,
    "error": 2,
    "purchase": 4,
    "signup": 8,
    "view": 16,
}


@query(
    "user_event_bitmask",
    oracle=f"""
WITH masks AS (
    SELECT user_id,
           CAST(BIT_OR(CASE event_type
               WHEN 'click' THEN 1 WHEN 'error' THEN 2
               WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
               WHEN 'view' THEN 16 ELSE 0 END) AS BIGINT) AS mask
    FROM events GROUP BY 1
)
SELECT mask, COUNT(*) AS n_users,
       CAST(mask = 31 AS BOOLEAN) AS all_types
FROM masks
GROUP BY 1
""",
)
def user_event_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    expr = None
    for t, b in _TYPE_BITS.items():
        case = F.when(F.col("event_type") == t, b)
        expr = case if expr is None else expr.when(
            F.col("event_type") == t, b
        )
    expr = expr.otherwise(0)
    masks = events.groupBy("user_id").agg(
        F.bit_or(expr).cast("bigint").alias("mask")
    )
    return masks.groupBy("mask").agg(
        F.count("*").alias("n_users"),
        (F.col("mask") == 31).alias("all_types"),
    )


# --------------------------------------------------------------------------
# Chi-square contingency — is event type independent of day-of-week?
# The statistical screen behind "is this behavioral difference real".
# Counts are exact; expected values and per-cell terms are single
# float ops from exact integers; the cell terms are dround(8)-snapped
# and decimal-summed so the k×7-cell reduction is order-independent
# (numeric.py rule).
# --------------------------------------------------------------------------


@query(
    "chi_square_type_dow",
    oracle=f"""
WITH cells AS (
    SELECT event_type, dayofweek(CAST(ts AS DATE)) AS dow,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
margins AS (
    SELECT event_type, dow, n,
           SUM(n) OVER (PARTITION BY event_type) AS r,
           SUM(n) OVER (PARTITION BY dow) AS c,
           SUM(n) OVER () AS t
    FROM cells
),
terms AS (
    SELECT {sql_dround(
        "(n - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(t AS DOUBLE))"
        " * (n - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(t AS DOUBLE))"
        " / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(t AS DOUBLE))",
        8)} AS term,
           event_type, dow
    FROM margins
)
SELECT COUNT(*) AS n_cells,
       (SELECT (COUNT(DISTINCT event_type) - 1)
               * (COUNT(DISTINCT dow) - 1) FROM cells) AS dof,
       CAST(CAST(SUM(CAST(term AS DECIMAL(27,8))) AS VARCHAR) AS DOUBLE) AS chi2
FROM terms
""",
)
def chi_square_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square statistic for event_type × day-of-week independence.

    One (type, dow)-cell aggregate is the only full-scan stage; the
    margins come from windows over the ≤ k×7-cell table (the
    unpartitioned total-margin window is cell-cardinality-bounded).
    Spark numbers dayofweek 1=Sunday, DuckDB 0=Sunday — harmless
    here: the statistic is invariant to any relabeling of the
    categories, and the labels are not part of the output.
    """
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    cells = events.groupBy(
        "event_type",
        F.expr("dayofweek(CAST(ts AS DATE))").alias("dow"),
    ).agg(F.count("*").alias("n"))
    margins = cells.select(
        "event_type",
        "dow",
        "n",
        F.sum("n").over(Window.partitionBy("event_type")).alias("r"),
        F.sum("n").over(Window.partitionBy("dow")).alias("c"),
        F.sum("n").over(
            Window.partitionBy()
        ).alias("t"),
    )
    e = (
        F.col("r").cast("double")
        * F.col("c").cast("double")
        / F.col("t").cast("double")
    )
    terms = margins.select(
        "event_type",
        "dow",
        dround((F.col("n") - e) * (F.col("n") - e) / e, 8).alias("term"),
    )
    dof = cells.agg(
        (
            (F.count_distinct("event_type") - 1)
            * (F.count_distinct("dow") - 1)
        ).alias("dof")
    )
    return terms.crossJoin(F.broadcast(dof)).groupBy("dof").agg(
        F.count("*").alias("n_cells"),
        F.sum(F.col("term").cast("decimal(27,8)"))
        .cast("double")
        .alias("chi2"),
    ).select("n_cells", "dof", "chi2")


# --------------------------------------------------------------------------
# Order-total consistency — the cross-table invariant audit: does
# o_totalprice equal the sum of its line items' extendedprice ×
# (1−discount) × (1+tax)? (TPC-H's own generation invariant.) All
# money math runs in exact DECIMAL — the 2-dec × 2-dec × 2-dec product
# is a finite 6-dec decimal — so "mismatch" means the DATA violates
# the invariant, never that float noise did. The join co-partitions
# both fact tables on the order key; output is status-cardinality.
# --------------------------------------------------------------------------


@query(
    "order_total_consistency",
    oracle="""
WITH li AS (
    SELECT l_orderkey,
           SUM(CAST(l_extendedprice AS DECIMAL(27,6))
               * (1 - CAST(l_discount AS DECIMAL(27,2)))
               * (1 + CAST(l_tax AS DECIMAL(27,2)))) AS derived
    FROM lineitem GROUP BY 1
)
SELECT o.o_orderstatus,
       COUNT(*) AS n_orders,
       COUNT(*) FILTER (
           WHERE ABS(CAST(o.o_totalprice AS DECIMAL(27,6)) - li.derived)
                 > CAST(0.01 AS DECIMAL(27,6))
       ) AS n_mismatched,
       CAST(FLOOR(SUM(CAST(ABS(CAST(o.o_totalprice AS DECIMAL(27,6))
                         - li.derived) * 100 AS DECIMAL(27,4)))) AS BIGINT)
           AS total_abs_delta_cents
FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey
GROUP BY 1
""",
)
def order_total_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    li = t["lineitem"].groupBy("l_orderkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(27,6)")
            * (1 - F.col("l_discount").cast("decimal(27,2)"))
            * (1 + F.col("l_tax").cast("decimal(27,2)"))
        ).alias("derived")
    )
    joined = t["orders"].join(
        li, t["orders"]["o_orderkey"] == li["l_orderkey"]
    )
    delta = F.abs(
        F.col("o_totalprice").cast("decimal(27,6)") - F.col("derived")
    )
    return joined.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.count_if(delta > F.lit(0.01).cast("decimal(27,6)")).alias(
            "n_mismatched"
        ),
        # explicit FLOOR: decimal->bigint casts truncate on one engine
        # and round on the other
        F.floor(F.sum((delta * 100).cast("decimal(27,4)")))
        .cast("bigint")
        .alias("total_abs_delta_cents"),
    )


# --------------------------------------------------------------------------
# Gini concentration of customer spend per nation — the inequality
# scalar behind "do 1% of customers carry this market". Computed from
# the rank-weighted form G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n with ranks
# assigned per nation (partition-bounded sort, never global) and all
# sums in exact integer cents — the division at the end is the only
# float op.
# --------------------------------------------------------------------------


@query(
    "gini_by_nation",
    oracle=f"""
WITH spend AS (
    SELECT c.c_nationkey,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(27,2)) * 100) AS BIGINT)
               AS cents,
           o.o_custkey
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1, 3
),
ranked AS (
    SELECT c_nationkey, cents,
           row_number() OVER (
               PARTITION BY c_nationkey ORDER BY cents, o_custkey
           ) AS i
    FROM spend
)
SELECT n.n_name AS nation,
       COUNT(*) AS n_customers,
       {sql_dround(
           "2.0 * CAST(SUM(i * cents) AS DOUBLE)"
           " / (COUNT(*) * CAST(SUM(cents) AS DOUBLE))"
           " - (COUNT(*) + 1.0) / COUNT(*)", 6)} AS gini
FROM ranked r JOIN nation n ON n.n_nationkey = r.c_nationkey
GROUP BY 1
""",
)
def gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    spend = (
        t["orders"]
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_nationkey")),
            t["orders"]["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(27,2)") * 100)
            .cast("bigint")
            .alias("cents")
        )
    )
    w = Window.partitionBy("c_nationkey").orderBy("cents", "o_custkey")
    ranked = spend.select(
        "c_nationkey", "cents", F.row_number().over(w).alias("i")
    )
    n = F.count("*")
    return (
        ranked.join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            n.alias("n_customers"),
            dround(
                2.0
                * F.sum(F.col("i") * F.col("cents")).cast("double")
                / (n * F.sum("cents").cast("double"))
                - (n + 1.0) / n,
                6,
            ).alias("gini"),
        )
    )


# --------------------------------------------------------------------------
# Market-basket affinity over order line items — the classic frequent-
# pair mining workload. Pair generation is a self-join WITHIN each
# order (fan-out bounded by items-per-order², a data-model constant
# ~7² — never part-cardinality), support comes from one part-count
# pass, and lift is exact integer counts with one final division. At
# 100 TB the part-count side co-partitions on part key (it is NOT
# assumed broadcastable); the min-support filter prunes the pair
# table before the lift join.
# --------------------------------------------------------------------------

_BASKET_MIN_SUP = 2


@query(
    "basket_affinity_parts",
    oracle=f"""
WITH items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
pc AS (SELECT l_partkey, COUNT(*) AS c FROM items GROUP BY 1),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS n_both
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_BASKET_MIN_SUP}
)
SELECT p.part_a, p.part_b, p.n_both,
       ca.c AS n_a, cb.c AS n_b,
       {sql_dround('p.n_both * 1.0 * n.n_orders / (ca.c * cb.c)', 6)}
           AS lift
FROM pairs p
JOIN pc ca ON ca.l_partkey = p.part_a
JOIN pc cb ON cb.l_partkey = p.part_b
CROSS JOIN n
""",
)
def basket_affinity_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    items = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = items.agg(
        F.count_distinct("l_orderkey").alias("n_orders")
    )
    pc = items.groupBy("l_partkey").agg(F.count("*").alias("c"))
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= _BASKET_MIN_SUP)
    )
    ca = pc.select(
        F.col("l_partkey").alias("part_a"), F.col("c").alias("n_a")
    )
    cb = pc.select(
        F.col("l_partkey").alias("part_b"), F.col("c").alias("n_b")
    )
    return (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_both",
            "n_a",
            "n_b",
            dround(
                F.col("n_both")
                * 1.0
                * F.col("n_orders")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# Rollup-cascade consistency: month aggregates computed FROM daily
# partials must equal the direct computation — the mergeability
# property that makes pre-aggregation cubes, map-side combine, and
# incremental matview maintenance correct. Sums ride exact DECIMAL
# partials (decimal addition is associative; a double cascade would
# NOT reproduce bit-for-bit), so the audit both demonstrates and
# verifies the safe pattern.
# --------------------------------------------------------------------------


@query(
    "rollup_cascade_consistency",
    oracle="""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d,
           COUNT(*) AS n,
           SUM(CAST(value AS DECIMAL(27,4))) AS v
    FROM events GROUP BY 1, 2
),
monthly_cascade AS (
    SELECT event_type, strftime(d, '%Y-%m') AS month,
           CAST(SUM(n) AS BIGINT) AS n_cascade,
           SUM(v) AS v_cascade
    FROM daily GROUP BY 1, 2
),
monthly_direct AS (
    SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m') AS month,
           COUNT(*) AS n_direct,
           SUM(CAST(value AS DECIMAL(27,4))) AS v_direct
    FROM events GROUP BY 1, 2
)
SELECT c.event_type, c.month,
       c.n_cascade AS n_events,
       -- VARCHAR reroute (r14): DuckDB's native DECIMAL->DOUBLE cast
       -- is double-rounded past 2^53 unscaled (numeric.py risk #2)
       CAST(CAST(c.v_cascade AS VARCHAR) AS DOUBLE) AS total_value,
       (c.n_cascade = d.n_direct) AS counts_match,
       (c.v_cascade = d.v_direct) AS values_match
FROM monthly_cascade c
JOIN monthly_direct d
  ON d.event_type = c.event_type AND d.month = c.month
""",
)
def rollup_cascade_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day→month rollup from partials vs direct, proven equal.

    Scale: the cascade path is how a 100-TB pipeline actually serves
    month queries — reuse day-grain partials (tiny) instead of
    re-scanning raw events; this query materializes both paths and
    emits the equality witness per (type, month). Exact-decimal
    partials are what make the cascade safe under ANY partitioning.
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(27,4)")).alias("v"),
    )
    cascade = daily.groupBy(
        "event_type", F.date_format("d", "yyyy-MM").alias("month")
    ).agg(
        F.sum("n").alias("n_cascade"),
        F.sum("v").alias("v_cascade"),
    )
    direct = events.groupBy(
        "event_type",
        F.date_format(F.to_date("ts"), "yyyy-MM").alias("month"),
    ).agg(
        F.count("*").alias("n_direct"),
        F.sum(F.col("value").cast("decimal(27,4)")).alias("v_direct"),
    )
    return cascade.join(direct, ["event_type", "month"]).select(
        "event_type",
        "month",
        F.col("n_cascade").alias("n_events"),
        F.col("v_cascade").cast("double").alias("total_value"),
        (F.col("n_cascade") == F.col("n_direct")).alias("counts_match"),
        (F.col("v_cascade") == F.col("v_direct")).alias("values_match"),
    )


# --------------------------------------------------------------------------
# Hierarchical percent-of-total: nation share within region, region
# share of global — the drill-path decomposition every BI rollup
# serves. Revenue rides exact integer cents; every share is one float
# division of exact integers, so the hierarchy is consistent by
# construction (shares within a region sum to 1 up to rounding).
# --------------------------------------------------------------------------


@query(
    "hierarchical_revenue_shares",
    oracle=f"""
WITH rev AS (
    SELECT r.r_name AS region, n.n_name AS nation,
           CAST(SUM({sql_qround('o.o_totalprice', 2)})
                AS BIGINT) AS cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY 1, 2
),
lv AS (
    SELECT region, nation, cents,
           CAST(SUM(cents) OVER (PARTITION BY region) AS BIGINT)
               AS region_cents,
           CAST(SUM(cents) OVER () AS BIGINT) AS global_cents
    FROM rev
)
SELECT region, nation,
       cents / 100.0 AS revenue,
       {sql_dround('cents * 1.0 / region_cents', 8)} AS share_in_region,
       {sql_dround('region_cents * 1.0 / global_cents', 8)}
           AS region_share_global
FROM lv
""",
)
def hierarchical_revenue_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation-within-region and region-within-global revenue shares.

    Scale: one orderkey-side aggregation down to nation grain (dims
    broadcast), then two window normalizations over the 25-row result
    — percent-of-total never re-scans facts. Exact-cents sums make the
    shares identical under any partitioning.
    """
    t = load_tables(spark, sf_dir, "orders", "customer", "nation", "region")
    from pyspark.sql.window import Window

    cents = qround(F.col("o_totalprice"), 2)
    rev = (
        t["orders"]
        .join(
            F.broadcast(t["customer"]),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(t["region"]), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(F.sum(cents).alias("cents"))
    )
    lv = rev.select(
        "region",
        "nation",
        "cents",
        F.sum("cents").over(Window.partitionBy("region")).cast("bigint").alias(
            "region_cents"
        ),
        F.sum("cents").over(Window.partitionBy()).cast("bigint").alias(
            "global_cents"
        ),
    )
    return lv.select(
        "region",
        "nation",
        (F.col("cents") / 100.0).alias("revenue"),
        dround(F.col("cents") * 1.0 / F.col("region_cents"), 8).alias(
            "share_in_region"
        ),
        dround(F.col("region_cents") * 1.0 / F.col("global_cents"), 8).alias(
            "region_share_global"
        ),
    )


# --------------------------------------------------------------------------
# Multiset set operations: EXCEPT ALL / INTERSECT ALL keep
# MULTIPLICITY (bag semantics) — a user with 5 January events and 2
# February events survives EXCEPT ALL 3 times, where distinct EXCEPT
# keeps or drops them outright. The distinct variants are covered by
# except_inactive_users / intersect_users; this closes the bag-
# semantics corner both engines implement per the SQL standard.
# --------------------------------------------------------------------------


@query(
    "multiset_except_intersect",
    oracle="""
WITH early AS (
    SELECT user_id FROM events
    WHERE CAST(ts AS DATE) < DATE '2024-01-16'
),
late AS (
    SELECT user_id FROM events
    WHERE CAST(ts AS DATE) >= DATE '2024-01-16'
),
ea AS (
    SELECT 'except_all' AS set_op, user_id, COUNT(*) AS n FROM (
        SELECT user_id FROM early EXCEPT ALL SELECT user_id FROM late
    ) GROUP BY 2
),
ia AS (
    SELECT 'intersect_all' AS set_op, user_id, COUNT(*) AS n FROM (
        SELECT user_id FROM early INTERSECT ALL SELECT user_id FROM late
    ) GROUP BY 2
)
SELECT * FROM ea UNION ALL SELECT * FROM ia
""",
)
def multiset_except_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics EXCEPT ALL / INTERSECT ALL of half-month activity.

    Scale: exceptAll/intersectAll plan as a count-aggregate + replicate
    (one shuffle on the value), not a join explosion; the per-user
    grouping after them is the same shuffle key, so AQE coalesces the
    exchanges. Multiplicities encode "how much MORE active in January"
    — information the distinct variants throw away.
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    # mid-span cutoff (the corpus is Jan-only; a Feb boundary made the
    # INTERSECT ALL leg structurally empty — round-8 audit)
    cutoff = F.lit("2024-01-16").cast("date")
    jan = events.filter(F.to_date("ts") < cutoff).select("user_id")
    feb = events.filter(F.to_date("ts") >= cutoff).select("user_id")
    ea = (
        jan.exceptAll(feb)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .select(F.lit("except_all").alias("set_op"), "user_id", "n")
    )
    ia = (
        jan.intersectAll(feb)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .select(F.lit("intersect_all").alias("set_op"), "user_id", "n")
    )
    return ea.unionAll(ia)


# --------------------------------------------------------------------------
# NULL-semantics conformance: one row per classic NULL trap, both
# engines must agree because each implements the SQL standard —
# = never matches NULL, IS NOT DISTINCT FROM does, NOT IN against a
# set containing NULL matches NOTHING, aggregates skip NULLs, and
# COUNT(DISTINCT) excludes them. Run as literal SQL on BOTH engines
# (the Spark side is spark.sql over the registered temp view) so the
# checks audit engine semantics, not expression-builder translation.
# --------------------------------------------------------------------------

_NULLSEM_SQL = """
WITH t AS (
    SELECT o_orderkey AS k,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL
                ELSE o_orderpriority END AS p
    FROM orders
),
checks AS (
    SELECT 'eq_join_matches' AS check_name,
           (SELECT COUNT(*) FROM t a JOIN t b ON a.k = b.k AND a.p = b.p)
               AS val
    UNION ALL
    SELECT 'null_safe_join_matches',
           (SELECT COUNT(*) FROM t a JOIN t b
            ON a.k = b.k AND a.p IS NOT DISTINCT FROM b.p)
    UNION ALL
    SELECT 'not_in_set_with_null',
           (SELECT COUNT(*) FROM t
            WHERE p NOT IN (SELECT p FROM t WHERE k <= 14))
    UNION ALL
    SELECT 'in_set_with_null',
           (SELECT COUNT(*) FROM t
            WHERE p IN (SELECT p FROM t WHERE k <= 14))
    UNION ALL
    SELECT 'count_star', (SELECT COUNT(*) FROM t)
    UNION ALL
    SELECT 'count_col_skips_null', (SELECT COUNT(p) FROM t)
    UNION ALL
    SELECT 'count_distinct_excludes_null',
           (SELECT COUNT(DISTINCT p) FROM t)
    UNION ALL
    SELECT 'null_rows', (SELECT COUNT(*) FROM t WHERE p IS NULL)
)
SELECT check_name, CAST(val AS BIGINT) AS val FROM checks
"""


@query("null_semantics_conformance", oracle=_NULLSEM_SQL)
def null_semantics_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic NULL traps, checked value-for-value across engines.

    Scale: each check is one aggregate over a narrow projection; the
    join legs are key-equi joins (the p predicate only filters). The
    value of this row is CONTRACTUAL — it pins that the engine pair
    agrees on the standard's three-valued logic, so every other
    query's NULL handling rests on verified ground.
    """
    t = load_tables(spark, sf_dir, "orders")["orders"]
    t.createOrReplaceTempView("orders")
    return spark.sql(_NULLSEM_SQL)


# --------------------------------------------------------------------------
# Bounded-error audits for the ENGINE-NATIVE sketches. The raw outputs
# of approx_percentile / approx_count_distinct are engine-internal
# (DuckDB cannot reproduce them — those queries stay rows-only), but
# their ERROR BOUNDS are checkable: emit the exact answer plus a
# boolean "within tolerance", and let the oracle assert the boolean.
# If a Spark upgrade ever ships a sketch that violates its accuracy
# contract, the value hash flips — the rows-only gap closed from the
# other side.
# --------------------------------------------------------------------------


@query(
    "approx_quantile_error_bounded",
    oracle=f"""
WITH v AS (
    SELECT event_type, value FROM events WHERE value IS NOT NULL
),
st AS (
    SELECT event_type, MIN(value) AS mn, MAX(value) AS mx, COUNT(*) AS n
    FROM v GROUP BY 1
),
ranked AS (
    SELECT event_type, value,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn
    FROM v
),
ex AS (
    SELECT r.event_type,
           MAX(CASE WHEN r.rn = CAST(CEIL(0.5 * s.n) AS BIGINT)
               THEN r.value END) AS exact_p50,
           MAX(CASE WHEN r.rn = CAST(CEIL(0.9 * s.n) AS BIGINT)
               THEN r.value END) AS exact_p90
    FROM ranked r JOIN st s USING (event_type)
    GROUP BY 1
)
SELECT e.event_type,
       {sql_dround('e.exact_p50', 4)} AS exact_p50,
       {sql_dround('e.exact_p90', 4)} AS exact_p90,
       TRUE AS p50_within_tol,
       TRUE AS p90_within_tol
FROM ex e
""",
)
def approx_quantile_error_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native approx_percentile audited against its accuracy contract.

    The booleans compare Spark's sketch output to the exact order
    statistic within 2% of the value range; the oracle asserts them
    TRUE, so the sketch's contract is part of the value hash. Scale:
    the approx side is the production path (bounded sketch state);
    the exact side is audit-only.
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    from pyspark.sql.window import Window

    # NULL values: percentile_approx already ignores them, but they
    # would inflate n (shifting the target rank) and sort on opposite
    # ends of the two engines' ROW_NUMBER — filter both sides.
    events = events.filter(F.col("value").isNotNull())
    st = events.groupBy("event_type").agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.count("*").alias("n"),
    )
    wr = Window.partitionBy("event_type").orderBy("value")
    ranked = events.select(
        "event_type", "value", F.row_number().over(wr).alias("rn")
    )
    ex = (
        ranked.join(st, "event_type")
        .groupBy("event_type")
        .agg(
            F.max(
                F.when(
                    F.col("rn")
                    == F.ceil(0.5 * F.col("n")).cast("bigint"),
                    F.col("value"),
                )
            ).alias("exact_p50"),
            F.max(
                F.when(
                    F.col("rn")
                    == F.ceil(0.9 * F.col("n")).cast("bigint"),
                    F.col("value"),
                )
            ).alias("exact_p90"),
        )
    )
    ap = events.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.9], 10000).alias("ap")
    )
    joined = ex.join(ap, "event_type").join(st, "event_type")
    tol = (F.col("mx") - F.col("mn")) * 0.02
    return joined.select(
        "event_type",
        dround(F.col("exact_p50"), 4).alias("exact_p50"),
        dround(F.col("exact_p90"), 4).alias("exact_p90"),
        (F.abs(F.col("ap")[0] - F.col("exact_p50")) <= tol).alias(
            "p50_within_tol"
        ),
        (F.abs(F.col("ap")[1] - F.col("exact_p90")) <= tol).alias(
            "p90_within_tol"
        ),
    )


@query(
    "approx_distinct_error_bounded",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_exact,
       TRUE AS within_tol
FROM events GROUP BY 1
""",
)
def approx_distinct_error_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native approx_count_distinct audited against its rsd contract.

    Per event type: the HLL++ estimate (rsd 0.02) must land within 5×
    the declared relative error of the exact count — asserted TRUE by
    the oracle, so it participates in the value hash.
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    agg = events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact"),
        F.approx_count_distinct("user_id", 0.02).alias("n_approx"),
    )
    return agg.select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("n_approx") - F.col("n_exact"))
            <= F.greatest(
                F.lit(1.0), 0.10 * F.col("n_exact").cast("double")
            )
        ).alias("within_tol"),
    )


# --------------------------------------------------------------------------
# Pythagorean means with exact cross-engine protocols: the geometric
# mean rides ×1e9-quantized logs (exact integer sum, one exp), the
# harmonic mean rides ×1e12-quantized reciprocals — so all three means
# are partition-independent. Geometric/harmonic means are the right
# location statistics for rates and multiplicative quantities, where
# the arithmetic mean overstates.
# --------------------------------------------------------------------------


@query(
    "pythagorean_means_by_type",
    oracle=f"""
WITH q AS (
    SELECT event_type,
           value,
           {sql_qround('ln(value)', 9)} AS lq,
           CAST(FLOOR(1000000000000.0 / value + 0.5) AS BIGINT) AS rq
    FROM events WHERE value > 0
)
SELECT event_type,
       COUNT(*) AS n,
       {sql_dround(
           "CAST(CAST(SUM(CAST(value AS DECIMAL(27,4))) AS VARCHAR) AS DOUBLE) / COUNT(*)",
           4,
       )} AS arithmetic_mean,
       {sql_dround(
           "exp(CAST(SUM(lq) AS BIGINT) * 1.0 / COUNT(*) / 1000000000.0)",
           4,
       )} AS geometric_mean,
       {sql_dround(
           "COUNT(*) * 1000000000000.0 / CAST(SUM(rq) AS BIGINT)", 4
       )} AS harmonic_mean
FROM q
GROUP BY 1
""",
)
def pythagorean_means_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic / geometric / harmonic means of event value per type.

    Scale: one map-combined aggregation; each mean's cross-row
    reduction is exact (decimal cents, integer log-sums, integer
    reciprocal-sums), so results are identical at any partitioning —
    the AM ≥ GM ≥ HM inequality holds in the output by construction.
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    q = events.filter(F.col("value") > 0).select(
        "event_type",
        "value",
        qround(F.log("value"), 9).alias("lq"),
        F.floor(1000000000000.0 / F.col("value") + 0.5)
        .cast("bigint")
        .alias("rq"),
    )
    # dround, not a bare floor: 2^63 saturation guard (r12 2e17 probe)
    return q.groupBy("event_type").agg(
        F.count("*").alias("n"),
        dround(
            F.sum(F.col("value").cast("decimal(27,4)")).cast("double")
            / F.count("*"),
            4,
        ).alias("arithmetic_mean"),
        dround(
            F.exp(
                F.sum("lq").cast("bigint") * 1.0 / F.count("*") / 1000000000.0
            ),
            4,
        ).alias("geometric_mean"),
        dround(
            F.count("*") * 1000000000000.0 / F.sum("rq").cast("bigint"),
            4,
        ).alias("harmonic_mean"),
    )


# --------------------------------------------------------------------------
# CUPED experiment analysis: hash-assigned A/B arms over the post
# period, variance-reduced by the pre-period covariate (θ = cov(x,y)/
# var(x), adjusted y' = y − θ(x − x̄)). All moments are exact integer
# cents (wide-integer products: DECIMAL(38) on Spark ≡ HUGEINT in
# DuckDB), θ and x̄ are single identical divisions, per-user adjusted
# values quantize ×1e3 before the per-arm aggregation. The
# experimentation-platform op: same decision numbers on every rerun.
# --------------------------------------------------------------------------

from .training import sql_hash_bucket as _sql_hb  # noqa: E402

# mid-span split: the regenerated events corpus covers Jan 1-30 only —
# the original Feb 1 cutoff left the post period EMPTY (CUPED means and
# DiD mean_post all zero; round-8 degenerate-column audit)
_CUPED_CUTOFF = "2024-01-16 00:00:00"
# per-user cents winsorized at +-1e11 ($1e9/user, ~10^6x the corpus
# per-user ceiling): a planted 4e15 value made the x1000 adjustment
# grid saturate Spark's FLOOR(double)->LONG and overflow the per-arm
# SUM, while DuckDB's BIGINT cast errored
_CUPED_CAP = 100_000_000_000


@query(
    "cuped_ab_analysis",
    oracle=f"""
WITH sums AS (
    -- a period with no valued rows counts 0 cents (forecast_metrics
    -- precedent), never NULL
    SELECT user_id,
           COALESCE(CAST(SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_CUTOFF}'
                THEN {sql_qround('value', 2)}
                ELSE 0 END) AS BIGINT), 0) AS x0,
           COALESCE(CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUTOFF}'
                THEN {sql_qround('value', 2)}
                ELSE 0 END) AS BIGINT), 0) AS y0
    FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
per_user AS (
    SELECT user_id,
           {sql_clamp('x0', -_CUPED_CAP, _CUPED_CAP)} AS x,
           {sql_clamp('y0', -_CUPED_CAP, _CUPED_CAP)} AS y
    FROM sums
),
m AS (
    SELECT COUNT(*) AS n,
           CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
           CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
           CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
    FROM per_user
),
theta AS (
    SELECT CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS th,
           CAST(sx AS DOUBLE) / n AS xbar
    FROM m
),
adj AS (
    SELECT u.user_id,
           CASE WHEN {_sql_hb('user_id')} < 50
                THEN 'A' ELSE 'B' END AS arm,
           u.y,
           {sql_qround('(u.y - t.th * (u.x - t.xbar))', 3)} AS yq
    FROM per_user u CROSS JOIN theta t
)
SELECT arm,
       COUNT(*) AS n_users,
       CAST(SUM(y) AS BIGINT) * 1.0 / COUNT(*) / 100.0 AS mean_raw,
       CAST(SUM(yq) AS BIGINT) * 1.0 / COUNT(*) / 100000.0 AS mean_cuped
FROM adj
GROUP BY 1
""",
)
def cuped_ab_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-arm raw vs CUPED-adjusted post-period means.

    Scale: one user-grain conditional aggregation (pre/post in a
    single pass), a 1-row pooled-moment broadcast for θ/x̄, and a
    map-only adjustment — no extra scan for the covariate. The θ
    moments use wide-integer exact products, so the adjustment is
    identical under any partitioning; CUPED typically cuts the metric
    variance by cov²/ (var_x·var_y), which is what shrinks experiment
    runtimes at scale.
    """
    from .training import hash_bucket

    events = load_tables(spark, sf_dir, "events")["events"]
    # NULL unit ids cannot be hash-assigned to an arm (DuckDB's
    # '0x'||sha256(NULL) cast errors; Spark's conv(NULL) silently
    # misroutes to the ELSE arm) — filter both sides.
    events = events.filter(F.col("user_id").isNotNull())
    cutoff = F.lit(_CUPED_CUTOFF).cast("timestamp_ntz")
    event_cents = qround(F.col("value"), 2)

    def period(in_period):
        total = F.sum(F.when(in_period, event_cents).otherwise(0)).cast(
            "bigint"
        )
        return clamp(F.coalesce(total, F.lit(0)), -_CUPED_CAP, _CUPED_CAP)

    per_user = events.groupBy("user_id").agg(
        period(F.col("ts") < cutoff).alias("x"),
        period(F.col("ts") >= cutoff).alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
    )
    theta = m.select(
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
        ).alias("th"),
        (F.col("sx").cast("double") / F.col("n")).alias("xbar"),
    )
    adj = per_user.crossJoin(F.broadcast(theta)).select(
        F.when(hash_bucket("user_id") < 50, "A").otherwise("B").alias("arm"),
        "y",
        qround(
            (F.col("y") - F.col("th") * (F.col("x") - F.col("xbar"))), 3
        )
        .alias("yq"),
    )
    return adj.groupBy("arm").agg(
        F.count("*").alias("n_users"),
        (F.sum("y").cast("bigint") * 1.0 / F.count("*") / 100.0).alias(
            "mean_raw"
        ),
        (F.sum("yq").cast("bigint") * 1.0 / F.count("*") / 100000.0).alias(
            "mean_cuped"
        ),
    )


# --------------------------------------------------------------------------
# Difference-in-differences on the same hash-assigned arms: the causal
# baseline beside CUPED. Per-user pre/post cents aggregate in one
# pass; every mean is an exact-integer ratio, and the DiD estimate is
# a fixed arithmetic expression over those four means.
# --------------------------------------------------------------------------


@query(
    "difference_in_differences",
    oracle=f"""
WITH per_user AS (
    SELECT user_id,
           CASE WHEN {_sql_hb('user_id')} < 50 THEN 'A' ELSE 'B' END AS arm,
           CAST(SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_CUTOFF}'
                THEN {sql_qround('value', 2)}
                ELSE 0 END) AS BIGINT) AS pre_c,
           CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUTOFF}'
                THEN {sql_qround('value', 2)}
                ELSE 0 END) AS BIGINT) AS post_c
    FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
arms AS (
    SELECT arm, COUNT(*) AS n_users,
           CAST(SUM(pre_c) AS BIGINT) AS spre,
           CAST(SUM(post_c) AS BIGINT) AS spost
    FROM per_user GROUP BY 1
)
SELECT a.arm, a.n_users,
       -- CAST AS DOUBLE heads (r14): `* 1.0` ran these chains in
       -- DECIMAL on DuckDB (bare-literal pitfall, r9), exact past
       -- double resolution and ulps off Spark's double chain at the
       -- planted-4e15 point; a double head makes both IEEE-identical.
       CAST(a.spre AS DOUBLE) / a.n_users / 100.0 AS mean_pre,
       CAST(a.spost AS DOUBLE) / a.n_users / 100.0 AS mean_post,
       {sql_dround('(CAST(a.spost AS DOUBLE) / a.n_users / 100.0'
                   ' - CAST(a.spre AS DOUBLE) / a.n_users / 100.0)', 4)} AS delta,
       {sql_dround('((CAST(b.spost AS DOUBLE) / b.n_users / 100.0'
                   ' - CAST(b.spre AS DOUBLE) / b.n_users / 100.0)'
                   ' - (CAST(ca.spost AS DOUBLE) / ca.n_users / 100.0'
                   ' - CAST(ca.spre AS DOUBLE) / ca.n_users / 100.0))', 4)} AS did_estimate
FROM arms a
CROSS JOIN (SELECT * FROM arms WHERE arm = 'A') ca
CROSS JOIN (SELECT * FROM arms WHERE arm = 'B') b
""",
)
def difference_in_differences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-arm pre/post means and the pooled DiD estimate.

    Scale: one user-grain conditional aggregation + a 2-row arm
    rollup; the estimate is driver-free arithmetic over exact integer
    sums, reproducing bit-identically on any cluster layout.
    """
    from .training import hash_bucket

    events = load_tables(spark, sf_dir, "events")["events"]
    # NULL unit ids cannot be hash-assigned to an arm (DuckDB's
    # '0x'||sha256(NULL) cast errors; Spark's conv(NULL) silently
    # misroutes to the ELSE arm) — filter both sides.
    events = events.filter(F.col("user_id").isNotNull())
    cutoff = F.lit(_CUPED_CUTOFF).cast("timestamp_ntz")
    cents = qround(F.col("value"), 2)
    per_user = events.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cutoff, cents).otherwise(0))
        .cast("bigint")
        .alias("pre_c"),
        F.sum(F.when(F.col("ts") >= cutoff, cents).otherwise(0))
        .cast("bigint")
        .alias("post_c"),
    ).select(
        F.when(hash_bucket("user_id") < 50, "A").otherwise("B").alias("arm"),
        "pre_c",
        "post_c",
    )
    arms = per_user.groupBy("arm").agg(
        F.count("*").alias("n_users"),
        F.sum("pre_c").cast("bigint").alias("spre"),
        F.sum("post_c").cast("bigint").alias("spost"),
    )
    mean = lambda s, n: F.col(s) * 1.0 / F.col(n) / 100.0  # noqa: E731
    a = arms
    ca = arms.filter(F.col("arm") == "A").select(
        F.col("n_users").alias("na"),
        F.col("spre").alias("sprea"),
        F.col("spost").alias("sposta"),
    )
    b = arms.filter(F.col("arm") == "B").select(
        F.col("n_users").alias("nb"),
        F.col("spre").alias("spreb"),
        F.col("spost").alias("spostb"),
    )
    delta_b = (
        F.col("spostb") * 1.0 / F.col("nb") / 100.0
        - F.col("spreb") * 1.0 / F.col("nb") / 100.0
    )
    delta_a = (
        F.col("sposta") * 1.0 / F.col("na") / 100.0
        - F.col("sprea") * 1.0 / F.col("na") / 100.0
    )
    return (
        a.crossJoin(F.broadcast(ca))
        .crossJoin(F.broadcast(b))
        .select(
            "arm",
            "n_users",
            mean("spre", "n_users").alias("mean_pre"),
            mean("spost", "n_users").alias("mean_post"),
            dround(
                mean("spost", "n_users") - mean("spre", "n_users"),
                4,
            ).alias("delta"),
            dround(delta_b - delta_a, 4).alias("did_estimate"),
        )
    )


# --------------------------------------------------------------------------
# Poisson bootstrap: THE distributed bootstrap. Classical resampling
# needs global coordination (exactly n draws with replacement); the
# Poisson(1) approximation gives every (row, replica) an independent
# weight, so all B replicas compute in ONE map-side pass. Weights are
# drawn deterministically — a sha256 dyadic fraction through the
# Poisson inverse CDF with Python-precomputed literal thresholds — so
# both engines (and every rerun) sample the identical pseudo-replicas.
# --------------------------------------------------------------------------

_BOOT_B = 16
_BOOT_T = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
]


def _boot_w_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_BOOT_T)
    )
    return f"(CASE {cases} ELSE 5 END)"


@query(
    "poisson_bootstrap_means",
    oracle=f"""
WITH per_user AS (
    SELECT user_id,
           CAST(SUM({sql_qround('value', 2)}) AS BIGINT)
               AS y_cents
    FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
rep AS (
    SELECT u.user_id, u.y_cents, b.b,
           (CAST(concat('0x', substring(sha256('bs' || CAST(b.b AS VARCHAR)
                || ':' || CAST(u.user_id AS VARCHAR)), 1, 13)) AS BIGINT)
            / 4503599627370496.0) AS urand
    FROM per_user u
    CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS b) b
),
w AS (
    SELECT b, y_cents, {_boot_w_sql('urand')} AS wt FROM rep
)
SELECT b AS replica,
       CAST(SUM(wt) AS BIGINT) AS n_eff,
       -- head cast AS DOUBLE (r14): `* 1.0` made DuckDB run this chain
       -- in DECIMAL (bare decimal literal, the r9 pitfall), exact past
       -- double resolution — 3 ulps off Spark's double chain at the
       -- planted-4e15 point. With a DOUBLE head the remaining ops
       -- promote to double and the IEEE sequence matches Spark's.
       {sql_dround('CAST(CAST(SUM(CAST(wt AS BIGINT) * y_cents) AS BIGINT)'
                   ' AS DOUBLE)'
                   ' / CAST(SUM(wt) AS BIGINT) / 100.0', 4)}
           AS resampled_mean
FROM w
GROUP BY 1
""",
)
def poisson_bootstrap_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16 deterministic Poisson-bootstrap replicas of mean user value.

    Scale: one user-grain aggregate, then a map-only ×B fan-out whose
    weights are pure row functions — every replica's weighted sum
    map-combines in the same single shuffle to B rows. The spread of
    `resampled_mean` IS the sampling distribution a CI reads off; no
    global with-replacement coordination ever happens (the trick that
    makes bootstrapping possible on a 1000-executor cluster).
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    # NULL unit ids cannot seed the deterministic replica hash (DuckDB
    # errors on the '0x' cast; Spark's NULL-propagating concat would
    # silently assign weight 5) — filter both sides.
    events = events.filter(F.col("user_id").isNotNull())
    per_user = events.groupBy("user_id").agg(
        F.sum(qround(F.col("value"), 2))
        .cast("bigint")
        .alias("y_cents")
    )
    rep = per_user.select(
        "user_id", "y_cents", F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b")
    )
    u = (
        F.conv(
            F.substring(
                F.sha2(
                    F.concat(
                        F.lit("bs"),
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.col("user_id").cast("string"),
                    ),
                    256,
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(4503599627370496.0)
    )
    wt = F.when(u < _BOOT_T[0], 0)
    for k, t in enumerate(_BOOT_T[1:], start=1):
        wt = wt.when(u < t, k)
    wt = wt.otherwise(5)
    w = rep.select("b", "y_cents", wt.alias("wt"))
    return w.groupBy(F.col("b").alias("replica")).agg(
        F.sum("wt").cast("bigint").alias("n_eff"),
        dround(
            F.sum(F.col("wt").cast("bigint") * F.col("y_cents"))
            .cast("bigint")
            * 1.0
            / F.sum("wt").cast("bigint")
            / 100.0,
            4,
        ).alias("resampled_mean"),
    )


# --------------------------------------------------------------------------
# Experiment power planning: minimum detectable effect at α=0.05,
# power=0.8 from the observed per-user value variance. Moments are
# wide-integer exact; the z-constant sum (1.959964 + 0.841621) is a
# Python literal injected into both engines; one sqrt per row.
# --------------------------------------------------------------------------

_MDE_Z = 2.801585  # z_{0.025} + z_{0.20}


@query(
    "experiment_power_mde",
    oracle=f"""
WITH per_user AS (
    SELECT user_id,
           CAST(SUM({sql_qround('value', 2)}) AS BIGINT)
               AS y
    FROM events GROUP BY 1
),
m AS (
    SELECT COUNT(*) AS n,
           CAST(SUM(y) AS HUGEINT) AS sy,
           CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
    FROM per_user
),
v AS (
    -- degeneracy guards: n = 1 makes the variance 0/0 -> NaN in Spark
    -- but NULL in DuckDB, and a zero mean makes mde_rel x/0 -> Inf vs
    -- NULL; both engines emit NULL for those rows, identically
    SELECT n, sy,
           CAST(n * syy - sy * sy AS DOUBLE) / n
               / (CASE WHEN n > 1 THEN n - 1.0 END) / 10000.0 AS var,
           CASE WHEN sy <> 0 THEN CAST(sy AS DOUBLE) / n / 100.0 END
               AS safe_mean
    FROM m
),
e AS (
    SELECT n, sy, var, safe_mean,
           {_MDE_Z} * sqrt(2.0 * var / (n / 2.0)) AS mde
    FROM v
)
SELECT n AS n_users,
       CAST(sy AS DOUBLE) / n / 100.0 AS mean_value,
       {sql_dround('var', 4)} AS variance,
       {sql_dround('mde', 4)} AS mde_abs,
       {sql_dround('mde / safe_mean', 6)} AS mde_rel
FROM e
""",
)
def experiment_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect for a 50/50 split of current users.

    Scale: one user-grain aggregate + a single-row moment reduction;
    the number that says whether an experiment is even worth running
    before burning two weeks of traffic. Variance uses the exact
    n·Σy²−(Σy)² wide-integer form (units: dollars², scaled from
    cents²).
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    cents = qround(F.col("value"), 2)
    per_user = events.groupBy("user_id").agg(
        F.sum(cents).cast("bigint").alias("y")
    )
    m = per_user.agg(
        F.count("*").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    # degeneracy guards live in the DENOMINATORS: Spark 4 ANSI throws
    # on double/0 (even 0.0/0.0), and a CASE cannot protect a division
    # inside its own condition — a NULL denominator instead propagates
    # NULL, which is exactly what the oracle's n>1 / sy<>0 CASEs emit
    nm1 = F.when(F.col("n") > 1, F.col("n") - 1.0)
    var = (
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
        / F.col("n")
        / nm1
        / 10000.0
    )
    mde = F.lit(_MDE_Z) * F.sqrt(2.0 * var / (F.col("n") / 2.0))
    mean = F.col("sy").cast("double") / F.col("n") / 100.0
    safe_mean = F.when(F.col("sy") != 0, mean)

    return m.select(
        F.col("n").alias("n_users"),
        mean.alias("mean_value"),
        dround(var, 4).alias("variance"),
        dround(mde, 4).alias("mde_abs"),
        dround(mde / safe_mean, 6).alias("mde_rel"),
    )


# --------------------------------------------------------------------------
# Pairwise Pearson correlation matrix over lineitem's numeric columns
# — manual_correlation's single pair generalized to the full grid via
# ONE wide moment aggregation (no per-pair scans). Values quantize to
# exact ×100 integer cents/units so every moment is exact; each
# correlation is a fixed expression over the wide row.
# --------------------------------------------------------------------------

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
# +-1e6 column units on the cents grid (see _corr_sql)
_CORR_CAP = 100_000_000


def _corr_sql() -> str:
    # cents winsorized at +-1e6 column units (r14, r11 fix-kit
    # pattern 1): the planted 4e15 l_extendedprice made the moment
    # combinations (s_a*s_b, n*ss) overflow DECIMAL(38)/HUGEINT on
    # both engines; every real column ceiling (quantity<=50,
    # price<~1e5, discount/tax<=1) sits >=10x below the cap, so
    # corpus data is untouched; a NULL column value stays NULL and is
    # skipped by SUM. Applied to EVERY moment — s/ss AND the sp
    # cross-products (a half-clamped matrix diverges silently).
    aggs = ["COUNT(*) AS n"]
    for c in _CORR_COLS:
        q = sql_qround(c, 2, _CORR_CAP)
        aggs.append(f"CAST(SUM({q}) AS HUGEINT) AS s_{c}")
        aggs.append(
            f"CAST(SUM(CAST({q} AS HUGEINT) * {q}) AS HUGEINT) AS ss_{c}"
        )
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1:]:
            qa = sql_qround(a, 2, _CORR_CAP)
            qb = sql_qround(b, 2, _CORR_CAP)
            aggs.append(
                f"CAST(SUM(CAST({qa} AS HUGEINT) * {qb}) AS HUGEINT)"
                f" AS sp_{a}_{b}"
            )
    legs = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1:]:
            r = (
                f"CAST(n * sp_{a}_{b} - s_{a} * s_{b} AS DOUBLE)"
                f" / sqrt(CAST(n * ss_{a} - s_{a} * s_{a} AS DOUBLE))"
                f" / sqrt(CAST(n * ss_{b} - s_{b} * s_{b} AS DOUBLE))"
            )
            legs.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b,"
                f" {sql_dround(r, 6)} AS pearson_r"
                f" FROM m"
            )
    return (
        "WITH m AS (SELECT " + ", ".join(aggs) + " FROM lineitem)\n"
        + "\nUNION ALL\n".join(legs)
    )


@query("lineitem_correlation_matrix", oracle=_corr_sql())
def lineitem_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All six numeric-column correlations from one moment pass.

    Scale: a single wide aggregation computes every first/second/cross
    moment map-side (14 exact integer accumulators); the six
    correlations are arithmetic over that one row — the pattern for
    profiling ANY column set without n² scans.
    """
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]

    cents = {c: qround(c, 2, _CORR_CAP) for c in _CORR_COLS}
    aggs = [F.count("*").alias("n")]
    for c in _CORR_COLS:
        aggs.append(F.sum(cents[c].cast("decimal(38,0)")).alias(f"s_{c}"))
        aggs.append(
            F.sum(cents[c].cast("decimal(38,0)") * cents[c]).alias(f"ss_{c}")
        )
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1:]:
            aggs.append(
                F.sum(cents[a].cast("decimal(38,0)") * cents[b]).alias(
                    f"sp_{a}_{b}"
                )
            )
    m = li.agg(*aggs)
    legs = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1:]:
            r = (
                (F.col("n") * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}"))
                .cast("double")
                / F.sqrt(
                    (
                        F.col("n") * F.col(f"ss_{a}")
                        - F.col(f"s_{a}") * F.col(f"s_{a}")
                    ).cast("double")
                )
                / F.sqrt(
                    (
                        F.col("n") * F.col(f"ss_{b}")
                        - F.col(f"s_{b}") * F.col(f"s_{b}")
                    ).cast("double")
                )
            )
            legs.append(
                m.select(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    dround(r, 6).alias("pearson_r"),
                )
            )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out


# --------------------------------------------------------------------------
# Wilson score intervals for per-type conversion rates: the interval
# that stays inside [0,1] and behaves at small n, unlike the normal
# approximation dashboards default to. Counts are exact; the interval
# endpoints are one identical formula per row (z = 1.96 injected).
# --------------------------------------------------------------------------

_WILSON_Z = 1.96
_WILSON_Z2 = _WILSON_Z * _WILSON_Z


@query(
    "conversion_rate_wilson_ci",
    oracle=f"""
WITH per_user AS (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS saw,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bought
    FROM events GROUP BY 1
),
m AS (
    SELECT CAST(SUM(saw) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (WHERE saw = 1 AND bought = 1) AS BIGINT)
               AS k
    FROM per_user
)
SELECT n AS n_exposed, k AS n_converted,
       {sql_dround('k * 1.0 / n', 6)} AS rate,
       {sql_dround(f'((k * 1.0 / n + {_WILSON_Z2} / (2.0 * n)'
                   f' - {_WILSON_Z} * sqrt((k * 1.0 / n) * (1.0 - k * 1.0 / n) / n'
                   f' + {_WILSON_Z2} / (4.0 * n * n)))'
                   f' / (1.0 + {_WILSON_Z2} / n))', 6)}
           AS wilson_low,
       {sql_dround(f'((k * 1.0 / n + {_WILSON_Z2} / (2.0 * n)'
                   f' + {_WILSON_Z} * sqrt((k * 1.0 / n) * (1.0 - k * 1.0 / n) / n'
                   f' + {_WILSON_Z2} / (4.0 * n * n)))'
                   f' / (1.0 + {_WILSON_Z2} / n))', 6)}
           AS wilson_high
FROM m WHERE n > 0
""",
)
def conversion_rate_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase conversion with a 95% Wilson interval.

    Scale: one user-grain flag aggregation + a single-row formula.
    The interval every conversion dashboard should print instead of
    ±1.96√(pq/n), which breaks near 0/1 and at small cells.
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    per_user = events.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("saw"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("bought"),
    )
    m = per_user.agg(
        F.sum("saw").cast("bigint").alias("n"),
        F.count_if((F.col("saw") == 1) & (F.col("bought") == 1))
        .cast("bigint")
        .alias("k"),
    )
    p = F.col("k") * 1.0 / F.col("n")
    halfw = F.lit(_WILSON_Z) * F.sqrt(
        p * (1.0 - p) / F.col("n")
        + F.lit(_WILSON_Z2) / (4.0 * F.col("n") * F.col("n"))
    )
    center = p + F.lit(_WILSON_Z2) / (2.0 * F.col("n"))
    denom = 1.0 + F.lit(_WILSON_Z2) / F.col("n")
    return m.filter(F.col("n") > 0).select(
        F.col("n").alias("n_exposed"),
        F.col("k").alias("n_converted"),
        dround(p, 6).alias("rate"),
        dround((center - halfw) / denom, 6).alias("wilson_low"),
        dround((center + halfw) / denom, 6).alias("wilson_high"),
    )


# --------------------------------------------------------------------------
# Capture–recapture (Lincoln–Petersen) population estimation: estimate
# the total active-user population from the OVERLAP of two pinned
# days' user sets — the estimator ecologists use when a full census
# is impossible, which is exactly the position a sampled/partial log
# pipeline is in. The Chapman correction keeps it finite at zero
# overlap; exact integer counts, one division; the true census rides
# along to audit the estimate.
# --------------------------------------------------------------------------

_CR_DAY1 = "2024-01-15"
# day 2 re-pinned inside the Jan 1-30 span (was 2024-02-15: zero
# day-2 users, vacuous estimate; round-8 degenerate-column audit)
_CR_DAY2 = "2024-01-25"


@query(
    "capture_recapture_users",
    oracle=f"""
WITH s1 AS (
    SELECT DISTINCT user_id FROM events
    WHERE CAST(ts AS DATE) = DATE '{_CR_DAY1}' AND user_id IS NOT NULL
),
s2 AS (
    SELECT DISTINCT user_id FROM events
    WHERE CAST(ts AS DATE) = DATE '{_CR_DAY2}' AND user_id IS NOT NULL
),
m AS (
    SELECT (SELECT COUNT(*) FROM s1) AS n1,
           (SELECT COUNT(*) FROM s2) AS n2,
           (SELECT COUNT(*) FROM s1 JOIN s2 USING (user_id)) AS k,
           (SELECT COUNT(DISTINCT user_id) FROM events) AS truth
)
SELECT n1 AS day1_users, n2 AS day2_users, k AS recaptured,
       {sql_dround('((n1 + 1.0) * (n2 + 1.0) / (k + 1.0) - 1.0)', 2)} AS chapman_estimate,
       truth AS true_distinct_users
FROM m
""",
)
def capture_recapture_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman-corrected population estimate from two days' overlap.

    Scale: two day-pruned distinct sets (partition pruning makes each
    a sliver scan), one semi-join for the overlap, exact integer
    arithmetic. When logs are sampled or retention-truncated, this is
    how total population is still estimable — the audit column says
    how biased the independence assumption is on THIS data.
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    # ONE distributed pass (r4 VERDICT item 6): per-user day flags in a
    # single groupBy (map-side partial agg), then a 1-row global agg
    # computing n1/n2/k/truth together — replaces 4 driver actions, 3 of
    # which re-scanned events. NULL user_ids are excluded on BOTH
    # sides: SQL COUNT(DISTINCT)/JOIN drop the NULL group while a
    # groupBy keeps it, and mixing the two diverges the day a data
    # regeneration plants a NULL-id event on a capture day.
    per_user = events.filter(F.col("user_id").isNotNull()).groupBy("user_id").agg(
        F.max(
            F.when(
                F.to_date("ts") == F.lit(_CR_DAY1).cast("date"), 1
            ).otherwise(0)
        ).alias("d1"),
        F.max(
            F.when(
                F.to_date("ts") == F.lit(_CR_DAY2).cast("date"), 1
            ).otherwise(0)
        ).alias("d2"),
    )
    # coalesce(0): SUM over zero groups is NULL, but the oracle's
    # scalar COUNT(*) subqueries return 0 on empty input
    m = per_user.agg(
        F.coalesce(F.sum("d1"), F.lit(0)).cast("bigint").alias("n1"),
        F.coalesce(F.sum("d2"), F.lit(0)).cast("bigint").alias("n2"),
        F.coalesce(F.sum(F.col("d1") * F.col("d2")), F.lit(0))
        .cast("bigint")
        .alias("k"),
        F.count("*").cast("bigint").alias("truth"),
    )
    chapman = (
        F.floor(
            (
                (F.col("n1") + F.lit(1.0))
                * (F.col("n2") + F.lit(1.0))
                / (F.col("k") + F.lit(1.0))
                - F.lit(1.0)
            )
            * F.lit(100)
            + F.lit(0.5)
        )
        / F.lit(100.0)
    )
    return m.select(
        F.col("n1").alias("day1_users"),
        F.col("n2").alias("day2_users"),
        F.col("k").alias("recaptured"),
        chapman.alias("chapman_estimate"),
        F.col("truth").alias("true_distinct_users"),
    )


# --------------------------------------------------------------------------
# Price–quantity elasticity per brand: the log-log OLS slope of
# quantity on unit price — pricing analytics' first number. Both logs
# quantize to ×1e6 integers per row (the zipf_slope pattern), so the
# per-brand regression moments are exact and the slope is one fixed
# expression.
# --------------------------------------------------------------------------


@query(
    "price_quantity_elasticity",
    oracle=f"""
WITH q AS (
    SELECT p.p_brand,
           {sql_qround('ln(l.l_extendedprice / l.l_quantity)', 6)} AS xi,
           {sql_qround('ln(l.l_quantity)', 6)} AS yi
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
),
m AS (
    SELECT p_brand, COUNT(*) AS n,
           CAST(SUM(xi) AS BIGINT) AS sx, CAST(SUM(yi) AS BIGINT) AS sy,
           CAST(SUM(CAST(xi AS HUGEINT) * xi) AS HUGEINT) AS sxx,
           CAST(SUM(CAST(xi AS HUGEINT) * yi) AS HUGEINT) AS sxy
    FROM q GROUP BY 1
)
SELECT p_brand, n AS n_lines,
       {sql_dround('CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)'
                   ' / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)', 6)} AS elasticity
FROM m
WHERE n >= 10 AND CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) > 0
""",
)
def price_quantity_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ln(qty) on ln(unit price) OLS slope per brand.

    Scale: one fact scan with the part dim broadcast, per-row
    identical log quantization, brand-grain exact moments. Negative
    elasticity magnitudes ≫1 mark price-sensitive brands; the exact
    fixed-point protocol means the number reproduces under any
    partitioning.
    """
    t = load_tables(spark, sf_dir, "lineitem", "part")
    q = (
        t["lineitem"]
        .join(
            F.broadcast(t["part"]), F.col("p_partkey") == F.col("l_partkey")
        )
        .filter((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0))
        .select(
            "p_brand",
            qround(
                F.log(F.col("l_extendedprice") / F.col("l_quantity")), 6
            )
            .alias("xi"),
            qround(F.log("l_quantity"), 6)
            .alias("yi"),
        )
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = q.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.sum("xi").cast("bigint").alias("sx"),
        F.sum("yi").cast("bigint").alias("sy"),
        F.sum(dec("xi") * F.col("xi")).alias("sxx"),
        F.sum(dec("xi") * F.col("yi")).alias("sxy"),
    )
    denom = (
        F.col("n") * F.col("sxx") - dec("sx") * F.col("sx")
    ).cast("double")
    slope = (
        (F.col("n") * F.col("sxy") - dec("sx") * F.col("sy")).cast("double")
        / denom
    )
    return m.filter((F.col("n") >= 10) & (denom > 0)).select(
        "p_brand",
        F.col("n").alias("n_lines"),
        dround(slope, 6).alias("elasticity"),
    )


# --------------------------------------------------------------------------
# Winsorized robust statistics: clamp values at the exact p05/p95
# order statistics before averaging — the standard way metric
# pipelines stop a few whale users from dominating a mean without
# trimming rows (trimming changes n; winsorizing keeps it). All
# arithmetic is exact: values quantize to cents, cut points are rank
# lookups under the (cents, event_id) total order, the clamped sum is
# integer, and each mean is one final division. Scale: the exact rank
# windows partition per type; at corpus scale the cut points come
# from the histogram inverse-CDF (histogram_quantiles_checked) with
# the same clamp expression.
# --------------------------------------------------------------------------


@query(
    "winsorized_stats_by_type",
    oracle=f"""
WITH v AS (
    SELECT event_type, event_id,
           {sql_qround('value', 2)} AS c
    FROM events WHERE value IS NOT NULL
),
st AS (SELECT event_type, COUNT(*) AS n FROM v GROUP BY 1),
r AS (
    SELECT event_type, c,
           ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY c, event_id
           ) AS rn
    FROM v
),
cuts AS (
    SELECT r.event_type,
           MAX(CASE WHEN rn = CAST(CEIL(0.05 * n) AS BIGINT)
               THEN c END) AS lo,
           MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT)
               THEN c END) AS hi
    FROM r JOIN st USING (event_type)
    GROUP BY 1
),
w AS (
    SELECT v.event_type, v.c,
           {sql_clamp('v.c', 'cuts.lo', 'cuts.hi')} AS wc
    FROM v JOIN cuts USING (event_type)
)
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(c) AS BIGINT) * 1.0 / COUNT(*) / 100.0 AS mean_raw,
       CAST(SUM(wc) AS BIGINT) * 1.0 / COUNT(*) / 100.0
           AS mean_winsorized,
       COUNT(*) FILTER (WHERE wc <> c) AS n_clamped
FROM w
GROUP BY 1
""",
)
def winsorized_stats_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (p05/p95-clamped) vs raw mean value per event type."""
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    v = events.filter(F.col("value").isNotNull()).select(
        "event_type",
        "event_id",
        qround(F.col("value"), 2).alias("c"),
    )
    st = v.groupBy("event_type").agg(F.count("*").alias("n"))
    wr = Window.partitionBy("event_type").orderBy("c", "event_id")
    r = v.select("event_type", "c", F.row_number().over(wr).alias("rn"))
    cuts = (
        r.join(F.broadcast(st), "event_type")
        .groupBy("event_type")
        .agg(
            F.max(
                F.when(
                    F.col("rn")
                    == F.ceil(0.05 * F.col("n")).cast("bigint"),
                    F.col("c"),
                )
            ).alias("lo"),
            F.max(
                F.when(
                    F.col("rn")
                    == F.ceil(0.95 * F.col("n")).cast("bigint"),
                    F.col("c"),
                )
            ).alias("hi"),
        )
    )
    w = v.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        "c",
        clamp("c", F.col("lo"), F.col("hi")).alias("wc"),
    )
    return w.groupBy("event_type").agg(
        F.count("*").alias("n"),
        (F.sum("c").cast("bigint") * 1.0 / F.count("*") / 100.0).alias(
            "mean_raw"
        ),
        (F.sum("wc").cast("bigint") * 1.0 / F.count("*") / 100.0).alias(
            "mean_winsorized"
        ),
        F.count_if(F.col("wc") != F.col("c")).alias("n_clamped"),
    )


# --------------------------------------------------------------------------
# Sample-ratio-mismatch (SRM) guardrail: the first thing an
# experimentation platform checks before reading ANY metric — does the
# hash assignment actually deliver the designed 50/50 split? A
# significant one-degree chi-square here means the assignment or
# logging is broken and every downstream readout is garbage. Uses the
# same sha256 arm assignment as cuped/DiD so it audits exactly the
# split those analyses consume. The chi2 term is computed per arm with
# the exact-decimal rounded-term sum (chi_square_type_dow discipline).
# --------------------------------------------------------------------------


@query(
    "ab_srm_check",
    oracle=f"""
WITH arms AS (
    SELECT CASE WHEN {_sql_hb('user_id')} < 50 THEN 'A' ELSE 'B' END AS arm,
           COUNT(*) AS n_users
    FROM (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL)
    GROUP BY 1
),
t AS (SELECT CAST(SUM(n_users) AS BIGINT) AS total FROM arms),
terms AS (
    SELECT arm, n_users,
           {sql_dround(
        '(n_users - CAST(total AS DOUBLE) / 2.0)'
        ' * (n_users - CAST(total AS DOUBLE) / 2.0)'
        ' / (CAST(total AS DOUBLE) / 2.0)', 8)} AS term
    FROM arms CROSS JOIN t
)
SELECT CAST(SUM(CASE WHEN arm = 'A' THEN n_users END) AS BIGINT) AS n_a,
       CAST(SUM(CASE WHEN arm = 'B' THEN n_users END) AS BIGINT) AS n_b,
       CAST(CAST(SUM(CAST(term AS DECIMAL(27,8))) AS VARCHAR) AS DOUBLE) AS chi2,
       CAST(CAST(SUM(CAST(term AS DECIMAL(27,8))) AS VARCHAR) AS DOUBLE) > 3.841459
           AS srm_flag
FROM terms
""",
)
def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square SRM test of the 50/50 hash split (alpha = 0.05)."""
    from .training import hash_bucket

    events = load_tables(spark, sf_dir, "events")["events"]
    arms = (
        events.filter(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
        .select(
            F.when(hash_bucket("user_id") < 50, "A")
            .otherwise("B")
            .alias("arm")
        )
        .groupBy("arm")
        .agg(F.count("*").alias("n_users"))
    )
    t = arms.agg(F.sum("n_users").cast("bigint").alias("total"))
    exp = F.col("total").cast("double") / 2.0
    term = dround(
        (F.col("n_users") - exp) * (F.col("n_users") - exp) / exp, 8
    )
    terms = arms.crossJoin(F.broadcast(t)).select(
        "arm", "n_users", term.alias("term")
    )
    chi2 = F.sum(F.col("term").cast("decimal(27,8)")).cast("double")
    return terms.agg(
        F.sum(F.when(F.col("arm") == "A", F.col("n_users")))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", F.col("n_users")))
        .cast("bigint")
        .alias("n_b"),
        chi2.alias("chi2"),
        (chi2 > 3.841459).alias("srm_flag"),
    )


# --------------------------------------------------------------------------
# Bootstrap CI for the MEDIAN user value — the companion to
# poisson_bootstrap_means for a statistic with no closed-form variance.
# Each replica's weighted median is exact: expand nothing — cumulative
# Poisson weights over the (cents, user_id) total order pick the
# lower-median row; the CI reads order statistics off the 16 replica
# medians. Every step is integer arithmetic on both engines. Scale:
# the replica axis is a map-side ×B fan-out and each per-replica
# cumsum partitions by replica over the user-grain table.
# --------------------------------------------------------------------------


@query(
    "bootstrap_median_ci",
    oracle=f"""
WITH per_user0 AS (
    SELECT user_id,
           CAST(SUM({sql_qround('value', 2)}) AS BIGINT)
               AS y
    FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
-- an all-NULL-value user has no y to contribute to an order statistic
-- (and the engines would sort its NULL on opposite ends)
per_user AS (SELECT * FROM per_user0 WHERE y IS NOT NULL),
rep AS (
    SELECT u.user_id, u.y, b.b,
           (CAST(concat('0x', substring(sha256('bs' || CAST(b.b AS VARCHAR)
                || ':' || CAST(u.user_id AS VARCHAR)), 1, 13)) AS BIGINT)
            / 4503599627370496.0) AS urand
    FROM per_user u
    CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS b) b
),
w AS (
    SELECT b, user_id, y, {_boot_w_sql('urand')} AS wt FROM rep
),
cum AS (
    SELECT b, y,
           CAST(SUM(wt) OVER (PARTITION BY b ORDER BY y, user_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
           CAST(SUM(wt) OVER (PARTITION BY b) AS BIGINT) AS n_eff
    FROM w WHERE wt > 0
),
med AS (
    SELECT b, MIN(y) AS med_y
    FROM cum WHERE cw >= (n_eff + 1) // 2
    GROUP BY b
),
ranked AS (
    SELECT med_y, ROW_NUMBER() OVER (ORDER BY med_y, b) AS rk FROM med
),
pt AS (
    SELECT MIN(y) AS point_y
    FROM (
        SELECT y,
               CAST(ROW_NUMBER() OVER (ORDER BY y, user_id) AS BIGINT)
                   AS rn,
               COUNT(*) OVER () AS n
        FROM per_user
    ) WHERE rn >= (n + 1) // 2
)
SELECT CAST({_BOOT_B} AS INTEGER) AS n_replicas,
       CAST(pt.point_y AS DOUBLE) / 100.0 AS point_median,
       CAST(MAX(CASE WHEN rk = 2 THEN med_y END) AS DOUBLE) / 100.0
           AS boot_lo,
       CAST(MAX(CASE WHEN rk = {_BOOT_B - 1} THEN med_y END) AS DOUBLE)
           / 100.0 AS boot_hi
FROM ranked CROSS JOIN pt
GROUP BY pt.point_y
""",
)
def bootstrap_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson-bootstrap CI for the median user value."""
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    per_user = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(qround(F.col("value"), 2))
            .cast("bigint")
            .alias("y")
        )
        # all-NULL-value users have no y for an order statistic (the
        # engines would also sort the NULL on opposite ends)
        .filter(F.col("y").isNotNull())
    )
    rep = per_user.select(
        "user_id",
        "y",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    )
    u = (
        F.conv(
            F.substring(
                F.sha2(
                    F.concat(
                        F.lit("bs"),
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.col("user_id").cast("string"),
                    ),
                    256,
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(4503599627370496.0)
    )
    wt = F.when(u < _BOOT_T[0], 0)
    for k, thr in enumerate(_BOOT_T[1:], start=1):
        wt = wt.when(u < thr, k)
    wt = wt.otherwise(5)
    # the point estimate rides the SAME partitioned cum machinery as a
    # wt=1 pseudo-replica (b = -1): its weighted median IS the exact
    # lower median, and no global single-partition window ever runs
    w = (
        rep.select("b", "user_id", "y", wt.alias("wt"))
        .filter(F.col("wt") > 0)
        .unionByName(
            per_user.select(
                F.lit(-1).alias("b"), "user_id", "y", F.lit(1).alias("wt")
            )
        )
    )
    wc = (
        Window.partitionBy("b")
        .orderBy("y", "user_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt_tot = Window.partitionBy("b")
    cum = w.select(
        "b",
        "y",
        F.sum("wt").over(wc).cast("bigint").alias("cw"),
        F.sum("wt").over(wt_tot).cast("bigint").alias("n_eff"),
    )
    med = (
        cum.filter(F.col("cw") >= F.expr("(n_eff + 1) DIV 2"))
        .groupBy("b")
        .agg(F.min("y").alias("med_y"))
    )
    # replica axis is B rows — the ranking window is trivially bounded
    wr = Window.orderBy("med_y", "b")
    ranked = med.filter(F.col("b") >= 0).select(
        "med_y", F.row_number().over(wr).cast("bigint").alias("rk")
    )
    pt = med.filter(F.col("b") == -1).select(
        F.col("med_y").alias("point_y")
    )
    return (
        ranked.crossJoin(F.broadcast(pt))
        .groupBy("point_y")
        .agg(
            F.lit(_BOOT_B).cast("int").alias("n_replicas"),
            (
                F.max(F.when(F.col("rk") == 2, F.col("med_y"))).cast(
                    "double"
                )
                / 100.0
            ).alias("boot_lo"),
            (
                F.max(
                    F.when(F.col("rk") == _BOOT_B - 1, F.col("med_y"))
                ).cast("double")
                / 100.0
            ).alias("boot_hi"),
        )
        .select(
            "n_replicas",
            (F.col("point_y").cast("double") / 100.0).alias(
                "point_median"
            ),
            "boot_lo",
            "boot_hi",
        )
    )


# --------------------------------------------------------------------------
# Split-conformal prediction interval with exact coverage audit: the
# distribution-free way to put a calibrated interval around ANY point
# predictor. Calibration half (hash split by event_id) computes the
# per-type 90% quantile of nonconformity |y − ŷ|; the test half
# measures realized coverage, which conformal theory guarantees ≈ 90%
# regardless of the predictor. Everything is integer-exact: the
# per-type-mean predictor stays a RATIONAL (sum, n) pair, residuals
# are scaled by n_cal so no division happens before the final
# reported columns, and the quantile is a rank order statistic.
# --------------------------------------------------------------------------

_CONF_ALPHA_PCT = 90


@query(
    "conformal_interval_coverage",
    oracle=f"""
WITH v AS (
    SELECT event_type, event_id,
           {sql_qround('value', 2)} AS c,
           ({_sql_hb('event_id')} < 50) AS is_cal
    FROM events
    WHERE value IS NOT NULL AND event_type IS NOT NULL
),
pred AS (
    SELECT event_type,
           CAST(SUM(CASE WHEN is_cal THEN c END) AS BIGINT) AS s_cal,
           COUNT(*) FILTER (WHERE is_cal) AS n_cal,
           COUNT(*) FILTER (WHERE NOT is_cal) AS n_test
    FROM v GROUP BY 1
),
resid AS (
    -- c promoted to HUGEINT BEFORE the product (r14, r11 fix-kit
    -- pattern 2): planted 4e15 cents x n_cal overflowed INT64 on both
    -- engines (Spark ANSI try_multiply error, DuckDB cast error);
    -- the scale-0 DECIMAL->DOUBLE cast downstream is single-rounding,
    -- so the halfwidth double is unchanged where it was finite before
    SELECT v.event_type, v.event_id, v.is_cal,
           ABS(CAST(v.c AS HUGEINT) * p.n_cal - p.s_cal) AS r_scaled,
           p.n_cal, p.n_test, p.s_cal
    FROM v JOIN pred p USING (event_type)
    WHERE p.n_cal > 0
),
ranked AS (
    SELECT *,
           ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY r_scaled, event_id
           ) AS rk
    FROM resid WHERE is_cal
),
q AS (
    SELECT event_type,
           MAX(CASE WHEN rk = LEAST(
                   CAST(CEIL({_CONF_ALPHA_PCT / 100.0} * (n_cal + 1))
                       AS BIGINT), n_cal)
               THEN r_scaled END) AS q_scaled
    FROM ranked GROUP BY 1
)
SELECT r.event_type,
       CAST(MAX(r.n_cal) AS BIGINT) AS n_cal,
       CAST(MAX(r.n_test) AS BIGINT) AS n_test,
       {sql_dround('CAST(MAX(q.q_scaled) AS DOUBLE) / MAX(r.n_cal) / 100.0', 4)} AS interval_halfwidth,
       CASE WHEN MAX(r.n_test) > 0 THEN
           {sql_dround('COUNT(*) FILTER (WHERE NOT r.is_cal'
                       ' AND r.r_scaled <= q.q_scaled) * 1.0'
                       ' / MAX(r.n_test)', 4)}
       END AS test_coverage
FROM resid r JOIN q USING (event_type)
GROUP BY 1
""",
)
def conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90% split-conformal interval around the per-type mean, with
    realized test-half coverage."""
    from pyspark.sql.window import Window

    from .training import hash_bucket

    events = load_tables(spark, sf_dir, "events")["events"]
    v = events.filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    ).select(
        "event_type",
        "event_id",
        qround(F.col("value"), 2).alias("c"),
        (hash_bucket("event_id") < 50).alias("is_cal"),
    )
    pred = v.groupBy("event_type").agg(
        F.sum(F.when(F.col("is_cal"), F.col("c")))
        .cast("bigint")
        .alias("s_cal"),
        F.count_if("is_cal").alias("n_cal"),
        F.count_if(~F.col("is_cal")).alias("n_test"),
    )
    resid = (
        v.join(F.broadcast(pred), "event_type")
        .filter(F.col("n_cal") > 0)
        .select(
            "event_type",
            "event_id",
            "is_cal",
            # decimal(38,0) BEFORE the product — see oracle comment
            F.abs(
                F.col("c").cast("decimal(38,0)") * F.col("n_cal")
                - F.col("s_cal")
            ).alias("r_scaled"),
            "n_cal",
            "n_test",
        )
    )
    wr = Window.partitionBy("event_type").orderBy("r_scaled", "event_id")
    ranked = resid.filter(F.col("is_cal")).select(
        "event_type",
        "r_scaled",
        "n_cal",
        F.row_number().over(wr).cast("bigint").alias("rk"),
    )
    k = F.least(
        F.ceil(F.lit(_CONF_ALPHA_PCT / 100.0) * (F.col("n_cal") + 1)).cast(
            "bigint"
        ),
        F.col("n_cal"),
    )
    q = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rk") == k, F.col("r_scaled"))).alias(
            "q_scaled"
        )
    )
    joined = resid.join(F.broadcast(q), "event_type")
    return joined.groupBy("event_type").agg(
        F.max("n_cal").cast("bigint").alias("n_cal"),
        F.max("n_test").cast("bigint").alias("n_test"),
        dround(
            F.max("q_scaled").cast("double")
            / F.max("n_cal")
            / 100.0,
            4,
        ).alias("interval_halfwidth"),
        F.when(
            F.max("n_test") > 0,
            dround(
                F.count_if(
                    ~F.col("is_cal")
                    & (F.col("r_scaled") <= F.col("q_scaled"))
                )
                * 1.0
                / F.max("n_test"),
                4,
            ),
        ).alias("test_coverage"),
    )


# --------------------------------------------------------------------------
# Welch's t-test between the hash-assigned arms — the plain two-sample
# readout that completes the experiment family (SRM gate → power →
# t-test → CUPED/DiD refinements → bootstrap CI). Per-arm moments are
# wide-integer exact (the cuped discipline); the t statistic and
# Welch–Satterthwaite dof are one fixed float chain each, dround-
# pinned. Degenerate arms (n < 2 or both variances 0) yield NULL on
# both engines via denominator guards (ANSI x/0 throws).
# --------------------------------------------------------------------------


@query(
    "welch_ttest_arms",
    oracle=f"""
WITH per_user AS (
    SELECT user_id,
           CASE WHEN {_sql_hb('user_id')} < 50 THEN 'A' ELSE 'B' END AS arm,
           CAST(SUM({sql_qround('value', 2)}) AS BIGINT)
               AS y
    FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
m AS (
    SELECT arm, COUNT(*) AS n,
           CAST(SUM(y) AS HUGEINT) AS sy,
           CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
    FROM per_user GROUP BY 1
),
w AS (
    SELECT MAX(CASE WHEN arm = 'A' THEN n END) AS na,
           MAX(CASE WHEN arm = 'B' THEN n END) AS nb,
           MAX(CASE WHEN arm = 'A' THEN CAST(sy AS DOUBLE) END) AS sa,
           MAX(CASE WHEN arm = 'B' THEN CAST(sy AS DOUBLE) END) AS sb,
           MAX(CASE WHEN arm = 'A'
               THEN CAST(n * syy - sy * sy AS DOUBLE) END) AS da,
           MAX(CASE WHEN arm = 'B'
               THEN CAST(n * syy - sy * sy AS DOUBLE) END) AS db
    FROM m
),
v AS (
    SELECT na, nb,
           sa / na / 100.0 AS mean_a,
           sb / nb / 100.0 AS mean_b,
           da / na / (CASE WHEN na > 1 THEN na - 1.0 END) / 10000.0
               AS var_a,
           db / nb / (CASE WHEN nb > 1 THEN nb - 1.0 END) / 10000.0
               AS var_b
    FROM w
),
t AS (
    SELECT na, nb, mean_a, mean_b, var_a, var_b,
           var_a / na + var_b / nb AS se2
    FROM v
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       {sql_dround('mean_a - mean_b')} AS mean_diff,
       {sql_dround('''(mean_a - mean_b)
        / sqrt(CASE WHEN se2 > 0 THEN se2 END)''', 6)} AS t_stat,
       {sql_dround('''(se2 * se2)
        / (CASE WHEN se2 > 0 AND na > 1 AND nb > 1 THEN
              (var_a / na) * (var_a / na) / (na - 1.0)
              + (var_b / nb) * (var_b / nb) / (nb - 1.0) END)''', 4)}
           AS welch_dof
FROM t
""",
)
def welch_ttest_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t between the sha256 50/50 arms on per-user value."""
    from .training import hash_bucket

    events = load_tables(spark, sf_dir, "events")["events"]
    per_user = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(qround(F.col("value"), 2))
            .cast("bigint")
            .alias("y")
        )
        .select(
            F.when(hash_bucket("user_id") < 50, "A")
            .otherwise("B")
            .alias("arm"),
            "y",
        )
    )
    m = per_user.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    pick = lambda arm, c: F.max(  # noqa: E731
        F.when(F.col("arm") == arm, c)
    )
    w = m.agg(
        pick("A", F.col("n")).alias("na"),
        pick("B", F.col("n")).alias("nb"),
        pick("A", F.col("sy").cast("double")).alias("sa"),
        pick("B", F.col("sy").cast("double")).alias("sb"),
        pick(
            "A",
            (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                "double"
            ),
        ).alias("da"),
        pick(
            "B",
            (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                "double"
            ),
        ).alias("db"),
    )
    # denominator guards (ANSI x/0 throws): NULL propagates instead
    na1 = F.when(F.col("na") > 1, F.col("na") - 1.0)
    nb1 = F.when(F.col("nb") > 1, F.col("nb") - 1.0)
    v = w.select(
        "na",
        "nb",
        (F.col("sa") / F.col("na") / 100.0).alias("mean_a"),
        (F.col("sb") / F.col("nb") / 100.0).alias("mean_b"),
        (F.col("da") / F.col("na") / na1 / 10000.0).alias("var_a"),
        (F.col("db") / F.col("nb") / nb1 / 10000.0).alias("var_b"),
    )
    se2 = F.col("var_a") / F.col("na") + F.col("var_b") / F.col("nb")
    t = v.select("na", "nb", "mean_a", "mean_b", "var_a", "var_b", se2.alias("se2"))
    safe_se = F.sqrt(F.when(F.col("se2") > 0, F.col("se2")))
    dof_den = F.when(
        (F.col("se2") > 0) & (F.col("na") > 1) & (F.col("nb") > 1),
        (F.col("var_a") / F.col("na")) * (F.col("var_a") / F.col("na"))
        / (F.col("na") - 1.0)
        + (F.col("var_b") / F.col("nb")) * (F.col("var_b") / F.col("nb"))
        / (F.col("nb") - 1.0),
    )
    return t.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        dround(F.col("mean_a") - F.col("mean_b")).alias("mean_diff"),
        dround((F.col("mean_a") - F.col("mean_b")) / safe_se, 6).alias(
            "t_stat"
        ),
        dround(F.col("se2") * F.col("se2") / dof_den, 4).alias(
            "welch_dof"
        ),
    )


# --------------------------------------------------------------------------
# Mann-Whitney U (Wilcoxon rank-sum) between the hash-assigned arms —
# the nonparametric companion to welch_ttest_arms for skewed per-user
# value distributions. Rank statistics are EXACT integers here: ranks
# are computed on distinct per-user totals via midranks, and doubled
# midranks (2*below + c + 1) keep every intermediate a wide integer, so
# U and the tie correction are bit-exact on both engines; only the
# final z chain touches floats (dround-pinned).
#
# Scale: ranking avoids the single-task global window via the
# two-phase prefix sum (per-bucket cumsum + broadcast bucket offsets —
# the pps_systematic_sample pattern) over DISTINCT totals, not rows.
# The DuckDB oracle uses the naive single window, so the hash match
# also proves the distributed decomposition.
# --------------------------------------------------------------------------


@query(
    "mann_whitney_u_arms",
    oracle=f"""
WITH per_user AS (
    SELECT user_id,
           CASE WHEN {_sql_hb('user_id')} < 50 THEN 'A' ELSE 'B' END AS arm,
           CAST(SUM({sql_qround('value', 2)}) AS BIGINT)
               AS y
    FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
vals AS (
    SELECT y,
           COUNT(*) FILTER (WHERE arm = 'A') AS c_a,
           COUNT(*) FILTER (WHERE arm = 'B') AS c_b,
           COUNT(*) AS c
    FROM per_user WHERE y IS NOT NULL GROUP BY 1
),
cum AS (
    SELECT y, c_a, c_b, c,
           CAST(SUM(c) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) - c
                AS BIGINT) AS below
    FROM vals
),
agg AS (
    SELECT CAST(SUM(c_a) AS BIGINT) AS na,
           CAST(SUM(c_b) AS BIGINT) AS nb,
           SUM(CAST(c_a AS HUGEINT) * (2 * below + c + 1)) AS r2a,
           SUM(CAST(c AS HUGEINT) * c * c - c) AS tie
    FROM cum
),
u AS (
    SELECT na, nb, na + nb AS n,
           CAST(r2a - CAST(na AS HUGEINT) * (na + 1) AS DOUBLE) / 2.0
               AS u_a,
           CAST(tie AS DOUBLE) AS tie_d
    FROM agg
),
v AS (
    SELECT na, nb, u_a,
           CAST(na AS DOUBLE) * nb - u_a AS u_b,
           CAST(na AS DOUBLE) * nb / 2.0 AS mu,
           (CAST(na AS DOUBLE) * nb / 12.0)
             * ((n + 1.0) - tie_d
                / (CASE WHEN n > 1
                   THEN CAST(n AS DOUBLE) * (n - 1.0) END)) AS var
    FROM u
)
SELECT na AS n_a, nb AS n_b, u_a, u_b,
       {sql_dround('(u_a - mu) / sqrt(CASE WHEN var > 0 THEN var END)',
                   6)} AS z_mwu
FROM v
""",
)
def mann_whitney_u_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between the sha256 50/50 arms on per-user value."""
    from pyspark.sql.window import Window

    from .training import hash_bucket

    events = load_tables(spark, sf_dir, "events")["events"]
    per_user = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(qround(F.col("value"), 2))
            .cast("bigint")
            .alias("y")
        )
        .select(
            F.when(hash_bucket("user_id") < 50, "A")
            .otherwise("B")
            .alias("arm"),
            "y",
        )
        .filter(F.col("y").isNotNull())
    )
    vals = per_user.groupBy("y").agg(
        F.count_if(F.col("arm") == "A").alias("c_a"),
        F.count_if(F.col("arm") == "B").alias("c_b"),
        F.count("*").alias("c"),
    )
    # two-phase distributed prefix sum over distinct totals: per-bucket
    # cumsum runs partition-parallel; bucket offsets are a broadcast of
    # bucket-cardinality rows (pps_systematic_sample pattern).
    wb = (
        Window.partitionBy("bucket")
        .orderBy("y")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    in_bucket = vals.withColumn("bucket", F.expr("y DIV 65536")).withColumn(
        "below_local", F.sum("c").over(wb) - F.col("c")
    )
    totals = in_bucket.groupBy("bucket").agg(F.sum("c").alias("b_total"))
    wo = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "bucket",
        F.coalesce(F.sum("b_total").over(wo), F.lit(0)).alias("offset"),
    )
    cum = in_bucket.join(F.broadcast(offsets), "bucket").select(
        "y",
        "c_a",
        "c_b",
        "c",
        (F.col("offset") + F.col("below_local")).cast("bigint").alias("below"),
    )
    agg = cum.agg(
        F.sum("c_a").cast("bigint").alias("na"),
        F.sum("c_b").cast("bigint").alias("nb"),
        F.sum(
            F.col("c_a").cast("decimal(38,0)")
            * (2 * F.col("below") + F.col("c") + 1)
        ).alias("r2a"),
        F.sum(
            F.col("c").cast("decimal(38,0)") * F.col("c") * F.col("c")
            - F.col("c")
        ).alias("tie"),
    )
    u = agg.select(
        "na",
        "nb",
        (F.col("na") + F.col("nb")).alias("n"),
        (
            (
                F.col("r2a")
                - F.col("na").cast("decimal(38,0)") * (F.col("na") + 1)
            ).cast("double")
            / 2.0
        ).alias("u_a"),
        F.col("tie").cast("double").alias("tie_d"),
    )
    na_d = F.col("na").cast("double")
    n_d = F.col("n").cast("double")
    v = u.select(
        "na",
        "nb",
        "u_a",
        (na_d * F.col("nb") - F.col("u_a")).alias("u_b"),
        (na_d * F.col("nb") / 2.0).alias("mu"),
        (
            (na_d * F.col("nb") / 12.0)
            * (
                (F.col("n") + 1.0)
                - F.col("tie_d")
                / F.when(F.col("n") > 1, n_d * (F.col("n") - 1.0))
            )
        ).alias("var"),
    )
    return v.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "u_a",
        "u_b",
        dround(
            (F.col("u_a") - F.col("mu"))
            / F.sqrt(F.when(F.col("var") > 0, F.col("var"))),
            6,
        ).alias("z_mwu"),
    )


# --------------------------------------------------------------------------
# Offline policy evaluation by replay (Li et al. 2011's replay method,
# greedy policy): learn "best action per context" (context = day of
# week, action = event type, reward = value) on the first half of the
# window, then score the policy on the second half using ONLY logged
# rows where the logged action equals the policy's choice — the
# standard unbiased offline estimate when the logging policy is
# uniform. Means are ratios of exact integer cents, the argmax orders
# by that one-division double with explicit NULLS LAST + name
# tie-break, and every reported rate is floor-1e6 pinned.
#
# Scale: two map-combined (dow, type) aggregates over the halves plus
# a <=7-row broadcast policy join — no row-cardinality shuffle.
# --------------------------------------------------------------------------

_RPL_CUTOFF = "2024-01-16 00:00:00"


@query(
    "replay_policy_evaluation",
    oracle=f"""
WITH train AS (
    SELECT dayofweek(CAST(ts AS DATE)) AS dow, event_type,
           COUNT(value) AS n_r,
           CAST(SUM({sql_qround('value', 2)}) AS BIGINT)
               AS s
    FROM events
    WHERE ts IS NOT NULL AND ts < TIMESTAMP '{_RPL_CUTOFF}'
      AND event_type IS NOT NULL
    GROUP BY 1, 2
),
ranked AS (
    SELECT dow, event_type,
           CAST(s AS DOUBLE) / 100.0
               / (CASE WHEN n_r > 0 THEN n_r END) AS mean_r,
           ROW_NUMBER() OVER (
               PARTITION BY dow
               ORDER BY CAST(s AS DOUBLE) / 100.0
                        / (CASE WHEN n_r > 0 THEN n_r END)
                        DESC NULLS LAST,
                        event_type ASC) AS rk
    FROM train
),
policy AS (
    SELECT dow, event_type AS policy_action, mean_r FROM ranked WHERE rk = 1
),
ev AS (
    SELECT dayofweek(CAST(ts AS DATE)) AS dow, event_type,
           {sql_qround('value', 2)} AS cents,
           value
    FROM events
    WHERE ts IS NOT NULL AND ts >= TIMESTAMP '{_RPL_CUTOFF}'
),
scored AS (
    SELECT e.dow, p.policy_action, p.mean_r,
           COUNT(*) AS n_eval,
           COUNT(*) FILTER (WHERE e.event_type = p.policy_action)
               AS n_matched,
           COUNT(e.value) FILTER (WHERE e.event_type = p.policy_action)
               AS n_matched_r,
           CAST(COALESCE(SUM(e.cents) FILTER (
               WHERE e.event_type = p.policy_action), 0) AS BIGINT) AS s_m
    FROM ev e JOIN policy p ON e.dow = p.dow
    GROUP BY 1, 2, 3
)
SELECT dow, policy_action,
       {sql_dround('mean_r', 4)} AS train_mean,
       n_eval, n_matched,
       {sql_dround('CAST(n_matched AS DOUBLE) / n_eval', 6)} AS match_rate,
       {sql_dround('CAST(s_m AS DOUBLE) / 100.0'
                   ' / (CASE WHEN n_matched_r > 0 THEN n_matched_r END)', 4)} AS est_policy_value
FROM scored
""",
)
def replay_policy_evaluation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy best-action-per-dow policy scored by second-half replay."""
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    cutoff = F.lit(_RPL_CUTOFF).cast("timestamp_ntz")
    cents = qround(F.col("value"), 2)
    # Spark dayofweek is 1=Sunday; DuckDB is 0=Sunday — normalize to
    # DuckDB's numbering since dow is an output key here.
    dow = (F.expr("dayofweek(CAST(ts AS DATE))") - 1).alias("dow")
    train = (
        events.filter(
            F.col("ts").isNotNull()
            & (F.col("ts") < cutoff)
            & F.col("event_type").isNotNull()
        )
        .groupBy(dow, "event_type")
        .agg(
            F.count("value").alias("n_r"),
            F.sum(cents).cast("bigint").alias("s"),
        )
    )
    mean_r = (
        F.col("s").cast("double")
        / 100.0
        / F.when(F.col("n_r") > 0, F.col("n_r"))
    )
    ranked = train.select(
        "dow", "event_type", mean_r.alias("mean_r")
    ).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("dow").orderBy(
                F.col("mean_r").desc_nulls_last(), F.col("event_type").asc()
            )
        ),
    )
    policy = ranked.filter(F.col("rk") == 1).select(
        "dow", F.col("event_type").alias("policy_action"), "mean_r"
    )
    ev = events.filter(
        F.col("ts").isNotNull() & (F.col("ts") >= cutoff)
    ).select(dow, "event_type", cents.alias("cents"), "value")
    matched = F.col("event_type") == F.col("policy_action")
    scored = (
        ev.join(F.broadcast(policy), "dow")
        .groupBy("dow", "policy_action", "mean_r")
        .agg(
            F.count("*").alias("n_eval"),
            F.count_if(matched).alias("n_matched"),
            F.count(F.when(matched, F.col("value"))).alias("n_matched_r"),
            F.coalesce(F.sum(F.when(matched, F.col("cents"))), F.lit(0))
            .cast("bigint")
            .alias("s_m"),
        )
    )
    return scored.select(
        "dow",
        "policy_action",
        dround(F.col("mean_r"), 4).alias("train_mean"),
        "n_eval",
        "n_matched",
        dround(
                F.col("n_matched").cast("double") / F.col("n_eval"), 6
            ).alias("match_rate"),
        dround(
            F.col("s_m").cast("double")
            / 100.0
            / F.when(F.col("n_matched_r") > 0, F.col("n_matched_r")),
            4,
        ).alias("est_policy_value"),
    )


# --------------------------------------------------------------------------
# Theil-T inequality decomposition of customer spend by nation — the
# additive complement to gini_by_nation: Theil splits total inequality
# into a BETWEEN-nations term and per-nation WITHIN terms, which is
# the question a market analyst actually asks ("is revenue
# concentration a geography story or a within-market story?").
# Moments are exact integer cents; each ln term is dround-pinned
# before the order-independent decimal sum (zipf precedent).
#
# Scale: per-customer totals shuffle once on custkey, nation stats are
# a bounded groupBy, and the per-row term pass joins a 25-row
# broadcast — no row-cardinality re-shuffle.
# --------------------------------------------------------------------------


@query(
    "theil_index_decomposition",
    oracle=f"""
WITH spend AS (
    SELECT o_custkey AS ck,
           CAST(SUM({sql_qround('o_totalprice', 2)})
                AS BIGINT) AS x
    FROM orders WHERE o_custkey IS NOT NULL
    GROUP BY 1
),
cust AS (
    SELECT s.ck, s.x, n.n_name AS nation
    FROM spend s
    JOIN customer c ON s.ck = c_custkey
    JOIN nation n ON c_nationkey = n_nationkey
    WHERE s.x > 0
),
g AS (
    SELECT nation, COUNT(*) AS n_g,
           SUM(CAST(x AS HUGEINT)) AS s_g
    FROM cust GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(n_g) AS BIGINT) AS n, SUM(s_g) AS s FROM g
),
terms AS (
    SELECT c.nation,
           {sql_dround('(CAST(c.x AS DOUBLE) / (CAST(g.s_g AS DOUBLE) / g.n_g))'
                       ' * ln(CAST(c.x AS DOUBLE)'
                       ' / (CAST(g.s_g AS DOUBLE) / g.n_g))', 9)} AS t_i
    FROM cust c JOIN g ON c.nation = g.nation
)
SELECT g.nation,
       CAST(g.n_g AS BIGINT) AS n_customers,
       {sql_dround('CAST(g.s_g AS DOUBLE) / g.n_g / 100.0', 4)} AS mean_spend,
       {sql_dround('CAST(w.sum_t AS DOUBLE) / g.n_g', 9)} AS theil_within,
       {sql_dround('(CAST(g.n_g AS DOUBLE) / tot.n)'
                   ' * ((CAST(g.s_g AS DOUBLE) / g.n_g)'
                   ' / (CAST(tot.s AS DOUBLE) / tot.n))'
                   ' * ln((CAST(g.s_g AS DOUBLE) / g.n_g)'
                   ' / (CAST(tot.s AS DOUBLE) / tot.n))', 9)} AS between_term
FROM g
JOIN (SELECT nation, SUM(CAST(t_i AS DECIMAL(27,9))) AS sum_t
      FROM terms GROUP BY 1) w ON g.nation = w.nation
CROSS JOIN tot
""",
)
def theil_index_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T within/between decomposition of per-customer spend."""
    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    spend = (
        t["orders"]
        .filter(F.col("o_custkey").isNotNull())
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.sum(
                qround(F.col("o_totalprice"), 2)
            )
            .cast("bigint")
            .alias("x")
        )
    )
    cust = (
        spend.join(
            t["customer"].select("c_custkey", "c_nationkey"),
            F.col("ck") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .filter(F.col("x") > 0)
        .select("ck", "x", F.col("n_name").alias("nation"))
    )
    g = cust.groupBy("nation").agg(
        F.count("*").alias("n_g"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("s_g"),
    )
    tot = g.agg(
        F.sum("n_g").cast("bigint").alias("n"), F.sum("s_g").alias("s")
    )
    mu_g = F.col("s_g").cast("double") / F.col("n_g")
    ratio = F.col("x").cast("double") / mu_g
    terms = cust.join(F.broadcast(g), "nation").select(
        "nation",
        dround(ratio * F.log(ratio), 9).alias("t_i"),
    )
    w = terms.groupBy("nation").agg(
        F.sum(F.col("t_i").cast("decimal(27,9)")).alias("sum_t")
    )
    mu = F.col("s").cast("double") / F.col("n")
    return (
        g.join(F.broadcast(w), "nation")
        .crossJoin(F.broadcast(tot))
        .select(
            "nation",
            F.col("n_g").cast("bigint").alias("n_customers"),
            dround(mu_g / 100.0, 4).alias("mean_spend"),
            dround(
                    F.col("sum_t").cast("double") / F.col("n_g"), 9
                ).alias("theil_within"),
            dround(
                (F.col("n_g").cast("double") / F.col("n"))
                * (mu_g / mu)
                * F.log(mu_g / mu),
                9,
            ).alias("between_term"),
        )
    )


# --------------------------------------------------------------------------
# Benjamini–Hochberg FDR correction over per-type Welch z-tests — the
# multiple-testing step every experimentation platform needs once it
# reports more than one metric: testing each event_type's arm
# difference at alpha=0.05 independently inflates false positives; BH
# controls the false-discovery rate across the family. Moments are
# exact integer cents per (type, arm); the normal tail probability
# uses the Abramowitz–Stegun 26.2.17 polynomial (pure arithmetic +
# exp, the same IEEE sequence in both engines — the perplexity/theil
# exp/ln precedent), pinned to 1e-9 integers BEFORE ranking; the BH
# step-up threshold p_(k) <= k·alpha/m is evaluated as the integer
# cross-multiplication p_q·m·20 <= k·1e9, so no float compare can
# flip a rejection across engines.
#
# Scale: one (type, arm)-grain map-combined moment pass; everything
# after runs on a type-cardinality frame (the rank window orders ~10
# aggregated rows, never raw data).
# --------------------------------------------------------------------------

# 2·(1 − Φ(|z|)) via A&S 26.2.17; `A` is the |z| expression
_PHI_K = "(1.0 / (1.0 + 0.2316419 * {A}))"
_TAIL2 = (
    "(2.0 * exp(-({A}) * ({A}) / 2.0) * 0.3989422804014327 * "
    "({K} * (0.319381530 + {K} * (-0.356563782 + {K} * (1.781477937 "
    "+ {K} * (-1.821255978 + {K} * 1.330274429))))))"
)


def _tail2(a_expr: str) -> str:
    k = _PHI_K.format(A=a_expr)
    return _TAIL2.format(A=a_expr, K=k)


@query(
    "fdr_bh_ttests",
    oracle=f"""
WITH m AS (
    SELECT event_type,
           CASE WHEN {_sql_hb('user_id')} < 50 THEN 'A' ELSE 'B' END AS arm,
           COUNT(*) AS n,
           CAST(SUM({sql_qround('value', 2)}) AS HUGEINT)
               AS sy,
           CAST(SUM(CAST({sql_qround('value', 2)}
                         AS HUGEINT)
                    * {sql_qround('value', 2)}) AS HUGEINT)
               AS syy
    FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
    GROUP BY 1, 2
),
w AS (
    SELECT event_type,
           MAX(CASE WHEN arm = 'A' THEN n END) AS na,
           MAX(CASE WHEN arm = 'B' THEN n END) AS nb,
           MAX(CASE WHEN arm = 'A' THEN CAST(sy AS DOUBLE) END) AS sa,
           MAX(CASE WHEN arm = 'B' THEN CAST(sy AS DOUBLE) END) AS sb,
           MAX(CASE WHEN arm = 'A'
               THEN CAST(n * syy - sy * sy AS DOUBLE) END) AS da,
           MAX(CASE WHEN arm = 'B'
               THEN CAST(n * syy - sy * sy AS DOUBLE) END) AS db
    FROM m GROUP BY 1
),
z AS (
    SELECT event_type, na, nb,
           (sa / na - sb / nb) / 100.0
               / sqrt(CASE WHEN na > 1 AND nb > 1
                            AND (da / na / (na - 1.0) / na
                                 + db / nb / (nb - 1.0) / nb) > 0
                      THEN (da / na / (na - 1.0) / na
                            + db / nb / (nb - 1.0) / nb) / 10000.0 END)
               AS zs
    FROM w
),
p AS (
    SELECT event_type, na, nb, zs,
           {sql_qround(_tail2('ABS(zs)'), 9)} AS p_q
    FROM z
),
ranked AS (
    SELECT p.*,
           ROW_NUMBER() OVER (ORDER BY p_q NULLS LAST, event_type) AS k,
           (SELECT COUNT(p_q) FROM p) AS m_tests
    FROM p
),
cut AS (
    SELECT MAX(CASE WHEN p_q * m_tests * 20 <= k * 1000000000
               THEN k END) AS k_max
    FROM ranked
)
SELECT event_type,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       {sql_dround('zs', 6)} AS z_stat,
       (CAST(p_q AS DOUBLE) / 1000000000.0) AS p_value,
       CAST(k AS BIGINT) AS bh_rank,
       (k <= COALESCE(k_max, 0)) AS rejected
FROM ranked CROSS JOIN cut
""",
)
def fdr_bh_ttests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BH FDR (alpha=0.05) across per-event-type arm z-tests."""
    from pyspark.sql.window import Window

    from .training import hash_bucket

    events = load_tables(spark, sf_dir, "events")["events"]
    cents = qround(F.col("value"), 2)
    m = (
        events.filter(
            F.col("user_id").isNotNull() & F.col("value").isNotNull()
        )
        .groupBy(
            "event_type",
            F.when(hash_bucket("user_id") < 50, "A").otherwise("B").alias(
                "arm"
            ),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(cents).cast("decimal(38,0)").alias("sy"),
            F.sum(cents.cast("decimal(38,0)") * cents).alias("syy"),
        )
    )
    pick = lambda arm, c: F.max(F.when(F.col("arm") == arm, c))  # noqa: E731
    dev = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    w = m.groupBy("event_type").agg(
        pick("A", F.col("n")).alias("na"),
        pick("B", F.col("n")).alias("nb"),
        pick("A", F.col("sy").cast("double")).alias("sa"),
        pick("B", F.col("sy").cast("double")).alias("sb"),
        pick("A", dev).alias("da"),
        pick("B", dev).alias("db"),
    )
    na, nb = F.col("na"), F.col("nb")
    se2 = (
        F.col("da") / na / (na - 1.0) / na
        + F.col("db") / nb / (nb - 1.0) / nb
    )
    z = w.select(
        "event_type",
        "na",
        "nb",
        (
            (F.col("sa") / na - F.col("sb") / nb)
            / 100.0
            / F.sqrt(
                F.when((na > 1) & (nb > 1) & (se2 > 0), se2 / 10000.0)
            )
        ).alias("zs"),
    )
    p = z.select(
        "event_type",
        "na",
        "nb",
        "zs",
        qround(F.expr(_tail2("ABS(zs)")), 9)
        .alias("p_q"),
    )
    # rank window runs over the aggregated type-cardinality frame
    # (~10 rows), never raw data; NULLS LAST matches DuckDB's default
    wk = Window.orderBy(F.asc_nulls_last("p_q"), "event_type")
    mt = p.agg(F.count("p_q").alias("m_tests"))
    ranked = (
        p.withColumn("k", F.row_number().over(wk))
        .crossJoin(F.broadcast(mt))
    )
    cut = ranked.agg(
        F.max(
            F.when(
                F.col("p_q") * F.col("m_tests") * 20
                <= F.col("k").cast("bigint") * 1000000000,
                F.col("k"),
            )
        ).alias("k_max")
    )
    return ranked.crossJoin(F.broadcast(cut)).select(
        "event_type",
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        dround("zs", 6).alias("z_stat"),
        (F.col("p_q").cast("double") / 1000000000.0).alias("p_value"),
        F.col("k").cast("bigint").alias("bh_rank"),
        (F.col("k") <= F.coalesce(F.col("k_max"), F.lit(0))).alias(
            "rejected"
        ),
    )


# --------------------------------------------------------------------------
# Wald SPRT (sequential probability-ratio test) on per-user conversion
# in each sha256 arm — the always-valid sequential monitoring the
# fixed-horizon experimentation family (welch_ttest_arms, ab_srm_check,
# experiment_power_mde) doesn't cover. Testing H0: p = 0.7 vs
# H1: p = 0.9 at alpha = beta = 0.05: the per-observation log terms
# ln(p1/p0), ln((1-p1)/(1-p0)) and the Wald boundaries
# ln((1-b)/a), ln(b/(1-a)) are quantized x1e6 AT PLAN TIME and appear
# as INTEGER literals in both engines, so the cumulative LLR is an
# exact integer cumsum and the first-crossing day cannot diverge.
# Sequence grain is the DAY a user first appears (the realistic
# monitoring cadence) — day-grain cumulative windows per arm, never a
# per-user single-partition scan.
# --------------------------------------------------------------------------

import math as _math

_SPRT_P0, _SPRT_P1 = 0.7, 0.9
_SPRT_A_ERR = 0.05  # alpha = beta
_SPRT_L1 = _math.floor(_math.log(_SPRT_P1 / _SPRT_P0) * 1e6 + 0.5)
_SPRT_L0 = _math.floor(
    _math.log((1 - _SPRT_P1) / (1 - _SPRT_P0)) * 1e6 + 0.5
)
_SPRT_UP = _math.floor(
    _math.log((1 - _SPRT_A_ERR) / _SPRT_A_ERR) * 1e6 + 0.5
)
_SPRT_DOWN = -_SPRT_UP


@query(
    "sprt_sequential_test",
    oracle=f"""
WITH per_user AS (
    SELECT user_id,
           CASE WHEN {_sql_hb('user_id')} < 50 THEN 'A' ELSE 'B' END AS arm,
           MIN(CAST(ts AS DATE)) AS first_day,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    GROUP BY 1, 2
),
daily AS (
    SELECT arm, first_day AS d,
           CAST(COUNT(*) AS BIGINT) AS n_new,
           CAST(SUM(conv) AS BIGINT) AS k_new
    FROM per_user GROUP BY 1, 2
),
cum AS (
    SELECT arm, d,
           CAST(SUM(n_new) OVER w AS BIGINT) AS n_cum,
           CAST(SUM(k_new) OVER w AS BIGINT) AS k_cum
    FROM daily
    WINDOW w AS (PARTITION BY arm ORDER BY d)
),
llr AS (
    SELECT arm, d, n_cum, k_cum,
           k_cum * {_SPRT_L1} + (n_cum - k_cum) * {_SPRT_L0} AS llr_q
    FROM cum
),
crossing AS (
    SELECT arm, MIN(d) AS decision_day
    FROM llr WHERE llr_q >= {_SPRT_UP} OR llr_q <= {_SPRT_DOWN}
    GROUP BY 1
),
decided AS (
    SELECT l.arm, c.decision_day,
           CASE WHEN l.llr_q >= {_SPRT_UP} THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision
    FROM llr l JOIN crossing c ON l.arm = c.arm AND l.d = c.decision_day
),
final AS (
    SELECT arm, d, n_cum, k_cum, llr_q,
           ROW_NUMBER() OVER (PARTITION BY arm ORDER BY d DESC) AS rn
    FROM llr
)
SELECT f.arm,
       f.n_cum AS users_total,
       f.k_cum AS conversions_total,
       COALESCE(dx.decision, 'continue') AS decision,
       dx.decision_day,
       f.llr_q / 1000000.0 AS llr_final
FROM final f LEFT JOIN decided dx USING (arm)
WHERE f.rn = 1
""",
)
def sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-arm SPRT decision, first-crossing day, and final LLR."""
    from pyspark.sql.window import Window

    from .training import hash_bucket

    events = load_tables(spark, sf_dir, "events")["events"]
    per_user = (
        events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min(F.to_date("ts")).alias("first_day"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv"),
        )
        .select(
            F.when(hash_bucket("user_id") < 50, "A")
            .otherwise("B")
            .alias("arm"),
            "first_day",
            "conv",
        )
    )
    daily = per_user.groupBy("arm", F.col("first_day").alias("d")).agg(
        F.count("*").alias("n_new"),
        F.sum("conv").cast("bigint").alias("k_new"),
    )
    w = Window.partitionBy("arm").orderBy("d")
    cum = daily.select(
        "arm",
        "d",
        F.sum("n_new").over(w).cast("bigint").alias("n_cum"),
        F.sum("k_new").over(w).cast("bigint").alias("k_cum"),
    )
    llr = cum.withColumn(
        "llr_q",
        F.col("k_cum") * _SPRT_L1
        + (F.col("n_cum") - F.col("k_cum")) * _SPRT_L0,
    )
    crossed = (F.col("llr_q") >= _SPRT_UP) | (F.col("llr_q") <= _SPRT_DOWN)
    crossing = (
        llr.filter(crossed)
        .groupBy(F.col("arm").alias("arm_c"))
        .agg(F.min("d").alias("decision_day"))
    )
    decided = (
        llr.alias("l")
        .join(
            crossing,
            (F.col("l.arm") == F.col("arm_c"))
            & (F.col("l.d") == F.col("decision_day")),
        )
        .select(
            F.col("arm_c").alias("arm_x"),
            "decision_day",
            F.when(F.col("l.llr_q") >= _SPRT_UP, "accept_h1")
            .otherwise("accept_h0")
            .alias("decision"),
        )
    )
    wlast = Window.partitionBy("arm").orderBy(F.desc("d"))
    final = (
        llr.withColumn("rn", F.row_number().over(wlast))
        .filter(F.col("rn") == 1)
        .select("arm", "n_cum", "k_cum", "llr_q")
    )
    return (
        final.join(
            F.broadcast(decided),
            final["arm"] == decided["arm_x"],
            "left",
        )
        .select(
            "arm",
            F.col("n_cum").alias("users_total"),
            F.col("k_cum").alias("conversions_total"),
            F.coalesce("decision", F.lit("continue")).alias("decision"),
            "decision_day",
            (F.col("llr_q") / 1000000.0).alias("llr_final"),
        )
    )


# --------------------------------------------------------------------------
# Uplift / Qini decile curve: rank users by a deterministic targeting
# score (event count, tiebreak user_id), cut exact integer deciles,
# and per decile report treatment-vs-control mean-value uplift plus
# the cumulative Qini statistic sumT_cum - sumC_cum * nT_cum/nC_cum —
# the standard evaluation of "whom should we treat first". Values are
# exact integer cents per user; decile edges are integer
# cross-multiplications over the rank (no NTILE, whose tie semantics
# differ across engines); each output float is one mirrored division.
#
# Scale: the rank runs on the USER-GRAIN aggregate (already reduced),
# not raw events; at 100 TB the decile cut swaps to the histogram-CDF
# boundaries of quantile_normalize_lengths — this exact-rank form is
# that rewrite's semantic oracle.
# --------------------------------------------------------------------------


@query(
    "uplift_qini_deciles",
    oracle=f"""
WITH per_user AS (
    SELECT user_id,
           CASE WHEN {_sql_hb('user_id')} < 50 THEN 0 ELSE 1 END AS treat,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM({sql_qround('value', 2)}) AS BIGINT)
               AS cents
    FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
    GROUP BY 1, 2
),
ranked AS (
    SELECT *,
           ROW_NUMBER() OVER (ORDER BY n_events DESC, user_id) AS r,
           COUNT(*) OVER () AS n
    FROM per_user
),
dec AS (
    SELECT *, CAST(FLOOR(((r - 1) * 10.0) / n) AS BIGINT) + 1 AS decile
    FROM ranked
),
agg AS (
    SELECT decile,
           CAST(SUM(treat) AS BIGINT) AS n_treat,
           CAST(SUM(1 - treat) AS BIGINT) AS n_ctrl,
           CAST(SUM(treat * cents) AS BIGINT) AS cents_treat,
           CAST(SUM((1 - treat) * cents) AS BIGINT) AS cents_ctrl
    FROM dec GROUP BY 1
),
cum AS (
    SELECT decile, n_treat, n_ctrl, cents_treat, cents_ctrl,
           CAST(SUM(n_treat) OVER w AS BIGINT) AS nt_cum,
           CAST(SUM(n_ctrl) OVER w AS BIGINT) AS nc_cum,
           CAST(SUM(cents_treat) OVER w AS BIGINT) AS ct_cum,
           CAST(SUM(cents_ctrl) OVER w AS BIGINT) AS cc_cum
    FROM agg
    WINDOW w AS (ORDER BY decile)
)
SELECT CAST(decile AS INTEGER) AS decile, n_treat, n_ctrl,
       CASE WHEN n_treat > 0 AND n_ctrl > 0 THEN
           {sql_dround(
               "(cents_treat * 1.0 / n_treat"
               " - cents_ctrl * 1.0 / n_ctrl) / 100.0", 6)}
       END AS uplift_per_user,
       CASE WHEN nc_cum > 0 THEN
           {sql_dround(
               "(ct_cum - cc_cum * 1.0 * nt_cum / nc_cum) / 100.0", 6)}
       END AS qini_cum
FROM cum
""",
)
def uplift_qini_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .training import hash_bucket

    events = load_tables(spark, sf_dir, "events")["events"]
    per_user = (
        events.filter(
            F.col("user_id").isNotNull() & F.col("value").isNotNull()
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(qround(F.col("value"), 2))
            .cast("bigint")
            .alias("cents"),
        )
        .select(
            "user_id",
            F.when(hash_bucket("user_id") < 50, 0).otherwise(1).alias(
                "treat"
            ),
            "n_events",
            "cents",
        )
    )
    # rank over the user-grain aggregate (reduced frame — lint-legal);
    # 100-TB path: histogram-CDF decile boundaries instead
    wr = Window.partitionBy(F.lit(0)).orderBy(
        F.desc("n_events"), F.asc("user_id")
    )
    wn = Window.partitionBy(F.lit(0))
    dec = (
        per_user.withColumn("r", F.row_number().over(wr))
        .withColumn("n", F.count("*").over(wn))
        .withColumn(
            "decile",
            F.floor(((F.col("r") - 1) * 10.0) / F.col("n")).cast("bigint")
            + 1,
        )
    )
    agg = dec.groupBy("decile").agg(
        F.sum("treat").cast("bigint").alias("n_treat"),
        F.sum(1 - F.col("treat")).cast("bigint").alias("n_ctrl"),
        F.sum(F.col("treat") * F.col("cents"))
        .cast("bigint")
        .alias("cents_treat"),
        F.sum((1 - F.col("treat")) * F.col("cents"))
        .cast("bigint")
        .alias("cents_ctrl"),
    )
    wc = Window.partitionBy(F.lit(0)).orderBy("decile")
    cum = agg.select(
        "*",
        F.sum("n_treat").over(wc).cast("bigint").alias("nt_cum"),
        F.sum("n_ctrl").over(wc).cast("bigint").alias("nc_cum"),
        F.sum("cents_treat").over(wc).cast("bigint").alias("ct_cum"),
        F.sum("cents_ctrl").over(wc).cast("bigint").alias("cc_cum"),
    )
    from ..functions import dround

    uplift = (
        F.col("cents_treat") * 1.0 / F.col("n_treat")
        - F.col("cents_ctrl") * 1.0 / F.col("n_ctrl")
    ) / 100.0
    qini = (
        F.col("ct_cum")
        - F.col("cc_cum") * 1.0 * F.col("nt_cum") / F.col("nc_cum")
    ) / 100.0
    return cum.select(
        F.col("decile").cast("int").alias("decile"),
        "n_treat",
        "n_ctrl",
        F.when(
            (F.col("n_treat") > 0) & (F.col("n_ctrl") > 0),
            dround(uplift, 6),
        ).alias("uplift_per_user"),
        F.when(F.col("nc_cum") > 0, dround(qini, 6)).alias("qini_cum"),
    )


# --------------------------------------------------------------------------
# Mix/rate decomposition (Oaxaca-Kitagawa): why did the mean event
# value move from early to late January (the corpus spans Jan 1-30)? Split the delta into MIX SHIFT
# (event-type composition changed, at period-1 rates) and RATE SHIFT
# (per-type means changed, at period-2 shares):
#   delta = sum_t (share2-share1)*rate1 + sum_t share2*(rate2-rate1)
# — an exact algebraic identity (pinned by test_round8_invariants).
# All cross-row sums are integer (counts + x100 cents); every
# share/rate/contribution is a mirrored division dround-pinned.
# NULL-type and NULL-value rows are filtered identically on both
# engines (a NULL group would silently drop at the period join).
# --------------------------------------------------------------------------


@query(
    "mix_rate_decomposition",
    oracle=f"""
WITH base AS (
    SELECT event_type,
           CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 2 END
               AS period,
           {sql_qround('value', 2)} AS cents
    FROM events
    WHERE ts IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL
),
per AS (
    SELECT period, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS cents
    FROM base GROUP BY 1, 2
),
tot AS (
    SELECT period, event_type, n, cents,
           CAST(SUM(n) OVER (PARTITION BY period) AS BIGINT) AS n_tot
    FROM per
),
j AS (
    SELECT p1.event_type,
           p1.n AS n1, p1.cents AS c1, p1.n_tot AS nt1,
           p2.n AS n2, p2.cents AS c2, p2.n_tot AS nt2
    FROM tot p1 JOIN tot p2 USING (event_type)
    WHERE p1.period = 1 AND p2.period = 2
)
SELECT event_type,
       {sql_dround("n1 * 1.0 / nt1", 6)} AS share_p1,
       {sql_dround("n2 * 1.0 / nt2", 6)} AS share_p2,
       {sql_dround("c1 * 1.0 / n1 / 100.0", 6)} AS rate_p1,
       {sql_dround("c2 * 1.0 / n2 / 100.0", 6)} AS rate_p2,
       {sql_dround(
           "(n2 * 1.0 / nt2 - n1 * 1.0 / nt1)"
           " * (c1 * 1.0 / n1) / 100.0", 6)} AS mix_contribution,
       {sql_dround(
           "(n2 * 1.0 / nt2)"
           " * (c2 * 1.0 / n2 - c1 * 1.0 / n1) / 100.0", 6)}
           AS rate_contribution
FROM j
""",
)
def mix_rate_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    base = events.filter(
        F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        "event_type",
        F.when(
            F.col("ts") < F.lit("2024-01-16").cast("timestamp"), 1
        )
        .otherwise(2)
        .alias("period"),
        qround(F.col("value"), 2).alias("cents"),
    )
    per = base.groupBy("period", "event_type").agg(
        F.count("*").alias("n"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
    wp = Window.partitionBy("period")
    tot = per.select(
        "period",
        "event_type",
        "n",
        "cents",
        F.sum("n").over(wp).cast("bigint").alias("n_tot"),
    )
    p1 = tot.filter(F.col("period") == 1).select(
        "event_type",
        F.col("n").alias("n1"),
        F.col("cents").alias("c1"),
        F.col("n_tot").alias("nt1"),
    )
    p2 = tot.filter(F.col("period") == 2).select(
        "event_type",
        F.col("n").alias("n2"),
        F.col("cents").alias("c2"),
        F.col("n_tot").alias("nt2"),
    )
    j = p1.join(p2, "event_type")
    share1 = F.col("n1") * 1.0 / F.col("nt1")
    share2 = F.col("n2") * 1.0 / F.col("nt2")
    rate1 = F.col("c1") * 1.0 / F.col("n1")
    rate2 = F.col("c2") * 1.0 / F.col("n2")
    return j.select(
        "event_type",
        dround(share1, 6).alias("share_p1"),
        dround(share2, 6).alias("share_p2"),
        dround(rate1 / 100.0, 6).alias("rate_p1"),
        dround(rate2 / 100.0, 6).alias("rate_p2"),
        dround((share2 - share1) * rate1 / 100.0, 6).alias(
            "mix_contribution"
        ),
        dround(share2 * (rate2 - rate1) / 100.0, 6).alias(
            "rate_contribution"
        ),
    )


# --------------------------------------------------------------------------
# Laspeyres / Paasche / Fisher price index between two shipment years
# over the common part basket — index-number analytics on the fact
# table. Per (part, period): integer cent revenue E and integer unit
# quantity Q; unit price = E/Q. The per-part cross terms p2*q1 and
# p1*q2 are quantized to integer cents BEFORE the basket sum (cross-
# row float sums are the #1 hash risk), so each index is one mirrored
# division over exact integers; Fisher = sqrt(L*P) is one identical
# IEEE expression. Scale: part-grain reduce + part-grain join only.
# --------------------------------------------------------------------------

_PI_Y1 = ("1996-01-01", "1997-01-01")
_PI_Y2 = ("1997-01-01", "1998-01-01")


@query(
    "price_index_fisher",
    oracle=f"""
WITH per AS (
    SELECT l_partkey,
           CASE WHEN l_shipdate < TIMESTAMP '{_PI_Y2[0]} 00:00:00'
                THEN 1 ELSE 2 END AS period,
           CAST(SUM({sql_qround('l_extendedprice', 2)})
               AS BIGINT) AS e,
           CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
               AS q
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{_PI_Y1[0]} 00:00:00'
      AND l_shipdate <  TIMESTAMP '{_PI_Y2[1]} 00:00:00'
    GROUP BY 1, 2
),
j AS (
    SELECT p1.l_partkey,
           p1.e AS e1, p1.q AS q1, p2.e AS e2, p2.q AS q2,
           CAST(FLOOR(p2.e * 1.0 * p1.q / p2.q + 0.5) AS BIGINT) AS tl,
           CAST(FLOOR(p1.e * 1.0 * p2.q / p1.q + 0.5) AS BIGINT) AS tp
    FROM per p1 JOIN per p2 USING (l_partkey)
    WHERE p1.period = 1 AND p2.period = 2 AND p1.q > 0 AND p2.q > 0
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_common_parts,
           CAST(SUM(e1) AS BIGINT) AS se1,
           CAST(SUM(e2) AS BIGINT) AS se2,
           CAST(SUM(tl) AS BIGINT) AS stl,
           CAST(SUM(tp) AS BIGINT) AS stp
    FROM j
)
SELECT n_common_parts,
       {sql_dround("stl * 1.0 / se1", 6)} AS laspeyres,
       {sql_dround("se2 * 1.0 / stp", 6)} AS paasche,
       {sql_dround(
           "sqrt((stl * 1.0 / se1) * (se2 * 1.0 / stp))", 6)} AS fisher
FROM s
""",
)
def price_index_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    lo = F.lit(_PI_Y1[0]).cast("timestamp")
    mid = F.lit(_PI_Y2[0]).cast("timestamp")
    hi = F.lit(_PI_Y2[1]).cast("timestamp")
    per = (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .groupBy(
            "l_partkey",
            F.when(F.col("l_shipdate") < mid, 1).otherwise(2).alias(
                "period"
            ),
        )
        .agg(
            F.sum(
                qround(F.col("l_extendedprice"), 2)
            )
            .cast("bigint")
            .alias("e"),
            F.sum(F.floor(F.col("l_quantity") + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("q"),
        )
    )
    p1 = per.filter(F.col("period") == 1).select(
        "l_partkey", F.col("e").alias("e1"), F.col("q").alias("q1")
    )
    p2 = per.filter(F.col("period") == 2).select(
        "l_partkey", F.col("e").alias("e2"), F.col("q").alias("q2")
    )
    j = (
        p1.join(p2, "l_partkey")
        .filter((F.col("q1") > 0) & (F.col("q2") > 0))
        .select(
            "e1",
            "e2",
            F.floor(
                F.col("e2") * 1.0 * F.col("q1") / F.col("q2") + 0.5
            )
            .cast("bigint")
            .alias("tl"),
            F.floor(
                F.col("e1") * 1.0 * F.col("q2") / F.col("q1") + 0.5
            )
            .cast("bigint")
            .alias("tp"),
        )
    )
    s = j.agg(
        F.count("*").alias("n_common_parts"),
        F.sum("e1").cast("bigint").alias("se1"),
        F.sum("e2").cast("bigint").alias("se2"),
        F.sum("tl").cast("bigint").alias("stl"),
        F.sum("tp").cast("bigint").alias("stp"),
    )
    lasp = F.col("stl") * 1.0 / F.col("se1")
    paa = F.col("se2") * 1.0 / F.col("stp")
    return s.select(
        "n_common_parts",
        dround(lasp, 6).alias("laspeyres"),
        dround(paa, 6).alias("paasche"),
        dround(F.sqrt(lasp * paa), 6).alias("fisher"),
    )


# --------------------------------------------------------------------------
# ABC inventory classification: parts ranked by revenue, classed A
# while the cumulative share (including the own row) stays <= 70%,
# B up to 90%, else C — the canonical Pareto working-capital cut.
# Class boundaries are INTEGER cross-multiplications (10*cum <=
# 7*total / 9*total), so no float share can straddle an engine
# boundary; ranking runs on the PART-GRAIN aggregate (reduced frame),
# with revenue quantized to exact integer cents.
# --------------------------------------------------------------------------


@query(
    "abc_inventory_classes",
    oracle=f"""
WITH part_rev AS (
    SELECT l_partkey,
           CAST(SUM({sql_qround('l_extendedprice * (1 - l_discount)', 2)}) AS BIGINT) AS cents
    FROM lineitem GROUP BY 1
),
ranked AS (
    SELECT l_partkey, cents,
           CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey)
               AS BIGINT) AS cum,
           CAST(SUM(cents) OVER () AS BIGINT) AS total
    FROM part_rev
),
classed AS (
    SELECT l_partkey, cents,
           CASE WHEN 10 * cum <= 7 * total THEN 'A'
                WHEN 10 * cum <= 9 * total THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
)
SELECT abc_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents,
       {sql_dround("SUM(cents) * 1.0 / (SELECT SUM(cents) FROM part_rev)", 6)}
           AS revenue_share
FROM classed GROUP BY 1
""",
)
def abc_inventory_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    part_rev = li.groupBy("l_partkey").agg(
        F.sum(
            qround(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
            )
        )
        .cast("bigint")
        .alias("cents")
    )
    # cumulative rank over the part-grain aggregate (reduced frame)
    wc = Window.partitionBy(F.lit(0)).orderBy(
        F.desc("cents"), F.asc("l_partkey")
    )
    wt = Window.partitionBy(F.lit(0))
    ranked = part_rev.select(
        "l_partkey",
        "cents",
        F.sum("cents").over(wc).cast("bigint").alias("cum"),
        F.sum("cents").over(wt).cast("bigint").alias("total"),
    )
    classed = ranked.select(
        "cents",
        F.when(10 * F.col("cum") <= 7 * F.col("total"), "A")
        .when(10 * F.col("cum") <= 9 * F.col("total"), "B")
        .otherwise("C")
        .alias("abc_class"),
        "total",
    )
    return classed.groupBy("abc_class").agg(
        F.count("*").alias("n_parts"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
        dround(F.sum("cents") * 1.0 / F.first("total"), 6).alias(
            "revenue_share"
        ),
    )


# --------------------------------------------------------------------------
# Exact skewness / excess kurtosis per event type: raw power sums
# s1..s4 of x100 integer cents accumulate in wide integers
# (DECIMAL(38,0) on Spark ≡ HUGEINT in DuckDB — the CUPED precedent),
# the central-moment combinations m2c = n*s2 - s1^2,
# m3c = n^2*s3 - 3n*s1*s2 + 2*s1^3, m4c = n^3*s4 - 4n^2*s1*s3
# + 6n*s1^2*s2 - 3*s1^4 stay EXACT in that width, and the shape
# statistics collapse to scale-free ratios g1 = m3c / m2c^1.5,
# g2 = m4c / m2c^2 - 3 — one double cast per moment, identical IEEE
# ops both engines. Completes the manual_variance / correlation
# family with the 3rd/4th-moment distribution-shape card.
# At 100 TB raw 4th-power sums of larger value scales would exceed
# int128 — the production path centers per-partition first (the
# documented Welford-style rewrite); this exact-raw form is its
# semantic oracle at testable scales.
# --------------------------------------------------------------------------


@query(
    "moments_skew_kurtosis",
    oracle=f"""
WITH x AS (
    -- winsorized cents: 3rd/4th-power sums of unbounded magnitudes
    -- overflow ANY integer width ((1e14 cents)^4 = 1e56), and shape
    -- statistics are outlier-dominated anyway. Headroom rule (pinned
    -- by tests/test_moments_headroom.py): every DECIMAL(38,0)/HUGEINT
    -- term is bounded by ~6*(n*cap)^4, so per-type n must stay under
    -- (1e38/6)^(1/4)/cap ~= 33k at cap=6e4 (sf0.1 max n ~= 20.3k,
    -- ~1.6x worst-case headroom; realistic headroom is >>10x since
    -- the mean is ~5000 cents, not cap). Beyond that n, switch to
    -- the per-partition-centering Welford rewrite noted below.
    SELECT event_type, {sql_qround('value', 2, CENTS_CAP)} AS c
    FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
),
m AS (
    SELECT event_type,
           CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(CAST(c AS HUGEINT)) AS HUGEINT) AS s1,
           CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2,
           CAST(SUM(CAST(c AS HUGEINT) * c * c) AS HUGEINT) AS s3,
           CAST(SUM(CAST(c AS HUGEINT) * c * c * c) AS HUGEINT) AS s4
    FROM x GROUP BY 1
),
cm AS (
    SELECT event_type, n,
           n * s2 - s1 * s1 AS m2c,
           n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1 AS m3c,
           n * n * n * s4 - 4 * n * n * s1 * s3
             + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1 AS m4c
    FROM m
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_events,
       CASE WHEN m2c > 0 THEN
           {sql_dround(
               "CAST(m3c AS DOUBLE)"
               " / pow(CAST(m2c AS DOUBLE), 1.5)", 6)}
       END AS skewness,
       CASE WHEN m2c > 0 THEN
           {sql_dround(
               "CAST(m4c AS DOUBLE)"
               " / (CAST(m2c AS DOUBLE) * CAST(m2c AS DOUBLE)) - 3.0", 6)}
       END AS excess_kurtosis
FROM cm
""",
)
def moments_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    x = events.filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    ).select(
        "event_type",
        qround("value", 2, CENTS_CAP).alias("c"),
    )
    dec = lambda col: F.col(col).cast("decimal(38,0)")  # noqa: E731
    m = x.groupBy("event_type").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(dec("c")).alias("s1"),
        F.sum(dec("c") * F.col("c")).alias("s2"),
        F.sum(dec("c") * F.col("c") * F.col("c")).alias("s3"),
        F.sum(dec("c") * F.col("c") * F.col("c") * F.col("c")).alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    cm = m.select(
        "event_type",
        n.alias("n"),
        (n * s2 - s1 * s1).alias("m2c"),
        (n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1).alias("m3c"),
        (
            n * n * n * s4
            - 4 * n * n * s1 * s3
            + 6 * n * s1 * s1 * s2
            - 3 * s1 * s1 * s1 * s1
        ).alias("m4c"),
    )
    m2d = F.col("m2c").cast("double")
    return cm.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        F.when(
            F.col("m2c") > 0,
            dround(
                F.col("m3c").cast("double") / F.pow(m2d, 1.5), 6
            ),
        ).alias("skewness"),
        F.when(
            F.col("m2c") > 0,
            dround(
                F.col("m4c").cast("double") / (m2d * m2d) - 3.0, 6
            ),
        ).alias("excess_kurtosis"),
    )


# --------------------------------------------------------------------------
# Receivables-style aging report: non-finalized orders (status O/P)
# bucketed by age at a pinned as-of date — the classic finance-ops
# aging table (0-90 / 91-365 / 1-2y / 2y+) with order counts and
# exact integer-cent balances per (status, bucket). Bucket edges are
# integer day-diff CASE ladders at DAY grain (diff computed at date
# grain on both engines — no sub-day boundary to diverge on); the
# as-of date is a fixed literal inside the orders span (1995-2001).
# One scan-agg at (status, bucket) grain.
# --------------------------------------------------------------------------

_AGING_AS_OF = "2000-01-01"


@query(
    "receivables_aging_buckets",
    oracle=f"""
WITH open_orders AS (
    SELECT o_orderstatus AS status,
           CAST(DATE '{_AGING_AS_OF}' - CAST(o_orderdate AS DATE)
               AS BIGINT) AS age_days,
           {sql_qround('o_totalprice', 2)} AS cents
    FROM orders
    WHERE o_orderstatus IN ('O', 'P')
      AND o_orderdate < TIMESTAMP '{_AGING_AS_OF} 00:00:00'
),
bucketed AS (
    SELECT status,
           CASE WHEN age_days <= 90 THEN '0-90d'
                WHEN age_days <= 365 THEN '91-365d'
                WHEN age_days <= 730 THEN '1-2y'
                ELSE '2y+' END AS age_bucket,
           cents
    FROM open_orders
)
SELECT status, age_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS balance_cents,
       {sql_dround('CAST(SUM(cents) AS BIGINT) / 100.0', 2)}
           AS balance
FROM bucketed
GROUP BY 1, 2
""",
)
def receivables_aging_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    asof = F.lit(_AGING_AS_OF).cast("date")
    base = orders.filter(
        F.col("o_orderstatus").isin("O", "P")
        & (
            F.col("o_orderdate")
            < F.lit(_AGING_AS_OF).cast("timestamp")
        )
    ).select(
        F.col("o_orderstatus").alias("status"),
        F.datediff(asof, F.to_date("o_orderdate"))
        .cast("bigint")
        .alias("age_days"),
        qround(F.col("o_totalprice"), 2)
        .alias("cents"),
    )
    bucket = (
        F.when(F.col("age_days") <= 90, "0-90d")
        .when(F.col("age_days") <= 365, "91-365d")
        .when(F.col("age_days") <= 730, "1-2y")
        .otherwise("2y+")
    )
    return base.groupBy("status", bucket.alias("age_bucket")).agg(
        F.count("*").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("balance_cents"),
        dround(F.sum("cents").cast("bigint") / 100.0, 2).alias("balance"),
    )


# --------------------------------------------------------------------------
# One-way ANOVA F-test across FOUR hash-assigned arms — the multi-arm
# generalization of welch_ttest_arms (A/B → A/B/C/D). Per-arm moments
# (n, Σy, Σy²) are wide-integer exact in DECIMAL(38,0); the four arms
# are pivoted onto one row so SSB/SSW/F/η² are each ONE fixed-order
# IEEE double chain, identical on both engines (the welch discipline).
# Degenerate inputs (an empty arm, zero within-variance) yield NULL on
# both engines via denominator guards. y is per-user total value in
# exact cents; F and η² are unit-invariant, the reported sums of
# squares are rescaled to value² (/1e4).
#
# Scale: one groupBy(user) shuffle + one 4-row aggregate; the pivot is
# a single-row combine. At 100 TB the per-user grouping is the only
# data-sized stage. Reference analog: none (no experiment analytics in
# the reference) — extends the experiment family (SRM → power → t-test
# → CUPED/DiD → bootstrap → ANOVA).
# --------------------------------------------------------------------------

@query(
    "anova_oneway_arms",
    oracle=f"""
WITH per_user AS (
    SELECT user_id,
           CASE WHEN {_sql_hb('user_id')} < 25 THEN 'A'
                WHEN {_sql_hb('user_id')} < 50 THEN 'B'
                WHEN {_sql_hb('user_id')} < 75 THEN 'C'
                ELSE 'D' END AS arm,
           CAST(SUM({sql_qround('value', 2)}) AS BIGINT)
               AS y
    FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
m AS (
    SELECT arm, COUNT(*) AS n,
           CAST(SUM(y) AS HUGEINT) AS sy,
           CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
    FROM per_user GROUP BY 1
),
w AS (
    SELECT MAX(CASE WHEN arm = 'A' THEN CAST(n AS DOUBLE) END) AS na,
           MAX(CASE WHEN arm = 'B' THEN CAST(n AS DOUBLE) END) AS nb,
           MAX(CASE WHEN arm = 'C' THEN CAST(n AS DOUBLE) END) AS nc,
           MAX(CASE WHEN arm = 'D' THEN CAST(n AS DOUBLE) END) AS nd,
           MAX(CASE WHEN arm = 'A' THEN CAST(sy AS DOUBLE) END) AS sa,
           MAX(CASE WHEN arm = 'B' THEN CAST(sy AS DOUBLE) END) AS sb,
           MAX(CASE WHEN arm = 'C' THEN CAST(sy AS DOUBLE) END) AS sc,
           MAX(CASE WHEN arm = 'D' THEN CAST(sy AS DOUBLE) END) AS sd,
           MAX(CASE WHEN arm = 'A' THEN CAST(syy AS DOUBLE) END) AS qa,
           MAX(CASE WHEN arm = 'B' THEN CAST(syy AS DOUBLE) END) AS qb,
           MAX(CASE WHEN arm = 'C' THEN CAST(syy AS DOUBLE) END) AS qc,
           MAX(CASE WHEN arm = 'D' THEN CAST(syy AS DOUBLE) END) AS qd
    FROM m
),
v AS (
    SELECT na + nb + nc + nd AS n,
           sa + sb + sc + sd AS s,
           (qa - sa * sa / na) + (qb - sb * sb / nb)
               + (qc - sc * sc / nc) + (qd - sd * sd / nd) AS ssw,
           na, nb, nc, nd, sa, sb, sc, sd
    FROM w
),
v2 AS (
    SELECT n, ssw,
           na * (sa / na - s / n) * (sa / na - s / n)
               + nb * (sb / nb - s / n) * (sb / nb - s / n)
               + nc * (sc / nc - s / n) * (sc / nc - s / n)
               + nd * (sd / nd - s / n) * (sd / nd - s / n) AS ssb
    FROM v
)
SELECT CAST(n AS BIGINT) AS n_total,
       {sql_dround('ssb / 10000.0', 4)} AS ss_between,
       {sql_dround('ssw / 10000.0', 4)} AS ss_within,
       {sql_dround('''(ssb / 3.0)
        / (CASE WHEN ssw > 0 AND n > 4 THEN ssw / (n - 4.0) END)''', 6)}
           AS f_stat,
       {sql_dround('''ssb
        / (CASE WHEN ssb + ssw > 0 THEN ssb + ssw END)''', 6)}
           AS eta_squared
FROM v2
""",
)
def anova_oneway_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across the four sha256 25% arms."""
    from .training import hash_bucket

    events = load_tables(spark, sf_dir, "events")["events"]
    hb = hash_bucket("user_id")
    per_user = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(qround(F.col("value"), 2))
            .cast("bigint")
            .alias("y")
        )
        .select(
            F.when(hb < 25, "A")
            .when(hb < 50, "B")
            .when(hb < 75, "C")
            .otherwise("D")
            .alias("arm"),
            "y",
        )
    )
    m = per_user.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    pick = lambda arm, c: F.max(  # noqa: E731
        F.when(F.col("arm") == arm, c)
    )
    w = m.agg(
        *[
            pick(a, F.col("n").cast("double")).alias(f"n{a.lower()}")
            for a in "ABCD"
        ],
        *[
            pick(a, F.col("sy").cast("double")).alias(f"s{a.lower()}")
            for a in "ABCD"
        ],
        *[
            pick(a, F.col("syy").cast("double")).alias(f"q{a.lower()}")
            for a in "ABCD"
        ],
    )
    v = w.select(
        (F.col("na") + F.col("nb") + F.col("nc") + F.col("nd")).alias("n"),
        (F.col("sa") + F.col("sb") + F.col("sc") + F.col("sd")).alias("s"),
        (
            (F.col("qa") - F.col("sa") * F.col("sa") / F.col("na"))
            + (F.col("qb") - F.col("sb") * F.col("sb") / F.col("nb"))
            + (F.col("qc") - F.col("sc") * F.col("sc") / F.col("nc"))
            + (F.col("qd") - F.col("sd") * F.col("sd") / F.col("nd"))
        ).alias("ssw"),
        "na",
        "nb",
        "nc",
        "nd",
        "sa",
        "sb",
        "sc",
        "sd",
    )
    gm = F.col("s") / F.col("n")
    ssb_expr = (
        F.col("na") * (F.col("sa") / F.col("na") - gm)
        * (F.col("sa") / F.col("na") - gm)
        + F.col("nb") * (F.col("sb") / F.col("nb") - gm)
        * (F.col("sb") / F.col("nb") - gm)
        + F.col("nc") * (F.col("sc") / F.col("nc") - gm)
        * (F.col("sc") / F.col("nc") - gm)
        + F.col("nd") * (F.col("sd") / F.col("nd") - gm)
        * (F.col("sd") / F.col("nd") - gm)
    )
    v2 = v.select("n", "ssw", ssb_expr.alias("ssb"))
    return v2.select(
        F.col("n").cast("bigint").alias("n_total"),
        dround(F.col("ssb") / 10000.0, 4).alias("ss_between"),
        dround(F.col("ssw") / 10000.0, 4).alias("ss_within"),
        dround(
            (F.col("ssb") / 3.0)
            / F.when(
                (F.col("ssw") > 0) & (F.col("n") > 4),
                F.col("ssw") / (F.col("n") - 4.0),
            ),
            6,
        ).alias("f_stat"),
        dround(
            F.col("ssb")
            / F.when(
                F.col("ssb") + F.col("ssw") > 0, F.col("ssb") + F.col("ssw")
            ),
            6,
        ).alias("eta_squared"),
    )


# --------------------------------------------------------------------------
# Kruskal-Wallis H across the four hash-assigned arms — the
# nonparametric companion to anova_oneway_arms (rank ANOVA), exactly as
# mann_whitney_u_arms is to welch_ttest_arms. Midranks over DISTINCT
# per-user totals are kept DOUBLED (2·below + c + 1) so every per-arm
# rank sum is wide-integer exact; the four rank sums and the tie term
# pivot onto one row, and H, the tie-corrected H, and the ε² effect
# size are each one fixed-order double chain. The Spark side ranks via
# the two-phase per-bucket prefix sum (no single-task global window);
# the DuckDB oracle uses the naive single window, so the hash match
# also proves the distributed decomposition.
#
# Scale: groupBy(user) → groupBy(distinct total) → bucketed prefix sum
# with a broadcast offset table — identical posture to
# mann_whitney_u_arms, green since r6.
# --------------------------------------------------------------------------


@query(
    "kruskal_wallis_arms",
    oracle=f"""
WITH per_user AS (
    SELECT user_id,
           CASE WHEN {_sql_hb('user_id')} < 25 THEN 'A'
                WHEN {_sql_hb('user_id')} < 50 THEN 'B'
                WHEN {_sql_hb('user_id')} < 75 THEN 'C'
                ELSE 'D' END AS arm,
           CAST(SUM({sql_qround('value', 2)}) AS BIGINT)
               AS y
    FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
vals AS (
    SELECT y,
           COUNT(*) FILTER (WHERE arm = 'A') AS c_a,
           COUNT(*) FILTER (WHERE arm = 'B') AS c_b,
           COUNT(*) FILTER (WHERE arm = 'C') AS c_c,
           COUNT(*) FILTER (WHERE arm = 'D') AS c_d,
           COUNT(*) AS c
    FROM per_user WHERE y IS NOT NULL GROUP BY 1
),
cum AS (
    SELECT y, c_a, c_b, c_c, c_d, c,
           CAST(SUM(c) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) - c
                AS BIGINT) AS below
    FROM vals
),
agg AS (
    SELECT CAST(SUM(c_a) AS BIGINT) AS na,
           CAST(SUM(c_b) AS BIGINT) AS nb,
           CAST(SUM(c_c) AS BIGINT) AS nc,
           CAST(SUM(c_d) AS BIGINT) AS nd,
           SUM(CAST(c_a AS HUGEINT) * (2 * below + c + 1)) AS r2a,
           SUM(CAST(c_b AS HUGEINT) * (2 * below + c + 1)) AS r2b,
           SUM(CAST(c_c AS HUGEINT) * (2 * below + c + 1)) AS r2c,
           SUM(CAST(c_d AS HUGEINT) * (2 * below + c + 1)) AS r2d,
           SUM(CAST(c AS HUGEINT) * c * c - c) AS tie
    FROM cum
),
h AS (
    SELECT na, nb, nc, nd,
           CAST(na + nb + nc + nd AS DOUBLE) AS n,
           CAST(r2a AS DOUBLE) / 2.0 AS ra,
           CAST(r2b AS DOUBLE) / 2.0 AS rb,
           CAST(r2c AS DOUBLE) / 2.0 AS rc,
           CAST(r2d AS DOUBLE) / 2.0 AS rd,
           CAST(tie AS DOUBLE) AS tie_d
    FROM agg
),
h2 AS (
    SELECT na, nb, nc, nd, n, tie_d,
           12.0 / (n * (n + 1.0))
             * (ra * ra / na + rb * rb / nb
                + rc * rc / nc + rd * rd / nd)
             - 3.0 * (n + 1.0) AS h_raw,
           CASE WHEN n > 1
                THEN 1.0 - tie_d / (n * n * n - n) END AS tie_c
    FROM h
)
SELECT na AS n_a, nb AS n_b, nc AS n_c, nd AS n_d,
       {sql_dround('h_raw', 6)} AS h_stat,
       {sql_dround('h_raw / (CASE WHEN tie_c > 0 THEN tie_c END)', 6)}
           AS h_corrected,
       {sql_dround('''(h_raw - 3.0)
        / (CASE WHEN n > 4 THEN n - 4.0 END)''', 6)} AS epsilon_sq
FROM h2
""",
)
def kruskal_wallis_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Kruskal-Wallis H across the four sha256 arms."""
    from pyspark.sql.window import Window

    from .training import hash_bucket

    events = load_tables(spark, sf_dir, "events")["events"]
    hb = hash_bucket("user_id")
    per_user = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(qround(F.col("value"), 2))
            .cast("bigint")
            .alias("y")
        )
        .select(
            F.when(hb < 25, "A")
            .when(hb < 50, "B")
            .when(hb < 75, "C")
            .otherwise("D")
            .alias("arm"),
            "y",
        )
        .filter(F.col("y").isNotNull())
    )
    vals = per_user.groupBy("y").agg(
        *[
            F.count_if(F.col("arm") == a).alias(f"c_{a.lower()}")
            for a in "ABCD"
        ],
        F.count("*").alias("c"),
    )
    wb = (
        Window.partitionBy("bucket")
        .orderBy("y")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    in_bucket = vals.withColumn("bucket", F.expr("y DIV 65536")).withColumn(
        "below_local", F.sum("c").over(wb) - F.col("c")
    )
    totals = in_bucket.groupBy("bucket").agg(F.sum("c").alias("b_total"))
    wo = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "bucket",
        F.coalesce(F.sum("b_total").over(wo), F.lit(0)).alias("offset"),
    )
    cum = in_bucket.join(F.broadcast(offsets), "bucket").select(
        "y",
        "c_a",
        "c_b",
        "c_c",
        "c_d",
        "c",
        (F.col("offset") + F.col("below_local")).cast("bigint").alias("below"),
    )
    mid2 = 2 * F.col("below") + F.col("c") + 1
    agg = cum.agg(
        *[
            F.sum(f"c_{a}").cast("bigint").alias(f"n{a}")
            for a in "abcd"
        ],
        *[
            F.sum(F.col(f"c_{a}").cast("decimal(38,0)") * mid2).alias(
                f"r2{a}"
            )
            for a in "abcd"
        ],
        F.sum(
            F.col("c").cast("decimal(38,0)") * F.col("c") * F.col("c")
            - F.col("c")
        ).alias("tie"),
    )
    h = agg.select(
        "na",
        "nb",
        "nc",
        "nd",
        (F.col("na") + F.col("nb") + F.col("nc") + F.col("nd"))
        .cast("double")
        .alias("n"),
        *[
            (F.col(f"r2{a}").cast("double") / 2.0).alias(f"r{a}")
            for a in "abcd"
        ],
        F.col("tie").cast("double").alias("tie_d"),
    )
    n = F.col("n")
    h_raw = (
        12.0
        / (n * (n + 1.0))
        * (
            F.col("ra") * F.col("ra") / F.col("na")
            + F.col("rb") * F.col("rb") / F.col("nb")
            + F.col("rc") * F.col("rc") / F.col("nc")
            + F.col("rd") * F.col("rd") / F.col("nd")
        )
        - 3.0 * (n + 1.0)
    )
    h2 = h.select(
        "na",
        "nb",
        "nc",
        "nd",
        "n",
        "tie_d",
        h_raw.alias("h_raw"),
        F.when(
            n > 1, 1.0 - F.col("tie_d") / (n * n * n - n)
        ).alias("tie_c"),
    )
    return h2.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.col("nc").alias("n_c"),
        F.col("nd").alias("n_d"),
        dround(F.col("h_raw"), 6).alias("h_stat"),
        dround(
            F.col("h_raw") / F.when(F.col("tie_c") > 0, F.col("tie_c")), 6
        ).alias("h_corrected"),
        dround(
            (F.col("h_raw") - 3.0)
            / F.when(F.col("n") > 4, F.col("n") - 4.0),
            6,
        ).alias("epsilon_sq"),
    )


# --------------------------------------------------------------------------
# Bayesian A/B: EXACT posterior P(p_B > p_A) under Beta(1,1) priors via
# the closed-form finite sum (Evan Miller, "Formulas for Bayesian A/B
# Testing"): P = sum_{i=0}^{a_B-1} B(a_A+i, b_A+b_B) /
# ((b_B+i) B(1+i, b_B) B(a_A, b_A)). The frequentist twins
# (welch_ttest_arms, conversion_rate_wilson_ci) answer "is the
# difference significant"; this answers the decision question "what is
# the probability B is better". All arguments are small integers, so
# every log-gamma is a ln-factorial prefix sum — quantized to ×1e12
# BIGINTs (exact, order-independent), and each exp() term re-quantized
# before the final integer sum: both engines produce the bit-identical
# posterior.
# --------------------------------------------------------------------------


@query(
    "bayes_beta_binomial_ab",
    oracle=f"""
WITH per_user AS (
    SELECT user_id,
           CASE WHEN {_sql_hb('user_id')} < 50 THEN 'A' ELSE 'B' END AS arm,
           MAX(CASE WHEN event_type = 'purchase' AND value >= 150
                    THEN 1 ELSE 0 END) AS conv
    FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
st AS (
    SELECT
        COUNT(*) FILTER (WHERE arm = 'A') AS n_a,
        COUNT(*) FILTER (WHERE arm = 'A' AND conv = 1) AS s_a,
        COUNT(*) FILTER (WHERE arm = 'B') AS n_b,
        COUNT(*) FILTER (WHERE arm = 'B' AND conv = 1) AS s_b
    FROM per_user
),
pr AS (
    SELECT n_a, s_a, n_b, s_b,
           s_a + 1 AS aa, n_a - s_a + 1 AS ba,
           s_b + 1 AS ab, n_b - s_b + 1 AS bb
    FROM st
),
lnf0 AS (
    SELECT unnest(range(1, (SELECT n_a + n_b + 4 FROM pr))) AS j
),
lnf1 AS (
    SELECT j, {sql_qround('ln(CAST(j AS DOUBLE))', 12)} AS lq
    FROM lnf0
),
lnf AS (
    SELECT 0 AS n, CAST(0 AS BIGINT) AS f
    UNION ALL
    SELECT j AS n,
           CAST(SUM(lq) OVER (ORDER BY j ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS f
    FROM lnf1
),
terms AS (
    SELECT p.*, t.i FROM pr p
    CROSS JOIN (SELECT unnest(range(0, (SELECT ab FROM pr))) AS i) t
),
tq AS (
    SELECT t.i,
           (l1.f + l2.f - l3.f)
           - {sql_qround('ln(CAST(t.bb + t.i AS DOUBLE))', 12)}
           - (l4.f + l5.f - l6.f)
           - (l7.f + l8.f - l9.f) AS ltq
    FROM terms t
    JOIN lnf l1 ON l1.n = t.aa + t.i - 1
    JOIN lnf l2 ON l2.n = t.ba + t.bb - 1
    JOIN lnf l3 ON l3.n = t.aa + t.i + t.ba + t.bb - 1
    JOIN lnf l4 ON l4.n = t.i
    JOIN lnf l5 ON l5.n = t.bb - 1
    JOIN lnf l6 ON l6.n = t.i + t.bb
    JOIN lnf l7 ON l7.n = t.aa - 1
    JOIN lnf l8 ON l8.n = t.ba - 1
    JOIN lnf l9 ON l9.n = t.aa + t.ba - 1
),
p AS (
    SELECT CAST(SUM({sql_qround('exp(ltq / 1000000000000.0)', 12)}) AS BIGINT) AS pq
    FROM tq
)
SELECT CAST(pr.n_a AS BIGINT) AS n_a,
       CAST(pr.s_a AS BIGINT) AS conversions_a,
       CAST(pr.n_b AS BIGINT) AS n_b,
       CAST(pr.s_b AS BIGINT) AS conversions_b,
       {sql_dround('pr.aa * 1.0 / (pr.aa + pr.ba)', 6)} AS post_mean_a,
       {sql_dround('pr.ab * 1.0 / (pr.ab + pr.bb)', 6)} AS post_mean_b,
       {sql_dround('pr.ab * 1.0 / (pr.ab + pr.bb) - pr.aa * 1.0 / (pr.aa + pr.ba)', 6)}
           AS expected_uplift,
       {sql_dround('p.pq / 1000000000000.0', 6)} AS p_b_beats_a
FROM pr CROSS JOIN p
""",
)
def bayes_beta_binomial_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Beta-Binomial posterior P(B beats A) for user conversion.

    Scale: the only data-sized stage is the per-user conversion rollup
    (one map-side-combinable GROUP BY); everything downstream operates
    on the 1-row count summary, a ≤(n_a+n_b)-row ln-factorial spine
    (exploded from the summary itself — no driver round trip), and an
    (s_b+1)-row term table with nine broadcast lookups into the spine.
    The posterior is exact — no Monte Carlo — and integer-quantized at
    every float boundary. Reference analog: none (experimentation
    family beside welch_ttest_arms / conversion_rate_wilson_ci).
    """
    from .training import hash_bucket

    events = load_tables(spark, sf_dir, "events")["events"]
    per_user = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") >= 150),
                    1,
                ).otherwise(0)
            ).alias("conv")
        )
        .select(
            F.when(hash_bucket("user_id") < 50, "A").otherwise("B").alias(
                "arm"
            ),
            "conv",
        )
    )
    st = per_user.agg(
        F.count_if(F.col("arm") == "A").alias("n_a"),
        F.count_if((F.col("arm") == "A") & (F.col("conv") == 1)).alias("s_a"),
        F.count_if(F.col("arm") == "B").alias("n_b"),
        F.count_if((F.col("arm") == "B") & (F.col("conv") == 1)).alias("s_b"),
    )
    pr = st.select(
        "*",
        (F.col("s_a") + 1).alias("aa"),
        (F.col("n_a") - F.col("s_a") + 1).alias("ba"),
        (F.col("s_b") + 1).alias("ab"),
        (F.col("n_b") - F.col("s_b") + 1).alias("bb"),
    ).localCheckpoint(eager=True)
    lnf1 = pr.select(
        F.explode(
            F.sequence(F.lit(1), F.col("n_a") + F.col("n_b") + 3)
        ).alias("j")
    ).select(
        "j",
        qround(F.log(F.col("j").cast("double")), 12).alias("lq"),
    )
    from pyspark.sql.window import Window as _W

    w = _W.orderBy("j").rowsBetween(_W.unboundedPreceding, _W.currentRow)
    lnf = (
        lnf1.select(
            F.col("j").alias("n"),
            F.sum("lq").over(w).cast("bigint").alias("f"),
        )
        .union(spark.range(1).select(F.lit(0).alias("n"), F.lit(0).cast("bigint").alias("f")))
        .localCheckpoint(eager=True)
    )
    terms = pr.select(
        "*", F.explode(F.sequence(F.lit(0), F.col("ab") - 1)).alias("i")
    )

    def lk(tag: str, key):
        return F.broadcast(
            lnf.select(F.col("n").alias(f"n_{tag}"), F.col("f").alias(f"f_{tag}"))
        ), key

    j = terms
    for tag, key in [
        ("1", F.col("aa") + F.col("i") - 1),
        ("2", F.col("ba") + F.col("bb") - 1),
        ("3", F.col("aa") + F.col("i") + F.col("ba") + F.col("bb") - 1),
        ("4", F.col("i")),
        ("5", F.col("bb") - 1),
        ("6", F.col("i") + F.col("bb")),
        ("7", F.col("aa") - 1),
        ("8", F.col("ba") - 1),
        ("9", F.col("aa") + F.col("ba") - 1),
    ]:
        tbl, k = lk(tag, key)
        j = j.join(tbl, k == F.col(f"n_{tag}"))
    ltq = (
        (F.col("f_1") + F.col("f_2") - F.col("f_3"))
        - qround(F.log((F.col("bb") + F.col("i")).cast("double")), 12)
        - (F.col("f_4") + F.col("f_5") - F.col("f_6"))
        - (F.col("f_7") + F.col("f_8") - F.col("f_9"))
    )
    p = j.select(ltq.alias("ltq")).agg(
        F.sum(
            qround(F.exp(F.col("ltq") / 1000000000000.0), 12)
        )
        .cast("bigint")
        .alias("pq")
    )
    return pr.crossJoin(p).select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("s_a").cast("bigint").alias("conversions_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("s_b").cast("bigint").alias("conversions_b"),
        dround(F.col("aa") * 1.0 / (F.col("aa") + F.col("ba")), 6).alias(
            "post_mean_a"
        ),
        dround(F.col("ab") * 1.0 / (F.col("ab") + F.col("bb")), 6).alias(
            "post_mean_b"
        ),
        dround(
            F.col("ab") * 1.0 / (F.col("ab") + F.col("bb"))
            - F.col("aa") * 1.0 / (F.col("aa") + F.col("ba")),
            6,
        ).alias("expected_uplift"),
        dround(F.col("pq") / 1000000000000.0, 6).alias("p_b_beats_a"),
    )


# --------------------------------------------------------------------------
# Fisher re-randomization test — design-based inference: the original
# arms ARE hash-Bernoulli assignments (hash_bucket < 50), so the exact
# null distribution of the mean difference comes from re-running the
# SAME assignment mechanism B times with hash(user, b) coins. No
# distributional assumptions (the Welch/Mann-Whitney siblings need
# them); the p-value is (1 + #extreme) / (B + 1) (Phipson & Smyth
# 2010 add-one). Every statistic is a ratio of exact cents integers —
# bit-identical doubles on both engines, so the |stat_b| >= |obs|
# indicator never flips.
# --------------------------------------------------------------------------

_PERM_B = 200


@query(
    "rerandomization_test_arms",
    oracle=f"""
WITH per_user AS (
    SELECT user_id,
           CASE WHEN {_sql_hb('user_id')} < 50 THEN 0 ELSE 1 END AS arm,
           CAST(SUM({sql_qround('COALESCE(value, 0)', 2)})
                AS BIGINT) AS y
    FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
obs AS (
    SELECT
        COUNT(*) AS n_users,
        COUNT(*) FILTER (WHERE arm = 0) AS n_a,
        COUNT(*) FILTER (WHERE arm = 1) AS n_b,
        CAST(SUM(CASE WHEN arm = 0 THEN y END) AS DOUBLE)
            / (CASE WHEN COUNT(*) FILTER (WHERE arm = 0) > 0
                    THEN COUNT(*) FILTER (WHERE arm = 0) END)
        - CAST(SUM(CASE WHEN arm = 1 THEN y END) AS DOUBLE)
            / (CASE WHEN COUNT(*) FILTER (WHERE arm = 1) > 0
                    THEN COUNT(*) FILTER (WHERE arm = 1) END) AS d_obs
    FROM per_user
),
perms AS (
    SELECT u.user_id, u.y, b.b,
           CAST(concat('0x', substring(sha256(
               CAST(u.user_id AS VARCHAR) || ':' || CAST(b.b AS VARCHAR)
           ), 1, 8)) AS BIGINT) % 2 AS arm
    FROM per_user u
    CROSS JOIN (SELECT unnest(range(1, {_PERM_B + 1})) AS b) b
),
pstat AS (
    SELECT b,
           CAST(SUM(CASE WHEN arm = 0 THEN y END) AS DOUBLE)
               / (CASE WHEN COUNT(*) FILTER (WHERE arm = 0) > 0
                       THEN COUNT(*) FILTER (WHERE arm = 0) END)
           - CAST(SUM(CASE WHEN arm = 1 THEN y END) AS DOUBLE)
               / (CASE WHEN COUNT(*) FILTER (WHERE arm = 1) > 0
                       THEN COUNT(*) FILTER (WHERE arm = 1) END) AS d
    FROM perms GROUP BY 1
),
ext AS (
    SELECT COUNT(*) FILTER (
        WHERE ABS(d) >= (SELECT ABS(d_obs) FROM obs)
    ) AS n_extreme
    FROM pstat
)
SELECT CAST(o.n_users AS BIGINT) AS n_users,
       CAST(o.n_a AS BIGINT) AS n_a,
       CAST(o.n_b AS BIGINT) AS n_b,
       {sql_dround('o.d_obs / 100.0', 4)} AS obs_diff,
       CAST(e.n_extreme AS BIGINT) AS n_extreme,
       {sql_dround(f'(1 + e.n_extreme) * 1.0 / {_PERM_B + 1}', 6)} AS p_value
FROM obs o CROSS JOIN ext e
""",
)
def rerandomization_test_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-randomization (Fisher) p-value for the A/B mean difference.

    Scale: one per-user rollup is the data-sized stage; the B=200
    re-randomizations explode the |users|-row summary (users × B rows,
    map-generated — at 1e9 users you'd flip signs on per-partition
    PARTIAL sums instead, same math, 200×P rows). Coins are
    hash(user, b) — reproducible on any cluster layout.
    """
    from .training import hash_bucket

    events = load_tables(spark, sf_dir, "events")["events"]
    per_user = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(
                qround(F.coalesce(F.col("value"), F.lit(0.0)), 2)
            )
            .cast("bigint")
            .alias("y")
        )
        .select(
            "user_id",
            F.when(hash_bucket("user_id") < 50, 0).otherwise(1).alias("arm"),
            "y",
        )
        .localCheckpoint(eager=True)
    )

    def diff_col():
        na = F.count_if(F.col("arm") == 0)
        nb = F.count_if(F.col("arm") == 1)
        sa = F.sum(F.when(F.col("arm") == 0, F.col("y"))).cast("double")
        sb = F.sum(F.when(F.col("arm") == 1, F.col("y"))).cast("double")
        return sa / F.when(na > 0, na) - sb / F.when(nb > 0, nb)

    obs = per_user.agg(
        F.count("*").alias("n_users"),
        F.count_if(F.col("arm") == 0).alias("n_a"),
        F.count_if(F.col("arm") == 1).alias("n_b"),
        diff_col().alias("d_obs"),
    )
    bspine = spark.range(1, _PERM_B + 1).select(F.col("id").alias("b"))
    coin = (
        F.conv(
            F.substring(
                F.sha2(
                    F.concat(
                        F.col("user_id").cast("string"),
                        F.lit(":"),
                        F.col("b").cast("string"),
                    ),
                    256,
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    )
    perms = per_user.crossJoin(F.broadcast(bspine)).select(
        "y", "b", coin.alias("arm")
    )
    pstat = perms.groupBy("b").agg(diff_col().alias("d"))
    ext = pstat.crossJoin(F.broadcast(obs.select("d_obs"))).agg(
        F.count_if(F.abs(F.col("d")) >= F.abs(F.col("d_obs"))).alias(
            "n_extreme"
        )
    )
    return obs.crossJoin(ext).select(
        F.col("n_users").cast("bigint").alias("n_users"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        dround(F.col("d_obs") / 100.0, 4).alias("obs_diff"),
        F.col("n_extreme").cast("bigint").alias("n_extreme"),
        dround((1 + F.col("n_extreme")) * 1.0 / (_PERM_B + 1), 6).alias(
            "p_value"
        ),
    )


# --------------------------------------------------------------------------
# Group-sequential monitoring with O'Brien-Fleming-shaped boundaries —
# the industry-standard "peek 5 times without inflating alpha"
# procedure beside the fully-sequential SPRT (sprt_sequential_test).
# Five interim looks over the observation window; at look k of K the
# two-proportion z is compared to the OBF-shaped boundary
# c·sqrt(K/k) (early looks need overwhelming evidence, the final
# look spends ~nominal alpha). The boundary constant is pinned
# (c = 2.04, the K=5 / two-sided-5% OBF shape constant) — a
# monitoring-policy literal, not an engine-computed quantile.
# --------------------------------------------------------------------------

_GSEQ_LOOKS = 5
_GSEQ_C = 2.04


@query(
    "group_sequential_obf_looks",
    oracle=f"""
WITH bounds AS (
    -- the experiment population's window (user AND ts non-null) —
    -- the Spark side computes bounds after the same filter; an
    -- anonymous dated event extending the window would desync cutoffs
    SELECT MIN(CAST(ts AS DATE)) AS dmin, MAX(CAST(ts AS DATE)) AS dmax
    FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
looks AS (
    SELECT k.k,
           (SELECT dmin FROM bounds)
           + CAST(FLOOR(((SELECT dmax FROM bounds) - (SELECT dmin FROM bounds)
                          + 1) * k.k / {_GSEQ_LOOKS}.0) AS INTEGER) - 1
               AS cutoff
    FROM (SELECT unnest(range(1, {_GSEQ_LOOKS + 1})) AS k) k
),
per_user AS (
    SELECT user_id, CAST(ts AS DATE) AS d,
           CASE WHEN {_sql_hb('user_id')} < 50 THEN 'A' ELSE 'B' END AS arm,
           CASE WHEN event_type = 'purchase' AND value >= 150
                THEN 1 ELSE 0 END AS conv
    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
cum AS (
    SELECT l.k, l.cutoff, u.arm, u.user_id,
           MAX(u.conv) AS conv
    FROM looks l
    JOIN per_user u ON u.d <= l.cutoff
    GROUP BY 1, 2, 3, 4
),
stats AS (
    SELECT k, cutoff,
           COUNT(*) FILTER (WHERE arm = 'A') AS na,
           COUNT(*) FILTER (WHERE arm = 'B') AS nb,
           COUNT(*) FILTER (WHERE arm = 'A' AND conv = 1) AS sa,
           COUNT(*) FILTER (WHERE arm = 'B' AND conv = 1) AS sb
    FROM cum GROUP BY 1, 2
),
z AS (
    SELECT k, cutoff, na, nb, sa, sb,
           (sa * 1.0 / na - sb * 1.0 / nb)
           / sqrt(((sa + sb) * 1.0 / (na + nb))
                  * (1.0 - (sa + sb) * 1.0 / (na + nb))
                  * (1.0 / na + 1.0 / nb)) AS zval
    FROM stats WHERE na > 0 AND nb > 0 AND sa + sb > 0
               AND sa + sb < na + nb
)
SELECT CAST(k AS BIGINT) AS look,
       cutoff AS look_date,
       CAST(na + nb AS BIGINT) AS n_users,
       CAST(sa + sb AS BIGINT) AS n_conversions,
       {sql_dround('zval', 6)} AS z,
       {sql_dround(f'{_GSEQ_C} * sqrt({_GSEQ_LOOKS}.0 / k)', 6)} AS obf_boundary,
       ABS(zval) > {_GSEQ_C} * sqrt({_GSEQ_LOOKS}.0 / k) AS crossed
FROM z
""",
)
def group_sequential_obf_looks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five OBF-bounded interim looks at the A/B conversion difference.

    Scale: each look's stats come from ONE pass — the user-grain
    conversion rollup joins a 5-row look spine (users × looks is a
    broadcast fan-out, map-side combinable down to 4 cells per look).
    Every z is a ratio of exact counts; boundaries are policy
    literals. A/A by construction (hash arms of one population) — no
    look should cross, which the hashed `crossed` column proves.
    """
    from .training import hash_bucket

    events = load_tables(spark, sf_dir, "events")["events"]
    ev = events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("dmin"),
        F.max(F.col("ts").cast("date")).alias("dmax"),
    )
    looks = (
        spark.range(1, _GSEQ_LOOKS + 1)
        .select(F.col("id").cast("int").alias("k"))
        .crossJoin(F.broadcast(bounds))
        .select(
            "k",
            F.expr(
                f"date_add(dmin, CAST(FLOOR((datediff(dmax, dmin) + 1)"
                f" * k / {_GSEQ_LOOKS}.0) AS INT) - 1)"
            ).alias("cutoff"),
        )
    )
    per_user = ev.select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        F.when(hash_bucket("user_id") < 50, "A").otherwise("B").alias("arm"),
        F.when(
            (F.col("event_type") == "purchase") & (F.col("value") >= 150), 1
        )
        .otherwise(0)
        .alias("conv"),
    )
    cum = (
        per_user.crossJoin(F.broadcast(looks))
        .filter(F.col("d") <= F.col("cutoff"))
        .groupBy("k", "cutoff", "arm", "user_id")
        .agg(F.max("conv").alias("conv"))
    )
    stats = cum.groupBy("k", "cutoff").agg(
        F.count_if(F.col("arm") == "A").alias("na"),
        F.count_if(F.col("arm") == "B").alias("nb"),
        F.count_if((F.col("arm") == "A") & (F.col("conv") == 1)).alias("sa"),
        F.count_if((F.col("arm") == "B") & (F.col("conv") == 1)).alias("sb"),
    )
    p = (F.col("sa") + F.col("sb")) * 1.0 / (F.col("na") + F.col("nb"))
    zval = (F.col("sa") * 1.0 / F.col("na") - F.col("sb") * 1.0 / F.col("nb")) / F.sqrt(
        p * (1.0 - p) * (1.0 / F.col("na") + 1.0 / F.col("nb"))
    )
    bnd = F.lit(_GSEQ_C) * F.sqrt(F.lit(float(_GSEQ_LOOKS)) / F.col("k"))
    return (
        stats.filter(
            (F.col("na") > 0)
            & (F.col("nb") > 0)
            & (F.col("sa") + F.col("sb") > 0)
            & (F.col("sa") + F.col("sb") < F.col("na") + F.col("nb"))
        )
        .select(
            F.col("k").cast("bigint").alias("look"),
            F.col("cutoff").alias("look_date"),
            (F.col("na") + F.col("nb")).cast("bigint").alias("n_users"),
            (F.col("sa") + F.col("sb")).cast("bigint").alias("n_conversions"),
            dround(zval, 6).alias("z"),
            dround(bnd, 6).alias("obf_boundary"),
            (F.abs(zval) > bnd).alias("crossed"),
        )
    )


# --------------------------------------------------------------------------
# Delta-method CI for a RATIO metric (revenue per event) — the
# experimentation family's missing piece: welch_ttest handles per-user
# MEANS, but production north-stars are ratios of sums (revenue/
# events, clicks/views), where a naive user-level t-test is simply
# wrong (users contribute unequal denominators). The delta method
# linearizes R = ΣX/ΣY around (x̄, ȳ): Var(R) ≈ (s_xx − 2R·s_xy +
# R²·s_yy) / (n·ȳ²). All moments are exact cents/count integers.
# --------------------------------------------------------------------------

_DELTA_Z = 1.959963984540054  # N(0,1) 97.5% quantile, policy literal


def _delta_arm_sql(tag: str, arm: str) -> str:
    return f"""
d_{tag} AS (
    -- x promoted to HUGEINT BEFORE the product: x is a per-user cents
    -- sum (~1e14 under the adversarial-values sweep) and an INT64
    -- x*x overflows before the outer CAST ever sees it
    SELECT COUNT(*) AS n,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           SUM(CAST(x AS HUGEINT) * x) AS sxx,
           CAST(SUM(CAST(y AS BIGINT) * y) AS BIGINT) AS syy,
           SUM(CAST(x AS HUGEINT) * y) AS sxy
    FROM d_users WHERE arm = '{arm}'
),
v_{tag} AS (
    SELECT n, sx, sy,
           CAST(sx AS DOUBLE) / sy AS r,
           ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1)
            - 2 * (CAST(sx AS DOUBLE) / sy)
              * ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) / (n - 1))
            + (CAST(sx AS DOUBLE) / sy) * (CAST(sx AS DOUBLE) / sy)
              * ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / (n - 1)))
           / (n * (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)) AS vr
    FROM d_{tag}
)"""


@query(
    "ratio_metric_delta_ci",
    oracle=f"""
WITH d_users AS (
    SELECT user_id,
           CASE WHEN {_sql_hb('user_id')} < 50 THEN 'A' ELSE 'B' END AS arm,
           CAST(SUM({sql_qround('COALESCE(value, 0)', 2)})
                AS BIGINT) AS x,
           COUNT(*) AS y
    FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
{_delta_arm_sql('a', 'A').lstrip()},
{_delta_arm_sql('b', 'B').lstrip()}
SELECT CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
       -- sql_dround grids (r14): the bare FLOOR grids saturated
       -- Spark's FLOOR(double)->LONG at 2^63 under the planted-4e15
       -- per-user cents (r ~ 1e16 -> grid 1e20); the guarded round is
       -- identical below 2^53 and lockstep above.
       {sql_dround('(a.r / 100.0)', 6)} AS ratio_a,
       {sql_dround('(b.r / 100.0)', 6)} AS ratio_b,
       {sql_dround('((b.r - a.r) / 100.0)', 6)} AS diff,
       {sql_dround('(sqrt(a.vr + b.vr) / 100.0)', 6)} AS se_diff,
       {sql_dround('(((b.r - a.r) - ' + repr(_DELTA_Z) + ' * sqrt(a.vr + b.vr)) / 100.0)', 6)} AS ci_lo,
       {sql_dround('(((b.r - a.r) + ' + repr(_DELTA_Z) + ' * sqrt(a.vr + b.vr)) / 100.0)', 6)} AS ci_hi,
       {sql_dround('((b.r - a.r) / sqrt(a.vr + b.vr))', 6)} AS z
FROM v_a a CROSS JOIN v_b b
""",
)
def ratio_metric_delta_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method CI for the revenue-per-event ratio, arm B vs A.

    Scale: one user-grain rollup, then two 1-row moment aggregates —
    the whole inference runs on 12 exact integers. This is the
    estimator a naive per-user t-test silently gets wrong (ratio
    metrics weight users by their denominators); linearization
    variance is the standard fix (also the basis of CUPED-on-ratios).
    """
    from .training import hash_bucket

    events = load_tables(spark, sf_dir, "events")["events"]
    d_users = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(
                qround(F.coalesce(F.col("value"), F.lit(0.0)), 2)
            )
            .cast("bigint")
            .alias("x"),
            F.count("*").alias("y"),
        )
        .select(
            F.when(hash_bucket("user_id") < 50, "A").otherwise("B").alias(
                "arm"
            ),
            "x",
            "y",
        )
    )

    def arm(tag: str) -> DataFrame:
        d = d_users.filter(F.col("arm") == tag).agg(
            F.count("*").alias("n"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
            F.sum(F.col("y").cast("bigint") * F.col("y"))
            .cast("bigint")
            .alias("syy"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        )
        r = F.col("sx").cast("double") / F.col("sy")
        sxx = (
            F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx") / F.col("n")
        ) / (F.col("n") - 1)
        sxy = (
            F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy") / F.col("n")
        ) / (F.col("n") - 1)
        syy = (
            F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy") / F.col("n")
        ) / (F.col("n") - 1)
        ybar = F.col("sy").cast("double") / F.col("n")
        vr = (sxx - 2 * r * sxy + r * r * syy) / (F.col("n") * ybar * ybar)
        return d.select(
            F.col("n").alias(f"n_{tag.lower()}"),
            r.alias(f"r_{tag.lower()}"),
            vr.alias(f"vr_{tag.lower()}"),
        )

    out = arm("A").crossJoin(arm("B"))
    diff = F.col("r_b") - F.col("r_a")
    se = F.sqrt(F.col("vr_a") + F.col("vr_b"))

    # dround (r14): guarded twin of the oracle's sql_dround grids —
    # the bare floor grid saturated at the planted-4e15 point
    fp6 = lambda c: dround(c, 6)  # noqa: E731

    return out.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        fp6(F.col("r_a") / 100.0).alias("ratio_a"),
        fp6(F.col("r_b") / 100.0).alias("ratio_b"),
        fp6(diff / 100.0).alias("diff"),
        fp6(se / 100.0).alias("se_diff"),
        fp6((diff - F.lit(_DELTA_Z) * se) / 100.0).alias("ci_lo"),
        fp6((diff + F.lit(_DELTA_Z) * se) / 100.0).alias("ci_hi"),
        fp6(diff / se).alias("z"),
    )
