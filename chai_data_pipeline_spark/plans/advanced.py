"""Advanced / beyond-reference operators: as-of join, range-predicate
join, pivot/unpivot, cube & grouping sets, navigation windows, running
totals, exact-formula variance, approximate distinct.

These close the gap between the reference's operator surface and what a
production Spark analytics engine is expected to ship. Each is oracle-
checked except approx_count_distinct (estimator internals differ across
engines by design).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import dround, dsum, qround, sql_dround, sql_dsum, sql_qround
from ..operators.asof import asof_join
from ..session import load_tables
from . import windows as _windows  # noqa: F401  (registers the shared
#   trend_classification oracle; keeps this module import-order-independent)
from .registry import ORACLES, query

# --------------------------------------------------------------------------
# As-of join: each event gets the user's most recent signup event at or
# before its timestamp. Oracle: DuckDB's native ASOF LEFT JOIN; ours is
# the union+window carry-forward (operators/asof.py).
# --------------------------------------------------------------------------


@query(
    "asof_join_last_signup",
    oracle=f"""
WITH s AS (
    SELECT user_id, ts, event_id, value,
           ROW_NUMBER() OVER (
               PARTITION BY user_id, ts ORDER BY event_id DESC
           ) AS rn
    FROM events WHERE event_type = 'signup'
), sd AS (
    SELECT user_id, ts, event_id AS last_signup_event,
           value AS signup_value
    FROM s WHERE rn = 1
)
SELECT e.event_id, e.user_id, sd.last_signup_event,
       {sql_dround('sd.signup_value', 4)} AS signup_value
FROM events e ASOF LEFT JOIN sd
  ON e.user_id = sd.user_id AND e.ts >= sd.ts
""",
)
def asof_join_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    signups = events.filter(F.col("event_type") == "signup").select(
        "user_id",
        "ts",
        F.col("event_id").alias("last_signup_event"),
        F.col("value").alias("signup_value"),
    )
    joined = asof_join(
        events.select("event_id", "user_id", "ts"),
        signups,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["last_signup_event", "signup_value"],
        tiebreak="last_signup_event",
    )
    return joined.select(
        "event_id",
        "user_id",
        "last_signup_event",
        dround("signup_value", 4).alias("signup_value"),
    )


# --------------------------------------------------------------------------
# Equi + range-predicate join (hash join + residual range filter)
# --------------------------------------------------------------------------


@query(
    "range_predicate_join",
    oracle=f"""
SELECT p_brand, COUNT(*) AS n_items,
       {sql_dround(sql_dsum('l_extendedprice', 2), 2)} AS revenue
FROM lineitem JOIN part
  ON l_partkey = p_partkey
 AND l_extendedprice / l_quantity BETWEEN p_retailprice * 0.5
                                      AND p_retailprice * 1.5
GROUP BY p_brand
""",
)
def range_predicate_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "part")
    unit = F.col("l_extendedprice") / F.col("l_quantity")
    return (
        t["lineitem"]
        .join(
            F.broadcast(t["part"]),
            (F.col("l_partkey") == F.col("p_partkey"))
            & (unit >= F.col("p_retailprice") * 0.5)
            & (unit <= F.col("p_retailprice") * 1.5),
        )
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            dround(dsum("l_extendedprice", 2), 2).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# Pivot (wide conditional aggregation) and unpivot (stack)
# --------------------------------------------------------------------------


@query(
    "pivot_status_counts",
    oracle="""
SELECT l_returnflag,
       COUNT(*) FILTER (WHERE l_linestatus = 'O') AS o_count,
       COUNT(*) FILTER (WHERE l_linestatus = 'F') AS f_count
FROM lineitem GROUP BY l_returnflag
""",
)
def pivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    pivoted = (
        li.groupBy("l_returnflag").pivot("l_linestatus", ["O", "F"]).count()
    )
    return pivoted.select(
        "l_returnflag",
        F.coalesce("O", F.lit(0)).alias("o_count"),
        F.coalesce("F", F.lit(0)).alias("f_count"),
    )


@query(
    "unpivot_measures",
    oracle=f"""
SELECT l_orderkey, l_linenumber, measure,
       {sql_dround('value', 4)} AS value
FROM (
    SELECT l_orderkey, l_linenumber,
           l_quantity AS quantity, l_discount AS discount
    FROM lineitem
) UNPIVOT (value FOR measure IN (quantity, discount))
""",
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # SQL-standard UNPIVOT (and DuckDB's) EXCLUDES NULL cells; Spark's
    # stack() keeps them — filter to match the standard semantics.
    return li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(2, 'quantity', l_quantity, 'discount', l_discount)"
        " AS (measure, value)",
    ).filter(F.col("value").isNotNull()).select(
        "l_orderkey",
        "l_linenumber",
        "measure",
        dround("value", 4).alias("value"),
    )


# --------------------------------------------------------------------------
# CUBE and GROUPING SETS (multi-dimensional totals in one pass)
# --------------------------------------------------------------------------


@query(
    "cube_revenue",
    oracle=f"""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       {sql_dround(sql_dsum('l_extendedprice', 2), 2)} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
""",
)
def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            dround(dsum("l_extendedprice", 2), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n_items",
        )
    )


@query(
    "grouping_sets_priority",
    oracle="""
SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
       COALESCE(o_orderstatus, 'ALL') AS status,
       COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
""",
)
def grouping_sets_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
               COALESCE(o_orderstatus, 'ALL') AS status,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


# --------------------------------------------------------------------------
# Running totals (exact decimal frame sums) + navigation windows
# --------------------------------------------------------------------------


@query(
    "running_totals",
    oracle=f"""
SELECT user_id, event_id,
       {sql_dround('''CAST(SUM(CAST(value AS DECIMAL(27,4))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING
       ) AS DOUBLE)''', 4)} AS running_value,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts, event_id
       ) AS INTEGER) AS event_seq
FROM events
WHERE ts IS NOT NULL
""",
)
def running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # timeless events cannot be sequenced — filtered on both sides
    events = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    return events.select(
        "user_id",
        "event_id",
        dround(
            F.sum(F.col("value").cast("decimal(27,4)")).over(w_run).cast("double"),
            4,
        ).alias("running_value"),
        F.row_number().over(w).alias("event_seq"),
    )


@query(
    "window_navigation",
    oracle="""
SELECT user_id, event_id,
       FIRST_VALUE(event_id) OVER w AS first_event,
       LAST_VALUE(event_id) OVER w AS last_event,
       NTH_VALUE(event_id, 2) OVER w AS second_event,
       LEAD(event_id) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
       ) AS next_event
FROM events
WHERE ts IS NOT NULL
WINDOW w AS (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
)
""",
)
def window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # timeless events cannot be sequenced — filtered on both sides
    events = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("ts").isNotNull()
    )
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w_ord.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return events.select(
        "user_id",
        "event_id",
        F.first("event_id").over(w_full).alias("first_event"),
        F.last("event_id").over(w_full).alias("last_event"),
        F.nth_value("event_id", 2).over(w_full).alias("second_event"),
        F.lead("event_id").over(w_ord).alias("next_event"),
    )


@query(
    "ntile_percentiles",
    oracle=f"""
WITH t AS (
    SELECT c_custkey, c_mktsegment,
           {sql_dround('c_acctbal', 2)} AS bal
    FROM customer
)
SELECT c_custkey, c_mktsegment, bal,
       CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
       {sql_dround('PERCENT_RANK() OVER w', 6)} AS pct_rank,
       {sql_dround('CUME_DIST() OVER w', 6)} AS cume
FROM t
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY bal, c_custkey)
""",
)
def ntile_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    t = cust.select(
        "c_custkey", "c_mktsegment", dround("c_acctbal", 2).alias("bal")
    )
    w = Window.partitionBy("c_mktsegment").orderBy("bal", "c_custkey")
    return t.select(
        "c_custkey",
        "c_mktsegment",
        "bal",
        F.ntile(4).over(w).alias("quartile"),
        dround(F.percent_rank().over(w), 6).alias("pct_rank"),
        dround(F.cume_dist().over(w), 6).alias("cume"),
    )


# --------------------------------------------------------------------------
# Exact-formula variance/stddev: both engines evaluate the SAME
# two-sum formula from exact decimal sums — engine-native stddev
# implementations (Welford vs two-pass) would differ in ulps.
# --------------------------------------------------------------------------


@query(
    "manual_variance",
    oracle=f"""
WITH t AS (
    SELECT l_returnflag,
           COUNT(*) AS n,
           {sql_dsum('l_quantity', 2)} AS sx,
           {sql_dsum('l_quantity * l_quantity', 4)} AS sx2
    FROM lineitem GROUP BY 1
)
SELECT l_returnflag, n,
       {sql_dround('(sx2 - sx * sx / n) / (n - 1)', 4)} AS variance,
       {sql_dround('sqrt((sx2 - sx * sx / n) / (n - 1))', 4)} AS stddev
FROM t
""",
)
def manual_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    t = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        dsum("l_quantity", 2).alias("sx"),
        dsum(F.col("l_quantity") * F.col("l_quantity"), 4).alias("sx2"),
    )
    var = (F.col("sx2") - F.col("sx") * F.col("sx") / F.col("n")) / (
        F.col("n") - 1
    )
    return t.select(
        "l_returnflag",
        "n",
        dround(var, 4).alias("variance"),
        dround(F.sqrt(var), 4).alias("stddev"),
    )


# --------------------------------------------------------------------------
# Approximate distinct (HLL) — estimator internals are engine-specific,
# so rows-only; the point is the scale path for COUNT(DISTINCT) at 100 TB
# --------------------------------------------------------------------------


@query("approx_distinct_users")
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


# --------------------------------------------------------------------------
# Manual correlation (same exact-decimal two-sum formula in both engines
# — engine-native corr() implementations differ in ulps)
# --------------------------------------------------------------------------


@query(
    "manual_correlation",
    oracle=f"""
WITH t AS (
    SELECT l_returnflag,
           COUNT(*) AS n,
           {sql_dsum('l_quantity', 2)} AS sx,
           {sql_dsum('l_discount', 2)} AS sy,
           {sql_dsum('l_quantity * l_quantity', 4)} AS sx2,
           {sql_dsum('l_discount * l_discount', 4)} AS sy2,
           {sql_dsum('l_quantity * l_discount', 4)} AS sxy
    FROM lineitem GROUP BY 1
)
SELECT l_returnflag, n,
       {sql_dround('''(n * sxy - sx * sy)
        / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy))''', 6)}
           AS corr_qty_discount
FROM t
""",
)
def manual_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    t = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        dsum("l_quantity", 2).alias("sx"),
        dsum("l_discount", 2).alias("sy"),
        dsum(F.col("l_quantity") * F.col("l_quantity"), 4).alias("sx2"),
        dsum(F.col("l_discount") * F.col("l_discount"), 4).alias("sy2"),
        dsum(F.col("l_quantity") * F.col("l_discount"), 4).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    ) * F.sqrt(F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy"))
    return t.select(
        "l_returnflag", "n", dround(num / den, 6).alias("corr_qty_discount")
    )


# --------------------------------------------------------------------------
# applyInPandas UDAF showcase: the grouped trend classification computed
# per-group in pandas, checked against the SAME SQL oracle as the pure
# window/agg version (trend_classification) — demonstrating that the
# Arrow grouped-map path produces identical results to the JVM plan.
# Scale note: applyInPandas ships each group through Arrow; the window
# rewrite is the preferred plan — this exists as the canonical pattern
# for logic that genuinely can't be expressed in columns.
# --------------------------------------------------------------------------


@query(
    "trend_applyinpandas",
    oracle=ORACLES["trend_classification"],
)
def trend_applyinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    events = load_tables(spark, sf_dir, "events")["events"]
    # same ts IS NOT NULL predicate as the shared trend_classification
    # oracle (a NULL date would sort into the "most recent" slot here
    # — pandas sorts NaT last on ascending=False — while the oracle
    # excludes it)
    daily = (
        events.filter(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("d"), "event_type")
        .agg(F.count("*").alias("n"))
    )

    def classify(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("d", ascending=False).reset_index(drop=True)
        recent = pdf["n"].iloc[:7]
        earlier = pdf["n"].iloc[7:]
        recent_avg = float(recent.mean()) if len(recent) else None
        earlier_avg = float(earlier.mean()) if len(earlier) else None
        if earlier_avg is None or earlier_avg == 0:
            trend = "STABLE"
        elif recent_avg > earlier_avg * 1.1:
            trend = "INCREASING"
        elif recent_avg < earlier_avg * 0.9:
            trend = "DECREASING"
        else:
            trend = "STABLE"

        def r4(x):
            import math

            return None if x is None else math.floor(x * 10000 + 0.5) / 10000

        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "recent_avg": [r4(recent_avg)],
                "earlier_avg": [r4(earlier_avg)],
                "trend": [trend],
            }
        )

    return daily.groupBy("event_type").applyInPandas(
        classify,
        "event_type string, recent_avg double, earlier_avg double, trend string",
    )


# --------------------------------------------------------------------------
# FORWARD as-of with tolerance (attribution): each click attaches the
# next purchase by the same user within 24 h. Union+window time-reversed
# (operators/asof.asof_join_forward) — one key shuffle + per-key sort,
# no candidate pairs. Oracle: DuckDB native ASOF with the inequality
# flipped. Output is day-grain so the check is robust to the join's
# carried columns while still hashing the attribution decisions.
# --------------------------------------------------------------------------


@query(
    "asof_forward_attribution",
    oracle=f"""
WITH clicks AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
p AS (
    SELECT user_id, ts, event_id,
           ROW_NUMBER() OVER (
               PARTITION BY user_id, ts ORDER BY event_id
           ) AS rn
    FROM events WHERE event_type = 'purchase'
),
pd AS (SELECT user_id, ts, event_id FROM p WHERE rn = 1),
att AS (
    SELECT c.event_id, c.ts AS click_ts, pd.ts AS purchase_ts
    FROM clicks c ASOF LEFT JOIN pd
      ON c.user_id = pd.user_id AND c.ts <= pd.ts
)
SELECT CAST(click_ts AS DATE) AS d,
       COUNT(*) AS n_clicks,
       COUNT(*) FILTER (
           WHERE purchase_ts IS NOT NULL
             AND purchase_ts <= click_ts + INTERVAL 24 HOUR
       ) AS n_attributed,
       {sql_dround('''COUNT(*) FILTER (
           WHERE purchase_ts IS NOT NULL
             AND purchase_ts <= click_ts + INTERVAL 24 HOUR
       ) * 1.0 / COUNT(*)''')} AS attribution_rate
FROM att
GROUP BY 1
""",
)
def asof_forward_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_forward

    events = load_tables(spark, sf_dir, "events")["events"]
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_event"),
        F.col("ts").alias("purchase_ts"),
    )
    j = asof_join_forward(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["purchase_event", "purchase_ts"],
        tolerance_seconds=24 * 3600,
        tiebreak="purchase_event",
    )
    attributed = F.col("purchase_event").isNotNull()
    return j.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").alias("n_clicks"),
        F.count_if(attributed).alias("n_attributed"),
        dround(F.count_if(attributed) * 1.0 / F.count("*")).alias(
            "attribution_rate"
        ),
    )


# --------------------------------------------------------------------------
# Relative-rank windows (percent_rank / cume_dist): the remaining two
# ranking functions of the window inventory. Both are closed-form over
# (rank, count) — (r-1)/(n-1) and peers/n, one double division each in
# fixed order — so cross-engine exact without dround... but rounded
# anyway for hash stability on repeating decimals. Partitioned by
# nation: per-partition sort only.
# --------------------------------------------------------------------------


@query(
    "percent_rank_cume_dist",
    oracle=f"""
SELECT c_custkey, c_nationkey,
       {sql_dround('PERCENT_RANK() OVER w', 6)} AS pct_rank,
       {sql_dround('CUME_DIST() OVER w', 6)} AS cume,
       CAST(RANK() OVER w AS BIGINT) AS rnk
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
""",
)
def percent_rank_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    w = Window.partitionBy("c_nationkey").orderBy(
        F.asc("c_acctbal"), F.asc("c_custkey")
    )
    return cust.select(
        "c_custkey",
        "c_nationkey",
        dround(F.percent_rank().over(w), 6).alias("pct_rank"),
        dround(F.cume_dist().over(w), 6).alias("cume"),
        F.rank().over(w).cast("bigint").alias("rnk"),
    )


# --------------------------------------------------------------------------
# Deterministic MODE: per-user most-frequent event type. Spark's and
# DuckDB's native mode() both return an ARBITRARY value on ties, so
# neither is oracle-able; the portable form is count + rank with an
# explicit (count DESC, value ASC) tiebreak — same shuffle cost as
# mode (one (key,value) agg) plus a key-partitioned top-1.
# --------------------------------------------------------------------------


@query(
    "deterministic_mode",
    oracle="""
WITH counts AS (
    SELECT user_id, event_type, COUNT(*) AS n
    FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY n DESC, event_type ASC
    ) AS rn
    FROM counts
)
SELECT user_id, event_type AS mode_event_type, n AS mode_count
FROM ranked WHERE rn = 1
""",
)
def deterministic_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    # a NULL event_type can't be a mode, and the ASC tiebreak would
    # order it on opposite ends of the two engines — filter both sides
    counts = (
        events.filter(F.col("event_type").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_event_type"),
            F.col("n").alias("mode_count"),
        )
    )


# --------------------------------------------------------------------------
# Clamped running balance — the recurrence b_t = max(0, b_{t-1} + d_t)
# looks like it needs a sequential per-key pass, but the one-sided
# clamp has a closed form over prefix sums:
#
#     b_n = S_n − min(0, min_{k≤n} S_k)        (S = running sum of d)
#     clamp at step n  ⇔  S_n < min(0, min_{k<n} S_k)
#
# so the whole thing is TWO window passes over one user_id shuffle —
# fully declarative, no Python in the loop (an applyInPandas version
# measured 7.3 s at sf0.1 from per-user Arrow batch overhead; this
# form runs ~0.5 s). The DuckDB oracle intentionally computes the
# recurrence the LITERAL way (recursive CTE walking b_t row by row),
# so the hash match doubles as a machine-checked proof of the
# identity. A two-sided clamp (floor AND cap) has no such closed form
# — that is when applyInPandasWithState earns its cost.
# Purchases credit; errors debit; integer cents throughout.
# --------------------------------------------------------------------------


@query(
    "inventory_running_balance",
    oracle=f"""
WITH RECURSIVE deltas AS (
    SELECT user_id, ts, event_id,
           CASE WHEN event_type = 'purchase'
                THEN {sql_qround('value', 2)}
                ELSE -{sql_qround('value', 2)} END
               AS delta_cents,
           row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS rn,
           COUNT(*) OVER (PARTITION BY user_id) AS n_tx
    FROM events
    WHERE event_type IN ('purchase', 'error')
      AND ts IS NOT NULL AND value IS NOT NULL
),
bal AS (
    SELECT user_id, rn, n_tx,
           GREATEST(CAST(0 AS BIGINT), delta_cents) AS balance,
           CAST(delta_cents < 0 AS BIGINT) AS n_clamps
    FROM deltas WHERE rn = 1
    UNION ALL
    SELECT d.user_id, d.rn, d.n_tx,
           GREATEST(CAST(0 AS BIGINT), b.balance + d.delta_cents),
           b.n_clamps
               + CAST(b.balance + d.delta_cents < 0 AS BIGINT)
    FROM deltas d JOIN bal b
      ON d.user_id = b.user_id AND d.rn = b.rn + 1
)
SELECT user_id,
       n_tx,
       balance AS final_balance_cents,
       n_clamps
FROM bal WHERE rn = n_tx
""",
)
def inventory_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user clamped balance via the prefix-sum/running-min identity.

    One user_id shuffle serves the prefix-sum window, the strict-
    preceding running-min window, and the final per-user aggregate.
    The clamp count doubles as an overdraft-attempt audit.
    """
    from pyspark.sql.window import Window

    # split=: every window and the final agg cluster on user_id (A/B
    # -0.01/-0.04 s across two runs, plans/r13/ab_split_kill.json)
    events = load_tables(spark, sf_dir, "events", split=("events",))[
        "events"
    ]
    # timeless or valueless transactions cannot enter a ledger
    tx = events.filter(
        F.col("event_type").isin("purchase", "error")
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("event_type") == "purchase",
            qround(F.col("value"), 2),
        )
        .otherwise(-qround(F.col("value"), 2))
        .alias("delta_cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = tx.select(
        "user_id",
        "delta_cents",
        F.sum("delta_cents")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("s"),
        F.min(
            F.sum("delta_cents").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            )
        )
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
        .alias("prev_min_s"),
    )
    clamped = F.col("s") < F.least(
        F.lit(0).cast("bigint"),
        F.coalesce(F.col("prev_min_s"), F.lit(0).cast("bigint")),
    )
    return run.groupBy("user_id").agg(
        F.count("*").alias("n_tx"),
        (
            F.sum("delta_cents")
            - F.least(
                F.lit(0).cast("bigint"), F.min("s")
            )
        ).alias("final_balance_cents"),
        F.count_if(clamped).alias("n_clamps"),
    )


# --------------------------------------------------------------------------
# Hash-checked HyperLogLog. The native approx_count_distinct sketch is
# engine-internal (rows-only check); this twin derives the SAME
# algorithm from sha256 so both engines build bit-identical registers:
# bucket = first 8 hash bits (m=256), rank = leading-zero count of the
# next 56 bits + 1. The harmonic-mean denominator Σ2^(−rank) is summed
# EXACTLY as scaled integers (2^(60−rank) is an exact BIGINT; dyadic
# doubles would round order-dependently), so the estimate — standard
# small-range linear-counting correction included — is one float
# division/ln from exact integers. Completes the checked-twin set:
# MinHash, SimHash, LSH, IVF, PQ, k-means, and now HLL.
# --------------------------------------------------------------------------

_HLL_M = 256
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)


@query(
    "approx_distinct_hll_checked",
    oracle=f"""
WITH h AS (
    SELECT substring(sha256(CAST(user_id AS VARCHAR)), 1, 2) AS bhex,
           substring(sha256(CAST(user_id AS VARCHAR)), 3, 14) AS rest
    FROM events WHERE user_id IS NOT NULL
),
ranked AS (
    SELECT CAST(concat('0x', bhex) AS BIGINT) AS bucket,
           LEAST(CAST(57 AS BIGINT),
           4 * length(regexp_extract(rest, '^0*'))
           + CASE
               WHEN length(regexp_extract(rest, '^0*')) >= 14 THEN 0
               WHEN CAST(concat('0x',
                    substring(rest, length(regexp_extract(rest, '^0*')) + 1,
                              1)) AS BIGINT) >= 8 THEN 0
               WHEN CAST(concat('0x',
                    substring(rest, length(regexp_extract(rest, '^0*')) + 1,
                              1)) AS BIGINT) >= 4 THEN 1
               WHEN CAST(concat('0x',
                    substring(rest, length(regexp_extract(rest, '^0*')) + 1,
                              1)) AS BIGINT) >= 2 THEN 2
               ELSE 3
             END + 1) AS rank
    FROM h
),
regs AS (
    SELECT b.bucket, COALESCE(MAX(r.rank), 0) AS reg
    FROM (SELECT unnest(range(0, {_HLL_M})) AS bucket) b
    LEFT JOIN ranked r ON r.bucket = b.bucket
    GROUP BY 1
),
s AS (
    SELECT CAST(SUM(CAST(1 AS BIGINT) << CAST(60 - reg AS INT)) AS DOUBLE)
               / 1152921504606846976.0 AS harm,
           COUNT(*) FILTER (WHERE reg = 0) AS v
    FROM regs
),
est AS (
    SELECT CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M} * {_HLL_M} / harm AS e_raw, v FROM s
)
SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_exact,
       {sql_dround(f'(CASE WHEN e_raw <= 2.5 * {_HLL_M} AND v > 0'
                   f' THEN {_HLL_M} * ln({_HLL_M} * 1.0 / v)'
                   ' ELSE e_raw END)', 4)} AS hll_estimate
FROM est
""",
)
def approx_distinct_hll_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    hexh = F.sha2(F.col("user_id").cast("string"), 256)
    h = events.select(
        F.substring(hexh, 1, 2).alias("bhex"),
        F.substring(hexh, 3, 14).alias("rest"),
    )
    zeros = F.length(F.regexp_extract("rest", "^0*", 0))
    first = F.conv(
        F.substring(F.col("rest"), zeros + 1, 1), 16, 10
    ).cast("bigint")
    extra = (
        F.when(zeros >= 14, F.lit(0))
        .when(first >= 8, 0)
        .when(first >= 4, 1)
        .when(first >= 2, 2)
        .otherwise(3)
    )
    ranked = h.select(
        F.conv(F.col("bhex"), 16, 10).cast("bigint").alias("bucket"),
        F.least(F.lit(57).cast("bigint"), (4 * zeros + extra + 1).cast("bigint")).alias(
            "rank"
        ),
    )
    buckets = events.sparkSession.range(0, _HLL_M).select(
        F.col("id").alias("bucket")
    )
    regs = (
        buckets.join(ranked, "bucket", "left")
        .groupBy("bucket")
        .agg(F.coalesce(F.max("rank"), F.lit(0)).alias("reg"))
    )
    s = regs.agg(
        (
            # DECIMAL(38,0) accumulator: 256 x 2^60 = 2^68 overflows
            # int64 on the Spark side (DuckDB's SUM auto-promotes to
            # HUGEINT); the decimal sum is exact and both engines'
            # final cast of the same exact integer rounds identically
            F.sum(
                F.expr(
                    "CAST(shiftleft(CAST(1 AS BIGINT),"
                    " CAST(60 - reg AS INT)) AS DECIMAL(38,0))"
                )
            ).cast("double")
            / F.lit(float(1 << 60))
        ).alias("harm"),
        F.count_if(F.col("reg") == 0).alias("v"),
    )
    e_raw = F.lit(_HLL_ALPHA) * _HLL_M * _HLL_M / F.col("harm")
    corrected = F.when(
        (e_raw <= 2.5 * _HLL_M) & (F.col("v") > 0),
        F.lit(float(_HLL_M)) * F.log(_HLL_M * 1.0 / F.col("v")),
    ).otherwise(e_raw)
    exact = events.agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return exact.crossJoin(
        F.broadcast(
            s.select(
                dround(corrected, 4).alias("hll_estimate")
            )
        )
    )
