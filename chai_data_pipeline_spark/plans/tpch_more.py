"""More canonical TPC-H shapes: Q3 (shipping priority, join + group +
top-k) and Q6 (forecast revenue change, pure filter-agg — the pushdown
showcase).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import dround, dsum, qround, sql_dround, sql_dsum, sql_qround
from ..session import load_tables
from .registry import query


@query(
    "tpch_q3_shipping_priority",
    oracle=f"""
WITH seg AS (SELECT MIN(c_mktsegment) AS s FROM customer),
agg AS (
    SELECT l_orderkey,
           {sql_dround(sql_dsum('l_extendedprice * (1 - l_discount)', 4), 2)}
               AS revenue,
           CAST(o_orderdate AS DATE) AS order_date,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN seg ON c_mktsegment = seg.s
    WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (ORDER BY revenue DESC, l_orderkey) AS rn
    FROM agg
)
SELECT l_orderkey, revenue, order_date, o_orderpriority,
       CAST(rn AS INTEGER) AS rn
FROM ranked WHERE rn <= 10
""",
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # split=: lineitem joins orders on orderkey = both tables' split
    # keys, so the pair of split exchanges is the join shuffle
    # (interleaved A/B 0.81 -> 0.61 s, plans/r13/ab_split.json)
    t = load_tables(
        spark, sf_dir, "customer", "orders", "lineitem",
        split=("lineitem", "orders"),
    )
    seg = t["customer"].agg(F.min("c_mktsegment").alias("s"))
    cust = (
        t["customer"]
        .crossJoin(F.broadcast(seg))
        .filter(F.col("c_mktsegment") == F.col("s"))
        .select("c_custkey")
    )
    orders = t["orders"].filter(
        F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    li = t["lineitem"].filter(
        F.col("l_shipdate") > F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    agg = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "l_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            "o_orderpriority",
        )
        .agg(
            dround(
                dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4), 2
            ).alias("revenue")
        )
    )
    # Top-10 via sort+limit → TakeOrderedAndProject: each partition keeps
    # its local top 10, the driver merges 10×P rows. The previous global
    # row_number() window pulled EVERY per-order aggregate into one
    # partition — correct, but a scale-killer at 100×. The rank is then
    # derived over the bounded (≤10-row) result; the constant partition
    # key keeps the window spec non-empty (input already capped).
    topk = agg.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)
    w = Window.partitionBy(F.lit(0)).orderBy(
        F.desc("revenue"), F.asc("l_orderkey")
    )
    return topk.withColumn("rn", F.row_number().over(w)).select(
        "l_orderkey", "revenue", "order_date", "o_orderpriority", "rn"
    )


@query(
    "tpch_q6_forecast_revenue",
    oracle=f"""
SELECT {sql_dround(sql_dsum('l_extendedprice * l_discount', 4), 2)} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dround(
                dsum(F.col("l_extendedprice") * F.col("l_discount"), 4), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Order fulfillment SLA: share of line items shipped within 7/30/60
# days of order placement, plus the exact median lag — the
# supply-chain operating metric the reference's relational family
# implies but never computes. Lags are exact integer days from the
# order⋈lineitem join (both sides shuffle on the key at scale — no
# broadcast assumption); the horizon ladder is conditional counts in
# one aggregate and the median is a rank order statistic under the
# (lag, orderkey, linenumber) total order.
# --------------------------------------------------------------------------


@query(
    "order_fill_sla",
    oracle=f"""
WITH lag AS (
    SELECT l.l_orderkey, l.l_linenumber,
           CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE)
               AS lag_days
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate IS NOT NULL AND o.o_orderdate IS NOT NULL
),
ranked AS (
    SELECT lag_days,
           ROW_NUMBER() OVER (
               ORDER BY lag_days, l_orderkey, l_linenumber
           ) AS rn,
           COUNT(*) OVER () AS n
    FROM lag
)
SELECT COUNT(*) AS n_lines,
       COUNT(*) FILTER (WHERE lag_days <= 7) AS shipped_7d,
       COUNT(*) FILTER (WHERE lag_days <= 30) AS shipped_30d,
       COUNT(*) FILTER (WHERE lag_days <= 60) AS shipped_60d,
       {sql_dround('COUNT(*) FILTER (WHERE lag_days <= 30) * 1.0 / COUNT(*)', 4)} AS sla_30d_rate,
       CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN lag_days END)
           AS BIGINT) AS median_lag_days
FROM ranked
""",
)
def order_fill_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ship-lag SLA ladder + exact median lag over orders x lineitem."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, "orders", "lineitem")
    lag = (
        t["lineitem"]
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .filter(
            F.col("l_shipdate").isNotNull()
            & F.col("o_orderdate").isNotNull()
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            ).alias("lag_days"),
        )
    )
    # lag_days domain is SMALL (bounded shipping windows) — the median
    # comes from a value-grain count + cumulative sum, never a global
    # row_number over the line-item table
    hist = lag.groupBy("lag_days").agg(F.count("*").alias("c"))
    wc = Window.orderBy("lag_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy()
    cum = hist.select(
        "lag_days",
        F.sum("c").over(wc).cast("bigint").alias("cw"),
        F.sum("c").over(wt).cast("bigint").alias("n"),
    )
    med = cum.filter(F.col("cw") >= F.expr("(n + 1) DIV 2")).agg(
        F.min("lag_days").cast("bigint").alias("median_lag_days")
    )
    stats = lag.agg(
        F.count("*").alias("n_lines"),
        F.count_if(F.col("lag_days") <= 7).alias("shipped_7d"),
        F.count_if(F.col("lag_days") <= 30).alias("shipped_30d"),
        F.count_if(F.col("lag_days") <= 60).alias("shipped_60d"),
        dround(
                F.count_if(F.col("lag_days") <= 30) * 1.0 / F.count("*"), 4
            ).alias("sla_30d_rate"),
    )
    return stats.crossJoin(F.broadcast(med))


# --------------------------------------------------------------------------
# Supplier concentration (HHI) per part region: the antitrust-style
# Herfindahl–Hirschman index over each nation's share of supplied
# quantity — the sourcing-risk scalar a procurement dashboard tracks.
# HHI = Σ share² is computed as an exact integer RATIO (Σ c_i² over
# (Σ c_i)², cents-quantized) with ONE final division, so the
# concentration ranking is engine-identical.
# --------------------------------------------------------------------------


@query(
    "supplier_concentration_hhi",
    oracle=f"""
WITH q AS (
    SELECT n.n_name AS nation,
           CAST(SUM({sql_qround('l.l_quantity', 2)})
               AS BIGINT) AS qty_c
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE l.l_quantity IS NOT NULL
    GROUP BY 1
),
t AS (SELECT CAST(SUM(qty_c) AS HUGEINT) AS tot,
             CAST(SUM(CAST(qty_c AS HUGEINT) * qty_c) AS HUGEINT) AS ss
      FROM q)
SELECT COUNT(*) AS n_nations,
       CAST(MAX(t.tot) AS DOUBLE) / 100.0 AS total_quantity,
       {sql_dround('CAST(MAX(t.ss) AS DOUBLE)'
                   ' / (CAST(MAX(t.tot) AS DOUBLE) * CAST(MAX(t.tot) AS DOUBLE))', 6)} AS hhi,
       {sql_dround('CAST(MAX(q2.mx) AS DOUBLE) / CAST(MAX(t.tot) AS DOUBLE)', 6)} AS top_share
FROM q CROSS JOIN t
CROSS JOIN (SELECT MAX(qty_c) AS mx FROM q) q2
""",
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HHI + top-nation share of supplied quantity."""
    t = load_tables(spark, sf_dir, "lineitem", "supplier", "nation")
    q = (
        t["lineitem"]
        .filter(F.col("l_quantity").isNotNull())
        .join(
            F.broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(qround(F.col("l_quantity"), 2))
            .cast("bigint")
            .alias("qty_c")
        )
    )
    agg = q.agg(
        F.count("*").alias("n_nations"),
        F.sum("qty_c").cast("decimal(38,0)").alias("tot"),
        F.sum(F.col("qty_c").cast("decimal(38,0)") * F.col("qty_c")).alias(
            "ss"
        ),
        F.max("qty_c").alias("mx"),
    )
    return agg.select(
        "n_nations",
        (F.col("tot").cast("double") / 100.0).alias("total_quantity"),
        dround(
            F.col("ss").cast("double")
            / (F.col("tot").cast("double") * F.col("tot").cast("double")),
            6,
        ).alias("hhi"),
        dround(
                F.col("mx").cast("double") / F.col("tot").cast("double"), 6
            ).alias("top_share"),
    )


# --------------------------------------------------------------------------
# Discount-band effectiveness: revenue, volume, and effective margin
# proxy per discount band — the pricing question ("does the 8-10%
# band actually move volume?") answered with exact banded integer
# aggregation. Band edges are integer percent points (floor(d*100)),
# so band membership is engine-exact; every money metric rides
# decimal sums with one dround at the edge.
# --------------------------------------------------------------------------


@query(
    "discount_band_effectiveness",
    oracle=f"""
WITH b AS (
    SELECT {sql_qround('l_discount', 2)} AS disc_pct,
           l_quantity, l_extendedprice, l_discount
    FROM lineitem WHERE l_discount IS NOT NULL
),
banded AS (
    SELECT CASE WHEN disc_pct = 0 THEN '0_none'
                WHEN disc_pct <= 3 THEN '1_low'
                WHEN disc_pct <= 7 THEN '2_mid'
                ELSE '3_high' END AS band,
           l_quantity, l_extendedprice, l_discount
    FROM b
)
SELECT band,
       COUNT(*) AS n_lines,
       {sql_dround(sql_dsum('l_quantity', 2), 2)} AS total_qty,
       {sql_dround(sql_dsum('l_extendedprice * (1 - l_discount)', 4), 2)}
           AS net_revenue,
       {sql_dround(f"CAST(SUM({sql_qround('l_quantity', 2)}) AS BIGINT)"
                   " * 1.0 / COUNT(*) / 100.0", 4)}
           AS avg_qty_per_line
FROM banded
GROUP BY 1
""",
)
def discount_band_effectiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume and net revenue per discount band."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"].filter(
        F.col("l_discount").isNotNull()
    )
    disc_pct = qround(F.col("l_discount"), 2)
    band = (
        F.when(disc_pct == 0, "0_none")
        .when(disc_pct <= 3, "1_low")
        .when(disc_pct <= 7, "2_mid")
        .otherwise("3_high")
    )
    return li.groupBy(band.alias("band")).agg(
        F.count("*").alias("n_lines"),
        dround(dsum("l_quantity", 2), 2).alias("total_qty"),
        dround(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4), 2
        ).alias("net_revenue"),
        dround(
            F.sum(qround(F.col("l_quantity"), 2))
            .cast("bigint")
            * 1.0
            / F.count("*")
            / 100.0,
            4,
        ).alias("avg_qty_per_line"),
    )
