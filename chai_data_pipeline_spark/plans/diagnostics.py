"""Pipeline-operations diagnostics: key-skew profiling, event-time
disorder measurement, and snapshot reconciliation.

These are the queries an operator of a 100-TB pipeline runs BEFORE
picking partitioning/watermark/merge strategies:

- ``key_frequency_histogram`` — count-of-counts skew profile. Whether a
  join/agg key needs salting is a function of its frequency
  distribution; the power-of-two histogram is bounded (~64 rows) no
  matter how many distinct keys exist.
- ``out_of_order_profile`` — how disordered event time is relative to
  arrival order, per event type. This is THE input to choosing a
  streaming watermark delay (reference analog: none — the reference is
  batch-only; this feeds our streaming/windows watermarks).
- ``table_diff_reconcile`` — two-snapshot diff (removed / changed /
  unchanged + exact value delta), the idempotency/audit check run
  after every incremental load. The reference's data_hash idempotency
  posture (ingest_bronze.py:52-54) is this, made a set operation.

All three are shuffle-bounded: per-key aggregates fold map-side first,
and every output is group-cardinality (buckets, event types, diff
statuses), never row-cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import dround, qround, sql_dround, sql_qround
from ..session import load_tables
from .registry import query

# --------------------------------------------------------------------------
# Key-skew profile: count events per user, then bucket users by
# floor(log2(count)). Exact on both engines: log2 of a power of two is
# exact in IEEE doubles and every other count lands strictly inside a
# bucket, so floor never straddles an engine difference.
# --------------------------------------------------------------------------


@query(
    "key_frequency_histogram",
    oracle="""
WITH per_key AS (
    SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1
)
SELECT CAST(FLOOR(LOG2(n)) AS BIGINT) AS freq_bucket,
       COUNT(*) AS n_keys,
       CAST(MIN(n) AS BIGINT) AS min_n,
       CAST(MAX(n) AS BIGINT) AS max_n,
       CAST(SUM(n) AS BIGINT) AS total_events
FROM per_key
GROUP BY 1
""",
)
def key_frequency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-of-counts skew diagnostic on the events join key.

    Two map-combining shuffles: (user) then (bucket); the second input
    is one row per distinct user carrying only (bucket, n), and the
    output is <= 64 rows at any scale. This is what decides whether
    ``operators.skew.salted_agg`` is needed for a given key.
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    per_key = events.groupBy("user_id").agg(F.count("*").alias("n"))
    return per_key.groupBy(
        F.floor(F.log2("n")).cast("bigint").alias("freq_bucket")
    ).agg(
        F.count("*").alias("n_keys"),
        F.min("n").alias("min_n"),
        F.max("n").alias("max_n"),
        F.sum("n").alias("total_events"),
    )


# --------------------------------------------------------------------------
# Event-time disorder: within each user's ARRIVAL order (event_id is
# the monotone ingest sequence), count adjacent pairs whose event time
# runs backwards, and the worst backwards jump. Aggregated per event
# type. The lag window partitions by user — no global sort — and the
# disorder summary is event-type-cardinality.
# --------------------------------------------------------------------------


@query(
    "out_of_order_profile",
    oracle=f"""
WITH seq AS (
    SELECT user_id, event_type, ts,
           LAG(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
    FROM events
)
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(*) FILTER (WHERE ts < prev_ts) AS n_inversions,
       {sql_dround("COUNT(*) FILTER (WHERE ts < prev_ts) * 1.0 / COUNT(*)")}
           AS inversion_rate,
       CAST(COALESCE(MAX(CASE WHEN ts < prev_ts
                     THEN date_diff('second', ts, prev_ts) END), 0) AS BIGINT)
           AS max_backwards_s
FROM seq
GROUP BY event_type
""",
)
def out_of_order_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How late/disordered event time is vs arrival order, per type.

    The number that sets a Structured Streaming watermark delay: if
    max_backwards_s is 90 s, ``withWatermark(.., "2 minutes")`` is
    safe; if inversions are zero the source is in-order and state can
    be evicted aggressively. Lag partitions by user (arrival sequences
    are per-producer); the aggregate is map-side combined into an
    event-type-sized result.
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("event_id")
    seq = events.select(
        "event_type",
        "ts",
        F.lag("ts").over(w).alias("prev_ts"),
    )
    inverted = F.col("ts") < F.col("prev_ts")
    # timestampdiff works directly on TIMESTAMP_NTZ (a cast to long
    # does not — Spark refuses NTZ→numeric)
    backwards_s = F.expr("timestampdiff(SECOND, ts, prev_ts)")
    return seq.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count_if(inverted).alias("n_inversions"),
        dround(F.count_if(inverted) * 1.0 / F.count("*")).alias(
            "inversion_rate"
        ),
        F.coalesce(
            F.max(F.when(inverted, backwards_s)), F.lit(0)
        ).cast("bigint").alias("max_backwards_s"),
    )


# --------------------------------------------------------------------------
# Snapshot reconciliation: today's load vs yesterday's, as a single
# full-outer join on the business key producing removed / changed /
# unchanged counts and the exact money delta. The "new" snapshot is
# derived deterministically from orders so both engines see the same
# pair: keys divisible by 97 are dropped (deletes) and keys divisible
# by 89 get +10.00 on o_totalprice (updates).
# --------------------------------------------------------------------------


@query(
    "table_diff_reconcile",
    oracle="""
WITH snap_a AS (
    SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(27,2)) AS price
    FROM orders
),
snap_b AS (
    SELECT o_orderkey,
           CAST(o_totalprice AS DECIMAL(27,2))
           + CASE WHEN o_orderkey % 89 = 0 THEN CAST(10.00 AS DECIMAL(27,2))
                  ELSE CAST(0 AS DECIMAL(27,2)) END AS price
    FROM orders WHERE o_orderkey % 97 <> 0
),
diff AS (
    SELECT CASE WHEN b.o_orderkey IS NULL THEN 'removed'
                WHEN a.price <> b.price THEN 'changed'
                ELSE 'unchanged' END AS status,
           COALESCE(b.price, CAST(0 AS DECIMAL(27,2)))
           - COALESCE(a.price, CAST(0 AS DECIMAL(27,2))) AS delta
    FROM snap_a a LEFT JOIN snap_b b USING (o_orderkey)
)
SELECT status, COUNT(*) AS n_rows,
       CAST(SUM(delta) * 100 AS BIGINT) AS delta_cents
FROM diff
GROUP BY status
""",
)
def table_diff_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-snapshot table diff: removed/changed/unchanged + exact delta.

    One co-partitioned join on the business key (both sides shuffle on
    o_orderkey — AQE can plan SMJ or shuffled hash; neither side is
    broadcast at 100 TB) followed by a status-cardinality aggregate.
    Money deltas ride DECIMAL(27,2) end-to-end and are emitted as
    integer cents — associative, engine-exact. Production would add a
    row-hash over all columns (sources.readers.with_audit_columns'
    data_hash); the price column stands in for it here because the
    synthetic delta only touches price.
    """
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    price = F.col("o_totalprice").cast("decimal(27,2)")
    snap_a = orders.select("o_orderkey", price.alias("price"))
    snap_b = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        (
            price
            + F.when(
                F.col("o_orderkey") % 89 == 0, F.lit(10.00)
            ).otherwise(F.lit(0.00)).cast("decimal(27,2)")
        ).alias("price"),
    )
    a = snap_a.alias("a")
    # explicit presence marker: "removed" must mean NO MATCHING ROW in
    # snapshot b (the oracle tests the join key), not a NULL price — a
    # matched row whose price is NULL is 'unchanged', like the oracle.
    b = snap_b.withColumn("b_present", F.lit(True)).alias("b")
    joined = a.join(b, "o_orderkey", "left").select(
        F.when(F.col("b.b_present").isNull(), "removed")
        .when(F.col("a.price") != F.col("b.price"), "changed")
        .otherwise("unchanged")
        .alias("status"),
        (
            F.coalesce(F.col("b.price"), F.lit(0).cast("decimal(27,2)"))
            - F.coalesce(F.col("a.price"), F.lit(0).cast("decimal(27,2)"))
        ).alias("delta"),
    )
    return joined.groupBy("status").agg(
        F.count("*").alias("n_rows"),
        (F.sum("delta") * 100).cast("bigint").alias("delta_cents"),
    )


# --------------------------------------------------------------------------
# Distribution-drift monitor: Population Stability Index of the event
# value distribution, first half of the window vs second half, per
# event type. PSI = Σ_bins (p−q)·ln(p/q) with Laplace smoothing so an
# empty bin never produces ln(0). Everything up to the per-bin term is
# exact integer counting; the term is rounded to a 6-decimal DECIMAL
# before the final sum, which makes the cross-bin reduction
# order-independent (functions/numeric.py rules — ln results are not
# finite decimals, so round-then-decimal-sum, never raw double sums).
# --------------------------------------------------------------------------

_PSI_CUTOFF = "2024-01-16 00:00:00"
_PSI_BINS = 10
_PSI_BINW = 25.0  # events.value spans [0, ~330); clamp to 10 bins


@query(
    "psi_value_drift",
    oracle=f"""
WITH binned AS (
    SELECT event_type,
           LEAST(CAST(FLOOR(value / {_PSI_BINW}) AS BIGINT), {_PSI_BINS - 1})
               AS bin,
           CASE WHEN ts < TIMESTAMP '{_PSI_CUTOFF}' THEN 1 ELSE 0 END AS half
    FROM events
),
counts AS (
    SELECT event_type, bin,
           COUNT(*) FILTER (WHERE half = 1) AS c_a,
           COUNT(*) FILTER (WHERE half = 0) AS c_b
    FROM binned GROUP BY 1, 2
),
tot AS (
    SELECT event_type,
           SUM(c_a) AS t_a, SUM(c_b) AS t_b
    FROM counts GROUP BY 1
),
terms AS (
    SELECT c.event_type,
           {sql_dround(
               "((c.c_a + 0.5) / (t.t_a + 5.0) - (c.c_b + 0.5) / (t.t_b + 5.0))"
               " * ln(((c.c_a + 0.5) / (t.t_a + 5.0))"
               "      / ((c.c_b + 0.5) / (t.t_b + 5.0)))", 6)} AS term
    FROM counts c JOIN tot t USING (event_type)
)
SELECT t.event_type,
       CAST(tt.t_a AS BIGINT) AS n_first,
       CAST(tt.t_b AS BIGINT) AS n_second,
       CAST(CAST(SUM(CAST(t.term AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS psi
FROM terms t JOIN tot tt USING (event_type)
GROUP BY 1, 2, 3
""",
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift of the value distribution between window halves.

    The monitoring query a production pipeline runs on every load to
    catch upstream distribution shifts before they poison training
    data. Shuffle-bounded: one (type, bin) count (map-side combined,
    ≤ types×10 rows), then type-cardinality reductions. The smoothed
    shares and ln run on ≤50 rows; the bin counting is the only
    full-scan work.
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    binned = events.select(
        "event_type",
        F.least(
            F.floor(F.col("value") / _PSI_BINW).cast("bigint"),
            F.lit(_PSI_BINS - 1),
        ).alias("bin"),
        F.when(
            F.col("ts") < F.lit(_PSI_CUTOFF).cast("timestamp_ntz"), 1
        ).otherwise(0).alias("half"),
    )
    counts = binned.groupBy("event_type", "bin").agg(
        F.count_if(F.col("half") == 1).alias("c_a"),
        F.count_if(F.col("half") == 0).alias("c_b"),
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("c_a").alias("t_a"), F.sum("c_b").alias("t_b")
    )
    p = (F.col("c_a") + 0.5) / (F.col("t_a") + 5.0)
    q = (F.col("c_b") + 0.5) / (F.col("t_b") + 5.0)
    terms = counts.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "t_a",
        "t_b",
        dround((p - q) * F.log(p / q), 6).alias("term"),
    )
    return terms.groupBy(
        "event_type",
        F.col("t_a").cast("bigint").alias("n_first"),
        F.col("t_b").cast("bigint").alias("n_second"),
    ).agg(
        F.sum(F.col("term").cast("decimal(27,6)"))
        .cast("double")
        .alias("psi")
    )


# --------------------------------------------------------------------------
# Robust outlier detection: median/MAD instead of mean/stddev. The
# z-score monitor (timeseries.anomaly_days_zscore) is itself distorted
# by the outliers it hunts; median absolute deviation is not. Daily
# count series are event-type-cardinality × days — tiny — so the two
# exact medians are cheap; at 100 TB the day-count aggregation is the
# only full-scan stage and it map-combines.
# --------------------------------------------------------------------------


@query(
    "mad_robust_outliers",
    oracle="""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
med AS (
    SELECT event_type, median(n) AS med_daily FROM daily GROUP BY 1
),
mad AS (
    SELECT d.event_type, m.med_daily,
           median(ABS(d.n - m.med_daily)) AS mad_daily
    FROM daily d JOIN med m USING (event_type)
    GROUP BY 1, 2
)
SELECT d.event_type,
       COUNT(*) AS n_days,
       MAX(m.med_daily) AS med_daily,
       MAX(m.mad_daily) AS mad_daily,
       COUNT(*) FILTER (
           WHERE m.mad_daily > 0
             AND ABS(d.n - m.med_daily) > 3 * m.mad_daily
       ) AS n_outlier_days
FROM daily d JOIN mad m USING (event_type)
GROUP BY 1
""",
)
def mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD outlier days per event type.

    Two-pass exact medians over the (type, day) count series with the
    3-MAD rule; degenerate series (MAD = 0) flag nothing, by explicit
    guard rather than div-by-zero semantics (ADVICE r3: engines
    diverge on float division edge cases across versions). Median
    interpolation ((a+b)/2) is a single IEEE op — engine-exact.
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").alias("n"))
    med = daily.groupBy("event_type").agg(
        F.median("n").alias("med_daily")
    )
    mad = (
        daily.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med_daily")
        .agg(
            F.median(F.abs(F.col("n") - F.col("med_daily"))).alias(
                "mad_daily"
            )
        )
    )
    flagged = daily.join(F.broadcast(mad), "event_type")
    outlier = (F.col("mad_daily") > 0) & (
        F.abs(F.col("n") - F.col("med_daily"))
        > 3 * F.col("mad_daily")
    )
    return flagged.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.max("med_daily").alias("med_daily"),
        F.max("mad_daily").alias("mad_daily"),
        F.count_if(outlier).alias("n_outlier_days"),
    )


# --------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov statistic (binned) — PSI's sibling:
# PSI weighs bulk shifts, KS catches the single worst ECDF gap. Both
# halves' binned counts cumulate over the ≤64-bin axis (window over a
# bounded table), and the statistic is a max of exact-count ratios —
# one division per bin, then max, dround(6)-pinned.
# --------------------------------------------------------------------------

_KS_BINW = 5.0


@query(
    "ks_statistic_value_drift",
    oracle=f"""
WITH binned AS (
    SELECT event_type,
           LEAST(CAST(FLOOR(value / {_KS_BINW}) AS BIGINT), 99) AS bin,
           COUNT(*) FILTER (WHERE ts < TIMESTAMP '{_PSI_CUTOFF}') AS c_a,
           COUNT(*) FILTER (WHERE ts >= TIMESTAMP '{_PSI_CUTOFF}') AS c_b
    FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
cum AS (
    SELECT event_type, bin,
           SUM(c_a) OVER w AS cum_a,
           SUM(c_b) OVER w AS cum_b,
           SUM(c_a) OVER (PARTITION BY event_type) AS tot_a,
           SUM(c_b) OVER (PARTITION BY event_type) AS tot_b
    FROM binned
    WINDOW w AS (PARTITION BY event_type ORDER BY bin
                 ROWS UNBOUNDED PRECEDING)
)
SELECT event_type,
       CAST(MAX(tot_a) AS BIGINT) AS n_first,
       CAST(MAX(tot_b) AS BIGINT) AS n_second,
       {sql_dround('''MAX(CASE WHEN tot_a > 0 AND tot_b > 0
                      THEN ABS(cum_a * 1.0 / tot_a - cum_b * 1.0 / tot_b)
                      END)''', 6)} AS ks_stat
FROM cum
GROUP BY 1
""",
)
def ks_statistic_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    cutoff = F.lit(_PSI_CUTOFF).cast("timestamp_ntz")
    # NULL values have no place on the bin axis (the engines would
    # order a NULL bin on opposite ends of the cumulative window).
    events = events.filter(F.col("value").isNotNull())
    binned = events.groupBy(
        "event_type",
        F.least(
            F.floor(F.col("value") / _KS_BINW).cast("bigint"), F.lit(99)
        ).alias("bin"),
    ).agg(
        F.count_if(F.col("ts") < cutoff).alias("c_a"),
        F.count_if(F.col("ts") >= cutoff).alias("c_b"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy("event_type")
    cum = binned.select(
        "event_type",
        F.sum("c_a").over(w).alias("cum_a"),
        F.sum("c_b").over(w).alias("cum_b"),
        F.sum("c_a").over(tot).alias("tot_a"),
        F.sum("c_b").over(tot).alias("tot_b"),
    )
    # per-row zero guard: a one-sided group (every event on one side of
    # the cutoff) must yield NULL, not a div-by-zero — Spark 4 ANSI
    # throws on x/0 and the aggregate evaluates before any outer CASE.
    gap = F.when(
        (F.col("tot_a") > 0) & (F.col("tot_b") > 0),
        F.abs(
            F.col("cum_a") * 1.0 / F.col("tot_a")
            - F.col("cum_b") * 1.0 / F.col("tot_b")
        ),
    )
    return cum.groupBy("event_type").agg(
        F.max("tot_a").alias("n_first"),
        F.max("tot_b").alias("n_second"),
        dround(F.max(gap), 6).alias("ks_stat"),
    )


# --------------------------------------------------------------------------
# Watermark drop audit: for candidate watermark delays, how many
# events would streaming state eviction actually DROP? An event is
# dropped when it arrives more than `delay` behind the max event time
# already seen on its key (per-user arrival order = event_id, as in
# out_of_order_profile). out_of_order_profile sizes the worst case;
# this query prices each candidate delay in lost events — the
# lateness CDF the withWatermark decision should be read off of.
# --------------------------------------------------------------------------

_WM_DELAYS_S = (1, 30, 60, 300)


@query(
    "watermark_drop_audit",
    oracle=f"""
WITH seq AS (
    SELECT user_id, ts, event_id,
           MAX(ts) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS seen_max
    FROM events
),
late AS (
    SELECT CASE WHEN seen_max IS NULL OR ts >= seen_max THEN 0
                ELSE date_diff('microsecond', ts, seen_max) END AS late_us
    FROM seq
)
SELECT d.delay_s,
       COUNT(*) AS n_events,
       COUNT(*) FILTER (
           WHERE late_us > CAST(d.delay_s AS BIGINT) * 1000000
       ) AS n_dropped,
       {sql_dround('COUNT(*) FILTER (WHERE late_us >'
                   ' CAST(d.delay_s AS BIGINT) * 1000000)'
                   ' * 1.0 / COUNT(*)', 6)} AS drop_rate
FROM late
CROSS JOIN (SELECT unnest(ARRAY{list(_WM_DELAYS_S)}) AS delay_s) d
GROUP BY 1
""",
)
def watermark_drop_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events lost per candidate watermark delay (per-user lateness).

    One user-partitioned running-max window; the delay axis is a
    4-row broadcast cross join, so the output is delay-cardinality.
    Read with out_of_order_profile: that query gives the worst
    backwards jump, this one the full cost curve.
    """
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = events.select(
        "ts", F.max("ts").over(w).alias("seen_max")
    )
    late_us = F.when(
        F.col("seen_max").isNull() | (F.col("ts") >= F.col("seen_max")),
        F.lit(0).cast("bigint"),
    ).otherwise(F.expr("timestampdiff(MICROSECOND, ts, seen_max)"))
    late = seq.select(late_us.alias("late_us"))
    delays = F.broadcast(
        late.sparkSession.createDataFrame(
            [(d,) for d in _WM_DELAYS_S], "delay_s int"
        )
    )
    dropped = F.count_if(
        F.col("late_us") > F.col("delay_s").cast("bigint") * 1_000_000
    )
    return late.crossJoin(delays).groupBy("delay_s").agg(
        F.count("*").alias("n_events"),
        dropped.alias("n_dropped"),
        dround(dropped * 1.0 / F.count("*"), 6).alias("drop_rate"),
    )


# --------------------------------------------------------------------------
# Benford first-digit audit: fraud/synthetic-data detection over a money
# column. The digit is extracted from the INTEGER cents string (never
# via log10 of a double, whose libm rounding could flip the digit of a
# value sitting exactly on a power of ten), so the distribution is
# exact; the expected Benford share ln(1+1/d)/ln(10) and the chi-square
# contribution are identical single expressions per digit row.
# --------------------------------------------------------------------------


@query(
    "benford_digit_audit",
    oracle=f"""
WITH d AS (
    SELECT CAST(substring(CAST({sql_qround('o_totalprice', 2)}
                AS VARCHAR), 1, 1) AS BIGINT) AS digit
    FROM orders
    WHERE o_totalprice > 0
),
c AS (
    SELECT digit, COUNT(*) AS n, SUM(COUNT(*)) OVER () AS total
    FROM d GROUP BY 1
)
SELECT digit, n,
       {sql_dround('n * 1.0 / total', 6)} AS observed_share,
       {sql_dround('ln(1.0 + 1.0 / digit) / ln(10.0)', 6)} AS benford_share,
       {sql_dround(
           '(n - total * (ln(1.0 + 1.0 / digit) / ln(10.0)))'
           ' * (n - total * (ln(1.0 + 1.0 / digit) / ln(10.0)))'
           ' / (total * (ln(1.0 + 1.0 / digit) / ln(10.0)))', 6)}
           AS chi_square_term
FROM c
""",
)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals vs Benford.

    Digit-cardinality output (≤9 rows); the only full-scan stage is the
    narrow digit projection + count, which map-combines. A money column
    that drifts from Benford after an incremental load is the classic
    signal of synthetic/duplicated records entering the lake.
    """
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    digit = F.substring(
        qround(F.col("o_totalprice"), 2).cast("string"),
        1,
        1,
    ).cast("bigint")
    c = (
        orders.filter(F.col("o_totalprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
        .withColumn("total", F.sum("n").over(Window.partitionBy()))
    )
    expected = F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(F.lit(10.0))
    dev = F.col("n") - F.col("total") * expected
    return c.select(
        "digit",
        "n",
        dround(F.col("n") * 1.0 / F.col("total"), 6).alias("observed_share"),
        dround(expected, 6).alias("benford_share"),
        dround(dev * dev / (F.col("total") * expected), 6).alias("chi_square_term"),
    )


# --------------------------------------------------------------------------
# Self-join blowup forecast: the output size of any equi-self-join is
# exactly Σ_k c(k)² — computable from per-key counts for pennies
# BEFORE running the join that would melt the shuffle. Pairs with
# key_frequency_histogram: that query shows the skew shape, this one
# prices the join it would cause, per event type.
# --------------------------------------------------------------------------


@query(
    "self_join_blowup_forecast",
    oracle=f"""
WITH per_key AS (
    SELECT event_type, user_id, COUNT(*) AS c
    FROM events GROUP BY 1, 2
)
SELECT event_type,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       COUNT(*) AS n_keys,
       CAST(SUM(c * c) AS BIGINT) AS forecast_pairs,
       CAST(MAX(c) * MAX(c) AS BIGINT) AS worst_key_pairs,
       {sql_dround('CAST(SUM(c * c) AS BIGINT) * 1.0 / CAST(SUM(c) AS BIGINT)', 4)} AS amplification
FROM per_key
GROUP BY 1
""",
)
def self_join_blowup_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type cost forecast of a user-keyed self-join.

    Scale: one per-key count (map-combined) then a type-grain moment
    aggregation — the forecast costs one narrow shuffle while the
    forecasted join could cost Σc² rows; run this first, then choose
    salting (operators/skew.py) when amplification is pathological.
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    per_key = events.groupBy("event_type", "user_id").agg(
        F.count("*").alias("c")
    )
    return per_key.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("forecast_pairs"),
        (F.max("c") * F.max("c")).cast("bigint").alias("worst_key_pairs"),
        dround(
            F.sum(F.col("c") * F.col("c")).cast("bigint")
            * 1.0
            / F.sum("c").cast("bigint"),
            4,
        ).alias("amplification"),
    )


# --------------------------------------------------------------------------
# Functional-dependency discovery (Metanome-style profiling): A → B
# holds iff no A-group contains two B values, checked exactly by
# comparing COUNT(DISTINCT A) with COUNT(DISTINCT (A, B)). The
# candidate list is pinned; each check is one distinct-count pass.
# FD discovery is what infers primary keys, normalization splits, and
# which columns are safe partition keys on an undocumented lake.
# --------------------------------------------------------------------------

# (label, table, lhs expr, rhs expr)
_FD_CANDIDATES = [
    ("nation->region", "nation", "n_nationkey", "n_regionkey"),
    ("nationname->key", "nation", "n_name", "n_nationkey"),
    ("custkey->segment", "customer", "c_custkey", "c_mktsegment"),
    ("nationkey->segment", "customer", "c_nationkey", "c_mktsegment"),
    ("orderkey->status", "orders", "o_orderkey", "o_orderstatus"),
    ("custkey->status", "orders", "o_custkey", "o_orderstatus"),
    ("event_user->type", "events", "user_id", "event_type"),
]


def _fd_leg_sql(label: str, table: str, lhs: str, rhs: str) -> str:
    return f"""
SELECT '{label}' AS fd,
       COUNT(DISTINCT {lhs}) AS n_lhs,
       COUNT(DISTINCT ({lhs}, {rhs})) AS n_lhs_rhs,
       (COUNT(DISTINCT {lhs}) = COUNT(DISTINCT ({lhs}, {rhs}))) AS holds
FROM {table}"""


@query(
    "functional_dependency_discovery",
    oracle="\nUNION ALL\n".join(
        _fd_leg_sql(*c) for c in _FD_CANDIDATES
    ),
)
def functional_dependency_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact FD verdicts for a pinned candidate list.

    Scale: each candidate is one distinct-count aggregation over a
    two-column projection (map-side partial distinct). At profiling
    scale the same counts come from one pass per table with grouping
    sets; the candidate generation (lattice pruning) stays driver-side.
    """
    tables = load_tables(
        spark, sf_dir, *sorted({t for _, t, _, _ in _FD_CANDIDATES})
    )
    legs = []
    for label, table, lhs, rhs in _FD_CANDIDATES:
        df = tables[table]
        n_lhs = F.count_distinct(F.col(lhs))
        n_both = F.count_distinct(F.struct(F.col(lhs), F.col(rhs)))
        legs.append(
            df.agg(
                F.lit(label).alias("fd"),
                n_lhs.alias("n_lhs"),
                n_both.alias("n_lhs_rhs"),
                (n_lhs == n_both).alias("holds"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out


# --------------------------------------------------------------------------
# Differential-privacy sensitivity advisor: before adding noise to a
# released daily-count metric, the contribution of ONE user must be
# bounded — the clip level and the Gaussian noise scale follow from
# the observed per-user contribution distribution. The sqrt(2 ln(1.25/δ))
# constant is Python-injected; everything else is exact integers plus
# one division chain. Pairs with k_anonymity_audit: that one gates raw
# release, this one parameterizes noisy release.
# --------------------------------------------------------------------------

_DP_GAUSS_C = 5.298802526850474  # sqrt(2 ln(1.25/1e-6)), eps = 1


@query(
    "dp_sensitivity_advisor",
    oracle=f"""
WITH per_user_day AS (
    SELECT user_id, CAST(ts AS DATE) AS d, COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
per_user AS (
    SELECT user_id, CAST(MAX(n) AS BIGINT) AS m FROM per_user_day GROUP BY 1
),
ranked AS (
    SELECT m, ROW_NUMBER() OVER (ORDER BY m, user_id) AS rn,
           COUNT(*) OVER () AS nu
    FROM per_user
),
clip AS (
    SELECT MAX(nu) AS n_users,
           MAX(CASE WHEN rn = CAST(CEIL(0.99 * nu) AS BIGINT)
               THEN m END) AS p99
    FROM ranked
),
daily AS (
    SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n FROM events GROUP BY 1
),
avg_daily AS (
    SELECT CAST(SUM(n) AS BIGINT) * 1.0 / COUNT(*) AS avg_n FROM daily
)
SELECT c.n_users,
       (SELECT CAST(MAX(m) AS BIGINT) FROM per_user) AS max_contribution,
       c.p99 AS recommended_clip,
       {sql_dround(f'c.p99 * {_DP_GAUSS_C}', 4)}
           AS gaussian_sigma_eps1,
       {sql_dround(f'c.p99 * {_DP_GAUSS_C} / a.avg_n', 6)}
           AS relative_noise
FROM clip c CROSS JOIN avg_daily a
""",
)
def dp_sensitivity_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip level and Gaussian noise scale for a DP daily-count release.

    Scale: per-user-day counts shuffle once; the per-user max is
    user-grain; the p99 order statistic runs over USER-cardinality
    rows (swap for the histogram inverse-CDF at extreme scale). The
    relative_noise column is the go/no-go: noise ≫ signal means the
    release needs coarser grain, not more epsilon.
    """
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    per_user = (
        events.groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("n"))
        .groupBy("user_id")
        .agg(F.max("n").cast("bigint").alias("m"))
    )
    wr = Window.orderBy("m", "user_id")
    ranked = per_user.select(
        "m",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("nu"),
    )
    clip = ranked.agg(
        F.max("nu").alias("n_users"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.99 * F.col("nu")).cast("bigint"),
                F.col("m"),
            )
        ).alias("p99"),
    )
    mx = per_user.agg(F.max("m").cast("bigint").alias("max_contribution"))
    avg_daily = (
        events.groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("n"))
        .agg((F.sum("n").cast("bigint") * 1.0 / F.count("*")).alias("avg_n"))
    )
    return (
        clip.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(avg_daily))
        .select(
            "n_users",
            "max_contribution",
            F.col("p99").alias("recommended_clip"),
            dround(F.col("p99") * _DP_GAUSS_C, 4).alias("gaussian_sigma_eps1"),
            dround(
                    F.col("p99") * _DP_GAUSS_C / F.col("avg_n"), 6
                ).alias("relative_noise"),
        )
    )


# --------------------------------------------------------------------------
# Anomaly-detector agreement audit: do the EWMA spike detector and the
# per-type z-score detector flag the SAME days? Cohen's kappa over
# their joint decisions tells you whether a second detector adds
# information or just noise — the meta-question before paging anyone
# on either alarm. Both detectors are re-derived here with their
# pinned formulas (ewma dyadic weights, two-sigma z rule) over one
# shared (type, day) frame; kappa arithmetic is exact-integer
# cross-multiplication with one final division.
# --------------------------------------------------------------------------


@query(
    "detector_agreement_kappa",
    oracle=f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
    FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
    GROUP BY 1, 2
),
z AS (
    SELECT event_type, d, n,
           COUNT(*) OVER (PARTITION BY event_type) AS cnt,
           SUM(n) OVER (PARTITION BY event_type) AS sn,
           SUM(n * n) OVER (PARTITION BY event_type) AS sn2
    FROM daily
),
zf AS (
    SELECT event_type, d, n,
           (cnt > 1 AND cnt * sn2 - sn * sn > 0
            AND ABS((n - CAST(sn AS DOUBLE) / cnt)
                / sqrt(CASE WHEN cnt * sn2 - sn * sn > 0
                       THEN (CAST(cnt AS DOUBLE) * sn2 - CAST(sn AS DOUBLE) * sn)
                            / cnt / cnt END)) > 2.0) AS z_flag
    FROM z
),
e AS (
    SELECT event_type, d, n,
           {' + '.join(f"COALESCE(LAG(n, {k}) OVER w, 0) * {1 << (8 - k)}"
                       for k in range(1, 9))} AS num,
           {' + '.join(f"(CASE WHEN LAG(n, {k}) OVER w IS NULL THEN 0"
                       f" ELSE {1 << (8 - k)} END)" for k in range(1, 9))}
               AS den
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY d)
),
ef AS (
    SELECT event_type, d,
           (den > 0 AND n > 2.0 * (CAST(num AS DOUBLE) / den)) AS e_flag
    FROM e
),
j AS (
    SELECT zf.z_flag, ef.e_flag
    FROM zf JOIN ef ON ef.event_type = zf.event_type AND ef.d = zf.d
),
c AS (
    SELECT COUNT(*) AS n,
           COUNT(*) FILTER (WHERE z_flag AND e_flag) AS both_f,
           COUNT(*) FILTER (WHERE z_flag AND NOT e_flag) AS only_z,
           COUNT(*) FILTER (WHERE NOT z_flag AND e_flag) AS only_e,
           COUNT(*) FILTER (WHERE NOT z_flag AND NOT e_flag) AS neither
    FROM j
)
SELECT n AS n_days, both_f AS both_flag, only_z, only_e,
       CASE WHEN n * n - ((both_f + only_z) * (both_f + only_e)
                 + (only_e + neither) * (only_z + neither)) <> 0 THEN
       {sql_dround('CAST(n * (both_f + neither)'
                   ' - ((both_f + only_z) * (both_f + only_e)'
                   ' + (only_e + neither) * (only_z + neither)) AS DOUBLE)'
                   ' / CAST(n * n - ((both_f + only_z) * (both_f + only_e)'
                   ' + (only_e + neither) * (only_z + neither)) AS DOUBLE)', 6)} END AS cohens_kappa
FROM c
""",
)
def detector_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the z-score and EWMA spike detectors."""
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").alias("n"))
    wt = Window.partitionBy("event_type")
    z = daily.select(
        "event_type",
        "d",
        "n",
        F.count("*").over(wt).alias("cnt"),
        F.sum("n").over(wt).alias("sn"),
        F.sum(F.col("n") * F.col("n")).over(wt).alias("sn2"),
    )
    zvar = F.when(
        F.col("cnt") * F.col("sn2") - F.col("sn") * F.col("sn") > 0,
        (
            F.col("cnt").cast("double") * F.col("sn2")
            - F.col("sn").cast("double") * F.col("sn")
        )
        / F.col("cnt")
        / F.col("cnt"),
    )
    z_flag = (
        (F.col("cnt") > 1)
        & (F.col("cnt") * F.col("sn2") - F.col("sn") * F.col("sn") > 0)
        & (
            F.abs(
                (F.col("n") - F.col("sn").cast("double") / F.col("cnt"))
                / F.sqrt(zvar)
            )
            > 2.0
        )
    )
    zf = z.select("event_type", "d", z_flag.alias("z_flag"))
    w = Window.partitionBy("event_type").orderBy("d")
    num = None
    den = None
    for k in range(1, 9):
        wgt = 1 << (8 - k)
        lagk = F.lag("n", k).over(w)
        num_t = F.coalesce(lagk, F.lit(0)) * wgt
        den_t = F.when(lagk.isNull(), 0).otherwise(wgt)
        num = num_t if num is None else num + num_t
        den = den_t if den is None else den + den_t
    ef = daily.select(
        "event_type",
        "d",
        (
            (den > 0)
            & (F.col("n") > 2.0 * (num.cast("double") / F.when(den > 0, den)))
        ).alias("e_flag"),
    )
    j = zf.join(ef, ["event_type", "d"])
    c = j.agg(
        F.count("*").alias("n"),
        F.count_if(F.col("z_flag") & F.col("e_flag")).alias("both_f"),
        F.count_if(F.col("z_flag") & ~F.col("e_flag")).alias("only_z"),
        F.count_if(~F.col("z_flag") & F.col("e_flag")).alias("only_e"),
        F.count_if(~F.col("z_flag") & ~F.col("e_flag")).alias("neither"),
    )
    chance = (F.col("both_f") + F.col("only_z")) * (
        F.col("both_f") + F.col("only_e")
    ) + (F.col("only_e") + F.col("neither")) * (
        F.col("only_z") + F.col("neither")
    )
    kden = F.col("n") * F.col("n") - chance
    return c.select(
        F.col("n").alias("n_days"),
        F.col("both_f").alias("both_flag"),
        "only_z",
        "only_e",
        F.when(
            kden != 0,
            dround(
                (F.col("n") * (F.col("both_f") + F.col("neither")) - chance)
                .cast("double")
                / kden.cast("double"),
                6,
            ),
        ).alias("cohens_kappa"),
    )


# --------------------------------------------------------------------------
# Jensen-Shannon drift: the symmetric, bounded ([0, ln 2]) companion to
# psi_value_drift over the same halves/bins. PSI explodes when a bin
# empties on one side; JSD stays finite, so monitors alert on shape
# change rather than on smoothing artifacts. Same determinism
# discipline: per-bin ln terms are dround-pinned BEFORE the
# order-independent decimal sum (ln results are not finite decimals).
# Shuffle-bounded exactly like PSI: one map-combined (type, bin) count,
# then type-cardinality reductions.
# --------------------------------------------------------------------------


@query(
    "jensen_shannon_drift",
    oracle=f"""
WITH binned AS (
    SELECT event_type,
           LEAST(CAST(FLOOR(value / {_PSI_BINW}) AS BIGINT), {_PSI_BINS - 1})
               AS bin,
           CASE WHEN ts < TIMESTAMP '{_PSI_CUTOFF}' THEN 1 ELSE 0 END AS half
    FROM events
),
counts AS (
    SELECT event_type, bin,
           COUNT(*) FILTER (WHERE half = 1) AS c_a,
           COUNT(*) FILTER (WHERE half = 0) AS c_b
    FROM binned GROUP BY 1, 2
),
tot AS (
    SELECT event_type, SUM(c_a) AS t_a, SUM(c_b) AS t_b
    FROM counts GROUP BY 1
),
shares AS (
    SELECT c.event_type, t.t_a, t.t_b,
           (c.c_a + 0.5) / (t.t_a + 5.0) AS p,
           (c.c_b + 0.5) / (t.t_b + 5.0) AS q
    FROM counts c JOIN tot t USING (event_type)
),
terms AS (
    SELECT event_type, t_a, t_b,
           {sql_dround(
               "0.5 * (p * ln(p / ((p + q) / 2))"
               "       + q * ln(q / ((p + q) / 2)))", 9)} AS term
    FROM shares
)
SELECT event_type,
       CAST(t_a AS BIGINT) AS n_first,
       CAST(t_b AS BIGINT) AS n_second,
       CAST(CAST(SUM(CAST(term AS DECIMAL(27,9))) AS VARCHAR) AS DOUBLE) AS jsd_nats
FROM terms
GROUP BY 1, 2, 3
""",
)
def jensen_shannon_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of value distributions between halves.

    Reference analog: none (the reference has no drift monitor); this
    extends the repo's drift family (psi/ks) with the bounded
    symmetric divergence used to gate training-data refreshes.
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    binned = events.select(
        "event_type",
        F.least(
            F.floor(F.col("value") / _PSI_BINW).cast("bigint"),
            F.lit(_PSI_BINS - 1),
        ).alias("bin"),
        F.when(
            F.col("ts") < F.lit(_PSI_CUTOFF).cast("timestamp_ntz"), 1
        ).otherwise(0).alias("half"),
    )
    counts = binned.groupBy("event_type", "bin").agg(
        F.count_if(F.col("half") == 1).alias("c_a"),
        F.count_if(F.col("half") == 0).alias("c_b"),
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("c_a").alias("t_a"), F.sum("c_b").alias("t_b")
    )
    p = (F.col("c_a") + 0.5) / (F.col("t_a") + 5.0)
    q = (F.col("c_b") + 0.5) / (F.col("t_b") + 5.0)
    m = (p + q) / 2
    terms = counts.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "t_a",
        "t_b",
        dround(0.5 * (p * F.log(p / m) + q * F.log(q / m)), 9).alias("term"),
    )
    return terms.groupBy(
        "event_type",
        F.col("t_a").cast("bigint").alias("n_first"),
        F.col("t_b").cast("bigint").alias("n_second"),
    ).agg(
        F.sum(F.col("term").cast("decimal(27,9)"))
        .cast("double")
        .alias("jsd_nats")
    )


# --------------------------------------------------------------------------
# Wasserstein-1 (earth-mover) value drift — completes the drift family
# (PSI: binned likelihood ratio; KS: max CDF gap; JS: symmetric
# divergence) with the metric that weighs HOW FAR the mass moved, not
# just that it moved. Unlike the binned KS/PSI approximations this is
# EXACT on the distinct-cents grain: W1 = Σ_v |F_a(v)−F_b(v)|·gap(v),
# with |F_a−F_b| kept as the exact integer |cumA·n_b − cumB·n_a| and
# the division by n_a·n_b deferred to the end, so the reduce is an
# exact DECIMAL sum — order-independent at any parallelism. The Spark
# side computes BOTH the inclusive prefix sums and the next-value gap
# via the two-phase bucketed decomposition (per-bucket window + one
# broadcast bucket-offset/next-bucket-min table — LEAD across bucket
# edges comes from the next bucket's MIN); the oracle uses naive
# global windows, so the hash match proves the distributed rewrite,
# including the gap stitching at bucket boundaries.
#
# Scale: one groupBy(cents) + bounded bucket-grain broadcast — the
# mann_whitney posture. Split reuses the drift family's mid-corpus
# cutoff (_PSI_CUTOFF).
# --------------------------------------------------------------------------


@query(
    "wasserstein_value_drift",
    oracle=f"""
WITH src AS (
    SELECT {sql_qround('value', 2)} AS v,
           CASE WHEN ts < TIMESTAMP '{_PSI_CUTOFF}' THEN 1 ELSE 0 END
               AS is_a
    FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
),
vals AS (
    SELECT v,
           CAST(COUNT(*) FILTER (WHERE is_a = 1) AS BIGINT) AS ca,
           CAST(COUNT(*) FILTER (WHERE is_a = 0) AS BIGINT) AS cb
    FROM src GROUP BY 1
),
cum AS (
    SELECT v, ca, cb,
           CAST(SUM(ca) OVER w AS BIGINT) AS cuma,
           CAST(SUM(cb) OVER w AS BIGINT) AS cumb,
           LEAD(v) OVER (ORDER BY v) AS nextv
    FROM vals
    WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
),
tot AS (
    SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
    FROM vals
),
terms AS (
    SELECT CAST(SUM(ABS(CAST(c.cuma AS HUGEINT) * t.nb
                        - CAST(c.cumb AS HUGEINT) * t.na)
                 * (COALESCE(c.nextv, c.v) - c.v)) AS HUGEINT) AS s,
           CAST(COUNT(*) AS BIGINT) AS n_vals,
           MAX(t.na) AS na, MAX(t.nb) AS nb
    FROM cum c CROSS JOIN tot t
)
SELECT na AS n_before, nb AS n_after, n_vals AS n_distinct_values,
       {sql_dround('''CAST(s AS DOUBLE)
        / (CASE WHEN na > 0 AND nb > 0
           THEN CAST(na AS DOUBLE) * nb END) / 100.0''', 6)}
           AS w1_value
FROM terms
""",
)
def wasserstein_value_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact W1 drift before/after the mid-corpus cutoff."""
    events = load_tables(spark, sf_dir, "events")["events"]
    src = events.filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    ).select(
        qround(F.col("value"), 2).alias("v"),
        F.when(
            F.col("ts") < F.lit(_PSI_CUTOFF).cast("timestamp_ntz"), 1
        )
        .otherwise(0)
        .alias("is_a"),
    )
    vals = src.groupBy("v").agg(
        F.count_if(F.col("is_a") == 1).cast("bigint").alias("ca"),
        F.count_if(F.col("is_a") == 0).cast("bigint").alias("cb"),
    )
    # two-phase prefix sums + cross-bucket gap stitching
    wb = (
        Window.partitionBy("bucket")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wlead = Window.partitionBy("bucket").orderBy("v")
    in_bucket = (
        vals.withColumn("bucket", F.expr("v DIV 65536"))
        .withColumn("la", F.sum("ca").over(wb))
        .withColumn("lb", F.sum("cb").over(wb))
        .withColumn("lead_local", F.lead("v").over(wlead))
    )
    wo = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wnext = Window.orderBy("bucket")
    offsets = (
        in_bucket.groupBy("bucket")
        .agg(
            F.sum("ca").alias("ta"),
            F.sum("cb").alias("tb"),
            F.min("v").alias("minv"),
        )
        .select(
            "bucket",
            F.coalesce(F.sum("ta").over(wo), F.lit(0)).alias("offa"),
            F.coalesce(F.sum("tb").over(wo), F.lit(0)).alias("offb"),
            F.lead("minv").over(wnext).alias("next_min"),
        )
    )
    tot = vals.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    cum = (
        in_bucket.join(F.broadcast(offsets), "bucket")
        .join(F.broadcast(tot))
        .select(
            "v",
            (F.col("offa") + F.col("la")).cast("bigint").alias("cuma"),
            (F.col("offb") + F.col("lb")).cast("bigint").alias("cumb"),
            F.coalesce(
                F.col("lead_local"), F.col("next_min"), F.col("v")
            ).alias("nextv"),
            "na",
            "nb",
        )
    )
    terms = cum.agg(
        F.sum(
            F.abs(
                F.col("cuma").cast("decimal(38,0)") * F.col("nb")
                - F.col("cumb").cast("decimal(38,0)") * F.col("na")
            )
            * (F.col("nextv") - F.col("v"))
        ).alias("s"),
        F.count("*").cast("bigint").alias("n_vals"),
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
    )
    return terms.select(
        F.col("na").alias("n_before"),
        F.col("nb").alias("n_after"),
        F.col("n_vals").alias("n_distinct_values"),
        dround(
            F.col("s").cast("double")
            / F.when(
                (F.col("na") > 0) & (F.col("nb") > 0),
                F.col("na").cast("double") * F.col("nb"),
            )
            / 100.0,
            6,
        ).alias("w1_value"),
    )


# --------------------------------------------------------------------------
# DP Laplace release of the event-type histogram — the MECHANISM
# companion to dp_sensitivity_advisor (which only advises sensitivity).
# A per-key count histogram has L1 sensitivity 1, so Laplace(1/eps)
# noise per cell gives eps-DP. The noise is DERIVED, not drawn: a
# sha256-seeded uniform u in (-0.5, 0.5) pushed through the Laplace
# inverse CDF  -b*sign(u)*ln(1-2|u|)  — bit-identical in both engines
# (same recipe class as the JL sign matrix: hash-derived randomness,
# no stored model), so the "random" release is value-hash-checkable.
# The +0.5 offset keeps u strictly inside the open interval (h is an
# integer in [0, 2^32), so 1-2|u| can never hit ln(0)).
# Scale: one map-side seed + one groupBy(event_type) — the histogram
# grain, not the event grain, carries the noise math.
# --------------------------------------------------------------------------

_DP_EPS = 1.0


def _dp_uniform_sql(expr: str) -> str:
    return (
        f"((CAST(concat('0x', substring(sha256({expr}), 1, 8)) AS BIGINT)"
        " + 0.5) / 4294967296.0 - 0.5)"
    )


@query(
    "dp_laplace_histogram",
    oracle=f"""
WITH h AS (
    SELECT COALESCE(event_type, '__null__') AS event_type,
           CAST(COUNT(*) AS BIGINT) AS true_count
    FROM events GROUP BY 1
),
n AS (
    SELECT event_type, true_count,
           {_dp_uniform_sql("concat('dp:', event_type)")} AS u
    FROM h
)
SELECT event_type, true_count,
       {sql_dround(f"-(1.0 / {_DP_EPS}) * SIGN(u) * ln(1.0 - 2.0 * ABS(u))", 6)}
           AS noise,
       CAST(GREATEST(FLOOR(true_count
            + (-(1.0 / {_DP_EPS}) * SIGN(u) * ln(1.0 - 2.0 * ABS(u)))
            + 0.5), 0) AS BIGINT) AS released_count
FROM n
""",
)
def dp_laplace_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eps-DP Laplace release of the event-type histogram.

    The released count rounds via the explicit FLOOR(x+0.5) (DuckDB's
    double→int cast ROUNDS while Spark's TRUNCATES — the
    uplift_qini_deciles precedent) and clamps at 0 (counts are
    non-negative post-processing, which preserves DP). NULL event_type
    is released as its own '__null__' cell — hiding it would leak the
    presence of the NULL class. Reference has no privacy ops; extends
    the k-anonymity/l-diversity/t-closeness/DP-advisor family with the
    actual release mechanism.
    """
    ev = load_tables(spark, sf_dir, "events")["events"]
    h = ev.groupBy(
        F.coalesce(F.col("event_type"), F.lit("__null__")).alias("event_type")
    ).agg(F.count("*").cast("bigint").alias("true_count"))
    u = (
        (
            F.conv(
                F.substring(
                    F.sha2(F.concat(F.lit("dp:"), F.col("event_type")), 256),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            + 0.5
        )
        / 4294967296.0
        - 0.5
    )
    n = h.select("event_type", "true_count", u.alias("u"))
    noise = (
        F.lit(-(1.0 / _DP_EPS))
        * F.signum(F.col("u"))
        * F.log(1.0 - 2.0 * F.abs(F.col("u")))
    )
    return n.select(
        "event_type",
        "true_count",
        dround(noise, 6).alias("noise"),
        F.greatest(
            F.floor(F.col("true_count") + noise + 0.5), F.lit(0)
        )
        .cast("bigint")
        .alias("released_count"),
    )


# --------------------------------------------------------------------------
# DP top-k via report-noisy-max (one-shot Gumbel trick): adding
# Gumbel(2k/eps) noise to each utility and taking the top k is
# equivalent to k rounds of the exponential mechanism (Durfee &
# Rogers 2019). Companion mechanism to dp_laplace_histogram — counts
# get Laplace, SELECTION gets Gumbel. Noise is hash-derived like the
# Laplace one (u in (0,1) open on both ends via the +0.5 offset;
# Gumbel = -ln(-ln(u))), so the "random" selection is value-hash-
# checkable. Released: the k winners and their noisy rank — true
# counts of non-winners stay unreleased (that is the point of the
# mechanism; winners' counts are assumed released via the Laplace
# histogram's budget).
# --------------------------------------------------------------------------

_DPTK_K = 3
_DPTK_EPS = 1.0


@query(
    "dp_topk_noisy_max",
    oracle=f"""
WITH h AS (
    SELECT COALESCE(event_type, '__null__') AS event_type,
           CAST(COUNT(*) AS BIGINT) AS true_count
    FROM events GROUP BY 1
),
n AS (
    SELECT event_type, true_count,
           ((CAST(concat('0x', substring(sha256(concat('dptk:', event_type)),
                 1, 8)) AS BIGINT) + 0.5) / 4294967296.0) AS u
    FROM h
),
sc AS (
    SELECT event_type,
           {sql_dround(
               f"true_count + (2.0 * {_DPTK_K} / {_DPTK_EPS})"
               " * (-ln(-ln(u)))", 6)} AS noisy_score
    FROM n
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY noisy_score DESC, event_type)
            AS INTEGER) AS noisy_rank,
       event_type, noisy_score
FROM sc
ORDER BY noisy_rank
LIMIT {_DPTK_K}
""",
)
def dp_topk_noisy_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eps-DP top-k selection over event types (one-shot Gumbel).

    Scale: the noise/selection math runs on the histogram grain after
    one groupBy; the finisher is a k-row TakeOrderedAndProject. The
    tie-break on event_type makes the released ranking total-ordered
    (a Gumbel tie is measure-zero but hash-derived noise is discrete).
    """
    ev = load_tables(spark, sf_dir, "events")["events"]
    h = ev.groupBy(
        F.coalesce(F.col("event_type"), F.lit("__null__")).alias("event_type")
    ).agg(F.count("*").cast("bigint").alias("true_count"))
    u = (
        F.conv(
            F.substring(
                F.sha2(F.concat(F.lit("dptk:"), F.col("event_type")), 256),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        + 0.5
    ) / 4294967296.0
    score = F.col("true_count") + F.lit(2.0 * _DPTK_K / _DPTK_EPS) * (
        -F.log(-F.log(u))
    )
    sc = h.select("event_type", dround(score, 6).alias("noisy_score"))
    w = Window.orderBy(F.col("noisy_score").desc(), "event_type")
    return (
        sc.withColumn("noisy_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("noisy_rank") <= _DPTK_K)
        .select("noisy_rank", "event_type", "noisy_score")
        .orderBy("noisy_rank")
    )
