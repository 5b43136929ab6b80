"""Time-series utilities: calendar gap-filling (resampling), value
histograms, per-series regression slope — the ops a daily-grain rollup
pipeline needs beyond plain windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import (
    CENTS_CAP,
    dround,
    dsum,
    qround,
    sql_dround,
    sql_dsum,
    sql_qround,
)
from ..functions.numeric import _DR_MAX
from ..session import load_tables
from .registry import query

# --------------------------------------------------------------------------
# Gap filling: dense daily calendar per series via sequence+explode,
# left join the sparse aggregates, zero-fill. (The resample/asfreq
# analog — a cumulative series stays correct through empty days.)
# --------------------------------------------------------------------------


@query(
    "gap_fill_daily",
    oracle="""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
    FROM events GROUP BY 1, 2
), bounds AS (
    SELECT event_type, MIN(d) AS lo, MAX(d) AS hi FROM daily GROUP BY 1
), calendar AS (
    SELECT event_type, CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
    FROM bounds
)
SELECT c.event_type, c.d, COALESCE(daily.n, 0) AS n,
       (daily.n IS NULL) AS was_gap
FROM calendar c LEFT JOIN daily
  ON c.event_type = daily.event_type AND c.d = daily.d
""",
)
def gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").alias("n"))
    bounds = daily.groupBy("event_type").agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    )
    calendar = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d"),
    )
    return (
        calendar.join(daily, ["event_type", "d"], "left")
        .select(
            "event_type",
            "d",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.col("n").isNull().alias("was_gap"),
        )
    )


# --------------------------------------------------------------------------
# Histogram via width_bucket (fixed bins — the distributed histogram:
# one pass, one small result, no sort)
# --------------------------------------------------------------------------


@query(
    "value_histogram",
    oracle="""
SELECT CAST(CASE WHEN l_quantity < 0.0 THEN 0
            WHEN l_quantity >= 50.0 THEN 11
            ELSE FLOOR((l_quantity - 0.0) / 50.0 * 10) + 1 END AS INTEGER)
           AS bucket,
       COUNT(*) AS n,
       CAST(MIN(l_quantity) AS DOUBLE) AS bucket_min,
       CAST(MAX(l_quantity) AS DOUBLE) AS bucket_max
FROM lineitem
GROUP BY 1
""",
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explicit width_bucket formula (same IEEE ops both engines; DuckDB
    # has no width_bucket, and matching Spark's boundary semantics by
    # hand is safer than trusting two implementations to agree)
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    q = F.col("l_quantity")
    bucket = (
        F.when(q < 0.0, 0)
        .when(q >= 50.0, 11)
        .otherwise(F.floor((q - 0.0) / 50.0 * 10) + 1)
        .cast("int")
    )
    return (
        li.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("l_quantity").cast("double").alias("bucket_min"),
            F.max("l_quantity").cast("double").alias("bucket_max"),
        )
    )


# --------------------------------------------------------------------------
# Per-series least-squares slope over (day_index, daily_count) from
# exact decimal sums — same formula both engines (trend strength as a
# number, complementing the INCREASING/DECREASING classifier)
# --------------------------------------------------------------------------


@query(
    "trend_slope",
    oracle=f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), idx AS (
    SELECT event_type, n,
           CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS BIGINT) AS x
    FROM daily
), sums AS (
    SELECT event_type,
           COUNT(*) AS cnt,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(n) AS BIGINT) AS sy,
           CAST(SUM(x * x) AS BIGINT) AS sx2,
           CAST(SUM(x * n) AS BIGINT) AS sxy
    FROM idx GROUP BY 1
)
SELECT event_type, cnt,
       {sql_dround('(cnt * sxy - sx * sy) * 1.0 / (cnt * sx2 - sx * sx)', 6)}
           AS slope_per_day
FROM sums
""",
)
def trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # timeless events cannot anchor a regression day index
    events = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("ts").isNotNull()
    )
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("d")
    idx = daily.withColumn("x", F.row_number().over(w).cast("long"))
    sums = idx.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.sum("x").alias("sx"),
        F.sum("n").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("x") * F.col("n")).alias("sxy"),
    )
    slope = (
        (F.col("cnt") * F.col("sxy") - F.col("sx") * F.col("sy")) * 1.0
        / (F.col("cnt") * F.col("sx2") - F.col("sx") * F.col("sx"))
    )
    return sums.select(
        "event_type", "cnt", dround(slope, 6).alias("slope_per_day")
    )


# --------------------------------------------------------------------------
# TF-IDF top terms per document (the classic text-relevance op): tf from
# exploded tokens, df across docs, score = tf * ln(N/df); top-3 terms
# per doc ranked on the ROUNDED score with word tiebreak.
# --------------------------------------------------------------------------


@query(
    "tfidf_top_terms",
    oracle=f"""
WITH tokens AS (
    SELECT doc_id,
           unnest(string_split_regex(TRIM(LOWER(text)), '\\s+')) AS word
    FROM documents
), tf AS (
    SELECT doc_id, word, COUNT(*) AS tf FROM tokens GROUP BY 1, 2
), df AS (
    SELECT word, COUNT(DISTINCT doc_id) AS df FROM tokens GROUP BY 1
), n_docs AS (
    SELECT COUNT(DISTINCT doc_id) AS n FROM documents
), scored AS (
    SELECT tf.doc_id, tf.word,
           {sql_dround('tf.tf * ln(n_docs.n * 1.0 / df.df)', 6)} AS tfidf
    FROM tf JOIN df USING (word) CROSS JOIN n_docs
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, word
    ) AS rn
    FROM scored
)
SELECT doc_id, word, tfidf, CAST(rn AS INTEGER) AS rn
FROM ranked WHERE rn <= 3
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    tokens = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"),
    )
    tf = tokens.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df = tokens.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "word",
            dround(
                F.col("tf") * F.log(F.col("n") * 1.0 / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "word", "tfidf", "rn")
    )


# --------------------------------------------------------------------------
# SCD2 history build: collapse an event log into slowly-changing-
# dimension type-2 validity intervals — consecutive same-value runs
# merge, each version row carries [valid_from, valid_to) with NULL
# valid_to for the current version. The warehouse-standard history
# shape the reference's truncate-reload model cannot produce.
# --------------------------------------------------------------------------


@query(
    "scd2_history",
    oracle="""
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type
                THEN 1 ELSE 0 END AS is_change
    FROM events
    WHERE ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
    SELECT user_id, event_type, ts,
           SUM(is_change) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
           ) AS version
    FROM ordered
),
versions AS (
    SELECT user_id, event_type, CAST(version AS INTEGER) AS version,
           MIN(ts) AS valid_from,
           COUNT(*) AS n_events
    FROM runs GROUP BY user_id, event_type, version
)
SELECT user_id, event_type, version, valid_from,
       LEAD(valid_from) OVER (
           PARTITION BY user_id ORDER BY valid_from, version
       ) AS valid_to,
       n_events
FROM versions
""",
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle on user_id serves every window (same partitioning
    reused across lag → run-id → lead); per-user partitions are
    bounded by per-user activity, never corpus size."""
    from pyspark.sql.window import Window

    # timeless events cannot sequence a change history
    # split=: single-row-group input, and every window below keys on
    # user_id — the split's hash exchange IS the window shuffle
    # (interleaved A/B 0.65 -> 0.43 s, plans/r13/ab_split.json)
    events = load_tables(spark, sf_dir, "events", split=("events",))[
        "events"
    ].filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = events.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        )
        .otherwise(0)
        .alias("is_change"),
    )
    runs = ordered.withColumn(
        "version",
        F.sum("is_change").over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    versions = runs.groupBy(
        "user_id", "event_type", F.col("version").cast("int").alias("version")
    ).agg(
        F.min("ts").alias("valid_from"),
        F.count("*").alias("n_events"),
    )
    wv = Window.partitionBy("user_id").orderBy("valid_from", "version")
    return versions.select(
        "user_id",
        "event_type",
        "version",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        "n_events",
    )


# --------------------------------------------------------------------------
# Ordered funnel conversion (view → click → purchase): per user, a step
# counts only if it happens AFTER the previous step — min event time per
# step, chained strictly-greater comparisons. ONE aggregation over
# events (conditional mins fuse into a single grouped pass), then a
# funnel-sized rollup: the standard product-analytics op, and the
# single-pass shape is exactly how it must run at 100 TB (no
# self-joins, no per-step scans).
# --------------------------------------------------------------------------


@query(
    "funnel_conversion",
    oracle="""
WITH per_user AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
           MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
    FROM events
    GROUP BY user_id
),
flags AS (
    SELECT user_id,
           (t_view IS NOT NULL) AS s1,
           (t_view IS NOT NULL AND t_click > t_view) AS s2,
           (t_view IS NOT NULL AND t_click > t_view
            AND t_purchase > t_click) AS s3
    FROM per_user
)
SELECT COUNT(*) AS n_users,
       COUNT(*) FILTER (WHERE s1) AS viewed,
       COUNT(*) FILTER (WHERE s2) AS clicked_after_view,
       COUNT(*) FILTER (WHERE s3) AS purchased_after_click
FROM flags
""",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    per_user = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        ),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "t_click"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("t_purchase"),
    )
    s1 = F.col("t_view").isNotNull()
    s2 = s1 & (F.col("t_click") > F.col("t_view"))
    s3 = s2 & (F.col("t_purchase") > F.col("t_click"))
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count_if(s1).alias("viewed"),
        F.count_if(s2).alias("clicked_after_view"),
        F.count_if(s3).alias("purchased_after_click"),
    )


# --------------------------------------------------------------------------
# Retention cohorts: users grouped by first-seen week, activity counted
# per subsequent week offset — the (cohort_week, week_offset) retention
# matrix. Two grouped passes (first-seen per user, then user-week
# activity joined to cohorts) — both shuffle on user_id so the
# exchange is reused; output is matrix-sized, not data-sized.
# --------------------------------------------------------------------------


@query(
    "retention_cohorts",
    oracle="""
WITH firsts AS (
    SELECT user_id,
           date_trunc('week', MIN(ts)) AS cohort_week
    FROM events GROUP BY user_id
),
activity AS (
    SELECT DISTINCT user_id, date_trunc('week', ts) AS week
    FROM events
)
SELECT f.cohort_week,
       CAST((a.week - f.cohort_week) / 7 AS BIGINT) AS week_offset,
       COUNT(*) AS n_active_users
FROM firsts f JOIN activity a USING (user_id)
GROUP BY 1, 2
""",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.numeric import epoch_seconds

    events = load_tables(spark, sf_dir, "events")["events"]
    # date_trunc returns an INSTANT even on NTZ input — cast straight
    # to DATE (never emit instant columns: collect() converts them via
    # the host OS zone; DuckDB's date_trunc('week') is a DATE already)
    firsts = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = events.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    ).distinct()
    return (
        firsts.join(activity, "user_id")
        .select(
            "cohort_week",
            (
                F.datediff(F.col("week"), F.col("cohort_week")) / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_active_users"))
    )


# --------------------------------------------------------------------------
# Gap filling by LINEAR INTERPOLATION (the pandas interpolate analog;
# gap_fill_daily's zero-fill sibling for continuous measures): dense
# calendar per series, missing days get prev + (next-prev)·w where w is
# the integer-day fraction — one window pass each direction
# (last_value/first_value IGNORE NULLS), identical IEEE arithmetic in
# both engines. Edge days with no neighbor on one side keep the
# neighbor they have. Per-series windows partition by event_type — no
# global sort; the dense calendar is bounded by (series × days), not
# event count.
# --------------------------------------------------------------------------


@query(
    "gap_fill_interpolate",
    oracle=f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d,
           {sql_dround(sql_dsum('value'))} AS v
    FROM events GROUP BY 1, 2
), bounds AS (
    SELECT event_type, MIN(d) AS lo, MAX(d) AS hi FROM daily GROUP BY 1
), calendar AS (
    SELECT event_type,
           CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
    FROM bounds
), joined AS (
    SELECT c.event_type, c.d, daily.v
    FROM calendar c LEFT JOIN daily
      ON c.event_type = daily.event_type AND c.d = daily.d
), ctx AS (
    SELECT event_type, d, v,
           LAST_VALUE(v IGNORE NULLS) OVER w_prev AS pv,
           LAST_VALUE(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
               OVER w_prev AS pd,
           FIRST_VALUE(v IGNORE NULLS) OVER w_next AS nv,
           FIRST_VALUE(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
               OVER w_next AS nd
    FROM joined
    WINDOW
      w_prev AS (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      w_next AS (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, d,
       {sql_dround('''CASE
           WHEN v IS NOT NULL THEN v
           WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
               pv + (nv - pv) * ((d - pd) * 1.0 / (nd - pd))
           ELSE COALESCE(pv, nv) END''')} AS v_filled,
       (v IS NULL) AS was_gap
FROM ctx
""",
)
def gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import interpolate_daily

    events = load_tables(spark, sf_dir, "events")["events"]
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(dround(dsum("value")).alias("v"))
    out = interpolate_daily(daily, "event_type", "d", "v")
    return out.select(
        "event_type", "d", dround("v_filled").alias("v_filled"), "was_gap"
    )


# --------------------------------------------------------------------------
# Daily anomaly detection (3σ-style monitoring): per-series z-scores of
# daily counts against the series' own mean/variance. All moments come
# from exact integer sums (Σn, Σn² as BIGINT — associative, any
# partitioning), divided once at the end in a fixed expression order,
# so z is bit-identical cross-engine. Stats are group-bounded (one row
# per series) and broadcast back over the daily table — at 100 TB the
# daily rollup is matview-sized and this is a map-only second pass.
# --------------------------------------------------------------------------


@query(
    "anomaly_days_zscore",
    oracle=f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
stats AS (
    SELECT event_type,
           COUNT(*) AS cnt,
           CAST(SUM(n) AS BIGINT) AS sn,
           CAST(SUM(n * n) AS BIGINT) AS sn2
    FROM daily GROUP BY 1
)
SELECT d.event_type, d.d, d.n,
       CASE WHEN s.cnt > 1 AND s.cnt * s.sn2 - s.sn * s.sn > 0 THEN
       {sql_dround('''(d.n - s.sn * 1.0 / s.cnt)
        / sqrt((s.cnt * s.sn2 - s.sn * s.sn) * 1.0
               / (s.cnt * (s.cnt - 1.0)))''')} END AS z,
       CASE WHEN s.cnt > 1 AND s.cnt * s.sn2 - s.sn * s.sn > 0 THEN
       ABS((d.n - s.sn * 1.0 / s.cnt)
        / sqrt((s.cnt * s.sn2 - s.sn * s.sn) * 1.0
               / (s.cnt * (s.cnt - 1.0)))) > 2.0 END AS is_anomaly
FROM daily d JOIN stats s USING (event_type)
""",
)
def anomaly_days_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").alias("n"))
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.sum("n").alias("sn"),
        F.sum(F.col("n") * F.col("n")).alias("sn2"),
    )
    j = daily.join(F.broadcast(stats), "event_type")
    mean = F.col("sn") * 1.0 / F.col("cnt")
    var = (
        (F.col("cnt") * F.col("sn2") - F.col("sn") * F.col("sn")) * 1.0
        / (F.col("cnt") * (F.col("cnt") - 1.0))
    )
    z = (F.col("n") - mean) / F.sqrt(var)
    # Degenerate series (single day, or zero variance) are explicit NULL
    # on BOTH engines — never lean on x/0 semantics: DuckDB >= 1.1
    # defaults ieee_floating_point_ops=true (1.0/0.0 -> inf), so a
    # driver-side DuckDB upgrade would silently flip those rows.
    defined = (F.col("cnt") > 1) & (
        F.col("cnt") * F.col("sn2") - F.col("sn") * F.col("sn") > 0
    )
    return j.select(
        "event_type",
        "d",
        "n",
        F.when(defined, dround(z)).alias("z"),
        F.when(defined, F.abs(z) > 2.0).alias("is_anomaly"),
    )


# --------------------------------------------------------------------------
# Event-type co-occurrence with lift (market-basket over the 5-type
# domain): which behaviors travel together across users. Pairs generate
# IN-ROW from each user's sorted distinct-type array (≤ k²/2 per user,
# map-side after one distinct agg — no self-join of the user-type table,
# whose shuffle would carry every user twice at 100 TB); the type-level
# marginals are a broadcast dim. lift = P(a∧b)/(P(a)·P(b)) from exact
# integer counts, one double division in fixed order.
# --------------------------------------------------------------------------


@query(
    "event_type_cooccurrence",
    oracle=f"""
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events
            WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b
    FROM ut a JOIN ut b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
),
tot AS (SELECT COUNT(DISTINCT user_id) AS nu FROM events),
singles AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1),
co AS (
    SELECT type_a, type_b, COUNT(*) AS n_both
    FROM pairs GROUP BY 1, 2
)
SELECT co.type_a, co.type_b, co.n_both,
       {sql_dround('(co.n_both * tot.nu * 1.0) / (sa.n * sb.n)', 6)} AS lift
FROM co
JOIN singles sa ON sa.event_type = co.type_a
JOIN singles sb ON sb.event_type = co.type_b
CROSS JOIN tot
""",
)
def event_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    # NULL user_id would form a groupBy group DuckDB's pair self-join
    # drops, and collect_set silently drops NULL event_type while SQL
    # DISTINCT keeps it — filter both keys on both sides.
    typed = events.filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    per_user = typed.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    pair_expr = (
        "flatten(transform(types, (a, i) -> "
        "transform(slice(types, i + 2, size(types)), b -> struct(a, b))))"
    )
    pairs = per_user.select(
        F.explode(F.expr(pair_expr)).alias("p")
    ).select(F.col("p.a").alias("type_a"), F.col("p.b").alias("type_b"))
    co = pairs.groupBy("type_a", "type_b").agg(
        F.count("*").alias("n_both")
    )
    singles = (
        typed.select("user_id", "event_type")
        .distinct()
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    tot = events.agg(F.countDistinct("user_id").alias("nu"))
    sa = singles.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("na")
    )
    sb = singles.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("nb")
    )
    return (
        co.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            "n_both",
            dround(
                (F.col("n_both") * F.col("nu") * 1.0)
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# Funnel WITHIN session — operator composition (sessionize ∘ funnel):
# the per-session conversion metric product teams actually track. Same
# single-pass shape as funnel_conversion, keyed by (user, session)
# instead of user; the session ids come from the shared sessionize
# operator, so the lag-gap boundary rule ('>' splits, exact-gap merges)
# is pinned here too.
# --------------------------------------------------------------------------


@query(
    "session_funnel_conversion",
    oracle="""
WITH e AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN LAG(ts) OVER w IS NULL
                     OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
    SELECT *, SUM(is_new) OVER (
        PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
    ) AS session_id
    FROM e
), per_session AS (
    SELECT user_id, session_id,
           MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
           MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
    FROM s GROUP BY 1, 2
)
SELECT COUNT(*) AS n_sessions,
       COUNT(*) FILTER (WHERE t_view IS NOT NULL) AS viewed,
       COUNT(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view)
           AS clicked_after_view,
       COUNT(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view
                          AND t_purchase > t_click)
           AS purchased_full_funnel
FROM per_session
""",
)
def session_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import sessionize

    events = load_tables(spark, sf_dir, "events")["events"]
    # Shared NULL-key filter, plan AND oracle (see sessionization).
    events = events.filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    s = sessionize(
        events, user_col="user_id", ts_col="ts", gap_seconds=1800,
        order_tiebreak="event_id",
    )
    per_session = s.groupBy("user_id", "session_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        ),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "t_click"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("t_purchase"),
    )
    s1 = F.col("t_view").isNotNull()
    s2 = s1 & (F.col("t_click") > F.col("t_view"))
    s3 = s2 & (F.col("t_purchase") > F.col("t_click"))
    return per_session.agg(
        F.count("*").alias("n_sessions"),
        F.count_if(s1).alias("viewed"),
        F.count_if(s2).alias("clicked_after_view"),
        F.count_if(s3).alias("purchased_full_funnel"),
    )


# --------------------------------------------------------------------------
# Trailing-window distinct count (7-day rolling active users): COUNT
# DISTINCT is not window-frameable in either engine, so the rolling
# set is materialized as a bounded fan-out — each (day, user) activity
# pair contributes to the 7 calendar days it remains "active" for,
# then one distinct-count per target day. Fan-out is map-side (x7,
# before any shuffle), the contributing pairs are deduped FIRST (one
# row per user-day, not per event), and target days are clipped to
# the observed calendar via a broadcast semi-join. At 100 TB: shuffle
# 1 dedups to user-day grain, shuffle 2 counts per day — both
# map-combined; no self-join of the raw event table.
# --------------------------------------------------------------------------


@query(
    "rolling_distinct_users_7d",
    oracle="""
WITH pairs AS (
    SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
),
days AS (SELECT DISTINCT d FROM pairs)
SELECT t.d, COUNT(DISTINCT p.user_id) AS users_7d
FROM days t JOIN pairs p ON p.d BETWEEN t.d - 6 AND t.d
GROUP BY t.d
""",
)
def rolling_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    pairs = events.select(
        F.to_date("ts").alias("d"), "user_id"
    ).distinct()
    days = pairs.select("d").distinct().withColumnRenamed("d", "cal_d")
    fanned = pairs.select(
        F.explode(
            F.sequence(F.col("d"), F.date_add("d", 6))
        ).alias("target_d"),
        "user_id",
    )
    return (
        fanned.join(
            F.broadcast(days), fanned.target_d == days.cal_d, "left_semi"
        )
        .groupBy(F.col("target_d").alias("d"))
        .agg(F.count_distinct("user_id").alias("users_7d"))
    )


# --------------------------------------------------------------------------
# Event transition matrix (path analysis): P(next event type | current)
# per user journey. One lag window per user (arrival order pinned by
# (ts, event_id)), then pair counts — the Markov-chain view of product
# flows. Transition cardinality is k² (≤25 here) regardless of scale;
# the row-probability denominator is a broadcast-sized marginal.
# --------------------------------------------------------------------------


@query(
    "event_transition_matrix",
    oracle=f"""
WITH seq AS (
    SELECT event_type AS from_type,
           LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS to_type
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
pairs AS (
    SELECT from_type, to_type, COUNT(*) AS n
    FROM seq WHERE to_type IS NOT NULL
    GROUP BY 1, 2
),
marg AS (
    SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_total
    FROM pairs GROUP BY 1
)
SELECT p.from_type, p.to_type, p.n,
       {sql_dround('p.n * 1.0 / m.row_total', 6)} AS p_transition
FROM pairs p JOIN marg m USING (from_type)
""",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    # Shared NULL-key filter, plan AND oracle: a NULL ts would order
    # NULLS FIRST here vs DuckDB's NULLS LAST, shifting the lead chain.
    events = events.filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    pairs = (
        seq.filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    marg = pairs.groupBy("from_type").agg(F.sum("n").alias("row_total"))
    return (
        pairs.join(F.broadcast(marg), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            dround(F.col("n") * 1.0 / F.col("row_total"), 6).alias(
                "p_transition"
            ),
        )
    )


# --------------------------------------------------------------------------
# Time-to-conversion by signup cohort (survival-lite): per user, first
# signup and first subsequent purchase from ONE grouped pass
# (conditional mins — no self-join); cohort = signup week. Conversion
# delay stats ride exact integer seconds; the one division per cohort
# row is dround'ed. Cohort table is weeks-cardinality.
# --------------------------------------------------------------------------


@query(
    "time_to_conversion_cohorts",
    oracle=f"""
WITH per_user AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_first_purchase
    FROM events GROUP BY 1
),
conv AS (
    SELECT user_id,
           CAST(date_trunc('week', t_signup) AS DATE) AS cohort_week,
           CASE WHEN t_first_purchase > t_signup
                THEN CAST(epoch(t_first_purchase) - epoch(t_signup) AS BIGINT)
           END AS delay_s
    FROM per_user WHERE t_signup IS NOT NULL
)
SELECT cohort_week,
       COUNT(*) AS n_signups,
       COUNT(delay_s) AS n_converted,
       {sql_dround('COUNT(delay_s) * 1.0 / COUNT(*)')} AS conversion_rate,
       {sql_dround('SUM(delay_s) * 1.0 / COUNT(delay_s) / 3600.0', 2)}
           AS avg_hours_to_convert
FROM conv
GROUP BY 1
""",
)
def time_to_conversion_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    per_user = events.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts"))
        ).alias("t_signup"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("t_first_purchase"),
    )
    conv = per_user.filter(F.col("t_signup").isNotNull()).select(
        F.date_trunc("week", "t_signup").cast("date").alias("cohort_week"),
        F.when(
            F.col("t_first_purchase") > F.col("t_signup"),
            F.expr("timestampdiff(SECOND, t_signup, t_first_purchase)"),
        ).cast("bigint").alias("delay_s"),
    )
    return conv.groupBy("cohort_week").agg(
        F.count("*").alias("n_signups"),
        F.count("delay_s").alias("n_converted"),
        dround(F.count("delay_s") * 1.0 / F.count("*")).alias(
            "conversion_rate"
        ),
        dround(
            F.sum("delay_s") * 1.0 / F.count("delay_s") / 3600.0, 2
        ).alias("avg_hours_to_convert"),
    )


# --------------------------------------------------------------------------
# RFM segmentation — the classic customer-value grid, built the
# scale-correct way: quintile CUTOFFS are computed once as a 12-value
# aggregate, broadcast back, and every customer is scored by plain
# comparisons. No ntile: ntile over customers is an unpartitioned
# global sort (one task holding every customer); the cutoff-broadcast
# form is a map-only second pass. Cutoffs are dround(6)-pinned on both
# engines before comparing so boundary assignment is deterministic.
# --------------------------------------------------------------------------

_RFM_REF_DATE = "2001-09-01"


def _rfm_sql_cuts(metric: str, tag: str) -> str:
    return ", ".join(
        sql_dround(f"quantile_cont({metric}, {p})", 6) + f" AS {tag}{i + 1}"
        for i, p in enumerate((0.2, 0.4, 0.6, 0.8))
    )


@query(
    "rfm_segmentation",
    oracle=f"""
WITH per_cust AS (
    SELECT o_custkey,
           date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                     DATE '{_RFM_REF_DATE}') AS r_days,
           COUNT(*) AS f_orders,
           {sql_dsum('o_totalprice', 2)} AS m_value
    FROM orders GROUP BY 1
),
cuts AS (
    SELECT {_rfm_sql_cuts('r_days', 'rc')},
           {_rfm_sql_cuts('f_orders', 'fc')},
           {_rfm_sql_cuts('m_value', 'mc')}
    FROM per_cust
),
scored AS (
    SELECT p.o_custkey, p.m_value,
           1 + CAST(p.r_days > c.rc1 AS INT) + CAST(p.r_days > c.rc2 AS INT)
             + CAST(p.r_days > c.rc3 AS INT) + CAST(p.r_days > c.rc4 AS INT)
               AS r_bucket,
           1 + CAST(p.f_orders > c.fc1 AS INT) + CAST(p.f_orders > c.fc2 AS INT)
             + CAST(p.f_orders > c.fc3 AS INT) + CAST(p.f_orders > c.fc4 AS INT)
               AS f_bucket,
           1 + CAST(p.m_value > c.mc1 AS INT) + CAST(p.m_value > c.mc2 AS INT)
             + CAST(p.m_value > c.mc3 AS INT) + CAST(p.m_value > c.mc4 AS INT)
               AS m_bucket
    FROM per_cust p CROSS JOIN cuts c
)
SELECT r_bucket, f_bucket, m_bucket,
       COUNT(*) AS n_customers,
       {sql_dround(sql_dsum('m_value', 2) + ' / COUNT(*)', 4)}
           AS avg_monetary
FROM scored
GROUP BY 1, 2, 3
""",
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/Frequency/Monetary quintile grid over ordering customers.

    Plan: one grouped pass builds (R, F, M) per customer; a 12-number
    cutoff row (exact quintiles, dround(6)-pinned) is broadcast back;
    scoring is comparison arithmetic — map-only. The segment grid is
    ≤125 rows. At 100 TB swap the exact percentile aggregate for
    approx_percentile (group_quantiles_approx pattern); the rest of
    the plan is unchanged.
    """
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    per_cust = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.lit(_RFM_REF_DATE).cast("date"),
            F.max("o_orderdate").cast("date"),
        ).alias("r_days"),
        F.count("*").alias("f_orders"),
        dsum("o_totalprice", 2).alias("m_value"),
    )
    # materialize once: the quintile-cutoff agg AND the scoring pass
    # both consume per_cust — without the checkpoint each re-runs the
    # full orders scan + group (corpus_overlap_sources precedent;
    # interleaved A/B 1.22 -> 1.11 s). ~N_customers rows, bounded.
    per_cust = per_cust.localCheckpoint(eager=True)

    def _cuts(metric: str, tag: str):
        return [
            dround(F.expr(f"percentile({metric}, {p})"), 6).alias(
                f"{tag}{i + 1}"
            )
            for i, p in enumerate((0.2, 0.4, 0.6, 0.8))
        ]

    cuts = per_cust.agg(
        *_cuts("r_days", "rc"), *_cuts("f_orders", "fc"),
        *_cuts("m_value", "mc")
    )

    def _bucket(metric: str, tag: str):
        s = F.lit(1)
        for i in range(1, 5):
            s = s + (F.col(metric) > F.col(f"{tag}{i}")).cast("int")
        return s

    scored = per_cust.crossJoin(F.broadcast(cuts)).select(
        "m_value",
        _bucket("r_days", "rc").alias("r_bucket"),
        _bucket("f_orders", "fc").alias("f_bucket"),
        _bucket("m_value", "mc").alias("m_bucket"),
    )
    return scored.groupBy("r_bucket", "f_bucket", "m_bucket").agg(
        F.count("*").alias("n_customers"),
        dround(dsum("m_value", 2) / F.count("*"), 4).alias("avg_monetary"),
    )


# --------------------------------------------------------------------------
# Transition dwell times: the time-dimension companion to
# event_transition_matrix — for each (prev_type -> type) edge, how
# long users linger before making that transition. Exact median/p90
# over integer second gaps; the group space is k² (≤25 rows), so the
# percentile state is trivially bounded even though the lag window
# scans everything (partitioned by user — no global sort).
# --------------------------------------------------------------------------


@query(
    "transition_dwell_times",
    oracle=f"""
WITH seq AS (
    SELECT user_id, event_type, ts,
           LAG(event_type) OVER w AS prev_type,
           LAG(ts) OVER w AS prev_ts
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT prev_type, event_type,
       COUNT(*) AS n_transitions,
       {sql_dround('quantile_cont(date_diff('
                   "'microsecond', prev_ts, ts), 0.5) / 1e6", 4)}
           AS median_gap_s,
       {sql_dround('quantile_cont(date_diff('
                   "'microsecond', prev_ts, ts), 0.9) / 1e6", 4)}
           AS p90_gap_s
FROM seq
WHERE prev_type IS NOT NULL
GROUP BY 1, 2
""",
)
def transition_dwell_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/p90 dwell before each event-type transition."""
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    # Shared NULL-key filter, plan AND oracle (see event_transition_matrix).
    events = events.filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type",
        "ts",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("ts").over(w).alias("prev_ts"),
    ).filter(F.col("prev_type").isNotNull())
    # microsecond diff, not SECOND: DuckDB's date_diff('second') counts
    # second-BOUNDARY crossings while Spark truncates the real interval;
    # at full µs resolution the two definitions coincide exactly.
    return seq.groupBy("prev_type", "event_type").agg(
        F.count("*").alias("n_transitions"),
        dround(F.expr(
            "percentile(timestampdiff(MICROSECOND, prev_ts, ts), 0.5)"
        ) / 1e6, 4).alias("median_gap_s"),
        dround(F.expr(
            "percentile(timestampdiff(MICROSECOND, prev_ts, ts), 0.9)"
        ) / 1e6, 4).alias("p90_gap_s"),
    )


# --------------------------------------------------------------------------
# Daily value percentile bands — the p50/p90/p99 ops dashboard. Exact
# percentiles per (day) group: the per-group state is that day's
# values, fine at daily grain; the approx_percentile swap is the
# knob if a single day stops fitting (group_quantiles_approx pattern).
# --------------------------------------------------------------------------


@query(
    "daily_value_percentile_bands",
    oracle=f"""
SELECT CAST(ts AS DATE) AS d,
       COUNT(*) AS n_events,
       {sql_dround('quantile_cont(value, 0.5)', 4)} AS p50,
       {sql_dround('quantile_cont(value, 0.9)', 4)} AS p90,
       {sql_dround('quantile_cont(value, 0.99)', 4)} AS p99
FROM events
GROUP BY 1
""",
)
def daily_value_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    return events.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count("*").alias("n_events"),
        dround(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        dround(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        dround(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


# --------------------------------------------------------------------------
# SCD2 point-in-time join: facts against a validity-interval dimension
# (valid_from <= t < valid_to, NULL = open tail) — the lakehouse query
# every "state of the customer when X happened" report needs. The dim
# here is the user's browsing-state history (non-purchase eras built
# with the same run-length construction as scd2_history); facts are
# purchases. The join is an equi-join on user_id with the interval
# predicate evaluated inside the matched user's (bounded) version
# list — never a cross join; at 100 TB both sides shuffle on user_id
# once, and the final rollup is state-cardinality.
# --------------------------------------------------------------------------


@query(
    "scd2_point_in_time_join",
    oracle=f"""
WITH nonp AS (
    SELECT user_id, event_type, ts, event_id,
           CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type
                THEN 1 ELSE 0 END AS is_change
    FROM events WHERE event_type <> 'purchase'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
    SELECT user_id, event_type, ts,
           SUM(is_change) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
           ) AS version
    FROM nonp
),
dim AS (
    SELECT user_id, event_type AS state, version,
           MIN(ts) AS valid_from
    FROM runs GROUP BY 1, 2, 3
),
dim2 AS (
    SELECT user_id, state, valid_from,
           LEAD(valid_from) OVER (
               PARTITION BY user_id ORDER BY valid_from, version
           ) AS valid_to
    FROM dim
),
joined AS (
    SELECT d.state, f.value
    FROM events f JOIN dim2 d
      ON f.user_id = d.user_id
     AND f.ts >= d.valid_from
     AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    WHERE f.event_type = 'purchase'
)
SELECT state,
       COUNT(*) AS n_purchases,
       {sql_dsum('value', 2)} AS total_value
FROM joined
GROUP BY 1
""",
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases joined to the user state valid at purchase time."""
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nonp = events.filter(F.col("event_type") != "purchase").select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        ).otherwise(0).alias("is_change"),
    )
    runs = nonp.withColumn(
        "version",
        F.sum("is_change").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    dim = runs.groupBy(
        "user_id", F.col("event_type").alias("state"), "version"
    ).agg(F.min("ts").alias("valid_from"))
    wd = Window.partitionBy("user_id").orderBy("valid_from", "version")
    dim2 = dim.select(
        "user_id",
        "state",
        "valid_from",
        F.lead("valid_from").over(wd).alias("valid_to"),
    )
    facts = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("f_user"),
        F.col("ts").alias("f_ts"),
        "value",
    )
    joined = facts.join(
        dim2,
        (F.col("f_user") == dim2["user_id"])
        & (F.col("f_ts") >= dim2["valid_from"])
        & (dim2["valid_to"].isNull() | (F.col("f_ts") < dim2["valid_to"])),
    )
    return joined.groupBy("state").agg(
        F.count("*").alias("n_purchases"),
        dsum("value", 2).alias("total_value"),
    )


# --------------------------------------------------------------------------
# Interval coalescing (gaps-and-islands over INTERVALS): each event
# projects a [ts, ts+5min) activity interval; overlapping/touching
# intervals merge into maximal islands. Distinct from sessionization
# (a gap rule over points): this is the operator for merging validity
# windows, on-call shifts, maintenance windows. Boundary rule: an
# interval STARTING exactly at the running max end MERGES (> starts a
# new island), mirroring the pinned session-gap semantics.
# --------------------------------------------------------------------------

_ISLAND_PAD_S = 300


@query(
    "interval_coalesce_user_activity",
    oracle=f"""
WITH iv AS (
    SELECT user_id, ts AS s, ts + INTERVAL {_ISLAND_PAD_S} SECOND AS e,
           event_id
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
marked AS (
    SELECT user_id, s, e,
           CASE WHEN s > MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  OR MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                THEN 1 ELSE 0 END AS new_island
    FROM iv
),
islands AS (
    SELECT user_id, s, e,
           SUM(new_island) OVER (
               PARTITION BY user_id ORDER BY s, e
               ROWS UNBOUNDED PRECEDING) AS island_id
    FROM marked
),
per_island AS (
    SELECT user_id, island_id,
           CAST(date_diff('microsecond', MIN(s), MAX(e)) AS BIGINT)
               AS span_us,
           COUNT(*) AS n_events
    FROM islands GROUP BY 1, 2
)
SELECT user_id,
       COUNT(*) AS n_islands,
       CAST(SUM(span_us) // 1000000 AS BIGINT) AS covered_s,
       CAST(MAX(span_us) // 1000000 AS BIGINT) AS max_island_s,
       CAST(SUM(n_events) AS BIGINT) AS n_events
FROM per_island
GROUP BY 1
""",
)
def interval_coalesce_user_activity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Merge per-user activity intervals into maximal islands.

    One user_id shuffle serves both windows (running max end → island
    id); island and user rollups are per-user-bounded. The ordering
    key includes event_id so duplicate timestamps are totally ordered
    on both engines.
    """
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    # Shared NULL-key filter, plan AND oracle (see sessionization).
    events = events.filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    iv = events.select(
        "user_id",
        F.col("ts").alias("s"),
        F.expr(f"ts + INTERVAL {_ISLAND_PAD_S} SECOND").alias("e"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.select(
        "user_id",
        "s",
        "e",
        F.when(
            (F.col("s") > F.max("e").over(w_prev))
            | F.max("e").over(w_prev).isNull(),
            1,
        ).otherwise(0).alias("new_island"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = marked.select(
        "user_id",
        "s",
        "e",
        F.sum("new_island").over(w_run).alias("island_id"),
    )
    per_island = islands.groupBy("user_id", "island_id").agg(
        F.expr("timestampdiff(MICROSECOND, MIN(s), MAX(e))").alias(
            "span_us"
        ),
        F.count("*").alias("n_events"),
    )
    return per_island.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        F.expr("CAST(SUM(span_us) DIV 1000000 AS BIGINT)").alias(
            "covered_s"
        ),
        F.expr("CAST(MAX(span_us) DIV 1000000 AS BIGINT)").alias(
            "max_island_s"
        ),
        F.sum("n_events").alias("n_events"),
    )


# --------------------------------------------------------------------------
# Nearest as-of join — completes the as-of family (backward:
# asof_join_last_signup; forward: asof_forward_attribution). For each
# purchase, the nearest signup in EITHER direction within a tolerance,
# tie broken toward the earlier (backward) side. Built as one merged
# per-user timeline with IGNORE NULLS window navigation — no join at
# all, so both "directions" come from the same single user_id shuffle.
# --------------------------------------------------------------------------

_NEAREST_TOL_S = 6 * 3600


@query(
    "asof_nearest_event",
    oracle=f"""
WITH tl AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN event_type = 'signup' THEN ts END AS sig_ts
    FROM events WHERE event_type IN ('signup', 'purchase')
),
nav AS (
    SELECT user_id, ts, event_id, event_type,
           LAST_VALUE(sig_ts IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS back_ts,
           FIRST_VALUE(sig_ts IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
           ) AS fwd_ts
    FROM tl
),
picked AS (
    SELECT user_id, event_id,
           date_diff('microsecond', back_ts, ts) AS back_us,
           date_diff('microsecond', ts, fwd_ts) AS fwd_us,
           CASE
             WHEN back_ts IS NOT NULL
                  AND date_diff('microsecond', back_ts, ts)
                      <= CAST({_NEAREST_TOL_S} AS BIGINT) * 1000000
                  AND (fwd_ts IS NULL
                       OR date_diff('microsecond', ts, fwd_ts)
                          > CAST({_NEAREST_TOL_S} AS BIGINT) * 1000000
                       OR date_diff('microsecond', back_ts, ts)
                          <= date_diff('microsecond', ts, fwd_ts))
               THEN 'backward'
             WHEN fwd_ts IS NOT NULL
                  AND date_diff('microsecond', ts, fwd_ts)
                      <= CAST({_NEAREST_TOL_S} AS BIGINT) * 1000000
               THEN 'forward'
             ELSE 'none'
           END AS matched
    FROM nav WHERE event_type = 'purchase'
)
SELECT matched,
       COUNT(*) AS n_purchases,
       CAST(COALESCE(SUM(CASE WHEN matched = 'backward' THEN back_us
                              WHEN matched = 'forward' THEN fwd_us
                         END) // 1000000, 0) AS BIGINT) AS total_gap_s
FROM picked
GROUP BY 1
""",
)
def asof_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-signup attribution per purchase (either direction,
    6 h tolerance, ties prefer backward), joinlessly from one
    user-partitioned timeline."""
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    tl = events.filter(
        F.col("event_type").isin("signup", "purchase")
    ).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "signup", F.col("ts")).alias(
            "sig_ts"
        ),
    )
    base = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nav = tl.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.last("sig_ts", ignorenulls=True)
        .over(base.rowsBetween(Window.unboundedPreceding, -1))
        .alias("back_ts"),
        F.first("sig_ts", ignorenulls=True)
        .over(base.rowsBetween(1, Window.unboundedFollowing))
        .alias("fwd_ts"),
    ).filter(F.col("event_type") == "purchase")
    back_us = F.expr("timestampdiff(MICROSECOND, back_ts, ts)")
    fwd_us = F.expr("timestampdiff(MICROSECOND, ts, fwd_ts)")
    tol_us = F.lit(_NEAREST_TOL_S * 1_000_000)
    matched = (
        F.when(
            F.col("back_ts").isNotNull()
            & (back_us <= tol_us)
            & (
                F.col("fwd_ts").isNull()
                | (fwd_us > tol_us)
                | (back_us <= fwd_us)
            ),
            "backward",
        )
        .when(F.col("fwd_ts").isNotNull() & (fwd_us <= tol_us), "forward")
        .otherwise("none")
    )
    picked = nav.select(
        matched.alias("matched"),
        back_us.alias("back_us"),
        fwd_us.alias("fwd_us"),
    )
    return picked.groupBy("matched").agg(
        F.count("*").alias("n_purchases"),
        F.coalesce(
            F.expr(
                "CAST(SUM(CASE WHEN matched = 'backward' THEN back_us "
                "WHEN matched = 'forward' THEN fwd_us END) DIV 1000000 "
                "AS BIGINT)"
            ),
            F.lit(0),
        ).alias("total_gap_s"),
    )


# --------------------------------------------------------------------------
# Grouped 2-D skyline (Pareto frontier): per nation, the orders no
# other order in that nation dominates (cheaper AND at-least-as-recent
# / more recent AND at-least-as-cheap). Computed with the classic
# sort-scan: collapse to per-price best date, then keep prices whose
# best date strictly beats the running best over all cheaper prices.
# Partitioning by nation keeps every window bounded by one market —
# the distributed skyline generalization (local skyline per partition,
# then skyline-of-skylines merge) has the same plan shape.
# --------------------------------------------------------------------------


@query(
    "skyline_cheapest_latest_per_nation",
    oracle=f"""
WITH o AS (
    SELECT n.n_name AS nation,
           {sql_qround('o.o_totalprice', 2)} AS price_cents,
           CAST(o.o_orderdate AS DATE) AS d
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_totalprice IS NOT NULL AND o.o_orderdate IS NOT NULL
),
per_price AS (
    SELECT nation, price_cents, MAX(d) AS best_d
    FROM o GROUP BY 1, 2
),
scanned AS (
    SELECT nation, price_cents, best_d,
           MAX(best_d) OVER (
               PARTITION BY nation ORDER BY price_cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS best_d_cheaper
    FROM per_price
)
SELECT nation,
       COUNT(*) AS frontier_size,
       MIN(price_cents) AS cheapest_cents,
       MAX(best_d) AS latest
FROM scanned
WHERE best_d_cheaper IS NULL OR best_d > best_d_cheaper
GROUP BY 1
""",
)
def skyline_cheapest_latest_per_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pareto frontier of (cheap, recent) orders per nation.

    Prices are keyed as integer CENTS via the shared deterministic
    half-up formula ``floor(x*100 + 0.5)`` (functions/numeric.py SCALE
    RULE): a ``CAST(double AS DECIMAL(27,2))`` is a ROUNDING cast whose
    result diverges across engines exactly on x.xx5 money boundaries —
    the r4 hash failure.
    """
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    # a skyline point needs BOTH coordinates: a NULL price would form a
    # group the engines order on opposite ends of the price axis —
    # same predicate in the oracle
    orders = t["orders"].filter(
        F.col("o_totalprice").isNotNull()
        & F.col("o_orderdate").isNotNull()
    )
    o = (
        orders
        .join(
            F.broadcast(
                t["customer"].select("c_custkey", "c_nationkey")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.floor(F.col("o_totalprice") * F.lit(100) + F.lit(0.5))
            .cast("bigint")
            .alias("price_cents"),
            F.col("o_orderdate").cast("date").alias("d"),
        )
    )
    per_price = o.groupBy("nation", "price_cents").agg(
        F.max("d").alias("best_d")
    )
    w = (
        Window.partitionBy("nation")
        .orderBy("price_cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scanned = per_price.select(
        "nation",
        "price_cents",
        "best_d",
        F.max("best_d").over(w).alias("best_d_cheaper"),
    )
    frontier = scanned.filter(
        F.col("best_d_cheaper").isNull()
        | (F.col("best_d") > F.col("best_d_cheaper"))
    )
    return frontier.groupBy("nation").agg(
        F.count("*").alias("frontier_size"),
        F.min("price_cents").alias("cheapest_cents"),
        F.max("best_d").alias("latest"),
    )


# --------------------------------------------------------------------------
# Session bounce rate — composes the PINNED session-gap rule (strictly
# greater than 30 min splits; see sessionization) into the classic
# product metric: share of single-event sessions per day (by session
# start). One user_id shuffle for the lag, then day-sized rollups.
# --------------------------------------------------------------------------


@query(
    "sessionized_bounce_rate",
    oracle=f"""
WITH marked AS (
    SELECT user_id, ts, event_id,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR date_diff('microsecond', LAG(ts) OVER w, ts)
                     > CAST(1800 AS BIGINT) * 1000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id,
           SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS session_id,
           ts
    FROM marked
),
per_sess AS (
    SELECT user_id, session_id,
           CAST(MIN(ts) AS DATE) AS d,
           COUNT(*) AS n_events
    FROM sess GROUP BY 1, 2
)
SELECT d,
       COUNT(*) AS n_sessions,
       COUNT(*) FILTER (WHERE n_events = 1) AS n_bounces,
       {sql_dround('COUNT(*) FILTER (WHERE n_events = 1) * 1.0 / COUNT(*)', 4)}
           AS bounce_rate
FROM per_sess
GROUP BY 1
""",
)
def sessionized_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    # Shared NULL-key filter, plan AND oracle (see sessionization).
    events = events.filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.expr(
        "timestampdiff(MICROSECOND, lag(ts) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id), ts)"
    )
    marked = events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (gap_us > F.lit(1800 * 1_000_000)),
            1,
        ).otherwise(0).alias("new_session"),
    )
    sess = marked.select(
        "user_id",
        "ts",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    )
    per_sess = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").cast("date").alias("d"),
        F.count("*").alias("n_events"),
    )
    bounce = F.count_if(F.col("n_events") == 1)
    return per_sess.groupBy("d").agg(
        F.count("*").alias("n_sessions"),
        bounce.alias("n_bounces"),
        dround(bounce * 1.0 / F.count("*"), 4).alias("bounce_rate"),
    )


# --------------------------------------------------------------------------
# Time-weighted average — the correct "average sensor/price level"
# when observations are irregularly spaced (a plain AVG over-weights
# busy periods). Weight = microseconds until the next observation;
# the numerator rides exact integer cents×µs products, so the whole
# reduction is associative bigint arithmetic and the only float op is
# the final division.
# --------------------------------------------------------------------------


@query(
    "time_weighted_avg_value",
    oracle=f"""
WITH seq AS (
    SELECT user_id, value, ts, event_id,
           LEAD(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS next_ts
    FROM events WHERE ts IS NOT NULL
),
weighted AS (
    -- HUGEINT product (≡ Spark DECIMAL(38,0)): cents × µs overflows
    -- int64 for large values over long gaps. Cents clamped at ±2^53:
    -- past that the double has no fractional resolution anyway.
    SELECT user_id,
           CAST({sql_qround('value', 2, _DR_MAX)} AS HUGEINT)
               * date_diff('microsecond', ts, next_ts) AS num,
           date_diff('microsecond', ts, next_ts) AS dt_us
    FROM seq WHERE next_ts IS NOT NULL
)
SELECT user_id,
       COUNT(*) AS n_intervals,
       CAST(SUM(dt_us) // 1000000 AS BIGINT) AS span_s,
       {sql_dround('CAST(SUM(num) AS DOUBLE)'
                   ' / (100.0 * CAST(SUM(dt_us) AS DOUBLE))', 6)}
           AS twa_value
FROM weighted
GROUP BY 1
HAVING SUM(dt_us) > 0
""",
)
def time_weighted_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of value (integer-exact weights)."""
    from pyspark.sql.window import Window

    # timeless events cannot bound an interval — filtered both sides
    events = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        "value",
        "ts",
        F.lead("ts").over(w).alias("next_ts"),
    ).filter(F.col("next_ts").isNotNull())
    dt_us = F.expr("timestampdiff(MICROSECOND, ts, next_ts)")
    # DECIMAL(38,0) product (≡ DuckDB HUGEINT): cents × microseconds
    # overflows int64 for large values over long gaps (~1e6 value over
    # a month already exceeds 2^63); cents clamped at ±2^53 (see oracle)
    weighted = seq.select(
        "user_id",
        (
            qround("value", 2, _DR_MAX).cast("decimal(38,0)")
            * dt_us
        ).alias("num"),
        dt_us.alias("dt_us"),
    )
    return (
        weighted.groupBy("user_id")
        .agg(
            F.count("*").alias("n_intervals"),
            F.expr("CAST(SUM(dt_us) DIV 1000000 AS BIGINT)").alias(
                "span_s"
            ),
            dround(
                F.sum("num").cast("double")
                / (100.0 * F.sum("dt_us").cast("double")),
                6,
            ).alias("twa_value"),
        )
        .filter(F.expr("SUM(dt_us)").isNotNull() & (F.expr("SUM(dt_us)") > 0))
    )


# --------------------------------------------------------------------------
# Theil–Sen robust trend — median of pairwise slopes. The OLS slope
# (trend_slope) is yanked around by single anomalous days; the median
# slope ignores them (29% breakdown point). Pair generation is a
# self-join of the DAILY table — bounded at days² per type, never
# event-cardinality — and each slope is one exact-int division.
# --------------------------------------------------------------------------


@query(
    "theil_sen_trend",
    oracle=f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
pairs AS (
    SELECT a.event_type,
           (b.n - a.n) * 1.0 / date_diff('day', a.d, b.d) AS slope
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type AND a.d < b.d
)
SELECT event_type,
       COUNT(*) AS n_pairs,
       {sql_dround('median(slope)', 6)} AS ts_slope
FROM pairs
GROUP BY 1
""",
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").alias("n"))
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.d") < F.col("b.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.n") - F.col("a.n"))
            * 1.0
            / F.datediff(F.col("b.d"), F.col("a.d"))
        ).alias("slope"),
    )
    return pairs.groupBy("event_type").agg(
        F.count("*").alias("n_pairs"),
        dround(F.median("slope"), 6).alias("ts_slope"),
    )


# --------------------------------------------------------------------------
# Autocorrelation (ACF at lags 1–3) of the daily series per type —
# the seasonality/burstiness screen (high lag-7 ACF = weekly cycle;
# high lag-1 = momentum/bots). Pearson r between the series and its
# k-shifted self in EXACT integer moments (counts are ints), so the
# only float ops are one sqrt and one division per (type, lag).
# --------------------------------------------------------------------------


@query(
    "autocorrelation_daily",
    oracle=f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
lagged AS (
    SELECT a.event_type, k.k, a.n AS x, b.n AS y
    FROM daily a
    JOIN (SELECT unnest(range(1, 4)) AS k) k ON TRUE
    JOIN daily b
      ON b.event_type = a.event_type
     AND b.d = a.d + CAST(k.k AS INTEGER) * INTERVAL 1 DAY
)
SELECT event_type, k AS lag_days,
       COUNT(*) AS n_pairs,
       {sql_dround(
           "(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))"
           " / sqrt(CAST((COUNT(*) * SUM(x * x) - SUM(x) * SUM(x))"
           "      * (COUNT(*) * SUM(y * y) - SUM(y) * SUM(y)) AS DOUBLE))",
           6)} AS acf
FROM lagged
GROUP BY 1, 2
""",
)
def autocorrelation_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF(1..3) per event type over daily counts, integer-exact moments."""
    events = load_tables(spark, sf_dir, "events")["events"]
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").alias("n"))
    ks = spark.range(1, 4).select(F.col("id").cast("int").alias("k"))
    a = daily.alias("a")
    b = daily.alias("b")
    lagged = (
        a.crossJoin(F.broadcast(ks))
        .join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (
                F.col("b.d")
                == F.date_add(F.col("a.d"), F.col("k"))
            ),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            F.col("k"),
            F.col("a.n").alias("x"),
            F.col("b.n").alias("y"),
        )
    )
    m = F.count("*")
    sx, sy = F.sum("x"), F.sum("y")
    sxy = F.sum(F.col("x") * F.col("y"))
    sxx = F.sum(F.col("x") * F.col("x"))
    syy = F.sum(F.col("y") * F.col("y"))
    return lagged.groupBy(
        "event_type", F.col("k").alias("lag_days")
    ).agg(
        m.alias("n_pairs"),
        dround(
            (m * sxy - sx * sy)
            / F.sqrt(
                ((m * sxx - sx * sx) * (m * syy - sy * sy)).cast("double")
            ),
            6,
        ).alias("acf"),
    )


# --------------------------------------------------------------------------
# Cohort LTV curves — revenue by (first-order cohort month, months
# since first order). The money companion to retention_cohorts:
# retention says who comes back, LTV says what they're worth as they
# age. First-order month comes from one grouped pass; the cell grid
# is cohorts × ages (bounded by the calendar, never by order count);
# revenue rides exact decimal cents.
# --------------------------------------------------------------------------


@query(
    "cohort_ltv_curves",
    oracle="""
WITH firsts AS (
    SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS first_d
    FROM orders GROUP BY 1
),
cells AS (
    SELECT date_trunc('month', f.first_d) AS cohort_month,
           (EXTRACT(YEAR FROM o.o_orderdate) - EXTRACT(YEAR FROM f.first_d))
               * 12
           + (EXTRACT(MONTH FROM o.o_orderdate)
              - EXTRACT(MONTH FROM f.first_d)) AS age_months,
           o.o_totalprice AS price,
           o.o_custkey
    FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
)
SELECT CAST(cohort_month AS DATE) AS cohort_month,
       CAST(age_months AS BIGINT) AS age_months,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       CAST(SUM(CAST(price AS DECIMAL(27,2)) * 100) AS BIGINT)
           AS revenue_cents
FROM cells
GROUP BY 1, 2
""",
)
def cohort_ltv_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    firsts = orders.groupBy("o_custkey").agg(
        F.min(F.col("o_orderdate").cast("date")).alias("first_d")
    )
    joined = orders.join(firsts, "o_custkey")
    age = (
        F.year("o_orderdate") - F.year("first_d")
    ) * 12 + (F.month("o_orderdate") - F.month("first_d"))
    return joined.groupBy(
        F.date_trunc("month", "first_d").cast("date").alias("cohort_month"),
        age.cast("bigint").alias("age_months"),
    ).agg(
        F.count("*").alias("n_orders"),
        F.count_distinct("o_custkey").alias("n_customers"),
        (F.sum(F.col("o_totalprice").cast("decimal(27,2)") * 100))
        .cast("bigint")
        .alias("revenue_cents"),
    )


# --------------------------------------------------------------------------
# Decile migration matrix — where customers MOVED between two eras:
# spend decile in 1995-1997 vs 1998-2001. Both decile assignments use
# the rfm_segmentation pattern (exact percentile cutoffs as a
# broadcast row + comparison scoring — no customer-cardinality ntile
# sort); the matrix is ≤ 10×10. The churn diagonal test and
# upgrade/downgrade mass live in this one result.
# --------------------------------------------------------------------------

_MIG_SPLIT = "1998-01-01"


def _mig_sql_cuts(tag: str) -> str:
    return ", ".join(
        sql_dround(f"quantile_cont(m, {i / 10})", 6) + f" AS {tag}{i}"
        for i in range(1, 10)
    )


@query(
    "decile_migration_matrix",
    oracle=f"""
WITH spend AS (
    SELECT o_custkey,
           CASE WHEN o_orderdate < TIMESTAMP '{_MIG_SPLIT} 00:00:00'
                THEN 'a' ELSE 'b' END AS era,
           {sql_dsum('o_totalprice', 2)} AS m
    FROM orders GROUP BY 1, 2
),
cuts_a AS (SELECT {_mig_sql_cuts('c')} FROM spend WHERE era = 'a'),
cuts_b AS (SELECT {_mig_sql_cuts('c')} FROM spend WHERE era = 'b'),
score_a AS (
    SELECT s.o_custkey,
           1 + {" + ".join(f"CAST(s.m > c.c{i} AS INT)" for i in range(1, 10))}
               AS dec_a
    FROM spend s CROSS JOIN cuts_a c WHERE s.era = 'a'
),
score_b AS (
    SELECT s.o_custkey,
           1 + {" + ".join(f"CAST(s.m > c.c{i} AS INT)" for i in range(1, 10))}
               AS dec_b
    FROM spend s CROSS JOIN cuts_b c WHERE s.era = 'b'
)
SELECT a.dec_a, b.dec_b, COUNT(*) AS n_customers
FROM score_a a JOIN score_b b USING (o_custkey)
GROUP BY 1, 2
""",
)
def decile_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    # bare string literal: Spark coerces it to the COLUMN's type
    # (TIMESTAMP_NTZ) — an explicit cast("timestamp") would make an
    # instant and drag the session zone into the comparison
    era = F.when(
        F.col("o_orderdate") < F.lit(_MIG_SPLIT), "a"
    ).otherwise("b")
    spend = orders.groupBy(
        "o_custkey", era.alias("era")
    ).agg(dsum("o_totalprice", 2).alias("m"))

    def cuts(era_tag: str):
        return spend.filter(F.col("era") == era_tag).agg(
            *[
                dround(F.expr(f"percentile(m, {i / 10})"), 6).alias(
                    f"c{i}"
                )
                for i in range(1, 10)
            ]
        )

    def score(era_tag: str, out: str):
        s = F.lit(1)
        for i in range(1, 10):
            s = s + (F.col("m") > F.col(f"c{i}")).cast("int")
        return (
            spend.filter(F.col("era") == era_tag)
            .crossJoin(F.broadcast(cuts(era_tag)))
            .select("o_custkey", s.alias(out))
        )

    return (
        score("a", "dec_a")
        .join(score("b", "dec_b"), "o_custkey")
        .groupBy("dec_a", "dec_b")
        .agg(F.count("*").alias("n_customers"))
    )


# --------------------------------------------------------------------------
# New vs returning daily — the growth dashboard's first split. "New"
# on a user's first-ever active day; window-free: first day per user
# is one grouped pass, the daily split is a join back on (user, day)
# grain — both shuffles carry (user, day) pairs only.
# --------------------------------------------------------------------------


@query(
    "new_vs_returning_daily",
    oracle="""
WITH user_days AS (
    SELECT user_id, CAST(ts AS DATE) AS d, COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
),
firsts AS (
    SELECT user_id, MIN(d) AS first_d FROM user_days GROUP BY 1
)
SELECT ud.d,
       COUNT(*) FILTER (WHERE ud.d = f.first_d) AS new_users,
       COUNT(*) FILTER (WHERE ud.d > f.first_d) AS returning_users,
       CAST(SUM(ud.n_events) AS BIGINT) AS n_events
FROM user_days ud JOIN firsts f USING (user_id)
GROUP BY 1
""",
)
def new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    user_days = events.groupBy(
        "user_id", F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").alias("n_events"))
    firsts = user_days.groupBy("user_id").agg(
        F.min("d").alias("first_d")
    )
    joined = user_days.join(firsts, "user_id")
    return joined.groupBy("d").agg(
        F.count_if(F.col("d") == F.col("first_d")).alias("new_users"),
        F.count_if(F.col("d") > F.col("first_d")).alias(
            "returning_users"
        ),
        F.sum("n_events").alias("n_events"),
    )


# --------------------------------------------------------------------------
# Longest consecutive-day streak per user — the gaps-and-islands
# integer trick: within a user's DISTINCT active days ordered by day,
# (day − row_number) is constant exactly along a consecutive run, so
# streaks fall out of one grouped pass over that derived key. All
# integer arithmetic; windows partition by user.
# --------------------------------------------------------------------------


@query(
    "longest_user_streaks",
    oracle="""
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
keyed AS (
    SELECT user_id, d,
           date_diff('day', DATE '1970-01-01', d)
           - row_number() OVER (PARTITION BY user_id ORDER BY d)
               AS grp
    FROM days
),
streaks AS (
    SELECT user_id, grp, COUNT(*) AS len
    FROM keyed GROUP BY 1, 2
)
SELECT user_id,
       COUNT(*) AS n_streaks,
       CAST(MAX(len) AS BIGINT) AS longest_streak_days,
       CAST(SUM(len) AS BIGINT) AS active_days
FROM streaks
GROUP BY 1
""",
)
def longest_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    days = events.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    keyed = days.select(
        "user_id",
        (
            F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
            - F.row_number().over(w)
        ).alias("grp"),
    )
    streaks = keyed.groupBy("user_id", "grp").agg(
        F.count("*").alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.count("*").alias("n_streaks"),
        F.max("len").alias("longest_streak_days"),
        F.sum("len").alias("active_days"),
    )


# --------------------------------------------------------------------------
# Session path mining — the full-journey complement of the transition
# matrix: which exact event-type paths do sessions follow, and how
# often. Paths are built ORDER-DETERMINISTICALLY: array_sort over
# (ts, event_id, type) structs before concatenation (collect_list
# order is partition-dependent; the sort inside the aggregate is the
# reshard-stable form — same rule as string_agg_segments). Long
# sessions are truncated to the first 8 steps so the path-string key
# space stays bounded.
# --------------------------------------------------------------------------


@query(
    "session_path_frequency",
    oracle=f"""
WITH marked AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR date_diff('microsecond', LAG(ts) OVER w, ts)
                     > CAST(1800 AS BIGINT) * 1000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL
      AND event_type IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, ts, event_id, event_type,
           SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS session_id
    FROM marked
),
paths AS (
    SELECT user_id, session_id,
           list_aggregate(
               list_transform(
                   array_slice(
                       list_sort(list_zip(
                           list(ts ORDER BY ts, event_id),
                           list(event_id ORDER BY ts, event_id),
                           list(event_type ORDER BY ts, event_id)
                       )), 1, 8),
                   x -> x[3]
               ), 'string_agg', '>'
           ) AS path,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY 1, 2
)
SELECT path,
       COUNT(*) AS n_sessions,
       CAST(MIN(n_events) AS BIGINT) AS min_len,
       CAST(MAX(n_events) AS BIGINT) AS max_len
FROM paths
GROUP BY 1
HAVING COUNT(*) >= 2
""",
)
def session_path_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    # Shared NULL-key filter, plan AND oracle (see sessionization).
    # event_type too: an all-NULL-typed session yields path = '' via
    # Spark's array_join (skips NULLs) but NULL via DuckDB string_agg,
    # and untyped steps are meaningless in a path anyway.
    events = events.filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.expr(
        "timestampdiff(MICROSECOND, lag(ts) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id), ts)"
    )
    marked = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (gap_us > F.lit(1800 * 1_000_000)),
            1,
        ).otherwise(0).alias("new_session"),
    )
    sess = marked.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    )
    paths = sess.groupBy("user_id", "session_id").agg(
        F.expr(
            "array_join(transform(slice(array_sort("
            "collect_list(struct(ts, event_id, event_type))), 1, 8),"
            " x -> x.event_type), '>')"
        ).alias("path"),
        F.count("*").alias("n_events"),
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count("*").alias("n_sessions"),
            F.min("n_events").alias("min_len"),
            F.max("n_events").alias("max_len"),
        )
        .filter(F.col("n_sessions") >= 2)
    )


# --------------------------------------------------------------------------
# EWMA control chart over the gap-filled daily series. The smoother is
# the PRIOR-8-day exponentially-weighted mean with alpha = 1/2, computed
# in exact dyadic arithmetic: weights 2^(8-k) are integers, so both the
# numerator and the (start-of-series-aware) denominator are exact
# integer window sums and the EWMA itself is ONE float division —
# no iterative float state, no summation-order sensitivity. A day is a
# spike when its count exceeds twice the prior-window EWMA.
# --------------------------------------------------------------------------

_EWMA_LAGS = 8


def _ewma_sql_terms() -> tuple[str, str]:
    num = " + ".join(
        f"COALESCE(LAG(n, {k}) OVER w, 0) * {1 << (_EWMA_LAGS - k)}"
        for k in range(1, _EWMA_LAGS + 1)
    )
    den = " + ".join(
        f"(CASE WHEN LAG(n, {k}) OVER w IS NULL THEN 0"
        f" ELSE {1 << (_EWMA_LAGS - k)} END)"
        for k in range(1, _EWMA_LAGS + 1)
    )
    return num, den


_EWMA_NUM_SQL, _EWMA_DEN_SQL = _ewma_sql_terms()


@query(
    "ewma_spike_days",
    oracle=f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
bounds AS (SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM daily),
spine AS (
    SELECT t.event_type, CAST(g.day AS DATE) AS d
    FROM (SELECT DISTINCT event_type FROM events) t
    CROSS JOIN (
        SELECT unnest(generate_series(b.dmin, b.dmax, INTERVAL 1 DAY)) AS day
        FROM bounds b
    ) g
),
filled AS (
    SELECT s.event_type, s.d, COALESCE(dy.n, 0) AS n
    FROM spine s LEFT JOIN daily dy ON dy.event_type = s.event_type AND dy.d = s.d
),
sm AS (
    SELECT event_type, d, n,
           {_EWMA_NUM_SQL} AS num,
           {_EWMA_DEN_SQL} AS den
    FROM filled
    WINDOW w AS (PARTITION BY event_type ORDER BY d)
)
SELECT event_type, d, n,
       CASE WHEN den > 0 THEN
           {sql_dround('CAST(num AS DOUBLE) / den', 6)} END AS ewma_prior,
       CASE WHEN den > 0 THEN
           n > 2.0 * (CAST(num AS DOUBLE) / den) END AS is_spike
FROM sm
""",
)
def ewma_spike_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (alpha=1/2, prior 8 days) spike detection per event type.

    Scale: one bounded shuffle to the (type, day) grain, a broadcast
    day-spine fill, and a per-type ordered window whose partitions are
    day-cardinality — identical shape to gap_fill_daily. The exact
    dyadic weighting means a 1000-executor run reproduces these ewma
    values bit-for-bit regardless of partitioning.
    """
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").alias("n"))
    bounds = daily.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    spine = (
        events.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("dmin", "dmax")).alias("d"),
        )
    )
    filled = spine.join(daily, ["event_type", "d"], "left").select(
        "event_type", "d", F.coalesce("n", F.lit(0)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    num = None
    den = None
    for k in range(1, _EWMA_LAGS + 1):
        wt = 1 << (_EWMA_LAGS - k)
        lagk = F.lag("n", k).over(w)
        num_t = F.coalesce(lagk, F.lit(0)) * wt
        den_t = F.when(lagk.isNull(), 0).otherwise(wt)
        num = num_t if num is None else num + num_t
        den = den_t if den is None else den + den_t
    sm = filled.select("event_type", "d", "n", num.alias("num"), den.alias("den"))
    ewma = F.col("num").cast("double") / F.col("den")
    return sm.select(
        "event_type",
        "d",
        "n",
        F.when(F.col("den") > 0, dround(ewma, 6)).alias("ewma_prior"),
        F.when(F.col("den") > 0, F.col("n") > 2.0 * ewma).alias("is_spike"),
    )


# --------------------------------------------------------------------------
# Classical seasonal decomposition (STL-lite): centered 7-day moving
# average trend, weekday-mean seasonal component over the detrended
# series, remainder. All cross-row reductions are exact integers
# (counts, ×1e6-quantized detrended values); each output float is one
# division — so the decomposition is partition- and engine-stable.
# --------------------------------------------------------------------------


@query(
    "seasonal_decompose_daily",
    oracle=f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
trended AS (
    SELECT event_type, d, n,
           CAST(SUM(n) OVER w AS BIGINT) * 1.0 / COUNT(*) OVER w AS trend
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
detrended AS (
    SELECT event_type, d, n, trend,
           CAST((d - DATE '1970-01-01') AS BIGINT) % 7 AS dow,
           {sql_qround('(n - trend)', 6)} AS dq
    FROM trended
),
seasonal AS (
    SELECT event_type, dow,
           CAST(FLOOR(CAST(SUM(dq) AS BIGINT) * 1.0 / COUNT(*) + 0.5)
                AS BIGINT) AS s_micro
    FROM detrended GROUP BY 1, 2
)
SELECT t.event_type, t.d, t.n,
       {sql_dround('t.trend', 6)} AS trend,
       s.s_micro / 1000000.0 AS seasonal,
       (t.dq - s.s_micro) / 1000000.0 AS remainder
FROM detrended t JOIN seasonal s
  ON s.event_type = t.event_type AND s.dow = t.dow
""",
)
def seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend / weekday-seasonal / remainder split of daily event counts.

    Scale: one (type, day)-grain shuffle, a per-type ordered window
    over day-cardinality partitions, and a 7-row-per-type seasonal
    join (broadcast). The weekday index is computed from epoch-day
    arithmetic, not engine dayofweek conventions (DuckDB counts from
    Sunday=0, Spark from Sunday=1).
    """
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    # NULL-ts rows would form a NULL date group that the engines order
    # on opposite ends of the trend window — filter both sides.
    events = events.filter(F.col("ts").isNotNull())
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-3, 3)
    )
    trended = daily.select(
        "event_type",
        "d",
        "n",
        (F.sum("n").over(w).cast("bigint") * 1.0 / F.count("*").over(w)).alias(
            "trend"
        ),
    )
    detrended = trended.select(
        "event_type",
        "d",
        "n",
        "trend",
        (F.datediff("d", F.lit("1970-01-01")).cast("bigint") % 7).alias("dow"),
        qround(F.col("n") - F.col("trend"), 6)
        .alias("dq"),
    )
    seasonal = detrended.groupBy("event_type", "dow").agg(
        F.floor(F.sum("dq") * 1.0 / F.count("*") + 0.5)
        .cast("bigint")
        .alias("s_micro")
    )
    return detrended.join(F.broadcast(seasonal), ["event_type", "dow"]).select(
        "event_type",
        "d",
        "n",
        dround("trend", 6).alias("trend"),
        (F.col("s_micro") / 1000000.0).alias("seasonal"),
        ((F.col("dq") - F.col("s_micro")) / 1000000.0).alias("remainder"),
    )


# --------------------------------------------------------------------------
# Interval-overlap (range) join: coalesced user-activity islands ×
# pinned campaign windows → exposure seconds per campaign. The
# candidate predicate s < ce AND e > cs is the canonical interval
# intersection test; overlap is measured at MICROSECOND grain and
# divided once at the end (DuckDB's date_diff('second') counts
# boundary crossings — CLAUDE.md pitfall).
# --------------------------------------------------------------------------

_CAMPAIGNS = [
    ("launch", "2024-01-10 00:00:00", "2024-01-20 00:00:00"),
    ("retarget", "2024-01-25 00:00:00", "2024-02-05 00:00:00"),
    # winback re-pinned inside the Jan 1-30 corpus (was Feb 10-20:
    # a structurally dead campaign; round-8 audit)
    ("winback", "2024-01-22 00:00:00", "2024-01-30 00:00:00"),
]

_CAMPAIGNS_SQL = ", ".join(
    f"('{n}', TIMESTAMP '{s}', TIMESTAMP '{e}')" for n, s, e in _CAMPAIGNS
)


@query(
    "campaign_overlap_exposure",
    oracle=f"""
WITH iv AS (
    SELECT user_id, ts AS s, ts + INTERVAL {_ISLAND_PAD_S} SECOND AS e,
           event_id
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
marked AS (
    SELECT user_id, s, e,
           CASE WHEN s > MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  OR MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                THEN 1 ELSE 0 END AS new_island
    FROM iv
),
islands AS (
    SELECT user_id, s, e,
           SUM(new_island) OVER (
               PARTITION BY user_id ORDER BY s, e
               ROWS UNBOUNDED PRECEDING) AS island_id
    FROM marked
),
spans AS (
    SELECT user_id, island_id, MIN(s) AS s, MAX(e) AS e
    FROM islands GROUP BY 1, 2
),
campaigns AS (
    SELECT * FROM (VALUES {_CAMPAIGNS_SQL}) AS t(campaign, cs, ce)
),
ov AS (
    SELECT c.campaign, sp.user_id,
           CAST(date_diff('microsecond', GREATEST(sp.s, c.cs),
                          LEAST(sp.e, c.ce)) AS BIGINT) AS ov_us
    FROM spans sp JOIN campaigns c
      ON sp.s < c.ce AND sp.e > c.cs
)
SELECT campaign,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_intervals,
       CAST(SUM(ov_us) AS BIGINT) / 1000000.0 AS total_overlap_s
FROM ov GROUP BY 1
""",
)
def campaign_overlap_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-campaign user exposure via an interval-intersection join.

    Scale: islands reuse interval_coalesce_user_activity's single
    user-shuffle construction; the range join broadcasts the
    campaign-cardinality side (a broadcast nested-loop with the
    interval test — with a big probe side this stays map-only). At
    calendar scale the campaign table would be bucketed by time range
    so each span probes only overlapping buckets.
    """
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    # Shared NULL-key filter, plan AND oracle (see sessionization).
    events = events.filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    iv = events.select(
        "user_id",
        F.col("ts").alias("s"),
        F.expr(f"ts + INTERVAL {_ISLAND_PAD_S} SECOND").alias("e"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.select(
        "user_id",
        "s",
        "e",
        F.when(
            (F.col("s") > F.max("e").over(w_prev))
            | F.max("e").over(w_prev).isNull(),
            1,
        ).otherwise(0).alias("new_island"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    spans = (
        marked.select(
            "user_id",
            "s",
            "e",
            F.sum("new_island").over(w_run).alias("island_id"),
        )
        .groupBy("user_id", "island_id")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    campaigns = spark.createDataFrame(
        _CAMPAIGNS, "campaign string, cs string, ce string"
    ).select(
        "campaign",
        F.col("cs").cast("timestamp_ntz").alias("cs"),
        F.col("ce").cast("timestamp_ntz").alias("ce"),
    )
    ov = spans.join(
        F.broadcast(campaigns),
        (F.col("s") < F.col("ce")) & (F.col("e") > F.col("cs")),
    ).select(
        "campaign",
        "user_id",
        F.expr(
            "timestampdiff(MICROSECOND, GREATEST(s, cs), LEAST(e, ce))"
        ).alias("ov_us"),
    )
    return ov.groupBy("campaign").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count("*").alias("n_intervals"),
        (F.sum("ov_us").cast("bigint") / 1000000.0).alias("total_overlap_s"),
    )


# --------------------------------------------------------------------------
# Trailing percentile rank: where does today's volume sit inside its
# own trailing 28-day distribution, per event type. A window frame
# cannot compare frame rows against the CURRENT row's value, so the
# distribution comparison is an explicit bounded range self-join on
# the day-grain table (≤28 partners per row) — the standard rewrite.
# --------------------------------------------------------------------------

_TPR_DAYS = 28


@query(
    "trailing_percentile_rank",
    oracle=f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
    FROM events GROUP BY 1, 2
)
SELECT a.event_type, a.d, a.n,
       COUNT(*) AS n_window,
       {sql_dround('COUNT(*) FILTER (WHERE b.n <= a.n) * 1.0 / COUNT(*)', 6)}
           AS pct_rank
FROM daily a
JOIN daily b
  ON b.event_type = a.event_type
 AND b.d BETWEEN a.d - {_TPR_DAYS - 1} AND a.d
GROUP BY 1, 2, 3
""",
)
def trailing_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each day's count ranked within its trailing 28-day distribution.

    Scale: the self-join runs on the DAY-GRAIN aggregate (types × days
    rows, already tiny after the one fact shuffle) with a ≤28-row
    range fan-out per key — never on raw events. This is the anomaly
    score that asks "is today unusual for THIS series lately" rather
    than z-scoring against all history (anomaly_days_zscore).
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").alias("n"))
    a = daily.select(
        F.col("event_type").alias("et"),
        F.col("d").alias("da"),
        F.col("n").alias("na"),
    )
    b = daily.select(
        F.col("event_type").alias("et"),
        F.col("d").alias("db"),
        F.col("n").alias("nb"),
    )
    return (
        a.join(b, "et")
        .filter(
            F.col("db").between(
                F.date_sub(F.col("da"), _TPR_DAYS - 1), F.col("da")
            )
        )
        .groupBy(
            F.col("et").alias("event_type"),
            F.col("da").alias("d"),
            F.col("na").alias("n"),
        )
        .agg(
            F.count("*").alias("n_window"),
            dround(
                F.count_if(F.col("nb") <= F.col("na")) * 1.0 / F.count("*"), 6
            ).alias("pct_rank"),
        )
    )


# --------------------------------------------------------------------------
# Kaplan–Meier survival curve over user lifetimes with right-censoring
# (users still active near the as-of instant are censored, not dead).
# The KM product Π(1 − d_j/n_j) is made order- and engine-exact by
# summing ×1e9-quantized log factors (exact integer cumsum, one exp
# per row) — the same fixed-point discipline as the other iterative /
# multiplicative ops. Survival after a day where everyone at risk dies
# is pinned to exactly 0 (log would be −inf).
# --------------------------------------------------------------------------

from .registry import AS_OF  # noqa: E402
from .registry import AS_OF_DATE as _KM_AS_OF  # noqa: E402

_KM_CENSOR_DAYS = 7


@query(
    "survival_curve_km",
    oracle=f"""
WITH span AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS first_d,
           MAX(CAST(ts AS DATE)) AS last_d
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL
    GROUP BY 1
),
subj AS (
    SELECT user_id,
           CAST(last_d - first_d AS BIGINT) AS dur,
           CAST(last_d < DATE '{_KM_AS_OF}' - {_KM_CENSOR_DAYS} AS BIGINT)
               AS death
    FROM span
),
g AS (
    SELECT dur, CAST(SUM(death) AS BIGINT) AS deaths, COUNT(*) AS n_at_dur
    FROM subj GROUP BY 1
),
r AS (
    SELECT dur, deaths, n_at_dur,
           CAST((SELECT COUNT(*) FROM subj)
                - COALESCE(SUM(n_at_dur) OVER (
                      ORDER BY dur
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS at_risk
    FROM g
),
f AS (
    SELECT dur, deaths, at_risk,
           CASE WHEN deaths = at_risk THEN CAST(0 AS BIGINT)
                ELSE {sql_qround('ln(1.0 - deaths * 1.0 / at_risk)', 9)} END AS lq,
           CASE WHEN deaths = at_risk THEN 1 ELSE 0 END AS wipeout
    FROM r
),
s AS (
    SELECT dur, deaths, at_risk,
           CAST(SUM(lq) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS cum_lq,
           CAST(SUM(wipeout) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS cum_wipe
    FROM f
)
SELECT dur AS day, deaths, at_risk,
       CASE WHEN cum_wipe > 0 THEN 0.0
            ELSE {sql_dround('exp(CAST(cum_lq AS DOUBLE) / 1000000000.0)', 6)} END AS survival
FROM s
WHERE deaths > 0
""",
)
def survival_curve_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-censored Kaplan–Meier survival over user activity spans.

    Scale: one user-grain shuffle builds (duration, death) subjects;
    everything after runs on the DURATION-grain table (≤ observation
    window days), whose at-risk counts and log-factor cumsums are
    single bounded windows. The censoring rule is pinned to the as-of
    instant, never wall clock.
    """
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    # A subject needs an identity and at least one dated event: a
    # user with only NULL-ts rows would otherwise become a NULL-dur
    # subject riding the at-risk cumsum on opposite ends of the two
    # engines' NULL ordering; anonymous rows would merge into one
    # fake lifetime. Same predicate in the oracle.
    events = events.filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    span = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_d"),
        F.max(F.to_date("ts")).alias("last_d"),
    )
    censor_cut = F.date_sub(F.lit(_KM_AS_OF).cast("date"), _KM_CENSOR_DAYS)
    subj = span.select(
        F.datediff("last_d", "first_d").cast("bigint").alias("dur"),
        (F.col("last_d") < censor_cut).cast("bigint").alias("death"),
    )
    total = subj.agg(F.count("*").alias("n_total"))
    g = subj.groupBy("dur").agg(
        F.sum("death").alias("deaths"), F.count("*").alias("n_at_dur")
    )
    w_prev = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, -1
    )
    r = g.crossJoin(F.broadcast(total)).select(
        "dur",
        "deaths",
        (
            F.col("n_total")
            - F.coalesce(
                F.sum("n_at_dur").over(w_prev), F.lit(0).cast("bigint")
            )
        )
        .cast("bigint")
        .alias("at_risk"),
    )
    lq = F.when(
        F.col("deaths") == F.col("at_risk"), F.lit(0).cast("bigint")
    ).otherwise(
        qround(
            F.log(1.0 - F.col("deaths") * 1.0 / F.col("at_risk")), 9
        )
    )
    wipe = F.when(F.col("deaths") == F.col("at_risk"), 1).otherwise(0)
    f = r.select("dur", "deaths", "at_risk", lq.alias("lq"), wipe.alias("wipeout"))
    w_run = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    s = f.select(
        "dur",
        "deaths",
        "at_risk",
        F.sum("lq").over(w_run).cast("bigint").alias("cum_lq"),
        F.sum("wipeout").over(w_run).cast("bigint").alias("cum_wipe"),
    )
    survival = F.when(F.col("cum_wipe") > 0, F.lit(0.0)).otherwise(
        dround(
            F.exp(F.col("cum_lq").cast("double") / 1000000000.0), 6
        )
    )
    return s.filter(F.col("deaths") > 0).select(
        F.col("dur").alias("day"),
        "deaths",
        "at_risk",
        survival.alias("survival"),
    )


# --------------------------------------------------------------------------
# Exponentially time-decayed user value at the pinned as-of instant —
# the standard recency-weighted feature (half-life ~21 days at τ=30).
# Per-event decay is one identical IEEE expression; decayed
# contributions quantize to ×1e6 ints so the per-user sum is exact.
# --------------------------------------------------------------------------

_DECAY_TAU_DAYS = 30.0
# +-1e6 value units on the x1e6 grid, ~1800x the corpus ceiling
_DECAY_CAP = 10**12


@query(
    "time_decayed_user_value",
    oracle=f"""
WITH q AS (
    -- decayed contribution winsorized at +-1e6 (_DECAY_CAP): the
    -- planted 4e15 value made the x1e6 decay grid overflow DuckDB's
    -- BIGINT cast (loud) and saturate Spark's FLOOR->LONG (silent)
    SELECT user_id,
           {sql_qround(f"value * exp(-(CAST(date_diff('microsecond', ts,"
                       f" TIMESTAMP '{AS_OF}') AS BIGINT) / 86400000000.0)"
                       f" / {_DECAY_TAU_DAYS})", 6, _DECAY_CAP)} AS dq
    FROM events
)
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(dq) AS BIGINT) / 1000000.0 AS decayed_value
FROM q GROUP BY 1
""",
)
def time_decayed_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Σ value·e^(−age/τ) per user at the pinned as-of instant.

    Scale: map-only decay projection + one user-grain integer sum —
    the feature-store shape (append-only events in, one narrow
    shuffle). Age is measured at MICROSECOND grain and divided once
    (engine date_diff('second') semantics differ — CLAUDE.md).
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    age_days = (
        F.expr(f"timestampdiff(MICROSECOND, ts, TIMESTAMP '{AS_OF}')").cast(
            "bigint"
        )
        / 86400000000.0
    )
    dq = qround(
        F.col("value") * F.exp(-age_days / _DECAY_TAU_DAYS), 6, _DECAY_CAP
    )
    return (
        events.select("user_id", dq.alias("dq"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum("dq").cast("bigint") / 1000000.0).alias("decayed_value"),
        )
    )


# --------------------------------------------------------------------------
# Markov removal-effect attribution (the data-driven alternative to
# last-touch): sessions become absorbing-chain paths (channels →
# conv/drop), and each channel's credit is how much total conversion
# probability disappears when paths through it are cut. The
# EXPENSIVE part — counting transitions over all events — is fully
# distributed; the chain solve runs on the collected ≤(channels+1)²
# edge matrix (model-sized driver state, the k-means pattern), using
# the same ×1e9 fixed-point float protocol on BOTH engines, so the
# Python-side solve and the oracle's unrolled SQL CTEs agree exactly.
# --------------------------------------------------------------------------

_ATTR_CHANNELS = ("click", "error", "signup", "view")
_ATTR_ITERS = 8
_ATTR_SCALE = 1_000_000_000

_ATTR_EDGES_SQL = """
ordered AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR date_diff('microsecond', LAG(ts) OVER w, ts)
                     > CAST(1800 AS BIGINT) * 1000000
                THEN 1 ELSE 0 END AS new_s
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL
      AND event_type IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, ts, event_id, event_type,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM ordered
),
pos AS (
    SELECT user_id, sid, event_type,
           ROW_NUMBER() OVER (
               PARTITION BY user_id, sid ORDER BY ts, event_id) AS pos
    FROM sess
),
fp AS (
    SELECT user_id, sid,
           MIN(CASE WHEN event_type = 'purchase' THEN pos END) AS ppos
    FROM pos GROUP BY 1, 2
),
k2 AS (
    SELECT p.event_type, p.pos, f.ppos,
           LEAD(p.event_type) OVER (
               PARTITION BY p.user_id, p.sid ORDER BY p.pos) AS nxt
    FROM pos p JOIN fp f ON f.user_id = p.user_id AND f.sid = p.sid
    WHERE f.ppos IS NULL OR p.pos < f.ppos
),
trans AS (
    SELECT event_type AS src,
           COALESCE(nxt, CASE WHEN ppos IS NOT NULL
                              THEN 'conv' ELSE 'drop' END) AS dst
    FROM k2
    UNION ALL
    SELECT 'start', event_type FROM k2 WHERE pos = 1
    UNION ALL
    SELECT 'start', 'conv' FROM fp WHERE ppos = 1
),
ecnt AS (SELECT src, dst, COUNT(*) AS c FROM trans GROUP BY 1, 2),
outw AS (SELECT src, CAST(SUM(c) AS BIGINT) AS out_c FROM ecnt GROUP BY 1),
edges AS (
    SELECT e.src, e.dst, CAST(e.c AS BIGINT) AS c, o.out_c
    FROM ecnt e JOIN outw o USING (src)
)"""


def _attr_sql_chain(tag: str, removed: str | None) -> str:
    """Unrolled fixed-point absorption CTEs for one variant."""
    flt = (
        f"AND e.src <> '{removed}' AND e.dst <> '{removed}'"
        if removed
        else ""
    )
    consts = (
        f"SELECT 'conv' AS node, CAST({_ATTR_SCALE} AS BIGINT) AS val "
        "UNION ALL SELECT 'drop', 0"
    )
    parts = [
        f"p{tag}_0 AS (SELECT event_type AS node, CAST(0 AS BIGINT) AS val "
        f"FROM (SELECT DISTINCT event_type FROM events "
        f"WHERE event_type <> 'purchase') t)"
    ]
    for k in range(1, _ATTR_ITERS + 1):
        parts.append(f"""p{tag}_{k} AS (
    SELECT s.node, COALESCE(x.val, 0) AS val
    FROM p{tag}_0 s LEFT JOIN (
        SELECT e.src AS node,
               CAST(SUM(CAST(FLOOR(CAST(p.val AS DOUBLE) * e.c / e.out_c
                    + 0.5) AS BIGINT)) AS BIGINT) AS val
        FROM edges e
        JOIN (SELECT node, val FROM p{tag}_{k - 1} UNION ALL {consts}) p
          ON p.node = e.dst
        WHERE e.src <> 'start' {flt}
        GROUP BY 1
    ) x ON x.node = s.node
)""")
    parts.append(f"""res_{tag} AS (
    SELECT CAST(COALESCE(SUM(CAST(FLOOR(CAST(p.val AS DOUBLE) * e.c
                / e.out_c + 0.5) AS BIGINT)), 0) AS BIGINT) AS conv_micro
    FROM edges e
    JOIN (SELECT node, val FROM p{tag}_{_ATTR_ITERS} UNION ALL {consts}) p
      ON p.node = e.dst
    WHERE e.src = 'start' {flt}
)""")
    return ",\n".join(parts)


_ATTR_ORACLE = (
    "WITH "
    + _ATTR_EDGES_SQL.lstrip()
    + ",\n"
    + _attr_sql_chain("b", None)
    + ",\n"
    + ",\n".join(
        _attr_sql_chain(f"r{i}", ch)
        for i, ch in enumerate(_ATTR_CHANNELS)
    )
    + "\nSELECT t.removed_channel,\n"
    + "       b.conv_micro / 1000000000.0 AS base_conv_prob,\n"
    + "       t.conv_micro / 1000000000.0 AS removed_conv_prob,\n"
    + "       "
    + sql_dround("(b.conv_micro - t.conv_micro) * 1.0 / b.conv_micro", 6)
    + " AS removal_effect\n"
    + "FROM (\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{ch}' AS removed_channel, conv_micro FROM res_r{i}"
        for i, ch in enumerate(_ATTR_CHANNELS)
    )
    + "\n) t CROSS JOIN res_b b\n"
)


@query("markov_attribution_removal", oracle=_ATTR_ORACLE)
def markov_attribution_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Removal-effect conversion attribution per channel.

    Scale: transition counting is the only event-scale work (one
    user-shuffle for sessionization + a (src, dst)-grain count that
    map-combines to ≤ (channels+2)² cells); the absorbing-chain solve
    collects that model-sized matrix and iterates in exact fixed point
    on the driver — identical arithmetic to the oracle's unrolled SQL.
    More channels/iterations grow driver math, never cluster work.
    """
    import math

    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    # Shared NULL-key filter, plan AND oracle: a NULL event_type can
    # never be a channel (it would also poison the driver-side sorted()
    # over channel names); timeless/anonymous rows can't join a journey.
    events = events.filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.expr("timestampdiff(MICROSECOND, lag(ts) OVER "
                    "(PARTITION BY user_id ORDER BY ts, event_id), ts)")
    ordered = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (gap_us > F.lit(1800 * 1_000_000)),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    sess = ordered.withColumn(
        "sid",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    wp = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    pos = sess.select(
        "user_id",
        "sid",
        "event_type",
        F.row_number().over(wp).alias("pos"),
    )
    fp = pos.groupBy("user_id", "sid").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("pos"))
        ).alias("ppos")
    )
    wk = Window.partitionBy("user_id", "sid").orderBy("pos")
    k2 = (
        pos.join(fp, ["user_id", "sid"])
        .filter(F.col("ppos").isNull() | (F.col("pos") < F.col("ppos")))
        .select(
            "user_id",
            "sid",
            "event_type",
            "pos",
            "ppos",
            F.lead("event_type").over(wk).alias("nxt"),
        )
    )
    trans = (
        k2.select(
            F.col("event_type").alias("src"),
            F.coalesce(
                "nxt",
                F.when(F.col("ppos").isNotNull(), "conv").otherwise("drop"),
            ).alias("dst"),
        )
        .unionAll(
            k2.filter(F.col("pos") == 1).select(
                F.lit("start").alias("src"),
                F.col("event_type").alias("dst"),
            )
        )
        .unionAll(
            fp.filter(F.col("ppos") == 1).select(
                F.lit("start").alias("src"), F.lit("conv").alias("dst")
            )
        )
    )
    ecnt = trans.groupBy("src", "dst").agg(F.count("*").alias("c"))
    outw = ecnt.groupBy("src").agg(F.sum("c").alias("out_c"))
    edges = [
        (r.src, r.dst, int(r.c), int(r.out_c))
        for r in ecnt.join(outw, "src").collect()
    ]  # model-sized: <= (channels+2)^2 rows
    channels = sorted(
        {s for s, _, _, _ in edges if s not in ("start",)}
        | {d for _, d, _, _ in edges if d not in ("conv", "drop")}
    )

    def solve(removed: str | None) -> int:
        p = {ch: 0 for ch in channels}
        for _ in range(_ATTR_ITERS):
            nxt = {}
            for ch in channels:
                total = 0
                for s, d, c, out_c in edges:
                    if s != ch or s == "start":
                        continue
                    if removed and (s == removed or d == removed):
                        continue
                    val = (
                        _ATTR_SCALE
                        if d == "conv"
                        else (0 if d == "drop" else p[d])
                    )
                    total += int(math.floor(float(val) * c / out_c + 0.5))
                nxt[ch] = total
            p = nxt
        conv = 0
        for s, d, c, out_c in edges:
            if s != "start":
                continue
            if removed and d == removed:
                continue
            val = (
                _ATTR_SCALE if d == "conv" else (0 if d == "drop" else p.get(d, 0))
            )
            conv += int(math.floor(float(val) * c / out_c + 0.5))
        return conv

    base = solve(None)
    rows = []
    for ch in _ATTR_CHANNELS:
        rem = solve(ch)
        rows.append(
            (
                ch,
                base / 1000000000.0,
                rem / 1000000000.0,
                math.floor((base - rem) * 1.0 / base * 1000000 + 0.5)
                / 1000000.0,
            )
        )
    return spark.createDataFrame(
        rows,
        "removed_channel string, base_conv_prob double,"
        " removed_conv_prob double, removal_effect double",
    )


# --------------------------------------------------------------------------
# Complex-event-processing pattern over the daily series: three
# consecutive strict rises followed by a fall (the "blow-off top"
# MATCH_RECOGNIZE shape, expressed as lag comparisons over the
# gap-filled spine so "consecutive" means consecutive CALENDAR days).
# Pure integer comparisons — no float anywhere.
# --------------------------------------------------------------------------


@query(
    "cep_rise_fall_patterns",
    oracle="""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
bounds AS (SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM daily),
spine AS (
    SELECT t.event_type, CAST(g.day AS DATE) AS d
    FROM (SELECT DISTINCT event_type FROM events) t
    CROSS JOIN (
        SELECT unnest(generate_series(b.dmin, b.dmax, INTERVAL 1 DAY)) AS day
        FROM bounds b
    ) g
),
filled AS (
    SELECT s.event_type, s.d, COALESCE(dy.n, 0) AS n
    FROM spine s LEFT JOIN daily dy
      ON dy.event_type = s.event_type AND dy.d = s.d
),
lagged AS (
    SELECT event_type, d, n,
           LAG(n, 1) OVER w AS n1, LAG(n, 2) OVER w AS n2,
           LAG(n, 3) OVER w AS n3
    FROM filled
    WINDOW w AS (PARTITION BY event_type ORDER BY d)
)
SELECT event_type, d AS fall_day, n3, n2, n1, n AS n_fall
FROM lagged
WHERE n3 IS NOT NULL AND n3 < n2 AND n2 < n1 AND n < n1
""",
)
def cep_rise_fall_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three strict rises then a fall, per event type and calendar day.

    Scale: one (type, day)-grain shuffle + a per-type lag window over
    day-cardinality partitions — the CEP pattern a MATCH_RECOGNIZE
    engine compiles to exactly this lag-comparison form when the
    pattern has fixed length. Variable-length patterns go to
    applyInPandasWithState (streaming/) instead.
    """
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").alias("n"))
    bounds = daily.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    spine = (
        events.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select("event_type", F.explode(F.sequence("dmin", "dmax")).alias("d"))
    )
    filled = spine.join(daily, ["event_type", "d"], "left").select(
        "event_type", "d", F.coalesce("n", F.lit(0)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = filled.select(
        "event_type",
        "d",
        "n",
        F.lag("n", 1).over(w).alias("n1"),
        F.lag("n", 2).over(w).alias("n2"),
        F.lag("n", 3).over(w).alias("n3"),
    )
    return lagged.filter(
        F.col("n3").isNotNull()
        & (F.col("n3") < F.col("n2"))
        & (F.col("n2") < F.col("n1"))
        & (F.col("n") < F.col("n1"))
    ).select(
        "event_type",
        F.col("d").alias("fall_day"),
        "n3",
        "n2",
        "n1",
        F.col("n").alias("n_fall"),
    )


# --------------------------------------------------------------------------
# CUSUM change-point detection over the gap-filled daily series. The
# recursive S_t = max(0, S_{t-1} + x_t) has the closed prefix form
# S_t = P_t − min(0, min_{k≤t} P_k) (the inventory_running_balance
# identity, reused here for sequential drift detection), so the whole
# statistic is two windows over exact ×1e6 integers — no recursion,
# no iterative state, partition-reproducible.
# --------------------------------------------------------------------------


@query(
    "cusum_change_detection",
    oracle=f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
bounds AS (SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM daily),
spine AS (
    SELECT t.event_type, CAST(g.day AS DATE) AS d
    FROM (SELECT DISTINCT event_type FROM events) t
    CROSS JOIN (
        SELECT unnest(generate_series(b.dmin, b.dmax, INTERVAL 1 DAY)) AS day
        FROM bounds b
    ) g
),
filled AS (
    SELECT s.event_type, s.d, COALESCE(dy.n, 0) AS n
    FROM spine s LEFT JOIN daily dy
      ON dy.event_type = s.event_type AND dy.d = s.d
),
base AS (
    SELECT event_type,
           CAST(SUM(n) AS BIGINT) * 1.0 / COUNT(*) AS mu
    FROM filled GROUP BY 1
),
q AS (
    SELECT f.event_type, f.d, f.n,
           {sql_qround('(f.n - 1.25 * b.mu)', 6)} AS xq,
           {sql_qround('2.0 * b.mu', 6)} AS hq
    FROM filled f JOIN base b USING (event_type)
),
pfx0 AS (
    SELECT event_type, d, n, hq,
           CAST(SUM(xq) OVER (PARTITION BY event_type ORDER BY d
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
    FROM q
),
pfx AS (
    SELECT event_type, d, n, hq, p,
           CAST(MIN(p) OVER (PARTITION BY event_type ORDER BY d
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS minp
    FROM pfx0
)
SELECT event_type, d, n,
       {sql_dround('(p - LEAST(CAST(0 AS BIGINT), minp)) / 1000000.0', 4)} AS cusum,
       (p - LEAST(CAST(0 AS BIGINT), minp)) > hq AS is_alarm
FROM pfx
""",
)
def cusum_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift alarm per event type and day.

    Scale: one (type, day)-grain shuffle; the clamped recursion
    becomes prefix-sum minus running prefix-min — two frames over the
    SAME window partitioning (one exchange). Slack 1.25μ and threshold
    2μ are pinned; the exact-integer form means alarms never flicker
    between runs or partitionings.
    """
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").alias("n"))
    bounds = daily.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    spine = (
        events.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select("event_type", F.explode(F.sequence("dmin", "dmax")).alias("d"))
    )
    filled = spine.join(daily, ["event_type", "d"], "left").select(
        "event_type", "d", F.coalesce("n", F.lit(0)).alias("n")
    )
    base = filled.groupBy("event_type").agg(
        (F.sum("n").cast("bigint") * 1.0 / F.count("*")).alias("mu")
    )
    q = filled.join(F.broadcast(base), "event_type").select(
        "event_type",
        "d",
        "n",
        qround(F.col("n") - 1.25 * F.col("mu"), 6)
        .alias("xq"),
        qround(2.0 * F.col("mu"), 6).alias("hq"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p = F.sum("xq").over(w).cast("bigint")
    minp = F.min(F.sum("xq").over(w)).over(w).cast("bigint")
    s = p - F.least(F.lit(0).cast("bigint"), minp)
    return q.select(
        "event_type",
        "d",
        "n",
        dround(s / 1000000.0, 4).alias("cusum"),
        (s > F.col("hq")).alias("is_alarm"),
    )


# --------------------------------------------------------------------------
# Walk-forward forecast backtest: score the two zero-parameter
# baselines every real forecaster must beat — naive (ŷ_t = y_{t-1})
# and seasonal-naive (ŷ_t = y_{t-7}) — per event type over the
# gap-filled spine. Errors are exact integers; MAE/MAPE divide once.
# --------------------------------------------------------------------------


@query(
    "naive_forecast_backtest",
    oracle=f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
    FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
    GROUP BY 1, 2
),
bounds AS (SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM daily),
spine AS (
    SELECT t.event_type, CAST(g.day AS DATE) AS d
    FROM (SELECT DISTINCT event_type FROM events
          WHERE ts IS NOT NULL AND event_type IS NOT NULL) t
    CROSS JOIN (
        SELECT unnest(generate_series(b.dmin, b.dmax, INTERVAL 1 DAY)) AS day
        FROM bounds b
    ) g
),
filled AS (
    SELECT s.event_type, s.d, COALESCE(dy.n, 0) AS n
    FROM spine s LEFT JOIN daily dy
      ON dy.event_type = s.event_type AND dy.d = s.d
),
lagged AS (
    SELECT event_type, d, n,
           LAG(n, 1) OVER w AS naive_pred,
           LAG(n, 7) OVER w AS snaive_pred
    FROM filled
    WINDOW w AS (PARTITION BY event_type ORDER BY d)
),
scored AS (
    SELECT event_type,
           ABS(n - naive_pred) AS e1,
           ABS(n - snaive_pred) AS e7,
           n
    FROM lagged WHERE snaive_pred IS NOT NULL
)
SELECT event_type,
       COUNT(*) AS n_days,
       CAST(SUM(e1) AS BIGINT) * 1.0 / COUNT(*) AS mae_naive,
       CAST(SUM(e7) AS BIGINT) * 1.0 / COUNT(*) AS mae_seasonal_naive,
       CASE WHEN CAST(SUM(e1) AS BIGINT) > 0 THEN
       {sql_dround('CAST(SUM(e7) AS BIGINT) * 1.0 / CAST(SUM(e1) AS BIGINT)', 4)} END AS seasonal_skill_ratio
FROM scored
GROUP BY 1
""",
)
def naive_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAE of naive vs seasonal-naive baselines per event type.

    Scale: the standard spine + per-type lag windows (one shuffle);
    scoring keeps only days where both baselines exist so the
    comparison is like-for-like. The skill ratio (<1 = weekly
    seasonality real) gates whether a heavier forecaster is worth
    training at all.
    """
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    # Timeless/typeless rows can't join a forecastable series; a
    # NULL-type spine row would also make SUM(e1)=0 and throw on the
    # skill-ratio division under Spark 4 ANSI. Filter both sides.
    events = events.filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").alias("n"))
    bounds = daily.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    spine = (
        events.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select("event_type", F.explode(F.sequence("dmin", "dmax")).alias("d"))
    )
    filled = spine.join(daily, ["event_type", "d"], "left").select(
        "event_type", "d", F.coalesce("n", F.lit(0)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = filled.select(
        "event_type",
        "n",
        F.lag("n", 1).over(w).alias("naive_pred"),
        F.lag("n", 7).over(w).alias("snaive_pred"),
    )
    scored = lagged.filter(F.col("snaive_pred").isNotNull()).select(
        "event_type",
        F.abs(F.col("n") - F.col("naive_pred")).alias("e1"),
        F.abs(F.col("n") - F.col("snaive_pred")).alias("e7"),
    )
    return scored.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        (F.sum("e1").cast("bigint") * 1.0 / F.count("*")).alias("mae_naive"),
        (F.sum("e7").cast("bigint") * 1.0 / F.count("*")).alias(
            "mae_seasonal_naive"
        ),
        (
            # degenerate guard (identical CASE in the oracle): a
            # constant series has SUM(e1)=0 and ANSI x/0 throws
            F.when(
                F.sum("e1").cast("bigint") > 0,
                dround(
                    F.sum("e7").cast("bigint")
                    * 1.0
                    / F.sum("e1").cast("bigint"),
                    4,
                ),
            )
        ).alias("seasonal_skill_ratio"),
    )


# --------------------------------------------------------------------------
# Session-gap sensitivity sweep: how many sessions (and how long) each
# candidate gap threshold produces. The per-user gap column is
# computed ONCE; each threshold is then a conditional count over the
# same pass (broadcast threshold axis) — the cost curve behind the
# pinned 1800 s session rule, the same way watermark_drop_audit prices
# watermark delays.
# --------------------------------------------------------------------------

_GAP_CANDIDATES_S = (900, 1800, 3600)


@query(
    "session_gap_sensitivity",
    oracle=f"""
WITH gaps AS (
    SELECT user_id,
           date_diff('microsecond', LAG(ts) OVER w, ts) AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
g AS (SELECT * FROM (VALUES {', '.join(f'({x})' for x in _GAP_CANDIDATES_S)})
      t(gap_s))
SELECT g.gap_s,
       COUNT(*) AS n_events,
       COUNT(*) FILTER (WHERE gaps.gap_us IS NULL
           OR gaps.gap_us > CAST(g.gap_s AS BIGINT) * 1000000)
           AS n_sessions,
       {sql_dround('COUNT(*) * 1.0 / COUNT(*) FILTER (WHERE gaps.gap_us IS NULL'
                   ' OR gaps.gap_us > CAST(g.gap_s AS BIGINT) * 1000000)', 4)} AS avg_events_per_session
FROM gaps CROSS JOIN g
GROUP BY 1
""",
)
def session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessions produced per candidate gap threshold (cost curve).

    Scale: one user-ordered window computes gaps; the 3-row threshold
    axis broadcasts and each candidate is a conditional count — no
    re-sessionization per threshold. Uses the pinned strictly-greater
    split rule (CLAUDE.md session-gap boundary).
    """
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = events.select(
        F.expr(
            "timestampdiff(MICROSECOND, lag(ts) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id), ts)"
        ).alias("gap_us")
    )
    g = F.broadcast(
        events.sparkSession.createDataFrame(
            [(x,) for x in _GAP_CANDIDATES_S], "gap_s int"
        )
    )
    new_sess = F.count_if(
        F.col("gap_us").isNull()
        | (F.col("gap_us") > F.col("gap_s").cast("bigint") * 1000000)
    )
    return gaps.crossJoin(g).groupBy("gap_s").agg(
        F.count("*").alias("n_events"),
        new_sess.alias("n_sessions"),
        dround(F.count("*") * 1.0 / new_sess, 4).alias(
            "avg_events_per_session"
        ),
    )


# --------------------------------------------------------------------------
# Dispersion index (variance-to-mean ratio) of the daily counts — the
# overdispersion diagnostic that decides Poisson vs negative-binomial
# modeling (and whether rate alerts need wider bands). Wide-integer
# exact moments; two divisions per row.
# --------------------------------------------------------------------------


@query(
    "dispersion_index_daily",
    oracle=f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
m AS (
    SELECT event_type,
           COUNT(*) AS k,
           CAST(SUM(n) AS BIGINT) AS s1,
           CAST(SUM(CAST(n AS HUGEINT) * n) AS HUGEINT) AS s2
    FROM daily GROUP BY 1
)
SELECT event_type, k AS n_days,
       s1 * 1.0 / k AS mean_daily,
       {sql_dround('CAST(k * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)'
                   ' / k / (k - 1.0)', 4)} AS variance_daily,
       {sql_dround('(CAST(k * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)'
                   ' / k / (k - 1.0)) / (s1 * 1.0 / k)', 4)}
           AS dispersion_index
FROM m
""",
)
def dispersion_index_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance/mean of daily counts per type (overdispersion check).

    Scale: day-grain moments after one shuffle; dispersion ≈ 1 means
    Poisson alerts are honest, ≫1 means bursty arrivals and the
    anomaly thresholds (anomaly_days_zscore, cusum) should widen.
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").alias("n"))
    m = daily.groupBy("event_type").agg(
        F.count("*").alias("k"),
        F.sum("n").cast("bigint").alias("s1"),
        F.sum(F.col("n").cast("decimal(38,0)") * F.col("n")).alias("s2"),
    )
    var = (
        (F.col("k") * F.col("s2") - F.col("s1").cast("decimal(38,0)") * F.col("s1"))
        .cast("double")
        / F.col("k")
        / (F.col("k") - 1.0)
    )
    mean = F.col("s1") * 1.0 / F.col("k")
    return m.select(
        "event_type",
        F.col("k").alias("n_days"),
        mean.alias("mean_daily"),
        dround(var, 4).alias("variance_daily"),
        dround(var / mean, 4).alias("dispersion_index"),
    )


# --------------------------------------------------------------------------
# Interrupted time-series analysis: piecewise OLS around a pinned
# intervention date — pre/post slopes and the level shift at the
# break. The causal sibling of difference_in_differences for a GLOBAL
# change (no control group exists). x is the integer day index and y
# the integer daily count, so all OLS moments are exact; each
# slope/intercept is a fixed expression (zipf_slope_by_lang pattern).
# --------------------------------------------------------------------------

# mid-span break: the regenerated events corpus covers Jan 1-30 ONLY —
# the original 2024-02-01 break left the post segment EMPTY and the
# query vacuously green (caught by the round-8 empty-result audit)
_ITS_BREAK = "2024-01-16"


def _its_moments_sql(tag: str, pred: str) -> str:
    return f"""
m{tag} AS (
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(x * y) AS BIGINT) AS sxy
    FROM d WHERE {pred}
    GROUP BY 1
)"""


_ITS_SLOPE = (
    "(CAST({m}.n * {m}.sxy - {m}.sx * {m}.sy AS DOUBLE)"
    " / CAST({m}.n * {m}.sxx - {m}.sx * {m}.sx AS DOUBLE))"
)
_ITS_INTERCEPT = (
    "({m}.sy * 1.0 / {m}.n - " + _ITS_SLOPE + " * {m}.sx / {m}.n)"
)


@query(
    "interrupted_time_series",
    oracle=f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS dd, COUNT(*) AS y
    FROM events GROUP BY 1, 2
),
d AS (
    SELECT event_type,
           CAST(dd - DATE '{_ITS_BREAK}' AS BIGINT) AS x, y
    FROM daily
),
{_its_moments_sql('p', 'x < 0').lstrip()},
{_its_moments_sql('q', 'x >= 0').lstrip()}
SELECT mp.event_type,
       {sql_dround(_ITS_SLOPE.format(m='mp'), 6)} AS slope_pre,
       {sql_dround(_ITS_SLOPE.format(m='mq'), 6)} AS slope_post,
       {sql_dround(_ITS_INTERCEPT.format(m='mq')
                   + ' - ' + _ITS_INTERCEPT.format(m='mp'), 4)}
           AS level_shift_at_break
FROM mp JOIN mq ON mq.event_type = mp.event_type
WHERE mp.n >= 2 AND mq.n >= 2
""",
)
def interrupted_time_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre/post slopes and level shift around the pinned break date.

    Scale: day-grain moments per segment after one shuffle; both
    regressions are fixed expressions over exact integer sums (x = 0
    at the break, so the intercept difference IS the level shift).
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    d = (
        events.groupBy("event_type", F.to_date("ts").alias("dd"))
        .agg(F.count("*").alias("y"))
        .select(
            "event_type",
            F.datediff("dd", F.lit(_ITS_BREAK).cast("date"))
            .cast("bigint")
            .alias("x"),
            "y",
        )
    )

    def moments(df):
        return df.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
            F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        )

    def slope():
        return (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
        )

    def rename(df, tag):
        out = df
        for c in ["n", "sx", "sy", "sxx", "sxy"]:
            out = out.withColumnRenamed(c, f"{c}_{tag}")
        return out

    mp = rename(moments(d.filter(F.col("x") < 0)), "p")
    mq = rename(moments(d.filter(F.col("x") >= 0)), "q")

    def seg(tag):
        n, sx, sy, sxx, sxy = (
            F.col(f"n_{tag}"),
            F.col(f"sx_{tag}"),
            F.col(f"sy_{tag}"),
            F.col(f"sxx_{tag}"),
            F.col(f"sxy_{tag}"),
        )
        sl = (n * sxy - sx * sy).cast("double") / (n * sxx - sx * sx).cast(
            "double"
        )
        ic = sy * 1.0 / n - sl * sx / n
        return sl, ic

    slp, icp = seg("p")
    slq, icq = seg("q")
    return (
        mp.join(mq, "event_type")
        .filter((F.col("n_p") >= 2) & (F.col("n_q") >= 2))
        .select(
            "event_type",
            dround(slp, 6).alias("slope_pre"),
            dround(slq, 6).alias("slope_post"),
            dround(icq - icp, 4).alias("level_shift_at_break"),
        )
    )


# --------------------------------------------------------------------------
# Lead–lag cross-correlation between the view and purchase daily
# series (lags −3..+3): does view volume LEAD purchase volume, and by
# how many days? Pearson r per lag from exact integer moments over
# the aligned day pairs (autocorrelation_daily's machinery pointed at
# TWO series) — the statistic that turns "traffic predicts revenue"
# into a measured lag.
# --------------------------------------------------------------------------

_XCORR_LAGS = (-3, -2, -1, 0, 1, 2, 3)


@query(
    "lead_lag_cross_correlation",
    oracle=f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           COUNT(*) FILTER (WHERE event_type = 'view') AS v,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS p
    FROM events GROUP BY 1
),
lags AS (SELECT * FROM (VALUES {', '.join(f'({k})' for k in _XCORR_LAGS)})
         t(lag)),
aligned AS (
    SELECT l.lag, a.v AS x, b.p AS y
    FROM lags l
    JOIN daily a ON TRUE
    JOIN daily b ON b.d = a.d + l.lag
),
m AS (
    SELECT lag, COUNT(*) AS n,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
           CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
           CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
    FROM aligned GROUP BY 1
)
SELECT lag AS lag_days, n AS n_days,
       {sql_dround('CAST(n * sxy - sx * sy AS DOUBLE)'
                   ' / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))'
                   ' / sqrt(CAST(n * syy - sy * sy AS DOUBLE))', 6)} AS pearson_r
FROM m
WHERE n >= 3
""",
)
def lead_lag_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation of view vs purchase volume at day lags −3..3.

    Scale: ONE day-grain pivot of both series, then a 7-row lag axis
    joined by shifted date (≤7 partners per day — bounded range
    join); moments are exact wide integers. The lag with max r is the
    conversion latency the forecasters should feature.
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    daily = events.groupBy(F.to_date("ts").alias("d")).agg(
        F.count_if(F.col("event_type") == "view").alias("v"),
        F.count_if(F.col("event_type") == "purchase").alias("p"),
    )
    lags = F.broadcast(
        events.sparkSession.createDataFrame(
            [(k,) for k in _XCORR_LAGS], "lag int"
        )
    )
    a = daily.select(F.col("d").alias("da"), F.col("v").alias("x"))
    b = daily.select(F.col("d").alias("db"), F.col("p").alias("y"))
    aligned = (
        lags.crossJoin(a)
        .join(b, F.col("db") == F.expr("date_add(da, lag)"))
        .select("lag", "x", "y")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = aligned.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("y") * F.col("y")).alias("syy"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
    )
    r = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
        )
        / F.sqrt(
            (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                "double"
            )
        )
    )
    return m.filter(F.col("n") >= 3).select(
        F.col("lag").alias("lag_days"),
        F.col("n").alias("n_days"),
        dround(r, 6).alias("pearson_r"),
    )


# --------------------------------------------------------------------------
# Intraday seasonality strength: η² = between-hour sum of squares /
# total sum of squares of per-(day, hour) counts — the one-way-ANOVA
# effect size for "does hour-of-day explain volume". Exact integer
# moments per hour bin; two divisions per type.
# --------------------------------------------------------------------------


@query(
    "intraday_seasonality_strength",
    oracle=f"""
WITH cell AS (
    SELECT event_type, CAST(ts AS DATE) AS d,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2, 3
),
hourly AS (
    SELECT event_type, h,
           COUNT(*) AS k,
           CAST(SUM(n) AS BIGINT) AS s,
           CAST(SUM(CAST(n AS HUGEINT) * n) AS HUGEINT) AS ss
    FROM cell GROUP BY 1, 2
),
tot AS (
    SELECT event_type,
           CAST(SUM(k) AS BIGINT) AS kt,
           CAST(SUM(s) AS BIGINT) AS st,
           CAST(SUM(ss) AS HUGEINT) AS sst,
           CAST(SUM({sql_qround('CAST(CAST(s AS HUGEINT) * s AS DOUBLE) / k', 3)}) AS BIGINT) AS between_milli
    FROM hourly GROUP BY 1
)
SELECT event_type,
       kt AS n_cells,
       {sql_dround('(between_milli / 1000.0 - CAST(st AS DOUBLE) * st / kt)'
                   ' / (CAST(sst AS DOUBLE) - CAST(st AS DOUBLE) * st / kt)', 6)} AS eta_squared
FROM tot
WHERE CAST(sst AS DOUBLE) - CAST(st AS DOUBLE) * st / kt > 0
""",
)
def intraday_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """η² of hour-of-day on (day, hour) cell volume, per event type.

    Scale: one (type, day, hour)-grain shuffle, a 24-bin moment
    rollup, one ratio. η² near 0 = flat intraday load (schedule
    compaction anytime); near 1 = strong diurnal cycle (size
    streaming capacity to the peak hour, not the mean). The per-hour
    s²/k term is one identical double division QUANTIZED to ×1000
    integers before the 24-term sum (cross-row double summation is
    never order-safe — the house rule), so η² is one ratio of exact
    reductions.
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    cell = events.groupBy(
        "event_type",
        F.to_date("ts").alias("d"),
        F.hour("ts").cast("bigint").alias("h"),
    ).agg(F.count("*").alias("n"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    hourly = cell.groupBy("event_type", "h").agg(
        F.count("*").alias("k"),
        F.sum("n").cast("bigint").alias("s"),
        F.sum(dec("n") * F.col("n")).alias("ss"),
    )
    tot = hourly.groupBy("event_type").agg(
        F.sum("k").cast("bigint").alias("kt"),
        F.sum("s").cast("bigint").alias("st"),
        F.sum("ss").alias("sst"),
        F.sum(
            qround(
                (dec("s") * F.col("s")).cast("double") / F.col("k"), 3
            )
        )
        .cast("bigint")
        .alias("between_milli"),
    )
    between = F.col("between_milli") / 1000.0 - F.col("st").cast(
        "double"
    ) * F.col("st") / F.col("kt")
    total_ss = F.col("sst").cast("double") - F.col("st").cast("double") * F.col(
        "st"
    ) / F.col("kt")
    return tot.filter(total_ss > 0).select(
        "event_type",
        F.col("kt").alias("n_cells"),
        dround(between / total_ss, 6).alias("eta_squared"),
    )


# --------------------------------------------------------------------------
# Mutual information between event type and weekday — the
# information-theoretic dependence measure beside chi_square_type_dow's
# test statistic. Every c·ln(...) term is quantized to ×1e9 integers
# on the bounded type×weekday grid before the exact sum; MI, the two
# marginal entropies, and the normalized MI are fixed expressions.
# --------------------------------------------------------------------------


@query(
    "mutual_information_type_dow",
    oracle=f"""
WITH cell AS (
    SELECT event_type,
           CAST((CAST(ts AS DATE) - DATE '1970-01-01') AS BIGINT) % 7 AS dow,
           COUNT(*) AS c
    FROM events GROUP BY 1, 2
),
marg AS (
    SELECT c.event_type, c.dow, c.c,
           CAST(SUM(c.c) OVER (PARTITION BY c.event_type) AS BIGINT) AS ra,
           CAST(SUM(c.c) OVER (PARTITION BY c.dow) AS BIGINT) AS cb,
           CAST(SUM(c.c) OVER () AS BIGINT) AS n
    FROM cell c
),
terms AS (
    SELECT n,
           {sql_qround('c * ln(c * 1.0 * n / ra / cb)', 9)} AS miq,
           {sql_qround('c * ln(n * 1.0 / ra)', 9)} AS haq
    FROM marg
)
SELECT MAX(n) AS n_events,
       {sql_dround('CAST(SUM(miq) AS BIGINT) * 1.0 / MAX(n) / 1000000000.0', 6)} AS mutual_information_nats,
       {sql_dround('CAST(SUM(miq) AS BIGINT) * 1.0 / CAST(SUM(haq) AS BIGINT)', 6)} AS uncertainty_coefficient
FROM terms
""",
)
def mutual_information_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MI and Theil's U between event type and weekday.

    Scale: one (type, dow)-grain count; marginals are windows over the
    ≤ types×7 grid; per-cell log terms quantize before the exact sum.
    The uncertainty coefficient (MI / H(type)) reads as "% of type
    uncertainty the weekday removes" — feature selection's currency.
    """
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    cell = events.groupBy(
        "event_type",
        (F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("bigint") % 7)
        .alias("dow"),
    ).agg(F.count("*").alias("c"))
    marg = cell.select(
        "c",
        F.sum("c").over(Window.partitionBy("event_type")).cast("bigint").alias("ra"),
        F.sum("c").over(Window.partitionBy("dow")).cast("bigint").alias("cb"),
        F.sum("c").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    miq = qround(
        F.col("c")
        * F.log(F.col("c") * 1.0 * F.col("n") / F.col("ra") / F.col("cb")),
        9,
    )
    haq = qround(
        F.col("c") * F.log(F.col("n") * 1.0 / F.col("ra")), 9
    )
    terms = marg.select("n", miq.alias("miq"), haq.alias("haq"))
    return terms.agg(
        F.max("n").alias("n_events"),
        dround(
            F.sum("miq").cast("bigint") * 1.0 / F.max("n") / 1000000000.0,
            6,
        ).alias("mutual_information_nats"),
        dround(
            F.sum("miq").cast("bigint") * 1.0 / F.sum("haq").cast("bigint"),
            6,
        ).alias("uncertainty_coefficient"),
    )


# --------------------------------------------------------------------------
# Conditional entropy of the next event given the current one —
# H(next|prev) from within-session transition counts. 0 bits = fully
# scripted journeys; log2(|types|) = memoryless. Bounded types² grid,
# quantized log terms, exact sums (pairs with event_transition_matrix,
# which reports the probabilities this summarizes).
# --------------------------------------------------------------------------


@query(
    "sequence_conditional_entropy",
    oracle=f"""
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           LEAD(event_type) OVER w AS nxt,
           CASE WHEN date_diff('microsecond', ts, LEAD(ts) OVER w)
                     <= CAST(1800 AS BIGINT) * 1000000
                THEN 1 ELSE 0 END AS same_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
trans AS (
    SELECT event_type AS prev, nxt, COUNT(*) AS c
    FROM ordered WHERE nxt IS NOT NULL AND same_session = 1
    GROUP BY 1, 2
),
marg AS (
    SELECT t.prev, t.nxt, t.c,
           CAST(SUM(t.c) OVER (PARTITION BY t.prev) AS BIGINT) AS rp,
           CAST(SUM(t.c) OVER () AS BIGINT) AS n
    FROM trans t
),
terms AS (
    SELECT n,
           {sql_qround('c * ln(rp * 1.0 / c)', 9)}
               AS hq
    FROM marg
)
SELECT MAX(n) AS n_transitions,
       {sql_dround('CAST(SUM(hq) AS BIGINT) * 1.0 / MAX(n) / 1000000000.0'
                   ' / ln(2.0)', 6)}
           AS conditional_entropy_bits
FROM terms
""",
)
def sequence_conditional_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H(next event | current event) in bits, within sessions.

    Scale: one user-ordered window yields transitions (the same pass
    the attribution/transition-matrix ops use); entropy terms live on
    the types² grid. The single number that says whether journey
    prediction is even worth modeling.
    """
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.expr(
        "timestampdiff(MICROSECOND, ts, lead(ts) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id))"
    )
    ordered = events.select(
        F.col("event_type").alias("prev"),
        F.lead("event_type").over(w).alias("nxt"),
        (gap_us <= F.lit(1800 * 1_000_000)).alias("same_session"),
    )
    trans = (
        ordered.filter(F.col("nxt").isNotNull() & F.col("same_session"))
        .groupBy("prev", "nxt")
        .agg(F.count("*").alias("c"))
    )
    marg = trans.select(
        "c",
        F.sum("c").over(Window.partitionBy("prev")).cast("bigint").alias("rp"),
        F.sum("c").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    hq = qround(
        F.col("c") * F.log(F.col("rp") * 1.0 / F.col("c")), 9
    )
    terms = marg.select("n", hq.alias("hq"))
    return terms.agg(
        F.max("n").alias("n_transitions"),
        dround(
            F.sum("hq").cast("bigint")
            * 1.0
            / F.max("n")
            / 1000000000.0
            / F.log(F.lit(2.0)),
            6,
        ).alias("conditional_entropy_bits"),
    )


# --------------------------------------------------------------------------
# Cross-session handoff matrix: the first event of a user's NEXT
# session conditioned on the last event of the previous one — the
# between-visits sibling of event_transition_matrix (which is
# within-session). "Sessions that end in error restart with view"
# is a retention insight no within-session statistic can see.
# --------------------------------------------------------------------------


@query(
    "cross_session_transition",
    oracle=f"""
WITH ordered AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR date_diff('microsecond', LAG(ts) OVER w, ts)
                     > CAST(1800 AS BIGINT) * 1000000
                THEN 1 ELSE 0 END AS new_s
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, ts, event_id, event_type,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM ordered
),
ends AS (
    SELECT user_id, sid,
           MAX(CASE WHEN rn_last = 1 THEN event_type END) AS last_ev,
           MAX(CASE WHEN rn_first = 1 THEN event_type END) AS first_ev
    FROM (
        SELECT user_id, sid, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, sid
                                  ORDER BY ts DESC, event_id DESC) AS rn_last,
               ROW_NUMBER() OVER (PARTITION BY user_id, sid
                                  ORDER BY ts, event_id) AS rn_first
        FROM sess
    )
    GROUP BY 1, 2
),
handoff AS (
    SELECT last_ev AS prev_session_end,
           LEAD(first_ev) OVER (PARTITION BY user_id ORDER BY sid)
               AS next_session_start
    FROM ends
)
SELECT prev_session_end, next_session_start,
       COUNT(*) AS n_handoffs,
       {sql_dround('COUNT(*) * 1.0 / SUM(COUNT(*)) OVER ('
                   ' PARTITION BY prev_session_end)', 6)}
           AS row_share
FROM handoff
WHERE next_session_start IS NOT NULL
GROUP BY 1, 2
""",
)
def cross_session_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P(next session starts with B | previous ended with A).

    Scale: the one user-shuffle serves sessionization, both
    first/last-of-session windows, and the session-level lead; output
    is types²-bounded. Pinned 1800 s strictly-greater session rule.
    """
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    # Shared NULL-key filter, plan AND oracle (see sessionization).
    events = events.filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.expr(
        "timestampdiff(MICROSECOND, lag(ts) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id), ts)"
    )
    sess = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(
            F.when(
                F.lag("ts").over(w).isNull()
                | (gap_us > F.lit(1800 * 1_000_000)),
                1,
            ).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sid"),
    )
    wl = Window.partitionBy("user_id", "sid").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    wf = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    ends = (
        sess.select(
            "user_id",
            "sid",
            "event_type",
            F.row_number().over(wl).alias("rn_last"),
            F.row_number().over(wf).alias("rn_first"),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.max(
                F.when(F.col("rn_last") == 1, F.col("event_type"))
            ).alias("last_ev"),
            F.max(
                F.when(F.col("rn_first") == 1, F.col("event_type"))
            ).alias("first_ev"),
        )
    )
    ws = Window.partitionBy("user_id").orderBy("sid")
    handoff = ends.select(
        F.col("last_ev").alias("prev_session_end"),
        F.lead("first_ev").over(ws).alias("next_session_start"),
    ).filter(F.col("next_session_start").isNotNull())
    grouped = handoff.groupBy(
        "prev_session_end", "next_session_start"
    ).agg(F.count("*").alias("n_handoffs"))
    wr = Window.partitionBy("prev_session_end")
    return grouped.select(
        "prev_session_end",
        "next_session_start",
        "n_handoffs",
        dround(
            F.col("n_handoffs")
            * 1.0
            / F.sum("n_handoffs").over(wr),
            6,
        ).alias("row_share"),
    )


# --------------------------------------------------------------------------
# Multi-horizon funnel conversion: how many first-viewers purchase
# within 1 hour / 24 hours / 7 days of their first view — the
# time-to-convert operating curve behind attribution-window choices
# (funnel_conversion answers IF, this answers HOW FAST). Same one-pass
# conditional-min shape; horizon tests diff at MICROSECOND grain
# (DuckDB's date_diff at coarser grains counts boundary crossings).
# --------------------------------------------------------------------------

_FUNNEL_HORIZONS = (("1h", 3600), ("24h", 86400), ("7d", 604800))


@query(
    "funnel_time_horizons",
    oracle=f"""
WITH per_user AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
    FROM events
    GROUP BY user_id
),
d AS (
    SELECT (t_view IS NOT NULL) AS viewed,
           CASE WHEN t_view IS NOT NULL AND t_purchase > t_view
                THEN date_diff('microsecond', t_view, t_purchase)
           END AS gap_us
    FROM per_user
)
SELECT COUNT(*) FILTER (WHERE viewed) AS n_viewers,
       COUNT(gap_us) AS n_converted,
{', '.join(
    "       COUNT(*) FILTER (WHERE gap_us <= CAST(%d AS BIGINT) * 1000000)"
    " AS converted_%s" % (secs, label)
    for label, secs in _FUNNEL_HORIZONS)}
FROM d
""",
)
def funnel_time_horizons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-view → purchase conversion within 1h / 24h / 7d windows."""
    events = load_tables(spark, sf_dir, "events")["events"]
    per_user = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("t_purchase"),
    )
    gap_us = F.when(
        F.col("t_view").isNotNull()
        & (F.col("t_purchase") > F.col("t_view")),
        F.expr("timestampdiff(MICROSECOND, t_view, t_purchase)"),
    )
    d = per_user.select(
        F.col("t_view").isNotNull().alias("viewed"),
        gap_us.alias("gap_us"),
    )
    aggs = [
        F.count_if(F.col("viewed")).alias("n_viewers"),
        F.count("gap_us").alias("n_converted"),
    ]
    for label, secs in _FUNNEL_HORIZONS:
        aggs.append(
            F.count_if(
                F.col("gap_us") <= F.lit(secs).cast("bigint") * 1000000
            ).alias(f"converted_{label}")
        )
    return d.agg(*aggs)


# --------------------------------------------------------------------------
# Pinball (quantile) loss backtest: scores the seasonal-naive
# forecaster as a QUANTILE forecaster at q = 0.5 and 0.9 — the metric
# that decides whether a quantile forecast (safety-stock, SLA sizing)
# is calibrated, complementing naive_forecast_backtest's MAE. Pinball
# loss terms are exact integers (q scaled ×10: loss_tenths =
# q·10·max(y−ŷ,0) + (10−q·10)·max(ŷ−y,0)), summed exactly, divided
# once per reported column.
# --------------------------------------------------------------------------


@query(
    "pinball_loss_backtest",
    oracle=f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
    FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
    GROUP BY 1, 2
),
lagged AS (
    SELECT event_type, d, n,
           LAG(n, 7) OVER (
               PARTITION BY event_type ORDER BY d
           ) AS pred
    FROM daily
),
scored AS (
    SELECT event_type,
           n - pred AS err
    FROM lagged WHERE pred IS NOT NULL
)
SELECT event_type,
       COUNT(*) AS n_days,
       {sql_dround('CAST(SUM(5 * GREATEST(err, 0)'
                   ' + 5 * GREATEST(-err, 0)) AS BIGINT)'
                   ' * 1.0 / COUNT(*) / 10.0', 4)}
           AS pinball_p50,
       {sql_dround('CAST(SUM(9 * GREATEST(err, 0)'
                   ' + 1 * GREATEST(-err, 0)) AS BIGINT)'
                   ' * 1.0 / COUNT(*) / 10.0', 4)}
           AS pinball_p90,
       COUNT(*) FILTER (WHERE err <= 0) AS n_covered,
       {sql_dround('COUNT(*) FILTER (WHERE err <= 0) * 1.0 / COUNT(*)', 4)} AS empirical_coverage
FROM scored
GROUP BY 1
""",
)
def pinball_loss_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball loss at q=0.5/0.9 for the seasonal-naive forecaster."""
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("d")
    scored = (
        daily.select(
            "event_type",
            "n",
            F.lag("n", 7).over(w).alias("pred"),
        )
        .filter(F.col("pred").isNotNull())
        .select("event_type", (F.col("n") - F.col("pred")).alias("err"))
    )
    over = F.greatest(F.col("err"), F.lit(0))
    under = F.greatest(-F.col("err"), F.lit(0))
    pin = lambda qo, qu: (  # noqa: E731
        dround(
            F.sum(qo * over + qu * under).cast("bigint")
            * 1.0
            / F.count("*")
            / 10.0,
            4,
        )
    )
    return scored.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        pin(F.lit(5), F.lit(5)).alias("pinball_p50"),
        pin(F.lit(9), F.lit(1)).alias("pinball_p90"),
        F.count_if(F.col("err") <= 0).alias("n_covered"),
        dround(
                F.count_if(F.col("err") <= 0) * 1.0 / F.count("*"), 4
            ).alias("empirical_coverage"),
    )


# --------------------------------------------------------------------------
# Kendall tau-b between monthly order volume and monthly revenue, per
# nation — the rank-correlation a demand-forecasting pipeline uses to
# validate that a driver series actually moves with the target
# (Pearson, cf. lineitem_correlation_matrix, is distorted by heavy
# tails; tau is not). Concordant/discordant/tie counts are EXACT
# integers; only the final tau ratio touches floats (dround-pinned).
#
# Scale: the fact table reduces FIRST to the bounded (nation, month)
# grid — at most nations × calendar-months rows no matter how many
# orders exist — and only that grid self-joins (O(months²) per nation,
# calendar-bounded, broadcast-able). No all-pairs work ever touches
# row-cardinality data.
# --------------------------------------------------------------------------


@query(
    "kendall_tau_monthly_demand",
    oracle=f"""
WITH series AS (
    SELECT n_name AS nation,
           CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) AS BIGINT) AS m,
           COUNT(*) AS x,
           CAST(SUM({sql_qround('o_totalprice', 2)})
                AS BIGINT) AS y
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
    GROUP BY 1, 2
),
pairs AS (
    SELECT a.nation,
           CASE WHEN (a.x < b.x AND a.y < b.y)
                  OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END AS conc,
           CASE WHEN (a.x < b.x AND a.y > b.y)
                  OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END AS disc,
           CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tie_x,
           CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS tie_y
    FROM series a JOIN series b
      ON a.nation = b.nation AND a.m < b.m
),
agg AS (
    SELECT nation,
           COUNT(*) AS n0,
           CAST(SUM(conc) AS BIGINT) AS nc,
           CAST(SUM(disc) AS BIGINT) AS nd,
           CAST(SUM(tie_x) AS BIGINT) AS tx,
           CAST(SUM(tie_y) AS BIGINT) AS ty
    FROM pairs GROUP BY 1
)
SELECT a.nation,
       CAST(s.n_months AS BIGINT) AS n_months,
       nc AS concordant, nd AS discordant,
       {sql_dround('(CAST(nc AS DOUBLE) - nd)'
                   ' / sqrt(CASE WHEN (n0 - tx) * (n0 - ty) > 0'
                   ' THEN CAST(n0 - tx AS DOUBLE) * (n0 - ty) END)', 6)} AS tau_b
FROM agg a
JOIN (SELECT nation, COUNT(*) AS n_months FROM series GROUP BY 1) s
  ON a.nation = s.nation
""",
)
def kendall_tau_monthly_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b of (monthly order count, monthly revenue) per nation."""
    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    series = (
        t["orders"]
        .filter(
            F.col("o_orderdate").isNotNull()
            & F.col("o_totalprice").isNotNull()
        )
        .join(
            # customer scales with the fact data — shuffle join (AQE
            # picks the strategy); only nation is broadcast-safe
            t["customer"].select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("m"),
        )
        .agg(
            F.count("*").alias("x"),
            F.sum(
                qround(F.col("o_totalprice"), 2)
            )
            .cast("bigint")
            .alias("y"),
        )
    )
    a = series.alias("a")
    b = series.alias("b")
    ax, bx = F.col("a.x"), F.col("b.x")
    ay, by = F.col("a.y"), F.col("b.y")
    pairs = a.join(
        F.broadcast(b),
        (F.col("a.nation") == F.col("b.nation")) & (F.col("a.m") < F.col("b.m")),
    ).select(
        F.col("a.nation").alias("nation"),
        F.when((ax < bx) & (ay < by) | (ax > bx) & (ay > by), 1)
        .otherwise(0)
        .alias("conc"),
        F.when((ax < bx) & (ay > by) | (ax > bx) & (ay < by), 1)
        .otherwise(0)
        .alias("disc"),
        F.when(ax == bx, 1).otherwise(0).alias("tie_x"),
        F.when(ay == by, 1).otherwise(0).alias("tie_y"),
    )
    agg = pairs.groupBy("nation").agg(
        F.count("*").alias("n0"),
        F.sum("conc").cast("bigint").alias("nc"),
        F.sum("disc").cast("bigint").alias("nd"),
        F.sum("tie_x").cast("bigint").alias("tx"),
        F.sum("tie_y").cast("bigint").alias("ty"),
    )
    nmo = series.groupBy("nation").agg(F.count("*").alias("n_months"))
    den2 = (F.col("n0") - F.col("tx")) * (F.col("n0") - F.col("ty"))
    return agg.join(F.broadcast(nmo), "nation").select(
        "nation",
        F.col("n_months").cast("bigint").alias("n_months"),
        F.col("nc").alias("concordant"),
        F.col("nd").alias("discordant"),
        dround(
            (F.col("nc").cast("double") - F.col("nd"))
            / F.sqrt(
                F.when(
                    den2 > 0,
                    (F.col("n0") - F.col("tx")).cast("double")
                    * (F.col("n0") - F.col("ty")),
                )
            ),
            6,
        ).alias("tau_b"),
    )


# --------------------------------------------------------------------------
# Spearman rank correlation (rho) between monthly order volume and
# monthly revenue, per nation — the rank-correlation complement to
# kendall_tau_monthly_demand: rho is Pearson on midranks, so it reads
# as "strength of any monotone relationship" and is the number most
# BI stacks quote. Ties get exact midranks; DOUBLED midranks
# (2·rank + ties − 1) stay integers, so every moment is an exact
# BIGINT sum and only the final rho division touches a double
# (dround-pinned, variance-guarded).
#
# Scale: identical to the tau query — the fact table reduces to the
# calendar-bounded (nation, month) grid first; rank windows partition
# by nation over that grid, never over row-cardinality data.
# --------------------------------------------------------------------------


@query(
    "spearman_rho_monthly_demand",
    oracle=f"""
WITH series AS (
    SELECT n_name AS nation,
           CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) AS BIGINT) AS m,
           COUNT(*) AS x,
           CAST(SUM({sql_qround('o_totalprice', 2)})
                AS BIGINT) AS y
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
    GROUP BY 1, 2
),
ranked AS (
    SELECT nation,
           2 * RANK() OVER (PARTITION BY nation ORDER BY x)
             + COUNT(*) OVER (PARTITION BY nation, x) - 1 AS dx,
           2 * RANK() OVER (PARTITION BY nation ORDER BY y)
             + COUNT(*) OVER (PARTITION BY nation, y) - 1 AS dy
    FROM series
),
mom AS (
    SELECT nation,
           COUNT(*) AS n,
           CAST(SUM(dx) AS BIGINT) AS sx,
           CAST(SUM(dy) AS BIGINT) AS sy,
           CAST(SUM(dx * dy) AS BIGINT) AS sxy,
           CAST(SUM(dx * dx) AS BIGINT) AS sxx,
           CAST(SUM(dy * dy) AS BIGINT) AS syy
    FROM ranked GROUP BY 1
)
SELECT nation,
       CAST(n AS BIGINT) AS n_months,
       {sql_dround('(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)'
                   ' / sqrt(CASE WHEN (n * sxx - sx * sx) > 0'
                   ' AND (n * syy - sy * sy) > 0'
                   ' THEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)'
                   ' * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)'
                   ' END)', 6)} AS rho_spearman
FROM mom
""",
)
def spearman_rho_monthly_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rho of (monthly order count, monthly revenue) per nation."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    series = (
        t["orders"]
        .filter(
            F.col("o_orderdate").isNotNull()
            & F.col("o_totalprice").isNotNull()
        )
        .join(
            t["customer"].select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("m"),
        )
        .agg(
            F.count("*").alias("x"),
            F.sum(
                qround(F.col("o_totalprice"), 2)
            )
            .cast("bigint")
            .alias("y"),
        )
    )
    wx = Window.partitionBy("nation").orderBy("x")
    wy = Window.partitionBy("nation").orderBy("y")
    cx = Window.partitionBy("nation", "x")
    cy = Window.partitionBy("nation", "y")
    ranked = series.select(
        "nation",
        (2 * F.rank().over(wx) + F.count("*").over(cx) - 1).alias("dx"),
        (2 * F.rank().over(wy) + F.count("*").over(cy) - 1).alias("dy"),
    )
    mom = ranked.groupBy("nation").agg(
        F.count("*").alias("n"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum("dy").cast("bigint").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("bigint").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    return mom.select(
        "nation",
        n.cast("bigint").alias("n_months"),
        dround(
            (n.cast("double") * sxy - sx.cast("double") * sy)
            / F.sqrt(
                F.when(
                    (varx > 0) & (vary > 0),
                    (n.cast("double") * sxx - sx.cast("double") * sx)
                    * (n.cast("double") * syy - sy.cast("double") * sy),
                )
            ),
            6,
        ).alias("rho_spearman"),
    )


# --------------------------------------------------------------------------
# Brown double-exponential-smoothing backtest (Holt linear trend via
# Brown's method at alpha = 1/2): S1 = dyadic prior-8-day EWMA of the
# daily count (exact integer window sums, the ewma_spike_days
# machinery), quantized x1e6 to an integer ONCE; S2 = the same dyadic
# EWMA over the quantized S1 (again exact integer sums). At alpha=1/2
# Brown's one-step forecast collapses to 3*S1 - 2*S2 — pure integer
# arithmetic — so the whole level+trend recursion is replayed without
# ANY iterative float state. Scored one-step-ahead on fully-warmed
# rows (all 8 S1 lags present) against the naive lag-1 forecast.
# --------------------------------------------------------------------------


def _dyadic_terms(col: str) -> tuple[str, str]:
    num = " + ".join(
        f"COALESCE(LAG({col}, {k}) OVER w, 0) * {1 << (_EWMA_LAGS - k)}"
        for k in range(1, _EWMA_LAGS + 1)
    )
    den = " + ".join(
        f"(CASE WHEN LAG({col}, {k}) OVER w IS NULL THEN 0"
        f" ELSE {1 << (_EWMA_LAGS - k)} END)"
        for k in range(1, _EWMA_LAGS + 1)
    )
    return num, den


_H_NUM1, _H_DEN1 = _dyadic_terms("n")
_H_NUM2, _H_DEN2 = _dyadic_terms("s1q")
_H_FULL = (1 << _EWMA_LAGS) - 1  # all 8 lags present


@query(
    "holt_smoothing_backtest",
    oracle=f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
bounds AS (SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM daily),
spine AS (
    SELECT t.event_type, CAST(g.day AS DATE) AS d
    FROM (SELECT DISTINCT event_type FROM events) t
    CROSS JOIN (
        SELECT unnest(generate_series(b.dmin, b.dmax, INTERVAL 1 DAY)) AS day
        FROM bounds b
    ) g
),
filled AS (
    SELECT s.event_type, s.d, COALESCE(dy.n, 0) AS n
    FROM spine s LEFT JOIN daily dy
      ON dy.event_type = s.event_type AND dy.d = s.d
),
s1 AS (
    SELECT event_type, d, n, {_H_NUM1} AS num1, {_H_DEN1} AS den1
    FROM filled
    WINDOW w AS (PARTITION BY event_type ORDER BY d)
),
q1 AS (
    SELECT event_type, d, n,
           CASE WHEN den1 > 0 THEN
               CAST(FLOOR(num1 * 1000000.0 / den1 + 0.5) AS BIGINT)
           END AS s1q
    FROM s1
),
s2 AS (
    SELECT event_type, d, n,
           {_H_NUM2} AS num2, {_H_DEN2} AS den2,
           LAG(s1q, 1) OVER w AS s1q_prev,
           LAG(n, 1) OVER w AS prev_n
    FROM q1
    WINDOW w AS (PARTITION BY event_type ORDER BY d)
),
scored AS (
    SELECT event_type, n, prev_n,
           3 * s1q_prev
             - 2 * CAST(FLOOR(num2 * 1.0 / den2 + 0.5) AS BIGINT) AS fq
    FROM s2
    WHERE den2 = {_H_FULL} AND s1q_prev IS NOT NULL AND prev_n IS NOT NULL
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days_scored,
       {sql_dround(
           "CAST(SUM(ABS(n * 1000000 - fq)) AS BIGINT) * 1.0"
           " / COUNT(*) / 1000000.0", 6)} AS holt_mae,
       {sql_dround(
           "CAST(SUM(ABS(n - prev_n)) AS BIGINT) * 1.0 / COUNT(*)", 6)}
           AS naive_mae,
       CASE WHEN SUM(ABS(n - prev_n)) > 0 THEN
           {sql_dround(
               "1.0 - CAST(SUM(ABS(n * 1000000 - fq)) AS BIGINT) * 1.0"
               " / (1000000.0 * CAST(SUM(ABS(n - prev_n)) AS BIGINT))", 6)}
       END AS mae_improvement
FROM scored GROUP BY 1
""",
)
def holt_smoothing_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type one-step Holt/Brown forecast backtest vs naive lag-1.

    The forecast for day d uses data through d-1 only (S1/S2 are
    prior-window EWMAs and both enter via their d-1 values), so the
    backtest is honest. Scale: identical shape to ewma_spike_days —
    one (type, day)-grain reduce, broadcast spine, per-type ordered
    windows over day-cardinality partitions; every cross-row sum is an
    exact integer, so a 1000-executor run reproduces the MAEs
    bit-for-bit.
    """
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    daily = (
        events.filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("n"))
    )
    bounds = daily.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    spine = (
        events.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type", F.explode(F.sequence("dmin", "dmax")).alias("d")
        )
    )
    filled = spine.join(daily, ["event_type", "d"], "left").select(
        "event_type", "d", F.coalesce("n", F.lit(0)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("d")

    def dyadic(col: str):
        num = None
        den = None
        for k in range(1, _EWMA_LAGS + 1):
            wt = 1 << (_EWMA_LAGS - k)
            lagk = F.lag(col, k).over(w)
            num_t = F.coalesce(lagk, F.lit(0)) * wt
            den_t = F.when(lagk.isNull(), 0).otherwise(wt)
            num = num_t if num is None else num + num_t
            den = den_t if den is None else den + den_t
        return num, den

    num1, den1 = dyadic("n")
    s1 = filled.select(
        "event_type", "d", "n", num1.alias("num1"), den1.alias("den1")
    )
    q1 = s1.select(
        "event_type",
        "d",
        "n",
        F.when(
            F.col("den1") > 0,
            F.floor(
                F.col("num1") * 1000000.0 / F.col("den1") + 0.5
            ).cast("bigint"),
        ).alias("s1q"),
    )
    num2, den2 = dyadic("s1q")
    s2 = q1.select(
        "event_type",
        "d",
        "n",
        num2.alias("num2"),
        den2.alias("den2"),
        F.lag("s1q", 1).over(w).alias("s1q_prev"),
        F.lag("n", 1).over(w).alias("prev_n"),
    )
    scored = s2.filter(
        (F.col("den2") == _H_FULL)
        & F.col("s1q_prev").isNotNull()
        & F.col("prev_n").isNotNull()
    ).select(
        "event_type",
        "n",
        "prev_n",
        (
            3 * F.col("s1q_prev")
            - 2
            * F.floor(F.col("num2") * 1.0 / F.col("den2") + 0.5).cast(
                "bigint"
            )
        ).alias("fq"),
    )
    holt_err = F.sum(F.abs(F.col("n") * 1000000 - F.col("fq")))
    naive_err = F.sum(F.abs(F.col("n") - F.col("prev_n")))
    return scored.groupBy("event_type").agg(
        F.count("*").alias("n_days_scored"),
        dround(holt_err * 1.0 / F.count("*") / 1000000.0, 6).alias(
            "holt_mae"
        ),
        dround(naive_err * 1.0 / F.count("*"), 6).alias("naive_mae"),
        F.when(
            naive_err > 0,
            dround(1.0 - holt_err * 1.0 / (1000000.0 * naive_err), 6),
        ).alias("mae_improvement"),
    )


# --------------------------------------------------------------------------
# Exact Shapley channel attribution — the canonical cooperative-game
# complement to markov_attribution_removal. Touch channels are the four
# non-conversion event types (signup=1, click=2, view=4, error=8 as a
# per-user bitmask); the coalition value v(S) is the number of
# CONVERTING users whose touched-channel set is contained in S
# (monotone closure of the observed-coalition counts). Every
# game-theoretic structure — the 16 subsets, the 81 containment pairs,
# the 32 (channel, S-without, S-with, |S|!(n-|S|-1)!) marginal terms —
# is generated in PYTHON and inlined as identical integer literals in
# both engines, so the only data-sized work is the per-user bitmask
# reduce and the 16-row coalition count; Shapley_i =
# sum(weight * (v(S+i) - v(S))) / 4! is exact integer math until one
# mirrored final division. Efficiency property: the four Shapley
# values sum to v(grand coalition) = total conversions.
# --------------------------------------------------------------------------

_SHAP_CHANNELS = [("signup", 1), ("click", 2), ("view", 4), ("error", 8)]
_SHAP_N = len(_SHAP_CHANNELS)
_SHAP_FACT = [1, 1, 2, 6, 24]


def _shap_literals() -> tuple[str, str, list[tuple[str, int, int, int]]]:
    containment = ", ".join(
        f"({s}, {t})"
        for s in range(1 << _SHAP_N)
        for t in range(1 << _SHAP_N)
        if t & s == t
    )
    subsets = ", ".join(f"({s})" for s in range(1 << _SHAP_N))
    marg = []
    for name, bit in _SHAP_CHANNELS:
        for s in range(1 << _SHAP_N):
            if s & bit:
                continue
            size = bin(s).count("1")
            w = _SHAP_FACT[size] * _SHAP_FACT[_SHAP_N - size - 1]
            marg.append((name, s, s | bit, w))
    return containment, subsets, marg


_SHAP_CONT, _SHAP_SUBSETS, _SHAP_MARG = _shap_literals()
_SHAP_MARG_SQL = ", ".join(
    f"('{n}', {s0}, {s1}, {w})" for n, s0, s1, w in _SHAP_MARG
)


@query(
    "shapley_channel_attribution",
    oracle=f"""
WITH per_user AS (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
         + 2 * MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         + 4 * MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
         + 8 * MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               AS mask,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
    FROM events WHERE user_id IS NOT NULL
    GROUP BY 1
),
coalition AS (
    SELECT mask, CAST(SUM(conv) AS BIGINT) AS conv_n
    FROM per_user GROUP BY 1
),
subsets(s) AS (VALUES {_SHAP_SUBSETS}),
containment(s, t) AS (VALUES {_SHAP_CONT}),
v AS (
    SELECT c.s, CAST(COALESCE(SUM(co.conv_n), 0) AS BIGINT) AS val
    FROM subsets sub
    JOIN containment c ON c.s = sub.s
    LEFT JOIN coalition co ON co.mask = c.t
    GROUP BY 1
),
marg(channel, s0, s1, w) AS (VALUES {_SHAP_MARG_SQL}),
shap AS (
    SELECT m.channel,
           CAST(SUM(m.w * (v1.val - v0.val)) AS BIGINT) AS num
    FROM marg m
    JOIN v v0 ON v0.s = m.s0
    JOIN v v1 ON v1.s = m.s1
    GROUP BY 1
)
SELECT channel,
       {sql_dround(f"num * 1.0 / {_SHAP_FACT[_SHAP_N]}", 6)}
           AS shapley_conversions
FROM shap
""",
)
def shapley_channel_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    mask = (
        F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0))
        + 2 * F.max(F.when(F.col("event_type") == "click", 1).otherwise(0))
        + 4 * F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
        + 8 * F.max(F.when(F.col("event_type") == "error", 1).otherwise(0))
    )
    conv = F.max(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    )
    per_user = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(mask.alias("mask"), conv.alias("conv"))
    )
    coalition = per_user.groupBy("mask").agg(
        F.sum("conv").cast("bigint").alias("conv_n")
    )
    cont = spark.createDataFrame(
        [
            (s, t)
            for s in range(1 << _SHAP_N)
            for t in range(1 << _SHAP_N)
            if t & s == t
        ],
        "s int, t int",
    )
    v = (
        cont.join(
            coalition, cont["t"] == coalition["mask"], "left"
        )
        .groupBy("s")
        .agg(
            F.coalesce(F.sum("conv_n"), F.lit(0))
            .cast("bigint")
            .alias("val")
        )
    )
    marg = spark.createDataFrame(
        _SHAP_MARG, "channel string, s0 int, s1 int, w int"
    )
    v0 = v.select(F.col("s").alias("s0"), F.col("val").alias("val0"))
    v1 = v.select(F.col("s").alias("s1"), F.col("val").alias("val1"))
    from ..functions import dround

    return (
        marg.join(F.broadcast(v0), "s0")
        .join(F.broadcast(v1), "s1")
        .groupBy("channel")
        .agg(
            F.sum(F.col("w") * (F.col("val1") - F.col("val0")))
            .cast("bigint")
            .alias("num")
        )
        .select(
            "channel",
            dround(
                F.col("num") * 1.0 / _SHAP_FACT[_SHAP_N], 6
            ).alias("shapley_conversions"),
        )
    )


# --------------------------------------------------------------------------
# Attribution model comparison: first-touch, last-touch, linear, and
# position-based (40/20/40) credit for the four touch channels over
# the SAME pre-first-purchase journeys — the side-by-side table an
# analyst reads before picking a model (markov_attribution_removal and
# shapley_channel_attribution are the model-based columns of the same
# decision). Touch = non-purchase event strictly before the user's
# first purchase, ordered by (ts, event_id). Per-touch credits are
# x1e6 integers (FLOOR-divided shares; the floor remainder is a pinned
# definition, not an approximation), so every sum is exact and each
# output share is one mirrored division.
# --------------------------------------------------------------------------


@query(
    "attribution_model_comparison",
    oracle=f"""
WITH conv AS (
    SELECT user_id, MIN(ts) AS first_purchase
    FROM events
    WHERE event_type = 'purchase' AND user_id IS NOT NULL
      AND ts IS NOT NULL
    GROUP BY 1
),
touches AS (
    SELECT e.user_id, e.event_type,
           ROW_NUMBER() OVER (
               PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS r,
           COUNT(*) OVER (PARTITION BY e.user_id) AS k
    FROM events e JOIN conv c ON e.user_id = c.user_id
    WHERE e.event_type <> 'purchase' AND e.ts < c.first_purchase
      AND e.ts IS NOT NULL
),
credited AS (
    SELECT event_type,
           CASE WHEN r = 1 THEN 1 ELSE 0 END AS is_first,
           CASE WHEN r = k THEN 1 ELSE 0 END AS is_last,
           CAST(FLOOR(1000000.0 / k) AS BIGINT) AS lin_q,
           CASE WHEN k = 1 THEN 1000000
                WHEN k = 2 THEN 500000
                WHEN r = 1 OR r = k THEN 400000
                ELSE CAST(FLOOR(200000.0 / (k - 2)) AS BIGINT)
           END AS pos_q
    FROM touches
)
SELECT event_type AS channel,
       CAST(SUM(is_first) AS BIGINT) AS first_touch_conversions,
       CAST(SUM(is_last) AS BIGINT) AS last_touch_conversions,
       {sql_dround('CAST(SUM(lin_q) AS BIGINT) / 1000000.0', 4)} AS linear_credit,
       {sql_dround('CAST(SUM(pos_q) AS BIGINT) / 1000000.0', 4)} AS position_credit
FROM credited
GROUP BY 1
""",
)
def attribution_model_comparison(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rule-based attribution credits per channel, one comparative row.

    Scale: one user-grain reduce for first-purchase, a user-keyed join
    + user-partitioned rank window over pre-conversion touches, then a
    channel-grain integer aggregate — nothing wider than the touch
    table moves, and the output is channel-cardinality.
    """
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    base = events.filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    conv = (
        base.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    touches = (
        base.filter(F.col("event_type") != "purchase")
        .join(conv, "user_id")
        .filter(F.col("ts") < F.col("first_purchase"))
    )
    wr = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wk = Window.partitionBy("user_id")
    t = touches.select(
        "event_type",
        F.row_number().over(wr).alias("r"),
        F.count("*").over(wk).alias("k"),
    )
    lin_q = F.floor(1000000.0 / F.col("k")).cast("bigint")
    pos_q = (
        F.when(F.col("k") == 1, F.lit(1000000).cast("bigint"))
        .when(F.col("k") == 2, F.lit(500000).cast("bigint"))
        .when(
            (F.col("r") == 1) | (F.col("r") == F.col("k")),
            F.lit(400000).cast("bigint"),
        )
        .otherwise(
            F.floor(200000.0 / (F.col("k") - 2)).cast("bigint")
        )
    )
    credited = t.select(
        "event_type",
        F.when(F.col("r") == 1, 1).otherwise(0).alias("is_first"),
        F.when(F.col("r") == F.col("k"), 1).otherwise(0).alias("is_last"),
        lin_q.alias("lin_q"),
        pos_q.alias("pos_q"),
    )
    from ..functions import dround

    return credited.groupBy(F.col("event_type").alias("channel")).agg(
        F.sum("is_first").cast("bigint").alias("first_touch_conversions"),
        F.sum("is_last").cast("bigint").alias("last_touch_conversions"),
        dround(F.sum("lin_q") / 1000000.0, 4).alias("linear_credit"),
        dround(F.sum("pos_q") / 1000000.0, 4).alias("position_credit"),
    )


# --------------------------------------------------------------------------
# Croston intermittent-demand backtest (Croston 1972): TPC-H part
# demand is the classic intermittent series — each part ships on ~30
# scattered days across 7 years. Croston maintains TWO EWMAs updated
# only on demand occurrences: z (nonzero demand size) and p
# (inter-demand interval in days); the demand-rate forecast is z/p.
# Like holt_smoothing_backtest, both EWMAs are the dyadic
# prior-8-occurrence form (exact integer lag-window sums, x1e6
# quantized once), so the whole recursion replays with zero iterative
# float state, bit-identical on any cluster topology. Scored
# one-occurrence-ahead against the naive last-rate forecast
# (size_{i-1}/gap_{i-1}), per brand.
#
# Scale: (part, occurrence)-grain windows partition per part —
# thousands of tiny ordered partitions, no global sort; the brand
# rollup is one broadcast dim join + groupBy. The reference has no
# forecasting at all; this extends its ops-analytics surface
# (SURVEY §2.12 family).
# --------------------------------------------------------------------------

_CR_NUMZ, _CR_DENZ = _dyadic_terms("size")
_CR_NUMP, _CR_DENP = _dyadic_terms("gap")


@query(
    "croston_intermittent_backtest",
    oracle=f"""
WITH occ AS (
    SELECT l_partkey AS pk, CAST(l_shipdate AS DATE) AS d,
           CAST(FLOOR(SUM(l_quantity) + 0.5) AS BIGINT) AS size
    FROM lineitem WHERE l_shipdate IS NOT NULL
    GROUP BY 1, 2
),
gapped AS (
    SELECT pk, d, size,
           CAST(d - LAG(d, 1) OVER w AS BIGINT) AS gap
    FROM occ
    WINDOW w AS (PARTITION BY pk ORDER BY d)
),
ewma AS (
    SELECT pk, d, size, gap,
           {_CR_NUMZ} AS numz, {_CR_DENZ} AS denz,
           {_CR_NUMP} AS nump, {_CR_DENP} AS denp,
           LAG(size, 1) OVER w AS prev_size,
           LAG(gap, 1) OVER w AS prev_gap
    FROM gapped
    WINDOW w AS (PARTITION BY pk ORDER BY d)
),
scored AS (
    SELECT pk, size, gap,
           {sql_qround(sql_qround('numz * 1000000.0 / denz')
                       + ' * 1000000.0 / '
                       + sql_qround('nump * 1000000.0 / denp'))} AS fq,
           {sql_qround('size * 1000000.0 / gap')} AS actual_q,
           {sql_qround('prev_size * 1000000.0 / prev_gap')} AS naive_q
    FROM ewma
    WHERE denz = {_H_FULL} AND denp = {_H_FULL}
      AND gap > 0 AND prev_gap > 0 AND prev_size IS NOT NULL
),
j AS (
    SELECT p.p_brand AS brand, s.* FROM scored s
    JOIN part p ON s.pk = p.p_partkey
)
SELECT brand,
       CAST(COUNT(*) AS BIGINT) AS n_scored,
       {sql_dround(
           "CAST(SUM(ABS(fq - actual_q)) AS BIGINT) * 1.0"
           " / COUNT(*) / 1000000.0", 6)} AS croston_mae,
       {sql_dround(
           "CAST(SUM(ABS(naive_q - actual_q)) AS BIGINT) * 1.0"
           " / COUNT(*) / 1000000.0", 6)} AS naive_mae,
       CASE WHEN SUM(ABS(naive_q - actual_q)) > 0 THEN
           {sql_dround(
               "1.0 - CAST(SUM(ABS(fq - actual_q)) AS BIGINT) * 1.0"
               " / CAST(SUM(ABS(naive_q - actual_q)) AS BIGINT)", 6)}
       END AS mae_improvement
FROM j
GROUP BY 1
""",
)
def croston_intermittent_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-brand Croston demand-rate backtest vs naive last-rate.

    The forecast at occurrence i uses occurrences 1..i-1 only (both
    EWMAs are prior-window lag sums), so the backtest is honest.
    """
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, "lineitem", "part")
    li, part = t["lineitem"], t["part"]
    occ = (
        li.filter(F.col("l_shipdate").isNotNull())
        .groupBy(
            F.col("l_partkey").alias("pk"),
            F.to_date("l_shipdate").alias("d"),
        )
        .agg(
            F.floor(F.sum("l_quantity") + 0.5)
            .cast("bigint")
            .alias("size")
        )
    )
    w = Window.partitionBy("pk").orderBy("d")
    gapped = occ.withColumn(
        "gap", F.datediff(F.col("d"), F.lag("d", 1).over(w)).cast("bigint")
    )

    def dyadic(col: str):
        num = None
        den = None
        for k in range(1, _EWMA_LAGS + 1):
            wt = 1 << (_EWMA_LAGS - k)
            lagk = F.lag(col, k).over(w)
            num_t = F.coalesce(lagk, F.lit(0)) * wt
            den_t = F.when(lagk.isNull(), 0).otherwise(wt)
            num = num_t if num is None else num + num_t
            den = den_t if den is None else den + den_t
        return num, den

    numz, denz = dyadic("size")
    nump, denp = dyadic("gap")
    ewma = gapped.select(
        "pk",
        "size",
        "gap",
        numz.alias("numz"),
        denz.alias("denz"),
        nump.alias("nump"),
        denp.alias("denp"),
        F.lag("size", 1).over(w).alias("prev_size"),
        F.lag("gap", 1).over(w).alias("prev_gap"),
    )
    scored = ewma.filter(
        (F.col("denz") == _H_FULL)
        & (F.col("denp") == _H_FULL)
        & (F.col("gap") > 0)
        & (F.col("prev_gap") > 0)
        & F.col("prev_size").isNotNull()
    ).select(
        "pk",
        "size",
        "gap",
        qround(
            qround(F.col("numz") * 1000000.0 / F.col("denz"))
            * 1000000.0
            / qround(F.col("nump") * 1000000.0 / F.col("denp"))
        ).alias("fq"),
        qround(F.col("size") * 1000000.0 / F.col("gap")).alias("actual_q"),
        qround(F.col("prev_size") * 1000000.0 / F.col("prev_gap")).alias(
            "naive_q"
        ),
    )
    j = scored.join(
        F.broadcast(
            part.select(
                F.col("p_partkey").alias("pk"),
                F.col("p_brand").alias("brand"),
            )
        ),
        "pk",
    )
    cr_err = F.sum(F.abs(F.col("fq") - F.col("actual_q")))
    nv_err = F.sum(F.abs(F.col("naive_q") - F.col("actual_q")))
    return j.groupBy("brand").agg(
        F.count("*").alias("n_scored"),
        dround(cr_err * 1.0 / F.count("*") / 1000000.0, 6).alias(
            "croston_mae"
        ),
        dround(nv_err * 1.0 / F.count("*") / 1000000.0, 6).alias(
            "naive_mae"
        ),
        F.when(
            nv_err > 0, dround(1.0 - cr_err * 1.0 / nv_err, 6)
        ).alias("mae_improvement"),
    )


# --------------------------------------------------------------------------
# windowFunnel with timeout (ClickHouse semantics): max sequential
# funnel depth view -> click -> purchase where EVERY view occurrence
# is a potential anchor and the whole chain must land within 86400 s
# of its anchor — unlike funnel_conversion's first-occurrence chain,
# this is the product-analytics definition that doesn't punish a user
# whose first view went nowhere. Greedy-earliest per anchor (min
# click after the anchor, min purchase after that click) maximizes
# reachable depth, so MAX over anchors is exact. Depth histogram over
# ALL active users (depth 0 = active but never viewed).
# Scale: two per-user time-range joins, each bounded by
# events-per-user² within a user key (never cross-user); AQE
# skew-split handles hot users; the rollup is depth-cardinality.
# --------------------------------------------------------------------------

_WF_TIMEOUT_S = 86400


@query(
    "windowfunnel_timeout_depths",
    oracle=f"""
WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
anchor2 AS (
    SELECT v.user_id, v.ts AS t1, MIN(c.ts) AS t2
    FROM v LEFT JOIN c ON c.user_id = v.user_id
       AND c.ts > v.ts
       AND c.ts <= v.ts + INTERVAL {_WF_TIMEOUT_S} SECONDS
    GROUP BY 1, 2
),
anchor3 AS (
    SELECT a.user_id, a.t1, a.t2, MIN(p.ts) AS t3
    FROM anchor2 a LEFT JOIN p ON p.user_id = a.user_id
       AND a.t2 IS NOT NULL AND p.ts > a.t2
       AND p.ts <= a.t1 + INTERVAL {_WF_TIMEOUT_S} SECONDS
    GROUP BY 1, 2, 3
),
funnel AS (
    SELECT user_id,
           MAX(CASE WHEN t3 IS NOT NULL THEN 3
                    WHEN t2 IS NOT NULL THEN 2
                    ELSE 1 END) AS depth
    FROM anchor3 GROUP BY 1
),
all_users AS (SELECT DISTINCT user_id FROM events),
per_user AS (
    SELECT u.user_id, COALESCE(f.depth, 0) AS depth
    FROM all_users u LEFT JOIN funnel f ON u.user_id = f.user_id
)
SELECT CAST(depth AS INTEGER) AS depth,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM per_user GROUP BY 1
""",
)
def windowfunnel_timeout_depths(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ClickHouse-style windowFunnel depth histogram (86400 s window)."""
    events = load_tables(spark, sf_dir, "events")["events"]
    v = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts"
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    deadline = F.col("ts") + F.expr(
        f"INTERVAL {_WF_TIMEOUT_S} SECONDS"
    )
    anchor2 = (
        v.join(
            c,
            (F.col("cu") == F.col("user_id"))
            & (F.col("cts") > F.col("ts"))
            & (F.col("cts") <= deadline),
            "left",
        )
        .groupBy("user_id", "ts")
        .agg(F.min("cts").alias("t2"))
    )
    anchor3 = (
        anchor2.join(
            p,
            (F.col("pu") == F.col("user_id"))
            & F.col("t2").isNotNull()
            & (F.col("pts") > F.col("t2"))
            & (
                F.col("pts")
                <= F.col("ts") + F.expr(f"INTERVAL {_WF_TIMEOUT_S} SECONDS")
            ),
            "left",
        )
        .groupBy("user_id", "ts", "t2")
        .agg(F.min("pts").alias("t3"))
    )
    funnel = anchor3.groupBy("user_id").agg(
        F.max(
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .otherwise(1)
        ).alias("depth")
    )
    all_users = events.select("user_id").distinct()
    return (
        all_users.join(funnel, "user_id", "left")
        .select(F.coalesce(F.col("depth"), F.lit(0)).alias("depth"))
        .groupBy(F.col("depth").cast("int").alias("depth"))
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )


# --------------------------------------------------------------------------
# Hurst exponent via rescaled-range (R/S) analysis (Hurst 1951;
# Mandelbrot & Wallis): long-memory estimate of the per-type daily
# event series from non-overlapping windows of 7 and 14 days.
# Everything before the final logs is exact integer arithmetic: the
# cumulative deviation is cleared of the mean division
# (D_t = w·P_t − t·S1, exact bigint), so R/S = (maxD − minD) /
# sqrt(w·S2 − S1²) is one sqrt + one division per window, quantized
# x1e6; per-size means are rationals of integers and the Hurst slope
# collapses to ln(m14/m7)/ln 2 on those exact integers. H ≈ 0.5 =
# memoryless, > 0.5 = persistent (trending) load — the capacity-
# planning statistic beside autocorrelation_daily and
# dispersion_index_daily.
# Scale: (type, day)-grain reduce + per-(type, size, window) windows
# over day-cardinality partitions; the broadcast spine is the
# holt_smoothing_backtest shape.
# --------------------------------------------------------------------------

_HURST_WINDOWS = (7, 14)


@query(
    "hurst_rescaled_range",
    oracle=f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
bounds AS (SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM daily),
spine AS (
    SELECT t.event_type, CAST(g.day AS DATE) AS d
    FROM (SELECT DISTINCT event_type FROM events) t
    CROSS JOIN (
        SELECT unnest(generate_series(b.dmin, b.dmax, INTERVAL 1 DAY)) AS day
        FROM bounds b
    ) g
),
filled AS (
    SELECT s.event_type,
           CAST(s.d - b.dmin AS BIGINT) AS i,
           CAST(COALESCE(dy.n, 0) AS BIGINT) AS n
    FROM spine s CROSS JOIN bounds b
    LEFT JOIN daily dy ON dy.event_type = s.event_type AND dy.d = s.d
),
win AS (
    SELECT event_type, w, CAST(FLOOR(i * 1.0 / w) AS BIGINT) AS wid, i, n
    FROM filled
    CROSS JOIN (SELECT unnest([{_HURST_WINDOWS[0]}, {_HURST_WINDOWS[1]}]) AS w)
),
pre AS (
    SELECT event_type, w, wid, n,
           ROW_NUMBER() OVER pw AS t,
           SUM(n) OVER (PARTITION BY event_type, w, wid ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
           SUM(n) OVER (PARTITION BY event_type, w, wid) AS s1w
    FROM win
    WINDOW pw AS (PARTITION BY event_type, w, wid ORDER BY i)
),
stats AS (
    SELECT event_type, w, wid,
           CAST(COUNT(*) AS BIGINT) AS rw,
           CAST(MAX(s1w) AS BIGINT) AS s1,
           CAST(SUM(n * n) AS BIGINT) AS s2,
           CAST(MAX(w * pt - t * s1w) AS BIGINT) AS dmx,
           CAST(MIN(w * pt - t * s1w) AS BIGINT) AS dmn
    FROM pre GROUP BY 1, 2, 3
),
rs AS (
    SELECT event_type, w,
           CAST(FLOOR((dmx - dmn) * 1000000.0
               / sqrt(w * s2 - s1 * s1) + 0.5) AS BIGINT) AS rsq
    FROM stats
    WHERE rw = w AND w * s2 - s1 * s1 > 0
),
m AS (
    SELECT event_type,
           CAST(COUNT(CASE WHEN w = 7 THEN 1 END) AS BIGINT) AS n7,
           CAST(COUNT(CASE WHEN w = 14 THEN 1 END) AS BIGINT) AS n14,
           CAST(FLOOR(SUM(CASE WHEN w = 7 THEN rsq END) * 1.0
               / COUNT(CASE WHEN w = 7 THEN 1 END) + 0.5) AS BIGINT) AS m7,
           CAST(FLOOR(SUM(CASE WHEN w = 14 THEN rsq END) * 1.0
               / COUNT(CASE WHEN w = 14 THEN 1 END) + 0.5) AS BIGINT) AS m14
    FROM rs GROUP BY 1
)
SELECT event_type, n7 AS n_windows_7, n14 AS n_windows_14,
       {sql_dround("m7 / 1000000.0", 6)} AS mean_rs_7,
       {sql_dround("m14 / 1000000.0", 6)} AS mean_rs_14,
       CASE WHEN m7 > 0 AND m14 > 0 THEN
           {sql_dround("ln(m14 * 1.0 / m7) / ln(2.0)", 6)}
       END AS hurst
FROM m
""",
)
def hurst_rescaled_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Hurst exponent from 7- vs 14-day rescaled ranges."""
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    daily = (
        events.filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("n"))
    )
    bounds = daily.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    spine = (
        events.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("dmin", "dmax")).alias("d"),
            "dmin",
        )
    )
    filled = spine.join(daily, ["event_type", "d"], "left").select(
        "event_type",
        F.datediff("d", "dmin").cast("bigint").alias("i"),
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
    )
    sizes = spark.range(2).select(
        F.when(F.col("id") == 0, _HURST_WINDOWS[0])
        .otherwise(_HURST_WINDOWS[1])
        .cast("bigint")
        .alias("w")
    )
    win = filled.crossJoin(F.broadcast(sizes)).withColumn(
        "wid", F.floor(F.col("i") * 1.0 / F.col("w")).cast("bigint")
    )
    pw = Window.partitionBy("event_type", "w", "wid").orderBy("i")
    pfull = Window.partitionBy("event_type", "w", "wid")
    pre = win.select(
        "event_type",
        "w",
        "wid",
        "n",
        F.row_number().over(pw).alias("t"),
        F.sum("n")
        .over(pw.rowsBetween(Window.unboundedPreceding, 0))
        .alias("pt"),
        F.sum("n").over(pfull).alias("s1w"),
    )
    dcol = F.col("w") * F.col("pt") - F.col("t") * F.col("s1w")
    stats = pre.groupBy("event_type", "w", "wid").agg(
        F.count("*").cast("bigint").alias("rw"),
        F.max("s1w").cast("bigint").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("s2"),
        F.max(dcol).cast("bigint").alias("dmx"),
        F.min(dcol).cast("bigint").alias("dmn"),
    )
    varw = F.col("w") * F.col("s2") - F.col("s1") * F.col("s1")
    rs = stats.filter(
        (F.col("rw") == F.col("w")) & (varw > 0)
    ).select(
        "event_type",
        "w",
        F.floor(
            (F.col("dmx") - F.col("dmn"))
            * 1000000.0
            / F.sqrt(varw)
            + 0.5
        )
        .cast("bigint")
        .alias("rsq"),
    )

    def msize(w: int):
        cnt = F.count(F.when(F.col("w") == w, 1))
        return (
            cnt.cast("bigint"),
            F.floor(
                F.sum(F.when(F.col("w") == w, F.col("rsq"))) * 1.0 / cnt
                + 0.5
            ).cast("bigint"),
        )

    n7, m7 = msize(_HURST_WINDOWS[0])
    n14, m14 = msize(_HURST_WINDOWS[1])
    m = rs.groupBy("event_type").agg(
        n7.alias("n7"),
        n14.alias("n14"),
        m7.alias("m7"),
        m14.alias("m14"),
    )
    return m.select(
        "event_type",
        F.col("n7").alias("n_windows_7"),
        F.col("n14").alias("n_windows_14"),
        dround(F.col("m7") / 1000000.0, 6).alias("mean_rs_7"),
        dround(F.col("m14") / 1000000.0, 6).alias("mean_rs_14"),
        F.when(
            (F.col("m7") > 0) & (F.col("m14") > 0),
            dround(
                F.log(F.col("m14") * 1.0 / F.col("m7")) / F.log(F.lit(2.0)),
                6,
            ),
        ).alias("hurst"),
    )


# --------------------------------------------------------------------------
# Forecast-model comparison table — MAE / RMSE / sMAPE / MASE for four
# one-step baselines (naive-1, seasonal-naive-7, two-point drift,
# MA-3) on the daily value series, the model-selection readout that
# naive_forecast_backtest (single model) and holt_smoothing_backtest
# (single model) lead up to. All forecasts are lag compositions on the
# day grain, so every error is an EXACT integer in cents; the sMAPE
# term quantizes to ×1e6 per day before the reduce. The four models
# are ONE wide aggregate (12 columns) unpivoted with stack() — the
# CLAUDE.md r4 plan-construction discipline — while the oracle unions;
# the hash match proves the rewrite. MASE scales every model by the
# naive-1 MAE (Hyndman & Koehler 2006), so mase(naive) ≡ 1 is a
# built-in self-check of the pivot.
#
# Scale: one groupBy(day) shuffle; windows run on the day-cardinality
# grain. Scored days require ALL models defined (t ≥ 8) so every
# model sees the identical test set.
# --------------------------------------------------------------------------


@query(
    "forecast_metrics_comparison",
    oracle=f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(SUM({sql_qround('COALESCE(value, 0)', 2, CENTS_CAP)}) AS BIGINT) AS y
    FROM events WHERE ts IS NOT NULL GROUP BY 1
),
lagged AS (
    SELECT d, y,
           LAG(y, 1) OVER w AS l1,
           LAG(y, 2) OVER w AS l2,
           LAG(y, 3) OVER w AS l3,
           LAG(y, 7) OVER w AS l7
    FROM daily WINDOW w AS (ORDER BY d)
),
fc AS (
    SELECT d, y, l1 AS f_naive, l7 AS f_snaive,
           2 * l1 - l2 AS f_drift,
           CAST(FLOOR((l1 + l2 + l3) / 3.0 + 0.5) AS BIGINT) AS f_ma3
    FROM lagged
    WHERE l1 IS NOT NULL AND l2 IS NOT NULL AND l3 IS NOT NULL
      AND l7 IS NOT NULL
),
wide AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(ABS(y - f_naive)) AS BIGINT) AS sae_naive,
           CAST(SUM(ABS(y - f_snaive)) AS BIGINT) AS sae_snaive,
           CAST(SUM(ABS(y - f_drift)) AS BIGINT) AS sae_drift,
           CAST(SUM(ABS(y - f_ma3)) AS BIGINT) AS sae_ma3,
           CAST(SUM(CAST(y - f_naive AS HUGEINT) * (y - f_naive))
               AS HUGEINT) AS sse_naive,
           CAST(SUM(CAST(y - f_snaive AS HUGEINT) * (y - f_snaive))
               AS HUGEINT) AS sse_snaive,
           CAST(SUM(CAST(y - f_drift AS HUGEINT) * (y - f_drift))
               AS HUGEINT) AS sse_drift,
           CAST(SUM(CAST(y - f_ma3 AS HUGEINT) * (y - f_ma3))
               AS HUGEINT) AS sse_ma3,
           CAST(SUM(CAST(FLOOR(2000000.0 * ABS(y - f_naive)
               / (ABS(y) + ABS(f_naive)) + 0.5) AS BIGINT)) AS BIGINT)
               AS ssm_naive,
           CAST(SUM(CAST(FLOOR(2000000.0 * ABS(y - f_snaive)
               / (ABS(y) + ABS(f_snaive)) + 0.5) AS BIGINT)) AS BIGINT)
               AS ssm_snaive,
           CAST(SUM(CAST(FLOOR(2000000.0 * ABS(y - f_drift)
               / (ABS(y) + ABS(f_drift)) + 0.5) AS BIGINT)) AS BIGINT)
               AS ssm_drift,
           CAST(SUM(CAST(FLOOR(2000000.0 * ABS(y - f_ma3)
               / (ABS(y) + ABS(f_ma3)) + 0.5) AS BIGINT)) AS BIGINT)
               AS ssm_ma3
    FROM fc
),
rows_ AS (
    SELECT 'naive' AS model, n, sae_naive AS sae,
           CAST(sse_naive AS DOUBLE) AS sse, ssm_naive AS ssm,
           sae_naive FROM wide
    UNION ALL
    SELECT 'snaive', n, sae_snaive, CAST(sse_snaive AS DOUBLE),
           ssm_snaive, sae_naive FROM wide
    UNION ALL
    SELECT 'drift', n, sae_drift, CAST(sse_drift AS DOUBLE),
           ssm_drift, sae_naive FROM wide
    UNION ALL
    SELECT 'ma3', n, sae_ma3, CAST(sse_ma3 AS DOUBLE),
           ssm_ma3, sae_naive FROM wide
)
SELECT model, n AS n_scored,
       CASE WHEN n > 0 THEN
           {sql_qround('sae * 1.0 / n / 100.0', 4)}
               / 10000.0 END AS mae,
       CASE WHEN n > 0 THEN
           {sql_qround('sqrt(sse / n) / 100.0', 4)}
               / 10000.0 END AS rmse,
       CASE WHEN n > 0 THEN
           {sql_qround('ssm * 1.0 / n / 1000000.0', 6)} / 1000000.0 END AS smape,
       CASE WHEN sae_naive > 0 THEN
           {sql_qround('sae * 1.0 / sae_naive', 6)}
               / 1000000.0 END AS mase
FROM rows_
""",
)
def forecast_metrics_comparison(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MAE/RMSE/sMAPE/MASE for 4 one-step baselines, wide-agg+stack."""
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    cents_w = qround(F.coalesce(F.col("value"), F.lit(0.0)), 2, CENTS_CAP)
    daily = (
        events.filter(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.sum(cents_w).cast("bigint").alias("y"))
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "d",
        "y",
        F.lag("y", 1).over(w).alias("l1"),
        F.lag("y", 2).over(w).alias("l2"),
        F.lag("y", 3).over(w).alias("l3"),
        F.lag("y", 7).over(w).alias("l7"),
    )
    fc = lagged.filter(
        F.col("l1").isNotNull()
        & F.col("l2").isNotNull()
        & F.col("l3").isNotNull()
        & F.col("l7").isNotNull()
    ).select(
        "y",
        F.col("l1").alias("f_naive"),
        F.col("l7").alias("f_snaive"),
        (2 * F.col("l1") - F.col("l2")).alias("f_drift"),
        F.floor((F.col("l1") + F.col("l2") + F.col("l3")) / 3.0 + 0.5)
        .cast("bigint")
        .alias("f_ma3"),
    )
    models = ["naive", "snaive", "drift", "ma3"]
    aggs = [F.count("*").cast("bigint").alias("n")]
    for m in models:
        e = F.col("y") - F.col(f"f_{m}")
        aggs.append(F.sum(F.abs(e)).cast("bigint").alias(f"sae_{m}"))
        aggs.append(
            F.sum(e.cast("decimal(38,0)") * e).alias(f"sse_{m}")
        )
        aggs.append(
            F.sum(
                F.floor(
                    2000000.0
                    * F.abs(e)
                    / (F.abs(F.col("y")) + F.abs(F.col(f"f_{m}")))
                    + 0.5
                ).cast("bigint")
            )
            .cast("bigint")
            .alias(f"ssm_{m}")
        )
    wide = fc.agg(*aggs)
    stack_args = ", ".join(
        f"'{m}', sae_{m}, CAST(sse_{m} AS DOUBLE), ssm_{m}"
        for m in models
    )
    rows = wide.selectExpr(
        "n",
        "sae_naive AS sae_base",
        f"stack(4, {stack_args}) AS (model, sae, sse, ssm)",
    )
    n = F.col("n")
    return rows.select(
        "model",
        n.alias("n_scored"),
        F.when(
            n > 0, dround(F.col("sae") * 1.0 / n / 100.0, 4)
        ).alias("mae"),
        F.when(
            n > 0, dround(F.sqrt(F.col("sse") / n) / 100.0, 4)
        ).alias("rmse"),
        F.when(
            n > 0, dround(F.col("ssm") * 1.0 / n / 1000000.0, 6)
        ).alias("smape"),
        F.when(
            F.col("sae_base") > 0,
            dround(F.col("sae") * 1.0 / F.col("sae_base"), 6),
        ).alias("mase"),
    )


# --------------------------------------------------------------------------
# Interval-overlap join — user activity sessions × the top-5 busiest
# hours (peak windows), the "who was on during the rush" primitive
# that a plain equi-join cannot express. The NAIVE plan is a range
# join (s.start < p.end AND p.start < s.end) — a cross/BNL product
# that dies at scale. The Spark plan instead EXPLODES each session
# into the hour bins it covers (bounded fan-out: session span / 3600)
# and equi-joins on the bin — the standard binned interval join that
# shuffles on a key instead of comparing all pairs; the DuckDB oracle
# runs the naive range join, so the hash match PROVES the bin rewrite
# is semantics-preserving. All interval math is integer seconds
# (sessions half-open [ss, se+1): a single-event session occupies one
# second); overlaps are exact ints. Peak hours are DATA-RELATIVE
# (top-5 by count, fully tie-broken) per the vacuous-parity lesson.
#
# Scale: sessionize = one user-keyed shuffle; explode fan-out bounded
# by session duration; join key is the hour bin (broadcast here at 5
# rows, hash-partitioned when the window set is large).
# --------------------------------------------------------------------------


@query(
    "interval_overlap_peak_hours",
    oracle=f"""
WITH e AS (
    SELECT user_id, ts, event_id,
           CASE WHEN LAG(ts) OVER w IS NULL
                     OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
    SELECT user_id, ts,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
    FROM e
),
sess AS (
    SELECT user_id, session_id,
           CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS ss,
           CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) + 1 AS se1
    FROM s GROUP BY 1, 2
),
hours AS (
    SELECT CAST(FLOOR(epoch(ts) / 3600.0) AS BIGINT) AS hb,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events WHERE ts IS NOT NULL
    GROUP BY 1
),
peaks AS (
    SELECT hb, n_events FROM hours
    ORDER BY n_events DESC, hb LIMIT 5
),
ov AS (
    SELECT p.hb, p.n_events,
           LEAST(x.se1, (p.hb + 1) * 3600)
               - GREATEST(x.ss, p.hb * 3600) AS ov_s
    FROM sess x JOIN peaks p
      ON x.ss < (p.hb + 1) * 3600 AND p.hb * 3600 < x.se1
)
SELECT hb * 3600 AS peak_hour_epoch, n_events AS peak_events,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(ov_s) AS BIGINT) AS total_overlap_seconds,
       {sql_qround('SUM(ov_s) * 1.0 / COUNT(*)', 4)}
           / 10000.0 AS avg_overlap_seconds
FROM ov WHERE ov_s > 0
GROUP BY 1, 2
""",
)
def interval_overlap_peak_hours(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Binned interval join of sessions onto top-5 peak hours."""
    from ..functions.numeric import epoch_seconds
    from ..operators.windows import sessionize

    events = load_tables(spark, sf_dir, "events")["events"]
    ev = events.filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    s = sessionize(
        ev, user_col="user_id", ts_col="ts", gap_seconds=1800,
        order_tiebreak="event_id",
    )
    sess = s.groupBy("user_id", "session_id").agg(
        F.floor(F.min(epoch_seconds("ts"))).cast("bigint").alias("ss"),
        (F.floor(F.max(epoch_seconds("ts"))).cast("bigint") + 1).alias(
            "se1"
        ),
    )
    hours = (
        events.filter(F.col("ts").isNotNull())
        .groupBy(
            F.floor(epoch_seconds("ts") / 3600.0)
            .cast("bigint")
            .alias("hb")
        )
        .agg(F.count("*").cast("bigint").alias("n_events"))
    )
    peaks = hours.orderBy(F.desc("n_events"), "hb").limit(5)
    # binned rewrite: explode each session into covered hour bins and
    # equi-join — [ss DIV 3600 .. se DIV 3600] covers every bin with a
    # strictly positive overlap against half-open [ss, se1)
    binned = sess.selectExpr(
        "ss",
        "se1",
        "explode(sequence(ss DIV 3600, (se1 - 1) DIV 3600)) AS hb",
    )
    ov = binned.join(F.broadcast(peaks), "hb").select(
        "hb",
        "n_events",
        (
            F.least(F.col("se1"), (F.col("hb") + 1) * 3600)
            - F.greatest(F.col("ss"), F.col("hb") * 3600)
        ).alias("ov_s"),
    )
    return (
        ov.filter(F.col("ov_s") > 0)
        .groupBy(
            (F.col("hb") * 3600).alias("peak_hour_epoch"),
            F.col("n_events").alias("peak_events"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_sessions"),
            F.sum("ov_s").cast("bigint").alias("total_overlap_seconds"),
            dround(
                F.sum("ov_s") * 1.0 / F.count("*"), 4
            ).alias("avg_overlap_seconds"),
        )
    )


# --------------------------------------------------------------------------
# Changepoint location via binary segmentation (one level): choose the
# day boundary that minimizes SSE_left + SSE_right of the daily-revenue
# series. Complements cusum_change_detection (drift ALARM, online) with
# the offline WHERE-did-the-level-shift-happen estimator that seeds
# PELT/BinSeg-style pipelines. Exact math: daily sums are 2-decimal
# money → ×100 cents BIGINTs; prefix sums S_i, Q_i are exact integers;
# SSE = Q - S²/n needs S² ≤ ~2.5e15 < 2^53, exact in double — both
# engines compute bit-identical SSEs, so the argmin never flips.
# --------------------------------------------------------------------------


@query(
    "changepoint_binary_segmentation",
    oracle=f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(SUM({sql_qround('COALESCE(value, 0)', 2)})
                AS BIGINT) AS x
    FROM events WHERE ts IS NOT NULL GROUP BY 1
),
pfx AS (
    -- x² in HUGEINT: a planted extreme value (1e12) makes a daily
    -- cents sum ~1e14 whose square overflows INT64; the exact integer
    -- stays exact in 128 bits and the downstream math is double anyway
    SELECT d, x,
           ROW_NUMBER() OVER (ORDER BY d) AS i,
           CAST(SUM(x) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS s,
           SUM(CAST(x AS HUGEINT) * x)
               OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS q
    FROM daily
),
tot AS (
    SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sn,
           SUM(CAST(x AS HUGEINT) * x) AS qn FROM daily
),
cand AS (
    SELECT p.d, p.i, t.n,
           (p.q - CAST(p.s AS DOUBLE) * p.s / p.i)
           + ((t.qn - p.q)
              - CAST(t.sn - p.s AS DOUBLE) * (t.sn - p.s) / (t.n - p.i))
               AS sse_split,
           CAST(p.s AS DOUBLE) / p.i AS mean_l_c,
           CAST(t.sn - p.s AS DOUBLE) / (t.n - p.i) AS mean_r_c,
           t.qn - CAST(t.sn AS DOUBLE) * t.sn / t.n AS sse_total
    FROM pfx p CROSS JOIN tot t
    -- min segment size 5: without it the argmin degenerates to the
    -- single-outlier-day edge split (classic BinSeg artifact)
    WHERE p.i >= 5 AND p.i <= t.n - 5
)
SELECT d AS split_day,
       CAST(i AS BIGINT) AS n_left,
       CAST(n - i AS BIGINT) AS n_right,
       {sql_dround('mean_l_c / 100.0', 4)} AS mean_left,
       {sql_dround('mean_r_c / 100.0', 4)} AS mean_right,
       {sql_dround('sse_total / 10000.0', 4)} AS sse_total,
       {sql_dround('sse_split / 10000.0', 4)} AS sse_split,
       CASE WHEN sse_total = 0 THEN 0.0
            ELSE {sql_dround('(sse_total - sse_split) / sse_total', 6)}
       END AS var_reduction
FROM cand
ORDER BY sse_split, d LIMIT 1
""",
)
def changepoint_binary_segmentation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Best single-split changepoint of the daily revenue series.

    Scale: the only data-sized stage is the day-grain aggregate
    (map-side combine); everything after runs on ≤|days| rows —
    prefix sums over the day spine, a |days|-row candidate scan, and
    a 1-row TakeOrdered argmin. At 100 TB the day grain is still
    bounded (years ≈ thousands of rows), so the "single window over
    days" is not a data-volume window. Deeper BinSeg recursion =
    re-running this plan per segment. Reference analog: none
    (time-series extension beside cusum_change_detection).
    """
    from pyspark.sql.window import Window as _W

    from ..functions import dround

    events = load_tables(spark, sf_dir, "events")["events"]
    v_fp = qround(F.coalesce(F.col("value"), F.lit(0.0)), 2)
    daily = (
        events.filter(F.col("ts").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.sum(v_fp).cast("bigint").alias("x"))
    )
    w = _W.orderBy("d").rowsBetween(_W.unboundedPreceding, _W.currentRow)
    # x² in DECIMAL(38,0) (the Spark twin of the oracle's HUGEINT): an
    # extreme daily cents sum (~1e14 under the adversarial-values
    # sweep) squares past INT64; exact-integer semantics are preserved
    # and every consumer below already lives in double
    xsq = F.col("x").cast("decimal(38,0)") * F.col("x")
    pfx = daily.select(
        "d",
        "x",
        F.row_number().over(_W.orderBy("d")).alias("i"),
        F.sum("x").over(w).cast("bigint").alias("s"),
        F.sum(xsq).over(w).alias("q"),
    )
    tot = daily.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("bigint").alias("sn"),
        F.sum(xsq).alias("qn"),
    )
    cand = (
        pfx.crossJoin(F.broadcast(tot))
        .filter((F.col("i") >= 5) & (F.col("i") <= F.col("n") - 5))
        .select(
            "d",
            "i",
            "n",
            (
                (F.col("q") - F.col("s").cast("double") * F.col("s") / F.col("i"))
                + (
                    (F.col("qn") - F.col("q"))
                    - (F.col("sn") - F.col("s")).cast("double")
                    * (F.col("sn") - F.col("s"))
                    / (F.col("n") - F.col("i"))
                )
            ).alias("sse_split"),
            (F.col("s").cast("double") / F.col("i")).alias("mean_l_c"),
            (
                (F.col("sn") - F.col("s")).cast("double")
                / (F.col("n") - F.col("i"))
            ).alias("mean_r_c"),
            (
                F.col("qn")
                - F.col("sn").cast("double") * F.col("sn") / F.col("n")
            ).alias("sse_total"),
        )
    )
    return (
        cand.orderBy("sse_split", "d")
        .limit(1)
        .select(
            F.col("d").alias("split_day"),
            F.col("i").cast("bigint").alias("n_left"),
            (F.col("n") - F.col("i")).cast("bigint").alias("n_right"),
            dround(F.col("mean_l_c") / 100.0, 4).alias("mean_left"),
            dround(F.col("mean_r_c") / 100.0, 4).alias("mean_right"),
            dround(F.col("sse_total") / 10000.0, 4).alias("sse_total"),
            dround(F.col("sse_split") / 10000.0, 4).alias("sse_split"),
            F.when(F.col("sse_total") == 0, F.lit(0.0))
            .otherwise(
                dround(
                    (F.col("sse_total") - F.col("sse_split"))
                    / F.col("sse_total"),
                    6,
                )
            )
            .alias("var_reduction"),
        )
    )


# --------------------------------------------------------------------------
# Exact dynamic-time-warping distance between event-type daily series —
# the alignment-aware similarity the lockstep correlation family
# (lead_lag_cross_correlation, kendall/spearman) cannot express: two
# series with the same shape shifted by a day are "far" in lockstep L1
# but near under DTW. Costs are integer |Δcount|, so the whole DP is
# exact integer min-plus — bit-identical across engines.
#
# Oracle form: the row recursion D(i,j) = c(i,j) + min(D(i-1,j),
# D(i-1,j-1), D(i,j-1)) is made window-parallel per row via the
# prefix-min transformation D(i,j) = P_i(j) + min_{k<=j}(A(k) -
# P_i(k-1)) with A(k) = min(D(i-1,k), D(i-1,k-1)) — each of the 30
# unrolled MATERIALIZED rounds is two window passes, never a
# cell-by-cell recursion. Spark runs the grouped DP through
# applyInPandas (Arrow; one group per pair — the mapInPandas custom-
# operator escape hatch, same posture as trend_applyinpandas).
# --------------------------------------------------------------------------

_DTW_N = 30  # series length: the data-relative 30-day spine
_DTW_INF = 1 << 62


def _dtw_row_sql(i: int) -> str:
    return f"""
r{i} AS MATERIALIZED (
    SELECT ta, tb, j,
           CAST(pfx + MIN(am) OVER (PARTITION BY ta, tb ORDER BY j
                                    ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS dv
    FROM (
        SELECT c.ta, c.tb, c.j,
               SUM(c.c) OVER (PARTITION BY c.ta, c.tb ORDER BY c.j
                              ROWS UNBOUNDED PRECEDING) AS pfx,
               LEAST(p.dv,
                     COALESCE(LAG(p.dv) OVER (PARTITION BY c.ta, c.tb
                                              ORDER BY c.j),
                              {_DTW_INF}))
               - (SUM(c.c) OVER (PARTITION BY c.ta, c.tb ORDER BY c.j
                                 ROWS UNBOUNDED PRECEDING) - c.c) AS am
        FROM dcost c
        JOIN r{i - 1} p ON p.ta = c.ta AND p.tb = c.tb AND p.j = c.j
        WHERE c.i = {i}
    )
)"""


@query(
    "dtw_event_type_daily",
    oracle=f"""
WITH ddaily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
dbounds AS (SELECT MIN(d) AS dmin FROM ddaily),
dspine AS (
    SELECT t.event_type, CAST(g.day AS DATE) AS d,
           ROW_NUMBER() OVER (PARTITION BY t.event_type ORDER BY g.day) AS j
    FROM (SELECT DISTINCT event_type FROM ddaily) t
    CROSS JOIN (
        SELECT unnest(generate_series(b.dmin,
                                      b.dmin + INTERVAL {_DTW_N - 1} DAY,
                                      INTERVAL 1 DAY)) AS day
        FROM dbounds b
    ) g
),
dfilled AS MATERIALIZED (
    SELECT s.event_type, s.j, COALESCE(dd.n, 0) AS n
    FROM dspine s LEFT JOIN ddaily dd
      ON dd.event_type = s.event_type AND dd.d = s.d
),
dpairs AS (
    SELECT a.event_type AS ta, b.event_type AS tb
    FROM (SELECT DISTINCT event_type FROM ddaily) a
    JOIN (SELECT DISTINCT event_type FROM ddaily) b
      ON a.event_type < b.event_type
),
dcost AS MATERIALIZED (
    SELECT p.ta, p.tb, fa.j AS i, fb.j AS j,
           CAST(ABS(fa.n - fb.n) AS BIGINT) AS c
    FROM dpairs p
    JOIN dfilled fa ON fa.event_type = p.ta
    JOIN dfilled fb ON fb.event_type = p.tb
),
r1 AS MATERIALIZED (
    SELECT ta, tb, j,
           CAST(SUM(c) OVER (PARTITION BY ta, tb ORDER BY j
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS dv
    FROM dcost WHERE i = 1
),
{','.join(_dtw_row_sql(i).lstrip() for i in range(2, _DTW_N + 1))},
dlock AS (
    SELECT ta, tb, CAST(SUM(c) AS BIGINT) AS lockstep,
           COUNT(*) AS n_steps
    FROM dcost WHERE i = j GROUP BY 1, 2
)
SELECT f.ta AS type_a, f.tb AS type_b,
       CAST(l.n_steps AS BIGINT) AS n_steps,
       f.dv AS dtw_cost,
       l.lockstep AS lockstep_cost,
       CASE WHEN l.lockstep = 0 THEN 0
            ELSE CAST(FLOOR((l.lockstep - f.dv) * 1000000.0 / l.lockstep
                            + 0.5) AS BIGINT)
       END AS alignment_gain_ppm
FROM (SELECT * FROM r{_DTW_N} WHERE j = {_DTW_N}) f
JOIN dlock l ON l.ta = f.ta AND l.tb = f.tb
""",
)
def dtw_event_type_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DTW vs lockstep L1 for every event-type pair's daily series.

    Scale: the data-sized stage is the (type, day) aggregate; the DP
    runs per pair over 30-element series — |pairs| independent Arrow
    groups, each O(n²) integer work, embarrassingly parallel across
    executors. At 100 TB the pair count (not the row count) is the
    driver: K series → K²/2 bounded-size groups. The SQL oracle proves
    the same DP via 30 window-parallel unrolled rounds.
    """
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    daily = (
        events.filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.count("*").alias("n"))
    )
    types = daily.select("event_type").distinct()
    bounds = daily.agg(F.min("d").alias("dmin"))
    spine = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence(
                    F.col("dmin"), F.date_add(F.col("dmin"), _DTW_N - 1)
                )
            ).alias("d"),
        )
        .select(
            "event_type",
            "d",
            F.row_number()
            .over(Window.partitionBy("event_type").orderBy("d"))
            .alias("j"),
        )
    )
    filled = (
        spine.join(daily, ["event_type", "d"], "left")
        .select(
            "event_type", "j", F.coalesce(F.col("n"), F.lit(0)).alias("n")
        )
        .localCheckpoint(eager=True)
    )
    pairs = (
        types.withColumnRenamed("event_type", "ta")
        .join(
            types.withColumnRenamed("event_type", "tb"),
            F.col("ta") < F.col("tb"),
        )
    )
    fa = filled.select(
        F.col("event_type").alias("ta"), F.col("j"), F.col("n").alias("xa")
    )
    fb = filled.select(
        F.col("event_type").alias("tb2"),
        F.col("j").alias("jb"),
        F.col("n").alias("xb"),
    )
    rows = (
        pairs.join(fa, "ta")
        .join(fb, (F.col("tb") == F.col("tb2")) & (F.col("j") == F.col("jb")))
        .select("ta", "tb", "j", "xa", "xb")
    )

    def dtw_group(pdf):
        import pandas as pd

        pdf = pdf.sort_values("j").reset_index(drop=True)
        x = [int(v) for v in pdf["xa"]]
        y = [int(v) for v in pdf["xb"]]
        n = len(x)
        inf = 1 << 62
        prev = None
        for i in range(n):
            cur = [0] * n
            for j in range(n):
                c = abs(x[i] - y[j])
                if i == 0:
                    cur[j] = c + (cur[j - 1] if j > 0 else 0)
                else:
                    best = prev[j]
                    if j > 0:
                        if prev[j - 1] < best:
                            best = prev[j - 1]
                        if cur[j - 1] < best:
                            best = cur[j - 1]
                    cur[j] = c + best
            prev = cur
        dtw = prev[n - 1] if n else 0
        lock = sum(abs(a - b) for a, b in zip(x, y))
        gain = 0 if lock == 0 else int(
            ((lock - dtw) * 1000000.0 / lock + 0.5) // 1
        )
        return pd.DataFrame(
            {
                "type_a": [pdf["ta"].iloc[0]],
                "type_b": [pdf["tb"].iloc[0]],
                "n_steps": [n],
                "dtw_cost": [dtw],
                "lockstep_cost": [lock],
                "alignment_gain_ppm": [gain],
            }
        )

    return rows.groupBy("ta", "tb").applyInPandas(
        dtw_group,
        "type_a string, type_b string, n_steps long, dtw_cost long,"
        " lockstep_cost long, alignment_gain_ppm long",
    )


# --------------------------------------------------------------------------
# SAX (Symbolic Aggregate approXimation, Lin et al. 2003): PAA-compress
# each event type's daily-revenue series 3:1, z-normalize, and map
# segments onto a 4-letter alphabet at the N(0,1) quartile breakpoints
# ±0.6745 — then census the repeated 3-letter motifs. This is the
# symbolic-TS-mining member of the series family (DTW = alignment,
# autocorrelation/Hurst = memory, SAX = discretized shape). All inputs
# are exact cents integers; z-comparisons are rearranged to
# (paa − μ) < bp·σ so no division is ever taken (σ = 0 degenerates to
# the 'd' symbol identically on both engines). S² stays under 2^53 up
# to sf1-scale daily sums — exact doubles throughout.
# --------------------------------------------------------------------------

_SAX_W = 3  # PAA window (days per segment)
_SAX_BP = 0.6745  # N(0,1) quartile breakpoint


@query(
    "sax_motif_census",
    oracle=f"""
WITH xdaily AS (
    SELECT event_type, CAST(ts AS DATE) AS d,
           CAST(SUM({sql_qround('COALESCE(value, 0)', 2)})
                AS BIGINT) AS x
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
xbounds AS (SELECT MIN(d) AS dmin FROM xdaily),
xspine AS (
    SELECT t.event_type, CAST(g.day AS DATE) AS d,
           ROW_NUMBER() OVER (PARTITION BY t.event_type ORDER BY g.day) AS j
    FROM (SELECT DISTINCT event_type FROM xdaily) t
    CROSS JOIN (
        SELECT unnest(generate_series(b.dmin, b.dmin + INTERVAL 29 DAY,
                                      INTERVAL 1 DAY)) AS day
        FROM xbounds b
    ) g
),
xfill AS (
    SELECT s.event_type, s.j, COALESCE(xd.x, 0) AS x
    FROM xspine s LEFT JOIN xdaily xd
      ON xd.event_type = s.event_type AND xd.d = s.d
),
xstat AS (
    -- x² in HUGEINT: an adversarial 1e12 event value makes a daily
    -- cents sum ~1e14 whose INT64 square overflows before the DOUBLE
    -- cast (exactness downstream is unchanged — the consumer is double)
    SELECT event_type,
           CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mu,
           sqrt((CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE)
                 - CAST(SUM(x) AS DOUBLE) * SUM(x) / COUNT(*))
                / COUNT(*)) AS sigma
    FROM xfill GROUP BY 1
),
paa AS (
    SELECT event_type, (j - 1) // {_SAX_W} + 1 AS seg,
           CAST(SUM(x) AS DOUBLE) / {_SAX_W} AS pv
    FROM xfill GROUP BY 1, 2
),
sym AS (
    SELECT p.event_type, p.seg,
           CASE WHEN p.pv - s.mu < -{_SAX_BP} * s.sigma THEN 'a'
                WHEN p.pv - s.mu < 0 THEN 'b'
                WHEN p.pv - s.mu < {_SAX_BP} * s.sigma THEN 'c'
                ELSE 'd' END AS sym
    FROM paa p JOIN xstat s USING (event_type)
),
words AS (
    SELECT event_type,
           string_agg(sym, '' ORDER BY seg) AS sax_word
    FROM sym GROUP BY 1
),
tg AS (
    SELECT event_type, tg3 FROM (
        SELECT event_type,
               sym || LEAD(sym, 1) OVER w || LEAD(sym, 2) OVER w AS tg3
        FROM sym
        WINDOW w AS (PARTITION BY event_type ORDER BY seg)
    ) WHERE tg3 IS NOT NULL
),
tgc AS (
    SELECT event_type, tg3, COUNT(*) AS cnt FROM tg GROUP BY 1, 2
),
top AS (
    SELECT event_type, tg3, cnt FROM (
        SELECT event_type, tg3, cnt,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY cnt DESC, tg3) AS rn
        FROM tgc
    ) WHERE rn = 1
)
SELECT w.event_type,
       w.sax_word,
       (SELECT COUNT(*) FROM tgc c
        WHERE c.event_type = w.event_type) AS n_distinct_trigrams,
       t.tg3 AS top_motif,
       CAST(t.cnt AS BIGINT) AS top_motif_count
FROM words w JOIN top t ON t.event_type = w.event_type
""",
)
def sax_motif_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX words + repeated-trigram motif census per event type.

    Scale: one (type, day)-grain aggregate is the only data-sized
    stage; PAA, z-symbolization, the word agg, and the motif census
    all run on ≤|types|×30 bounded rows. At 100 TB the alphabet/PAA
    parameters are the knobs; the plan shape is unchanged.
    """
    from pyspark.sql.window import Window as _W

    events = load_tables(spark, sf_dir, "events")["events"]
    v_fp = qround(F.coalesce(F.col("value"), F.lit(0.0)), 2)
    xdaily = (
        events.filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.sum(v_fp).cast("bigint").alias("x"))
    )
    types = xdaily.select("event_type").distinct()
    bounds = xdaily.agg(F.min("d").alias("dmin"))
    spine = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("dmin"), F.date_add(F.col("dmin"), 29))
            ).alias("d"),
        )
        .select(
            "event_type",
            "d",
            F.row_number()
            .over(_W.partitionBy("event_type").orderBy("d"))
            .alias("j"),
        )
    )
    xfill = spine.join(xdaily, ["event_type", "d"], "left").select(
        "event_type", "j", F.coalesce(F.col("x"), F.lit(0)).alias("x")
    ).localCheckpoint(eager=True)
    # x² in DECIMAL(38,0) — the Spark twin of the oracle's HUGEINT
    # (adversarial daily sums square past INT64; consumer is double)
    xstat = xfill.groupBy("event_type").agg(
        (F.sum("x").cast("double") / F.count("*")).alias("mu"),
        F.sqrt(
            (
                F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).cast(
                    "double"
                )
                - F.sum("x").cast("double") * F.sum("x") / F.count("*")
            )
            / F.count("*")
        ).alias("sigma"),
    )
    paa = xfill.groupBy(
        "event_type",
        (F.expr(f"CAST((j - 1) DIV {_SAX_W} AS INT)") + 1).alias("seg"),
    ).agg((F.sum("x").cast("double") / _SAX_W).alias("pv"))
    diff = F.col("pv") - F.col("mu")
    sym = paa.join(xstat, "event_type").select(
        "event_type",
        "seg",
        F.when(diff < -_SAX_BP * F.col("sigma"), "a")
        .when(diff < 0, "b")
        .when(diff < _SAX_BP * F.col("sigma"), "c")
        .otherwise("d")
        .alias("sym"),
    ).localCheckpoint(eager=True)
    words = sym.groupBy("event_type").agg(
        F.concat_ws(
            "", F.array_sort(F.collect_list(F.struct("seg", "sym"))).getField(
                "sym"
            )
        ).alias("sax_word")
    )
    w = _W.partitionBy("event_type").orderBy("seg")
    tg = (
        sym.select(
            "event_type",
            F.concat(
                F.col("sym"),
                F.lead("sym", 1).over(w),
                F.lead("sym", 2).over(w),
            ).alias("tg3"),
        )
        .filter(F.col("tg3").isNotNull())
    )
    tgc = tg.groupBy("event_type", "tg3").agg(F.count("*").alias("cnt"))
    top = (
        tgc.withColumn(
            "rn",
            F.row_number().over(
                _W.partitionBy("event_type").orderBy(
                    F.desc("cnt"), F.col("tg3")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("tg3").alias("top_motif"),
                F.col("cnt").cast("bigint").alias("top_motif_count"))
    )
    ndist = tgc.groupBy("event_type").agg(
        F.count("*").alias("n_distinct_trigrams")
    )
    return (
        words.join(ndist, "event_type")
        .join(top, "event_type")
        .select(
            "event_type",
            "sax_word",
            "n_distinct_trigrams",
            "top_motif",
            "top_motif_count",
        )
    )


# --------------------------------------------------------------------------
# Sequence-anomaly ranking: score every user's event-type sequence
# under the corpus first-order Markov model (the event_transition_
# matrix) and surface the users whose behavior the model finds most
# surprising — average transition NLL, the sequence-level sibling of
# the value-level outlier family (zscore/MAD/Mahalanobis). Transition
# probabilities are exact count ratios; each -ln p is ×1e9-quantized
# so per-user sums are order-independent integers.
# --------------------------------------------------------------------------

_SEQ_ANOM_K = 20
_SEQ_ANOM_MIN = 10  # minimum transitions for a stable average


@query(
    "user_sequence_anomaly_nll",
    oracle=f"""
WITH seq AS (
    SELECT user_id, event_type AS from_type,
           LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS to_type
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
tr AS (SELECT user_id, from_type, to_type FROM seq WHERE to_type IS NOT NULL),
model AS (
    SELECT from_type, to_type, COUNT(*) AS n FROM tr GROUP BY 1, 2
),
marg AS (
    SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_total
    FROM model GROUP BY 1
),
scoredq AS (
    SELECT t.user_id,
           {sql_qround('-ln(m.n * 1.0 / g.row_total)', 9)} AS nllq,
           m.from_type || '>' || m.to_type AS edge
    FROM tr t
    JOIN model m ON m.from_type = t.from_type AND m.to_type = t.to_type
    JOIN marg g ON g.from_type = t.from_type
),
per_user AS (
    SELECT user_id,
           COUNT(*) AS n_transitions,
           CAST(SUM(nllq) AS BIGINT) AS sq,
           MAX(nllq) AS mx
    FROM scoredq GROUP BY 1
),
rare AS (
    SELECT user_id, edge AS rarest_edge FROM (
        SELECT user_id, edge,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY nllq DESC, edge) AS rn
        FROM scoredq
    ) WHERE rn = 1
)
SELECT p.user_id,
       CAST(p.n_transitions AS BIGINT) AS n_transitions,
       {sql_dround('p.sq * 1.0 / (p.n_transitions * 1000000000.0)', 6)}
           AS avg_nll,
       {sql_dround('p.mx / 1000000000.0', 6)} AS max_nll,
       r.rarest_edge
FROM per_user p JOIN rare r USING (user_id)
WHERE p.n_transitions >= {_SEQ_ANOM_MIN}
ORDER BY p.sq * 1.0 / p.n_transitions DESC, p.user_id
LIMIT {_SEQ_ANOM_K}
""",
)
def user_sequence_anomaly_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 users whose event sequences the Markov model finds oddest.

    Scale: the model is the ≤|types|² transition table (broadcast);
    scoring is one map-side join pass over the lead-chained sequence
    (the only shuffle is the per-user window, partitioned on the same
    user key the aggregate reuses); the finisher is TakeOrdered over
    user-grain rows. In-sample scoring is intentional: this ranks
    relative surprise, not held-out likelihood (kn_bigram_perplexity
    is the held-out member of the family).
    """
    from pyspark.sql.window import Window as _W

    events = load_tables(spark, sf_dir, "events")["events"]
    events = events.filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = _W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    tr = seq.filter(F.col("to_type").isNotNull())
    model = tr.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    marg = model.groupBy("from_type").agg(
        F.sum("n").cast("bigint").alias("row_total")
    )
    scoredq = (
        tr.join(F.broadcast(model), ["from_type", "to_type"])
        .join(F.broadcast(marg), "from_type")
        .select(
            "user_id",
            qround(
                -F.log(F.col("n") * 1.0 / F.col("row_total")), 9
            )
            .alias("nllq"),
            F.concat(
                F.col("from_type"), F.lit(">"), F.col("to_type")
            ).alias("edge"),
        )
    )
    per_user = scoredq.groupBy("user_id").agg(
        F.count("*").alias("n_transitions"),
        F.sum("nllq").cast("bigint").alias("sq"),
        F.max("nllq").alias("mx"),
    )
    rare = (
        scoredq.withColumn(
            "rn",
            F.row_number().over(
                _W.partitionBy("user_id").orderBy(F.desc("nllq"), "edge")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("edge").alias("rarest_edge"))
    )
    return (
        per_user.join(rare, "user_id")
        .filter(F.col("n_transitions") >= _SEQ_ANOM_MIN)
        .orderBy(
            (F.col("sq") * 1.0 / F.col("n_transitions")).desc(), "user_id"
        )
        .limit(_SEQ_ANOM_K)
        .select(
            "user_id",
            F.col("n_transitions").cast("bigint").alias("n_transitions"),
            dround(
                F.col("sq") * 1.0 / (F.col("n_transitions") * 1000000000.0), 6
            ).alias("avg_nll"),
            dround(F.col("mx") / 1000000000.0, 6).alias("max_nll"),
            "rarest_edge",
        )
    )


# --------------------------------------------------------------------------
# Periodogram of the daily revenue series — frequency-domain cycle
# detection beside the time-domain members (autocorrelation_daily
# = lag correlation, intraday_seasonality = hour-grain F-ratio):
# spectral power at candidate periods 2..10 days via explicit
# cos/sin projections. ALL trig values are PYTHON-precomputed for the
# (period, day mod period) grid and injected as double literals —
# engine libm (cos/sin) is never called, so no ulp divergence is
# possible. Projection terms are ×1e3-quantized integers before the
# sums; power ratios are single divisions of identical doubles.
# --------------------------------------------------------------------------

import math as _math  # noqa: E402

_PGRAM_PERIODS = range(2, 11)
_PGRAM_TRIG = [
    (p, k, _math.cos(2 * _math.pi * k / p), _math.sin(2 * _math.pi * k / p))
    for p in _PGRAM_PERIODS
    for k in range(p)
]
_PGRAM_TRIG_SQL = ", ".join(
    f"({p}, {k}, CAST({c!r} AS DOUBLE), CAST({s!r} AS DOUBLE))"
    for p, k, c, s in _PGRAM_TRIG
)


@query(
    "periodogram_daily_power",
    oracle=f"""
WITH pdaily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(SUM({sql_qround('COALESCE(value, 0)', 2, CENTS_CAP)}) AS BIGINT) AS x
    FROM events WHERE ts IS NOT NULL GROUP BY 1
),
pidx AS (
    SELECT x, ROW_NUMBER() OVER (ORDER BY d) - 1 AS j FROM pdaily
),
pstat AS (
    SELECT CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mu, COUNT(*) AS n FROM pidx
),
trig AS (SELECT * FROM (VALUES {_PGRAM_TRIG_SQL}) t(p, k, c, s)),
proj AS (
    SELECT t.p,
           CAST(SUM({sql_qround('(i.x - st.mu) * t.c', 3)}) AS BIGINT) AS aq,
           CAST(SUM({sql_qround('(i.x - st.mu) * t.s', 3)}) AS BIGINT) AS bq
    FROM pidx i
    CROSS JOIN pstat st
    JOIN trig t ON t.k = i.j % t.p
    GROUP BY 1
),
ptot AS (
    SELECT CAST(SUM(CAST(FLOOR((i.x - st.mu) * (i.x - st.mu) + 0.5)
                         AS BIGINT)) AS BIGINT) AS ss
    FROM pidx i CROSS JOIN pstat st
)
SELECT CAST(p.p AS BIGINT) AS period_days,
       {sql_dround('(CAST(p.aq AS DOUBLE) * p.aq + CAST(p.bq AS DOUBLE) * p.bq)'
                   ' / (1000000.0 * (CASE WHEN t.ss > 0 THEN t.ss END))'
                   ' / (SELECT n FROM pstat)', 6)} AS power_frac,
       CAST(ROW_NUMBER() OVER (
           ORDER BY (CAST(p.aq AS DOUBLE) * p.aq + CAST(p.bq AS DOUBLE) * p.bq)
               DESC, p.p
       ) AS BIGINT) AS power_rank
FROM proj p CROSS JOIN ptot t
""",
)
def periodogram_daily_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral power of the daily revenue series at periods 2-10 days.

    Scale: day-grain aggregate, then a 54-row literal trig join over
    ≤|days| rows — bounded at any data volume. A flat spectrum is a
    finding too (this corpus has no weekly cycle; the ranked powers
    prove it rather than assume it).
    """
    from pyspark.sql.window import Window as _W

    events = load_tables(spark, sf_dir, "events")["events"]
    v_fp = qround(F.coalesce(F.col("value"), F.lit(0.0)), 2, CENTS_CAP)
    pdaily = (
        events.filter(F.col("ts").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.sum(v_fp).cast("bigint").alias("x"))
    )
    pidx = pdaily.select(
        "x", (F.row_number().over(_W.orderBy("d")) - 1).alias("j")
    )
    pstat = pidx.agg(
        (F.sum("x").cast("double") / F.count("*")).alias("mu"),
        F.count("*").alias("n"),
    )
    trig = spark.createDataFrame(_PGRAM_TRIG, ["p", "k", "c", "s"])
    proj = (
        pidx.crossJoin(F.broadcast(pstat))
        .join(F.broadcast(trig), F.col("k") == F.col("j") % F.col("p"))
        .groupBy("p")
        .agg(
            F.sum(
                qround((F.col("x") - F.col("mu")) * F.col("c"), 3)
            )
            .cast("bigint")
            .alias("aq"),
            F.sum(
                qround((F.col("x") - F.col("mu")) * F.col("s"), 3)
            )
            .cast("bigint")
            .alias("bq"),
        )
    )
    ptot = pidx.crossJoin(F.broadcast(pstat)).agg(
        F.sum(
            F.floor(
                (F.col("x") - F.col("mu")) * (F.col("x") - F.col("mu")) + 0.5
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("ss")
    )
    power = F.col("aq").cast("double") * F.col("aq") + F.col("bq").cast(
        "double"
    ) * F.col("bq")
    out = (
        proj.crossJoin(F.broadcast(ptot))
        .crossJoin(F.broadcast(pstat.select("n")))
        .select(
            F.col("p").cast("bigint").alias("period_days"),
            dround(
                power
                / (F.lit(1000000.0) * F.when(F.col("ss") > 0, F.col("ss")))
                / F.col("n"),
                6,
            ).alias("power_frac"),
            F.row_number()
            .over(_W.orderBy(power.desc(), F.col("p")))
            .cast("bigint")
            .alias("power_rank"),
        )
    )
    return out


# --------------------------------------------------------------------------
# Rank-1 ALS factorization of the user × event-type value matrix — the
# recommender-system primitive (implicit-feedback factorization à la
# Hu/Koren/Volinsky, reduced to its exactly-solvable rank-1 core):
# alternate u_i = Σ_j r_ij v_j / Σ_j v_j² and v_j = Σ_i r_ij u_i /
# Σ_i u_i², 3 rounds from v = 1. Every cross-term is ×1e9-quantized
# before the (shuffled) sums, so the alternating updates are
# bit-identical across engines and partitionings. Reported: the item
# factor vector and the fit R² of the rank-1 reconstruction.
# --------------------------------------------------------------------------

_ALS_ROUNDS = 3


def _als_sql_round(i: int) -> str:
    """u{i} from v{i-1}, then v{i} from u{i}."""
    p = i - 1
    return f"""
u{i} AS MATERIALIZED (
    SELECT r.user_id,
           CAST(SUM({sql_qround('r.r * v.v', 6)})
                AS DOUBLE) / 1000000.0
           / ((SELECT SUM({sql_qround('v2.v * v2.v', 6)}) FROM v{p} v2)
              / 1000000.0) AS u
    FROM als_r r JOIN v{p} v ON v.event_type = r.event_type
    GROUP BY 1
),
v{i} AS MATERIALIZED (
    SELECT r.event_type,
           CAST(SUM({sql_qround('r.r * u.u', 6)})
                AS DOUBLE) / 1000000.0
           / ((SELECT SUM({sql_qround('u2.u * u2.u', 6)}) FROM u{i} u2)
              / 1000000.0) AS v
    FROM als_r r JOIN u{i} u ON u.user_id = r.user_id
    GROUP BY 1
)"""


@query(
    "als_rank1_factorization",
    oracle=f"""
WITH als_r AS MATERIALIZED (
    SELECT user_id, event_type,
           CAST(SUM({sql_qround('COALESCE(value, 0)', 2, CENTS_CAP)}) AS DOUBLE) / 100.0
               AS r
    FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
),
v0 AS (SELECT DISTINCT event_type, CAST(1.0 AS DOUBLE) AS v FROM als_r),
{','.join(_als_sql_round(i).lstrip() for i in range(1, _ALS_ROUNDS + 1))},
recon AS (
    SELECT r.r, u.u * v.v AS rhat
    FROM als_r r
    JOIN u{_ALS_ROUNDS} u ON u.user_id = r.user_id
    JOIN v{_ALS_ROUNDS} v ON v.event_type = r.event_type
),
fit AS (
    SELECT CAST(SUM({sql_qround('(r - rhat) * (r - rhat)', 3)}) AS BIGINT) AS sse_q,
           CAST(SUM({sql_qround('r', 3)}) AS BIGINT) AS s_q,
           CAST(SUM({sql_qround('r * r', 3)}) AS BIGINT)
               AS ss_q,
           COUNT(*) AS n
    FROM recon
)
SELECT v.event_type,
       {sql_dround('v.v', 6)} AS item_factor,
       {sql_dround('(1.0 - (f.sse_q * 1.0'
                   ' / (CASE WHEN (f.ss_q - CAST(f.s_q AS DOUBLE) * f.s_q'
                   ' / (f.n * 1000.0)) > 0'
                   ' THEN f.ss_q - CAST(f.s_q AS DOUBLE) * f.s_q'
                   ' / (f.n * 1000.0) END)))', 6)} AS r2_rank1
FROM v{_ALS_ROUNDS} v CROSS JOIN fit f
""",
)
def als_rank1_factorization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round rank-1 ALS over the user × event-type revenue matrix.

    Scale: the ratings build is one (user, type) aggregate; each ALS
    half-step is a broadcast join against the |types|- or |users|-row
    factor vector plus a quantized-integer aggregate — the exact
    alternating-least-squares dataflow (factors re-broadcast per
    half-step, ratings never re-shuffled: both updates group on keys
    the ratings already carry). Driver state is never more than the
    factor vectors. Reference analog: none (ML-primitive extension).
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    v_fp = qround(F.coalesce(F.col("value"), F.lit(0.0)), 2, CENTS_CAP)
    r = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id", "event_type")
        .agg((F.sum(v_fp).cast("double") / 100.0).alias("r"))
        .localCheckpoint(eager=True)
    )
    v = r.select("event_type").distinct().select(
        "event_type", F.lit(1.0).alias("v")
    )
    u = None
    for _ in range(_ALS_ROUNDS):
        vss = v.agg(
            (
                F.sum(
                    qround(F.col("v") * F.col("v"), 6)
                )
                / 1000000.0
            ).alias("vss")
        )
        u = (
            r.join(F.broadcast(v), "event_type")
            .groupBy("user_id")
            .agg(
                (
                    F.sum(
                        qround(F.col("r") * F.col("v"), 6)
                    ).cast("double")
                    / 1000000.0
                ).alias("num")
            )
            .crossJoin(F.broadcast(vss))
            .select("user_id", (F.col("num") / F.col("vss")).alias("u"))
        )
        uss = u.agg(
            (
                F.sum(
                    qround(F.col("u") * F.col("u"), 6)
                )
                / 1000000.0
            ).alias("uss")
        )
        v = (
            r.join(u, "user_id")
            .groupBy("event_type")
            .agg(
                (
                    F.sum(
                        qround(F.col("r") * F.col("u"), 6)
                    ).cast("double")
                    / 1000000.0
                ).alias("num")
            )
            .crossJoin(F.broadcast(uss))
            .select("event_type", (F.col("num") / F.col("uss")).alias("v"))
        )
    recon = (
        r.join(u, "user_id")
        .join(F.broadcast(v), "event_type")
        .select("r", (F.col("u") * F.col("v")).alias("rhat"))
    )
    fit = recon.agg(
        F.sum(
            qround(
                (F.col("r") - F.col("rhat"))
                * (F.col("r") - F.col("rhat")),
                3,
            )
        )
        .cast("bigint")
        .alias("sse_q"),
        F.sum(qround(F.col("r"), 3))
        .cast("bigint")
        .alias("s_q"),
        F.sum(qround(F.col("r") * F.col("r"), 3))
        .cast("bigint")
        .alias("ss_q"),
        F.count("*").alias("n"),
    )
    var_q = F.col("ss_q") - F.col("s_q").cast("double") * F.col("s_q") / (
        F.col("n") * 1000.0
    )
    return v.crossJoin(F.broadcast(fit)).select(
        "event_type",
        dround(F.col("v"), 6).alias("item_factor"),
        dround(
            (
                1.0
                - F.col("sse_q") * 1.0 / F.when(var_q > 0, var_q)
            ),
            6,
        ).alias("r2_rank1"),
    )


# --------------------------------------------------------------------------
# Gradient-boosted decision stumps, exact, in pure relational algebra —
# 3 rounds of squared-loss boosting (learning rate 1) predicting event
# value from a 10-candidate split grid (event_type one-vs-rest ×5,
# hour-of-day thresholds ×5). Each round: score ALL candidates in one
# grouped pass (split gain = S_L²/n_L + S_R²/n_R over ×1e3-quantized
# residuals — maximizing gain ≡ minimizing SSE, so Σr² is never
# needed), argmax with cid tiebreak, then a broadcast-winner residual
# update. The boosting invariant (cumulative train R² is
# non-decreasing) is part of the hashed output.
# --------------------------------------------------------------------------

_GBM_ROUNDS = 3
_GBM_CANDS = [
    (1, "type", "click", None), (2, "type", "error", None),
    (3, "type", "purchase", None), (4, "type", "signup", None),
    (5, "type", "view", None),
    (6, "hour", None, 4), (7, "hour", None, 8), (8, "hour", None, 12),
    (9, "hour", None, 16), (10, "hour", None, 20),
]
_GBM_CANDS_SQL = ", ".join(
    f"({cid}, '{kind}', "
    + (f"'{ps}'" if ps is not None else "CAST(NULL AS VARCHAR)")
    + ", "
    + (str(ph) if ph is not None else "CAST(NULL AS INTEGER)")
    + ")"
    for cid, kind, ps, ph in _GBM_CANDS
)

_GBM_SIDE_SQL = (
    "COALESCE(CASE WHEN kind = 'type' THEN event_type = param_s "
    "ELSE hr < param_h END, FALSE)"
)


def _gbm_round_sql(m: int) -> str:
    p = m - 1
    return f"""
st{m} AS (
    SELECT cid, kind, param_s, param_h,
           COUNT(*) FILTER (WHERE side) AS nl,
           COUNT(*) FILTER (WHERE NOT side) AS nr,
           CAST(COALESCE(SUM(CASE WHEN side THEN rq END), 0) AS BIGINT)
               AS slq,
           CAST(COALESCE(SUM(CASE WHEN NOT side THEN rq END), 0) AS BIGINT)
               AS srq
    FROM (
        SELECT c.*, {_GBM_SIDE_SQL} AS side,
               {sql_qround('e.r', 3)} AS rq
        FROM rs{p} e CROSS JOIN gbm_cands c
    ) GROUP BY 1, 2, 3, 4
),
w{m} AS MATERIALIZED (
    SELECT *,
           CAST(CASE WHEN nl > 0
                     THEN slq / (1000.0 * nl) ELSE 0.0 END AS DOUBLE)
               AS leaf_l,
           CAST(CASE WHEN nr > 0
                     THEN srq / (1000.0 * nr) ELSE 0.0 END AS DOUBLE)
               AS leaf_r
    FROM st{m}
    ORDER BY (CASE WHEN nl > 0 THEN CAST(slq AS DOUBLE) * slq / nl
                   ELSE 0.0 END
              + CASE WHEN nr > 0 THEN CAST(srq AS DOUBLE) * srq / nr
                     ELSE 0.0 END) DESC, cid
    LIMIT 1
),
rs{m} AS MATERIALIZED (
    SELECT e.event_type, e.hr,
           e.r - (CASE WHEN {_GBM_SIDE_SQL}
                       THEN w.leaf_l ELSE w.leaf_r END) AS r
    FROM rs{p} e CROSS JOIN w{m} w
),
ss{m} AS (
    SELECT CAST(SUM({sql_qround('r * r', 3)}) AS BIGINT)
               AS ssq
    FROM rs{m}
)"""


@query(
    "gradient_boosted_stumps",
    oracle=f"""
WITH gbm_cands AS (
    SELECT * FROM (VALUES {_GBM_CANDS_SQL}) t(cid, kind, param_s, param_h)
),
base AS MATERIALIZED (
    SELECT event_type, EXTRACT(hour FROM ts) AS hr,
           {sql_qround('COALESCE(value, 0)', 2, CENTS_CAP)} AS y
    FROM events
),
f0 AS (SELECT CAST(SUM(y) AS DOUBLE) / COUNT(*) AS mu FROM base),
rs0 AS MATERIALIZED (
    SELECT event_type, hr, b.y - f.mu AS r FROM base b CROSS JOIN f0 f
),
ss0 AS (
    SELECT CAST(SUM({sql_qround('r * r', 3)}) AS BIGINT)
               AS ssq
    FROM rs0
),
{','.join(_gbm_round_sql(m).lstrip() for m in range(1, _GBM_ROUNDS + 1))}
SELECT r.round,
       w.kind AS split_kind,
       COALESCE(w.param_s, CAST(w.param_h AS VARCHAR)) AS split_param,
       CAST(w.nl AS BIGINT) AS n_left,
       CAST(w.nr AS BIGINT) AS n_right,
       {sql_dround('w.leaf_l / 100.0', 4)} AS leaf_left,
       {sql_dround('w.leaf_r / 100.0', 4)} AS leaf_right,
       {sql_dround('(1.0 - s.ssq * 1.0 / (CASE WHEN z.ssq > 0 THEN z.ssq END))', 6)} AS r2_cumulative
FROM (VALUES (1), (2), (3)) r(round)
JOIN (SELECT 1 AS round, * FROM w1 UNION ALL
      SELECT 2, * FROM w2 UNION ALL
      SELECT 3, * FROM w3) w USING (round)
JOIN (SELECT 1 AS round, ssq FROM ss1 UNION ALL
      SELECT 2, ssq FROM ss2 UNION ALL
      SELECT 3, ssq FROM ss3) s USING (round)
CROSS JOIN ss0 z
""",
)
def gradient_boosted_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 rounds of exact squared-loss stump boosting on event value.

    Scale: each round is ONE grouped pass over the data (a 10-row
    candidate broadcast fan-out, map-side combinable into 20 cells) +
    a 1-row broadcast winner join for the residual update — the
    standard distributed-GBM histogram dataflow with the histogram
    grid as the candidate set. Residual frames are localCheckpoint'd
    so round m's lineage does not replay rounds 1..m-1. Driver state:
    never more than the 1-row winner.
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    base = events.select(
        "event_type",
        F.hour("ts").alias("hr"),
        qround(F.coalesce(F.col("value"), F.lit(0.0)), 2, CENTS_CAP).alias(
            "y"
        ),
    )
    f0 = base.agg((F.sum("y").cast("double") / F.count("*")).alias("mu"))
    rs = (
        base.crossJoin(F.broadcast(f0))
        .select("event_type", "hr", (F.col("y") - F.col("mu")).alias("r"))
        .localCheckpoint(eager=True)
    )
    cands = spark.createDataFrame(
        _GBM_CANDS, "cid int, kind string, param_s string, param_h int"
    )
    side = F.coalesce(
        F.when(
            F.col("kind") == "type", F.col("event_type") == F.col("param_s")
        ).otherwise(F.col("hr") < F.col("param_h")),
        F.lit(False),
    )

    def ssq(rdf) -> DataFrame:
        return rdf.agg(
            F.sum(
                qround(F.col("r") * F.col("r"), 3)
            )
            .cast("bigint")
            .alias("ssq")
        )

    ss0 = ssq(rs)
    reports = []
    for m in range(1, _GBM_ROUNDS + 1):
        rq = qround(F.col("r"), 3)
        st = (
            rs.crossJoin(F.broadcast(cands))
            .select("cid", "kind", "param_s", "param_h", side.alias("side"),
                    rq.alias("rq"))
            .groupBy("cid", "kind", "param_s", "param_h")
            .agg(
                F.count_if(F.col("side")).alias("nl"),
                F.count_if(~F.col("side")).alias("nr"),
                F.coalesce(F.sum(F.when(F.col("side"), F.col("rq"))), F.lit(0))
                .cast("bigint")
                .alias("slq"),
                F.coalesce(
                    F.sum(F.when(~F.col("side"), F.col("rq"))), F.lit(0)
                )
                .cast("bigint")
                .alias("srq"),
            )
        )
        gain = F.when(
            F.col("nl") > 0,
            F.col("slq").cast("double") * F.col("slq") / F.col("nl"),
        ).otherwise(0.0) + F.when(
            F.col("nr") > 0,
            F.col("srq").cast("double") * F.col("srq") / F.col("nr"),
        ).otherwise(0.0)
        w = (
            st.select(
                "*",
                F.when(
                    F.col("nl") > 0, F.col("slq") / (1000.0 * F.col("nl"))
                )
                .otherwise(0.0)
                .alias("leaf_l"),
                F.when(
                    F.col("nr") > 0, F.col("srq") / (1000.0 * F.col("nr"))
                )
                .otherwise(0.0)
                .alias("leaf_r"),
            )
            .orderBy(gain.desc(), "cid")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        rs = (
            rs.crossJoin(F.broadcast(w))
            .select(
                "event_type",
                "hr",
                (
                    F.col("r")
                    - F.when(side, F.col("leaf_l")).otherwise(F.col("leaf_r"))
                ).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
        reports.append((m, w, ssq(rs)))
    out = None
    for m, w, ss_m in reports:
        row = (
            w.crossJoin(ss_m.withColumnRenamed("ssq", "ssm"))
            .crossJoin(F.broadcast(ss0))
            .select(
                F.lit(m).alias("round"),
                F.col("kind").alias("split_kind"),
                F.coalesce(
                    F.col("param_s"), F.col("param_h").cast("string")
                ).alias("split_param"),
                F.col("nl").cast("bigint").alias("n_left"),
                F.col("nr").cast("bigint").alias("n_right"),
                dround(F.col("leaf_l") / 100.0, 4).alias("leaf_left"),
                dround(F.col("leaf_r") / 100.0, 4).alias("leaf_right"),
                dround(
                    (
                        1.0
                        - F.col("ssm")
                        * 1.0
                        / F.when(F.col("ssq") > 0, F.col("ssq"))
                    ),
                    6,
                ).alias("r2_cumulative"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


# --------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard — the estimator-family twin of
# survival_curve_km (KM multiplies survival factors; NA sums hazard
# increments d_i/n_i, is defined even through wipeout ties, and its
# exp(−H) transform is the standard KM cross-check). Same subjects,
# censoring rule, and duration grain as the KM query; each hazard
# increment is ×1e9-quantized so the cumsum is exact integers, and
# the Greenwood-style variance Σ d/n² rides along the same way.
# --------------------------------------------------------------------------


@query(
    "nelson_aalen_hazard",
    oracle=f"""
WITH span AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS first_d,
           MAX(CAST(ts AS DATE)) AS last_d
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL
    GROUP BY 1
),
subj AS (
    SELECT user_id,
           CAST(last_d - first_d AS BIGINT) AS dur,
           CAST(last_d < DATE '{_KM_AS_OF}' - {_KM_CENSOR_DAYS} AS BIGINT)
               AS death
    FROM span
),
g AS (
    SELECT dur, CAST(SUM(death) AS BIGINT) AS deaths, COUNT(*) AS n_at_dur
    FROM subj GROUP BY 1
),
r AS (
    SELECT dur, deaths, n_at_dur,
           CAST((SELECT COUNT(*) FROM subj)
                - COALESCE(SUM(n_at_dur) OVER (
                      ORDER BY dur
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS at_risk
    FROM g
),
h AS (
    SELECT dur, deaths, at_risk,
           CAST(SUM(CAST(FLOOR(deaths * 1000000000.0 / at_risk + 0.5)
                         AS BIGINT)) OVER (
               ORDER BY dur ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hq,
           CAST(SUM(CAST(FLOOR(deaths * 1000000000.0 / at_risk / at_risk
                               + 0.5) AS BIGINT)) OVER (
               ORDER BY dur ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vq
    FROM r
)
SELECT dur AS day, deaths, at_risk,
       {sql_dround('hq / 1000000000.0', 6)}
           AS cum_hazard,
       {sql_dround('exp(-hq / 1000000000.0)', 6)}
           AS survival_na,
       {sql_dround('vq / 1000000000.0', 6)}
           AS hazard_var
FROM h
WHERE deaths > 0
""",
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard over user activity spans.

    Scale: identical dataflow to survival_curve_km — one user-grain
    shuffle, then duration-grain bounded windows; the hazard cumsum is
    integer-exact at any partitioning. exp(−H) gives the
    Fleming-Harrington survival estimate, the standard KM cross-check
    (pinned ≥ KM pointwise in tests — FH never dips below KM).
    """
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    events = events.filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    span = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_d"),
        F.max(F.to_date("ts")).alias("last_d"),
    )
    censor_cut = F.date_sub(F.lit(_KM_AS_OF).cast("date"), _KM_CENSOR_DAYS)
    subj = span.select(
        F.datediff("last_d", "first_d").cast("bigint").alias("dur"),
        (F.col("last_d") < censor_cut).cast("bigint").alias("death"),
    )
    total = subj.agg(F.count("*").alias("n_total"))
    g = subj.groupBy("dur").agg(
        F.sum("death").cast("bigint").alias("deaths"),
        F.count("*").alias("n_at_dur"),
    )
    w = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    r = (
        g.crossJoin(F.broadcast(total))
        .select(
            "dur",
            "deaths",
            (
                F.col("n_total")
                - F.coalesce(F.sum("n_at_dur").over(w), F.lit(0))
            )
            .cast("bigint")
            .alias("at_risk"),
        )
    )
    wc = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    hq_inc = F.floor(
        F.col("deaths") * 1000000000.0 / F.col("at_risk") + 0.5
    ).cast("bigint")
    vq_inc = F.floor(
        F.col("deaths") * 1000000000.0 / F.col("at_risk") / F.col("at_risk")
        + 0.5
    ).cast("bigint")
    h = r.select(
        "dur",
        "deaths",
        "at_risk",
        F.sum(hq_inc).over(wc).cast("bigint").alias("hq"),
        F.sum(vq_inc).over(wc).cast("bigint").alias("vq"),
    )
    return h.filter(F.col("deaths") > 0).select(
        F.col("dur").alias("day"),
        "deaths",
        "at_risk",
        dround(F.col("hq") / 1000000000.0, 6)
        .alias("cum_hazard"),
        dround(F.exp(-F.col("hq") / 1000000000.0), 6).alias("survival_na"),
        dround(F.col("vq") / 1000000000.0, 6)
        .alias("hazard_var"),
    )


# --------------------------------------------------------------------------
# Mann-Kendall trend test per event type — the nonparametric TEST
# companion to theil_sen_trend's slope ESTIMATE: S = Σ_{i<j}
# sign(x_j − x_i) over the daily series, tie-corrected variance
# Var(S) = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)]/18, and the
# continuity-corrected z. Everything is exact integer arithmetic on
# cents sums until the final two-step z (sqrt + divide of identical
# doubles); the day-grain pair join is |days|²-bounded per type.
# --------------------------------------------------------------------------


@query(
    "mann_kendall_trend",
    oracle=f"""
WITH mkd AS (
    SELECT event_type, CAST(ts AS DATE) AS d,
           CAST(SUM({sql_qround('COALESCE(value, 0)', 2)})
                AS BIGINT) AS x
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
s AS (
    SELECT a.event_type,
           CAST(SUM(CASE WHEN b.x > a.x THEN 1
                         WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s,
           COUNT(*) AS n_pairs
    FROM mkd a JOIN mkd b
      ON a.event_type = b.event_type AND a.d < b.d
    GROUP BY 1
),
n AS (
    SELECT event_type, COUNT(*) AS n FROM mkd GROUP BY 1
),
ties AS (
    SELECT event_type,
           CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
    FROM (
        SELECT event_type, x, COUNT(*) AS t
        FROM mkd GROUP BY 1, 2 HAVING COUNT(*) > 1
    ) GROUP BY 1
),
v AS (
    SELECT n.event_type, n.n, s.s,
           (n.n * (n.n - 1) * (2 * n.n + 5)
            - COALESCE(t.tie_term, 0)) / 18.0 AS var_s
    FROM n
    JOIN s ON s.event_type = n.event_type
    LEFT JOIN ties t ON t.event_type = n.event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_days,
       s AS s_stat,
       {sql_dround('var_s', 4)} AS var_s,
       {sql_dround('(CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)'
                   ' WHEN s < 0 THEN (s + 1) / sqrt(var_s)'
                   ' ELSE 0.0 END)', 6)} AS z,
       CASE WHEN (CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)
                       WHEN s < 0 THEN (s + 1) / sqrt(var_s)
                       ELSE 0.0 END) > 1.959963984540054 THEN 'increasing'
            WHEN (CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)
                       WHEN s < 0 THEN (s + 1) / sqrt(var_s)
                       ELSE 0.0 END) < -1.959963984540054 THEN 'decreasing'
            ELSE 'no_trend' END AS trend
FROM v
""",
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Mann-Kendall trend test on daily revenue per type.

    Scale: the pair stage joins the DAY-grain table to itself per
    type (|days|² bounded rows — at 10 years that is ~6.7M pairs per
    type, still model-sized; the O(n log n) rank formulation is the
    upgrade path, same outputs). The synthetic corpus is trendless —
    'no_trend' verdicts with |z| < 2 are the honest expected finding,
    and the hashed z values prove the test actually ran.
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    v_fp = qround(F.coalesce(F.col("value"), F.lit(0.0)), 2)
    mkd = (
        events.filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.sum(v_fp).cast("bigint").alias("x"))
        .localCheckpoint(eager=True)
    )
    b = mkd.select(
        F.col("event_type").alias("et2"),
        F.col("d").alias("d2"),
        F.col("x").alias("x2"),
    )
    s = (
        mkd.join(
            b,
            (F.col("event_type") == F.col("et2")) & (F.col("d") < F.col("d2")),
        )
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("x2") > F.col("x"), 1)
                .when(F.col("x2") < F.col("x"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s"),
        )
    )
    n = mkd.groupBy("event_type").agg(F.count("*").alias("n"))
    ties = (
        mkd.groupBy("event_type", "x")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    v = (
        n.join(s, "event_type")
        .join(ties, "event_type", "left")
        .select(
            "event_type",
            "n",
            "s",
            (
                (
                    F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                    - F.coalesce(F.col("tie_term"), F.lit(0))
                )
                / 18.0
            ).alias("var_s"),
        )
    )
    zval = (
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(F.col("var_s")))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt(F.col("var_s")))
        .otherwise(F.lit(0.0))
    )
    zc = F.lit(1.959963984540054)
    return v.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        F.col("s").alias("s_stat"),
        dround(F.col("var_s"), 4).alias("var_s"),
        dround(zval, 6).alias("z"),
        F.when(zval > zc, "increasing")
        .when(zval < -zc, "decreasing")
        .otherwise("no_trend")
        .alias("trend"),
    )
