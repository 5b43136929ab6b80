"""Projection / filter / scalar-function queries (SURVEY §2.2, §2.8).

Each query is a pure column-expression plan — no UDFs — so the whole
thing stays inside WholeStageCodegen and filters/projections push down
to the parquet scan (verified via .explain in tests/bench). All float
outputs go through the cross-engine-deterministic dround (see
functions/numeric.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import (
    dround,
    dsum,
    epoch_seconds,
    qround,
    sql_dround,
    sql_dsum,
    sql_qround,
)
from ..session import load_tables
from .registry import query

# --------------------------------------------------------------------------
# P1+P2 — explicit projection + predicate filter, pushdown-friendly
# (reference: scripts/silver/transform_silver.py:146-152 SELECT-list +
#  WHERE extraction)
# --------------------------------------------------------------------------


@query(
    "proj_filter_pushdown",
    oracle=f"""
SELECT l_orderkey, l_linenumber,
       {sql_dround('l_extendedprice', 2)} AS price,
       {sql_dround('l_quantity', 1)} AS qty
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00' AND l_discount > 0.05
""",
)
def proj_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") > 0.05)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            dround(F.col("l_extendedprice"), 2).alias("price"),
            dround(F.col("l_quantity"), 1).alias("qty"),
        )
    )


# --------------------------------------------------------------------------
# P6+P7+F16 — blank→NULL normalization, audit columns, lineage hash
# (reference: scripts/bronze/load_bronze.py:348 blank→NA,
#  :350-355 audit columns; scripts/bronze/ingest_bronze.py:52-54 sha256[:16])
# --------------------------------------------------------------------------


@query(
    "audit_lineage_columns",
    oracle="""
SELECT doc_id,
       CASE WHEN TRIM(source) = '' THEN NULL ELSE source END AS source_norm,
       'documents' AS source_system,
       SUBSTRING(sha256(text), 1, 16) AS data_hash,
       CAST(LENGTH(text) AS INTEGER) AS text_len
FROM documents
""",
)
def audit_lineage_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return docs.select(
        "doc_id",
        F.when(F.trim("source") == "", None)
        .otherwise(F.col("source"))
        .alias("source_norm"),
        F.lit("documents").alias("source_system"),
        F.substring(F.sha2("text", 256), 1, 16).alias("data_hash"),
        F.length("text").alias("text_len"),
    )


# --------------------------------------------------------------------------
# P8 — date-range violation predicate (fixed bounds, no wall clock)
# (reference: scripts/silver/validate_silver.py:138-146)
# --------------------------------------------------------------------------


@query(
    "date_range_violations",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_violations
FROM events
WHERE CAST(ts AS DATE) < DATE '2024-01-05' OR CAST(ts AS DATE) > DATE '2024-01-25'
""",
)
def date_range_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    d = F.to_date("ts")
    return events.filter(
        (d < F.lit("2024-01-05").cast("date")) | (d > F.lit("2024-01-25").cast("date"))
    ).agg(F.count("*").alias("n_violations"))


# --------------------------------------------------------------------------
# P9 — recency predicate relative to a pinned as-of date
# (reference: scripts/gold/model_gold.py:453 CURRENT_DATE - 30 days)
# --------------------------------------------------------------------------


@query(
    "recency_filter",
    oracle="""
SELECT event_type, COUNT(*) AS n_recent
FROM events
WHERE CAST(ts AS DATE) >= DATE '2024-03-01' - INTERVAL 45 DAY
GROUP BY event_type
""",
)
def recency_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    cutoff = F.date_sub(F.lit("2024-03-01").cast("date"), 45)
    return (
        events.filter(F.to_date("ts") >= cutoff)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_recent"))
    )


# --------------------------------------------------------------------------
# F1-F5, F10-F11, F17 — string cleaning / containment / clip / coercion /
# int64 clamp, all as one fused projection
# (reference: scripts/silver/transform_silver.py:167-199 name/email/phone
#  cleaning; :293-298 coercion+clip; scripts/gold/model_gold.py:295-310
#  safe_int clamp)
# --------------------------------------------------------------------------


@query(
    "string_cleaning_suite",
    oracle=f"""
SELECT c_custkey,
       LOWER(TRIM(c_name)) AS name_norm,
       CAST(LENGTH(c_name) AS INTEGER) AS name_len,
       SPLIT_PART(c_name, '#', 2) AS name_suffix,
       REGEXP_REPLACE(c_name, '[^0-9]', '', 'g') AS digits_only,
       CONTAINS(c_name, '1') AS has_one,
       {sql_dround('GREATEST(0.0, c_acctbal)', 2)} AS acctbal_clipped,
       COALESCE(TRY_CAST(c_mktsegment AS INTEGER), -1) AS seg_as_int,
       LEAST(9223372036854775807, c_custkey * 1000000000) AS clamped_id
FROM customer
""",
)
def string_cleaning_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    return cust.select(
        "c_custkey",
        F.lower(F.trim("c_name")).alias("name_norm"),
        F.length("c_name").alias("name_len"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("name_suffix"),
        F.regexp_replace("c_name", "[^0-9]", "").alias("digits_only"),
        F.col("c_name").contains("1").alias("has_one"),
        dround(F.greatest(F.lit(0.0), F.col("c_acctbal")), 2).alias(
            "acctbal_clipped"
        ),
        F.coalesce(
            F.expr("TRY_CAST(c_mktsegment AS INT)"), F.lit(-1)
        ).alias("seg_as_int"),
        F.least(
            F.lit(9223372036854775807), F.col("c_custkey") * F.lit(1000000000)
        ).alias("clamped_id"),
    )


# --------------------------------------------------------------------------
# F9 — safe division / arithmetic guards
# (reference: scripts/gold/aggregate_gold.py:194 NULLIF;
#  scripts/silver/transform_silver.py:300-310 guarded rate math)
# --------------------------------------------------------------------------


@query(
    "safe_arithmetic",
    oracle=f"""
SELECT l_orderkey, l_linenumber,
       {sql_dround('CASE WHEN l_discount > 0 THEN l_tax / l_discount END', 4)}
           AS tax_over_discount,
       {sql_dround('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 4)}
           AS net_charge,
       GREATEST(0.0, {sql_dround('l_quantity - 25.0', 1)}) AS qty_over_25
FROM lineitem
""",
)
def safe_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return li.select(
        "l_orderkey",
        "l_linenumber",
        dround(
            F.when(F.col("l_discount") > 0, F.col("l_tax") / F.col("l_discount")),
            4,
        ).alias("tax_over_discount"),
        dround(
            F.col("l_extendedprice")
            * (F.lit(1) - F.col("l_discount"))
            * (F.lit(1) + F.col("l_tax")),
            4,
        ).alias("net_charge"),
        F.greatest(F.lit(0.0), dround(F.col("l_quantity") - 25.0, 1)).alias(
            "qty_over_25"
        ),
    )


# --------------------------------------------------------------------------
# F12+F13 — date parse/truncate + epoch arithmetic against pinned as-of
# (reference: scripts/gold/aggregate_gold.py:92-97 DATE(ts);
#  scripts/silver/validate_silver.py:243 EXTRACT(EPOCH ...)/3600)
# --------------------------------------------------------------------------


@query(
    "date_functions",
    oracle=f"""
SELECT event_id,
       CAST(ts AS DATE) AS event_date,
       CAST(date_trunc('month', CAST(ts AS DATE)) AS DATE) AS month_start,
       CAST(year(ts) AS INTEGER) AS yr,
       CAST(month(ts) AS INTEGER) AS mo,
       CAST(dayofweek(ts) AS INTEGER) AS dow,
       {sql_dround("(epoch(TIMESTAMP '2024-03-01 00:00:00') - epoch(ts)) / 3600.0", 4)}
           AS hours_before_asof
FROM events
""",
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    asof_epoch = F.lit("2024-03-01 00:00:00").cast("timestamp").cast("double")
    return events.select(
        "event_id",
        F.to_date("ts").alias("event_date"),
        F.trunc("ts", "month").alias("month_start"),
        F.year("ts").alias("yr"),
        F.month("ts").alias("mo"),
        # DuckDB dayofweek: Sunday=0; Spark dayofweek: Sunday=1
        (F.dayofweek("ts") - 1).alias("dow"),
        dround(
            (asof_epoch - epoch_seconds("ts")) / 3600.0, 4
        ).alias("hours_before_asof"),
    )


# --------------------------------------------------------------------------
# F14 — JSON field extraction from an open-shaped payload column
# (reference: scripts/silver/transform_silver.py:171-183 nested access;
#  open payloads kept as JSON strings per SURVEY §1.2)
# --------------------------------------------------------------------------


@query(
    "json_extraction",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
       CAST(json_extract_string(props, '$.missing') AS INTEGER) AS missing_val
FROM events
""",
)
def json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
        F.get_json_object("props", "$.missing").cast("int").alias("missing_val"),
    )


# --------------------------------------------------------------------------
# F14-typed — schema-declared JSON parse (from_json → struct access),
# the production path for known-shape payloads (vs get_json_object for
# ad-hoc extraction above)
# --------------------------------------------------------------------------


@query(
    "json_typed_parse",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_typed,
       (json_extract_string(props, '$.k') IS NOT NULL) AS has_k
FROM events
""",
)
def json_typed_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    events = load_tables(spark, sf_dir, "events")["events"]
    schema = T.StructType([T.StructField("k", T.IntegerType())])
    parsed = events.withColumn("p", F.from_json("props", schema))
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k_typed"),
        F.col("p.k").isNotNull().alias("has_k"),
    )


# --------------------------------------------------------------------------
# Regex group extraction + translate (F-family completions)
# --------------------------------------------------------------------------


@query(
    "regex_extract_groups",
    oracle="""
SELECT c_custkey,
       regexp_extract(c_name, '#(\\d+)', 1) AS cust_num,
       CAST(TRY_CAST(regexp_extract(c_name, '#(\\d+)', 1) AS BIGINT) AS BIGINT)
           AS cust_num_int,
       translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_translated
FROM customer
""",
)
def regex_extract_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    num = F.regexp_extract("c_name", r"#(\d+)", 1)
    return cust.select(
        "c_custkey",
        num.alias("cust_num"),
        F.expr(r"TRY_CAST(regexp_extract(c_name, '#(\\d+)', 1) AS BIGINT)").alias(
            "cust_num_int"
        ),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("seg_translated"),
    )


# --------------------------------------------------------------------------
# Schema-evolution-tolerant union: the ingestion pattern where an old
# extract lacks columns a newer extract has. unionByName with
# allowMissingColumns fills the gaps with NULLs (position-independent —
# a positional UNION would silently misalign); the profile then
# separates genuinely-missing values from schema-missing ones. DuckDB's
# UNION ALL BY NAME is the oracle-side equivalent.
# --------------------------------------------------------------------------

# mid-span era boundary (was Feb 1: the "new era" had ZERO rows after
# the corpus regeneration — round-8 degenerate-column audit)
_SCHEMA_ERA_CUTOFF = "2024-01-16 00:00:00"


@query(
    "schema_evolution_union",
    oracle=f"""
WITH old_era AS (
    SELECT event_id, ts, user_id, event_type
    FROM events WHERE ts < TIMESTAMP '{_SCHEMA_ERA_CUTOFF}'
),
new_era AS (
    SELECT event_id, ts, user_id, event_type, value
    FROM events WHERE ts >= TIMESTAMP '{_SCHEMA_ERA_CUTOFF}'
),
unioned AS (
    SELECT * FROM old_era UNION ALL BY NAME SELECT * FROM new_era
)
SELECT event_type,
       COUNT(*) AS n_rows,
       COUNT(*) FILTER (WHERE value IS NULL) AS n_schema_missing,
       {sql_dround(sql_dsum('value'))} AS total_value_new_era
FROM unioned
GROUP BY 1
""",
)
def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union two schema eras by NAME, profiling the filled-in columns.

    Scale: both eras are partition-prunable slices of one scan (the
    cutoff predicate pushes down); unionByName is a zero-shuffle plan
    node; the profile is one map-combined aggregation. This is the
    P3/P4 schema-tolerance surface (medallion/silver.py) as a
    driver-checkable query.
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    cutoff = F.lit(_SCHEMA_ERA_CUTOFF).cast("timestamp_ntz")
    old_era = events.filter(F.col("ts") < cutoff).select(
        "event_id", "ts", "user_id", "event_type"
    )
    new_era = events.filter(F.col("ts") >= cutoff).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    unioned = old_era.unionByName(new_era, allowMissingColumns=True)
    return unioned.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.count_if(F.col("value").isNull()).alias("n_schema_missing"),
        dround(dsum("value")).alias("total_value_new_era"),
    )


# --------------------------------------------------------------------------
# k-anonymity audit over quasi-identifiers: before releasing (or
# training on) user-adjacent data, count how many (nation, segment)
# equivalence classes fall below k — each such class's members are
# re-identifiable. Pure integer counting; the suppression cost is the
# share of ROWS living in small classes.
# --------------------------------------------------------------------------

_KANON_K = 5


@query(
    "k_anonymity_audit",
    oracle=f"""
WITH classes AS (
    SELECT c_nationkey, c_mktsegment, COUNT(*) AS class_size
    FROM customer GROUP BY 1, 2
)
SELECT CAST({_KANON_K} AS BIGINT) AS k,
       COUNT(*) AS n_classes,
       COUNT(*) FILTER (WHERE class_size < {_KANON_K}) AS n_small_classes,
       CAST(SUM(class_size) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(class_size) FILTER (
           WHERE class_size < {_KANON_K}), 0) AS BIGINT) AS n_rows_at_risk,
       {sql_dround('CAST(COALESCE(SUM(class_size) FILTER ('
                   f' WHERE class_size < {_KANON_K}), 0) AS BIGINT) * 1.0'
                   ' / CAST(SUM(class_size) AS BIGINT)', 6)}
           AS suppression_cost,
       CAST(MIN(class_size) AS BIGINT) AS min_class_size
FROM classes
""",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=5 anonymity check over the (nation, segment) quasi-identifier.

    Scale: one quasi-identifier-grain count (map-combined) + a scalar
    rollup. The release decision row: min_class_size ≥ k means the
    projection is publishable as-is; otherwise suppression_cost says
    what generalizing/suppressing small classes would discard. The
    privacy sibling of pii_redaction (column-level) — this is
    ROW-pattern re-identifiability.
    """
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    classes = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("class_size")
    )
    small = F.col("class_size") < _KANON_K
    risk = F.coalesce(
        F.sum(F.when(small, F.col("class_size"))), F.lit(0)
    ).cast("bigint")
    return classes.agg(
        F.lit(_KANON_K).cast("bigint").alias("k"),
        F.count("*").alias("n_classes"),
        F.count_if(small).alias("n_small_classes"),
        F.sum("class_size").cast("bigint").alias("n_rows"),
        risk.alias("n_rows_at_risk"),
        dround(
                risk * 1.0 / F.sum("class_size").cast("bigint"), 6
            ).alias("suppression_cost"),
        F.min("class_size").cast("bigint").alias("min_class_size"),
    )


# --------------------------------------------------------------------------
# l-diversity audit — the sensitive-attribute complement to
# k_anonymity_audit: a class can be large (k-anonymous) yet still leak
# if everyone in it shares the same sensitive value. Sensitive
# attribute = account-balance band; a class with fewer than l distinct
# bands lets an attacker who can place a user in the class infer their
# band. Pure integer counting at quasi-identifier grain.
# --------------------------------------------------------------------------

_LDIV_L = 3
_LDIV_BAND = (
    "CASE WHEN c_acctbal IS NULL THEN 'unknown'"
    " WHEN c_acctbal < 0 THEN 'debt'"
    " WHEN c_acctbal < 3000 THEN 'low'"
    " WHEN c_acctbal < 7000 THEN 'mid'"
    " ELSE 'high' END"
)


@query(
    "l_diversity_audit",
    oracle=f"""
WITH classes AS (
    SELECT c_nationkey, c_mktsegment,
           COUNT(*) AS class_size,
           COUNT(DISTINCT {_LDIV_BAND}) AS l_distinct
    FROM customer GROUP BY 1, 2
)
SELECT CAST({_LDIV_L} AS BIGINT) AS l,
       COUNT(*) AS n_classes,
       COUNT(*) FILTER (WHERE l_distinct < {_LDIV_L}) AS n_violating,
       CAST(SUM(class_size) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(class_size) FILTER (
           WHERE l_distinct < {_LDIV_L}), 0) AS BIGINT) AS n_rows_at_risk,
       CAST(MIN(l_distinct) AS BIGINT) AS min_l,
       {sql_dround('CAST(SUM(l_distinct) AS BIGINT) * 1.0 / COUNT(*)', 6)} AS avg_l
FROM classes
""",
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l=3 diversity of balance bands inside (nation, segment) classes.

    Scale: one quasi-identifier-grain aggregate (the COUNT DISTINCT is
    over a 5-value band, so the partial aggregation stays tiny) + a
    scalar rollup — same shape as k_anonymity_audit.
    """
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    classes = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("class_size"),
        F.countDistinct(F.expr(_LDIV_BAND)).alias("l_distinct"),
    )
    viol = F.col("l_distinct") < _LDIV_L
    return classes.agg(
        F.lit(_LDIV_L).cast("bigint").alias("l"),
        F.count("*").alias("n_classes"),
        F.count_if(viol).alias("n_violating"),
        F.sum("class_size").cast("bigint").alias("n_rows"),
        F.coalesce(F.sum(F.when(viol, F.col("class_size"))), F.lit(0))
        .cast("bigint")
        .alias("n_rows_at_risk"),
        F.min("l_distinct").cast("bigint").alias("min_l"),
        dround(
                F.sum("l_distinct").cast("bigint") * 1.0 / F.count("*"), 6
            ).alias("avg_l"),
    )


# --------------------------------------------------------------------------
# t-closeness audit — completes the k-anonymity → l-diversity →
# t-closeness privacy ladder: a class can be l-diverse yet still leak
# (all its sensitive values concentrated in one rare band), so
# t-closeness bounds the distance between each class's sensitive-band
# distribution and the GLOBAL one. Distance here is total variation
# (the categorical Earth-Mover's), computed exactly: per (class, band)
# the term |n_cb·N − n_b·n_c| is a wide-integer product
# (DECIMAL(38,0) / HUGEINT per the cross-engine rule), absent bands
# contribute n_c·(N − Σ_present n_b) in closed form so the band grid
# never needs completion, and the threshold test t > 0.2 is integer
# cross-multiplication (5·num > 2·n_c·N) — no float compare. Only the
# reported tvd touches a double: one division + the shared
# floor-quantize, identical IEEE sequences on both engines.
#
# Scale: one (class, band)-grain aggregate over customer, a ≤5-row
# broadcast band-total join, and a class-grain reduction — same shape
# as k_anonymity_audit / l_diversity_audit.
# --------------------------------------------------------------------------

_TCLOSE_NUM = 1  # t = _TCLOSE_NUM / _TCLOSE_DEN = 0.2
_TCLOSE_DEN = 5


@query(
    "t_closeness_audit",
    oracle=f"""
WITH cb AS (
    SELECT c_nationkey, c_mktsegment, {_LDIV_BAND} AS band,
           COUNT(*) AS n_cb
    FROM customer GROUP BY 1, 2, 3
),
bands AS (SELECT band, CAST(SUM(n_cb) AS BIGINT) AS n_b FROM cb GROUP BY 1),
tot AS (SELECT CAST(SUM(n_cb) AS BIGINT) AS n FROM cb),
cls AS (
    SELECT c_nationkey, c_mktsegment,
           CAST(SUM(n_cb) AS BIGINT) AS n_c,
           CAST(SUM(ABS(CAST(n_cb AS HUGEINT) * n
                        - CAST(b.n_b AS HUGEINT) * cw.n_c)) AS HUGEINT)
               AS s1,
           CAST(SUM(b.n_b) AS BIGINT) AS sb
    FROM cb
    JOIN bands b USING (band)
    JOIN (SELECT c_nationkey AS nk, c_mktsegment AS seg,
                 CAST(SUM(n_cb) AS BIGINT) AS n_c
          FROM cb GROUP BY 1, 2) cw
      ON cb.c_nationkey = cw.nk AND cb.c_mktsegment = cw.seg
    CROSS JOIN tot
    GROUP BY 1, 2
),
scored AS (
    SELECT n_c,
           s1 + CAST(n_c AS HUGEINT) * (n - sb) AS num,
           CAST(2 AS HUGEINT) * n_c * n AS den,
           {sql_qround('CAST(s1 + CAST(n_c AS HUGEINT) * (n - sb) AS DOUBLE)'
                       ' / CAST(CAST(2 AS HUGEINT) * n_c * n AS DOUBLE)', 6)} AS tvd_q
    FROM cls CROSS JOIN tot
)
SELECT (CAST({_TCLOSE_NUM} AS DOUBLE) / {_TCLOSE_DEN}) AS t,
       COUNT(*) AS n_classes,
       COUNT(*) FILTER (WHERE num * {_TCLOSE_DEN} > den * {_TCLOSE_NUM})
           AS n_violating,
       CAST(COALESCE(SUM(n_c) FILTER (
           WHERE num * {_TCLOSE_DEN} > den * {_TCLOSE_NUM}), 0) AS BIGINT)
           AS n_rows_at_risk,
       (CAST(MAX(tvd_q) AS DOUBLE) / 1000000.0) AS max_tvd,
       (FLOOR(CAST(SUM(tvd_q) AS BIGINT) * 1.0 / COUNT(*) + 0.5)
        / 1000000.0) AS avg_tvd
FROM scored
""",
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t=0.2 closeness of balance-band distributions per (nation, segment)."""
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    cb = cust.groupBy(
        "c_nationkey", "c_mktsegment", F.expr(_LDIV_BAND).alias("band")
    ).agg(F.count("*").alias("n_cb"))
    bands = cb.groupBy("band").agg(
        F.sum("n_cb").cast("bigint").alias("n_b")
    )
    tot = cb.agg(F.sum("n_cb").cast("bigint").alias("n"))
    cw = cb.groupBy(
        F.col("c_nationkey").alias("nk"), F.col("c_mktsegment").alias("seg")
    ).agg(F.sum("n_cb").cast("bigint").alias("n_c"))
    d38 = "decimal(38,0)"
    joined = (
        cb.join(F.broadcast(bands), "band")
        .join(
            F.broadcast(cw),
            (F.col("c_nationkey") == F.col("nk"))
            & (F.col("c_mktsegment") == F.col("seg")),
        )
        .crossJoin(F.broadcast(tot))
    )
    cls = joined.groupBy("c_nationkey", "c_mktsegment").agg(
        F.max("n_c").alias("n_c"),
        F.sum(
            F.abs(
                F.col("n_cb").cast(d38) * F.col("n")
                - F.col("n_b").cast(d38) * F.col("n_c")
            )
        ).alias("s1"),
        F.sum("n_b").cast("bigint").alias("sb"),
        F.max("n").alias("n"),
    )
    num = F.col("s1") + F.col("n_c").cast(d38) * (F.col("n") - F.col("sb"))
    den = F.lit(2).cast(d38) * F.col("n_c") * F.col("n")
    scored = cls.select(
        "n_c",
        num.alias("num"),
        den.alias("den"),
        qround(
            num.cast("double") / den.cast("double"), 6
        )
        .alias("tvd_q"),
    )
    viol = F.col("num") * _TCLOSE_DEN > F.col("den") * _TCLOSE_NUM
    return scored.agg(
        (F.lit(_TCLOSE_NUM).cast("double") / F.lit(_TCLOSE_DEN)).alias("t"),
        F.count("*").alias("n_classes"),
        F.count_if(viol).alias("n_violating"),
        F.coalesce(F.sum(F.when(viol, F.col("n_c"))), F.lit(0))
        .cast("bigint")
        .alias("n_rows_at_risk"),
        (F.max("tvd_q").cast("double") / 1000000.0).alias("max_tvd"),
        (
            F.floor(F.sum("tvd_q").cast("bigint") * 1.0 / F.count("*") + 0.5)
            / F.lit(1000000.0)
        ).alias("avg_tvd"),
    )
