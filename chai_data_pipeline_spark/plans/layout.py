"""Physical-layout planning: range-partition boundary planning and
Z-order (Morton-curve) layout auditing.

At 100 TB the dominant cost is how much data a scan can SKIP, and both
queries here are the planner side of that:

- ``range_partition_planner`` — equi-depth boundary computation over a
  deterministic hash sample, i.e. what Spark's ``RangePartitioner``
  does before a ``repartitionByRange``/global sort, surfaced as a
  first-class query so the cutoffs are inspectable and reusable (write
  them once, range-partition every downstream job with the same
  boundaries). The full-data equi-depth computation is a global sort;
  the production form NEVER does that — it sorts a bounded sample,
  exactly like the engine's own partitioner.
- ``zorder_layout_audit`` — measures data-skipping effectiveness of a
  Morton-interleaved two-dimensional sort key versus a single-column
  (linear) sort, using only file/row-group min-max spans — the same
  statistic parquet footers give a scan planner. The Z-value is pure
  integer bit arithmetic, identical on every engine.

The write-side twin is :func:`chai_data_pipeline_spark.sources.writers.
write_zordered`, which lays parquet files out along the curve
(repartitionByRange on the Z-value + sortWithinPartitions) so footer
min/max stats actually narrow; tests/test_sinks.py verifies the
row-group span shrinkage on real files.

Reference analog: none — the reference loads into Postgres and relies
on B-tree indexes (database.py:40-58); on an object-store lakehouse the
equivalent access-path design is range boundaries + multi-dim
clustering, which is what these implement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import clamp, dround, sql_clamp, sql_dround
from ..session import load_tables
from .registry import query
from .training import hash_bucket, sql_hash_bucket

# --------------------------------------------------------------------------
# Equi-depth range boundaries from a deterministic sample.
#
# Sample rate is 1/16 here (test scale); at petabyte scale the same
# query runs with a 1e-5 bucket rate — the knob is the bucket count,
# the plan shape (map-only filter -> bounded sort) is unchanged. The
# sample is sha256-selected so both engines (and any future re-run on
# re-partitioned data) pick the SAME rows.
# --------------------------------------------------------------------------

_SAMPLE_BUCKETS = 16
_N_RANGES = 32


@query(
    "range_partition_planner",
    oracle=f"""
WITH sample AS (
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE {sql_hash_bucket('o_orderkey', _SAMPLE_BUCKETS)} = 0
),
tiled AS (
    SELECT o_totalprice,
           ntile({_N_RANGES})
               OVER (ORDER BY o_totalprice, o_orderkey) AS range_id
    FROM sample
)
SELECT range_id,
       COUNT(*) AS n_sample,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi
FROM tiled
GROUP BY range_id
""",
)
def range_partition_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth range boundaries for o_totalprice from a hash sample.

    This is the planner feeding ``repartitionByRange``: 32 cutoffs that
    give balanced partitions for a subsequent range layout or global
    sort. The ntile sort runs over the SAMPLE only (map-only sha256
    filter first), which is the scale posture — Spark's own
    RangePartitioner reservoir-samples ~20 rows per partition and sorts
    those on the driver; here the sample sort stays distributed and the
    fraction is the knob. Ties are broken by o_orderkey so the tiling
    is total-order deterministic; min/max per tile are comparisons, not
    arithmetic, hence engine-exact on doubles.
    """
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    sample = orders.filter(
        hash_bucket(F.col("o_orderkey"), _SAMPLE_BUCKETS) == 0
    ).select("o_orderkey", "o_totalprice")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    tiled = sample.select(
        "o_totalprice", F.ntile(_N_RANGES).over(w).alias("range_id")
    )
    return tiled.groupBy("range_id").agg(
        F.count("*").alias("n_sample"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


# --------------------------------------------------------------------------
# Morton (Z-order) interleave in pure integer arithmetic. 8 bits per
# dimension -> 16-bit Z-value; each output bit is disjoint so the
# bit-OR fold can be written as a plain sum, which both engines
# evaluate exactly in int64.
# --------------------------------------------------------------------------

_Z_BITS = 8


def zvalue(x: Column, y: Column, bits: int = _Z_BITS) -> Column:
    """Morton-interleave two ``bits``-wide non-negative ints (Spark side)."""
    z = F.lit(0)
    for i in range(bits):
        z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(
            F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
    return z


def sql_zvalue(x: str, y: str, bits: int = _Z_BITS) -> str:
    """The same Morton interleave as a portable SQL expression."""
    terms = []
    for i in range(bits):
        # parenthesize each shift: << binds looser than + in DuckDB
        terms.append(f"(((({x}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({y}) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


# Dims under audit: user bucket (0..255) x day-of-epoch bucket (0..255).
# These are the two predicates a 100-TB events table is actually probed
# by (user lookups, date ranges).
_SQL_X = "(user_id & 255)"
_SQL_Y = "(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) & 255)"


@query(
    "zorder_layout_audit",
    oracle=f"""
WITH dims AS (
    SELECT {_SQL_X} AS x, {_SQL_Y} AS y FROM events
),
assigned AS (
    SELECT x, y,
           {sql_zvalue('x', 'y')} >> 10 AS z_file,
           x >> 2 AS linear_file
    FROM dims
),
per_file AS (
    SELECT 'zorder' AS layout, z_file AS file_id,
           COUNT(*) AS n,
           (MAX(x) - MIN(x) + 1) * (MAX(y) - MIN(y) + 1) AS span_area
    FROM assigned GROUP BY z_file
    UNION ALL
    SELECT 'linear_x' AS layout, linear_file AS file_id,
           COUNT(*) AS n,
           (MAX(x) - MIN(x) + 1) * (MAX(y) - MIN(y) + 1) AS span_area
    FROM assigned GROUP BY linear_file
)
SELECT layout,
       COUNT(*) AS n_files,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(SUM(span_area) AS BIGINT) AS total_span_area,
       {sql_dround('SUM(span_area) * 1.0 / COUNT(*)', 4)} AS avg_span_area
FROM per_file
GROUP BY layout
""",
)
def zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping audit: Z-order vs single-column file layout.

    Buckets every event into a "file" two ways — top-6-bits of the
    16-bit Morton code versus top-6-bits of the user dimension alone —
    and reports the min/max bounding-box area per file (the exact
    statistic a scan planner reads from parquet footers to prune).
    Z-order keeps BOTH dimensions' spans narrow, so a point/range
    predicate on either dimension prunes most files; the linear layout
    leaves the second dimension's span at full width. Entirely
    map-side until the two bounded (<=64-file) aggregates; the Z-value
    is bit arithmetic — no UDF, engine-exact.
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    x = F.col("user_id").bitwiseAND(F.lit(255))
    y = F.datediff(
        F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
    ).bitwiseAND(F.lit(255))
    dims = events.select(x.alias("x"), y.alias("y"))
    assigned = dims.select(
        "x",
        "y",
        F.shiftright(zvalue(F.col("x"), F.col("y")), 10).alias("z_file"),
        F.shiftright(F.col("x"), 2).alias("linear_file"),
    )

    def _per_file(df: DataFrame, file_col: str, label: str) -> DataFrame:
        return df.groupBy(F.col(file_col).alias("file_id")).agg(
            F.count("*").alias("n"),
            (
                (F.max("x") - F.min("x") + 1)
                * (F.max("y") - F.min("y") + 1)
            ).alias("span_area"),
        ).select(F.lit(label).alias("layout"), "file_id", "n", "span_area")

    per_file = _per_file(assigned, "z_file", "zorder").unionAll(
        _per_file(assigned, "linear_file", "linear_x")
    )
    return per_file.groupBy("layout").agg(
        F.count("*").alias("n_files"),
        F.sum("n").alias("n_rows"),
        F.sum("span_area").alias("total_span_area"),
        dround(F.sum("span_area") * 1.0 / F.count("*")).alias(
            "avg_span_area"
        ),
    )


# --------------------------------------------------------------------------
# Partition-sizing advisor: per-table logical byte estimates (typed
# widths + exact string/array byte sums) → recommended shuffle
# partition count at the 128 MiB target and a broadcastability flag at
# the 10 MiB threshold. This is the piece of capacity planning that
# decides spark.sql.shuffle.partitions / files.maxPartitionBytes /
# autoBroadcastJoinThreshold BEFORE a job runs — derived from one
# narrow aggregation per table.
# --------------------------------------------------------------------------

# (table, fixed typed-width bytes, utf-8-counted string columns).
# DuckDB's octet_length needs BLOB input (encode()); Spark's takes the
# string directly — both count utf-8 bytes, so values agree.
_ADVISOR_TABLES = [
    ("lineitem", 44, ["l_returnflag", "l_linestatus"]),
    ("orders", 28, ["o_orderstatus", "o_orderpriority"]),
    ("events", 28, ["event_type", "props"]),
    ("documents", 16, ["text", "lang", "source"]),
    ("customer", 16, ["c_name", "c_mktsegment"]),
    ("supplier", 16, ["s_name"]),
    ("part", 16, ["p_name", "p_brand", "p_type"]),
    ("embeddings", 12 + 4 * 64, []),
]

_MB = 1024 * 1024


def _bytes_expr(fixed, cols, duck):
    parts = [str(fixed)] + [
        (f"octet_length(encode({c}))" if duck else f"octet_length({c})")
        for c in cols
    ]
    return " + ".join(parts)


def _advisor_leg_sql(table: str, expr: str) -> str:
    return f"""
SELECT '{table}' AS table_name,
       COUNT(*) AS n_rows,
       CAST(SUM({expr}) AS BIGINT) AS est_bytes,
       GREATEST(CAST(1 AS BIGINT),
                CAST(CEIL(CAST(SUM({expr}) AS BIGINT)
                     / ({128 * _MB} * 1.0)) AS BIGINT))
           AS rec_shuffle_partitions,
       (CAST(SUM({expr}) AS BIGINT) < {10 * _MB}) AS broadcastable
FROM {table}"""


@query(
    "partition_sizing_advisor",
    oracle="\nUNION ALL\n".join(
        _advisor_leg_sql(t, _bytes_expr(fx, cols, duck=True))
        for t, fx, cols in _ADVISOR_TABLES
    ),
)
def partition_sizing_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bytes, recommended shuffle partitions, and broadcastability per table.

    Scale: one map-combined aggregation per table over a narrow
    projection; at 100 TB these numbers come from the same scan the
    first pipeline stage already does (or table-format statistics),
    and they are exactly what sizes shuffle partitions so each task's
    state fits executor memory (SCALING.md global posture).
    """
    tables = load_tables(spark, sf_dir, *[t for t, _, _ in _ADVISOR_TABLES])
    legs = []
    for t, fx, cols in _ADVISOR_TABLES:
        df = tables[t]
        bytes_col = F.expr(_bytes_expr(fx, cols, duck=False))
        legs.append(
            df.agg(
                F.lit(t).alias("table_name"),
                F.count("*").alias("n_rows"),
                F.sum(bytes_col).cast("bigint").alias("est_bytes"),
                F.greatest(
                    F.lit(1).cast("bigint"),
                    F.ceil(
                        F.sum(bytes_col).cast("bigint") / (128 * _MB * 1.0)
                    ).cast("bigint"),
                ).alias("rec_shuffle_partitions"),
                (F.sum(bytes_col).cast("bigint") < 10 * _MB).alias(
                    "broadcastable"
                ),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out


# --------------------------------------------------------------------------
# Column-encoding advisor: distinct ratio + byte profile per string
# column → dictionary-encode or not. Parquet writers decide this per
# row-group from the same numbers; surfacing them per COLUMN is how a
# lake operator pins encodings (and spots id-like columns that will
# blow up dictionary pages) before a 100-TB rewrite.
# --------------------------------------------------------------------------

_ENC_COLS = [
    ("events", "event_type"),
    ("events", "props"),
    ("documents", "lang"),
    ("documents", "source"),
    ("customer", "c_mktsegment"),
    ("customer", "c_name"),
    ("orders", "o_orderpriority"),
    ("part", "p_brand"),
]


def _enc_leg_sql(table: str, col: str) -> str:
    return f"""
SELECT '{table}.{col}' AS column_name,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT {col}) AS n_distinct,
       {sql_dround(f'COUNT(DISTINCT {col}) * 1.0 / COUNT(*)', 6)} AS distinct_ratio,
       {sql_dround(f'CAST(SUM(octet_length(encode({col}))) AS BIGINT) * 1.0'
                   ' / COUNT(*)', 2)} AS avg_bytes,
       (COUNT(DISTINCT {col}) * 1.0 / COUNT(*) < 0.1) AS recommend_dict
FROM {table}"""


@query(
    "encoding_advisor",
    oracle="\nUNION ALL\n".join(_enc_leg_sql(t, c) for t, c in _ENC_COLS),
)
def encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-encoding recommendation per pinned string column.

    Scale: one distinct-count + byte-sum aggregation per column over a
    single-column projection (map-side partial distinct). The Spark
    octet_length is utf-8 bytes, matching DuckDB's encode() form.
    """
    tables = load_tables(spark, sf_dir, *sorted({t for t, _ in _ENC_COLS}))
    legs = []
    for t, c in _ENC_COLS:
        df = tables[t]
        nd = F.count_distinct(F.col(c))
        legs.append(
            df.agg(
                F.lit(f"{t}.{c}").alias("column_name"),
                F.count("*").alias("n_rows"),
                nd.alias("n_distinct"),
                dround(nd * 1.0 / F.count("*"), 6).alias("distinct_ratio"),
                dround(
                    F.sum(F.octet_length(F.col(c))).cast("bigint")
                    * 1.0
                    / F.count("*"),
                    2,
                ).alias("avg_bytes"),
                (nd * 1.0 / F.count("*") < 0.1).alias("recommend_dict"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out


# --------------------------------------------------------------------------
# Small-file compaction planner — next-fit packing of daily partitions
# into ~target-size compaction groups. The maintenance job every
# date-partitioned 100-TB table needs: lay the daily partitions on a
# line in date order, cut the line every TARGET bytes, and each cut is
# one rewrite task. Bin assignment is pure integer arithmetic on the
# cumulative byte offset (floor(start_offset / target)), so the plan
# is deterministic and stable under re-runs. The cumulative window
# runs over the DAY-grain aggregate — calendar-bounded, never
# row-cardinality.
# --------------------------------------------------------------------------

_COMPACT_TARGET = 1 << 20  # 1 MiB at test scale; a config in production


@query(
    "compaction_binpack_plan",
    oracle=f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           COUNT(*) AS n_rows,
           CAST(SUM(COALESCE(strlen(props), 0) + 64) AS BIGINT)
               AS est_bytes
    FROM events WHERE ts IS NOT NULL
    GROUP BY 1
),
cum AS (
    SELECT d, n_rows, est_bytes,
           CAST(SUM(est_bytes) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                - est_bytes AS BIGINT) AS start_off
    FROM daily
)
SELECT CAST(start_off // {_COMPACT_TARGET} AS BIGINT) AS compaction_group,
       COUNT(*) AS n_partitions,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       CAST(SUM(est_bytes) AS BIGINT) AS total_bytes,
       MIN(d) AS day_min, MAX(d) AS day_max
FROM cum
GROUP BY 1
""",
)
def compaction_binpack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-fit daily-partition compaction groups at a byte target."""
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir, "events")["events"]
    daily = (
        events.filter(F.col("ts").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.coalesce(F.octet_length("props"), F.lit(0)) + 64)
            .cast("bigint")
            .alias("est_bytes"),
        )
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.withColumn(
        "start_off",
        (F.sum("est_bytes").over(w) - F.col("est_bytes")).cast("bigint"),
    )
    return cum.groupBy(
        F.expr(f"start_off DIV {_COMPACT_TARGET}")
        .cast("bigint")
        .alias("compaction_group")
    ).agg(
        F.count("*").alias("n_partitions"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum("est_bytes").cast("bigint").alias("total_bytes"),
        F.min("d").alias("day_min"),
        F.max("d").alias("day_max"),
    )


# --------------------------------------------------------------------------
# Join-strategy advisor — per canonical join pair, the three numbers
# that pick a physical strategy on a real cluster: build-side bytes
# (broadcast or not), probe-side key NDV (shuffle width), and the hot
# key's row share (salt or not). partition_sizing_advisor answers
# "how big is each table"; this answers "how should these two meet".
# The skew gate is an exact integer cross-multiplication
# (max_key_rows · ndv > 16 · probe_rows ⟺ hottest key carries >16x
# its fair share), so the advice is engine-exact.
#
# Scale: per pair, one map-combined probe aggregate at key grain (the
# same partial-agg shape a real join's shuffle would do) reduced to a
# scalar, plus the build-side byte scan — no joins, no row shuffles.
# --------------------------------------------------------------------------

_JOIN_PAIRS = [
    # (join_name, probe table, probe key, build table)
    ("lineitem_supplier", "lineitem", "l_suppkey", "supplier"),
    ("lineitem_part", "lineitem", "l_partkey", "part"),
    ("orders_customer", "orders", "o_custkey", "customer"),
    ("customer_nation", "customer", "c_nationkey", "nation"),
]

_BUILD_BYTES = {t: _bytes_expr(fx, cols, duck=False)
                for t, fx, cols in _ADVISOR_TABLES}
_BUILD_BYTES_DUCK = {t: _bytes_expr(fx, cols, duck=True)
                     for t, fx, cols in _ADVISOR_TABLES}
_BUILD_BYTES["nation"] = _BUILD_BYTES_DUCK["nation"] = "32"


def _join_leg_sql(name: str, probe: str, key: str, build: str) -> str:
    bexpr = _BUILD_BYTES_DUCK[build]
    return f"""
SELECT '{name}' AS join_name,
       p.n_probe, p.ndv, p.max_key_rows,
       b.build_bytes,
       CASE WHEN b.build_bytes < {10 * _MB} THEN 'broadcast'
            ELSE 'sort_merge' END AS strategy,
       (p.max_key_rows * p.ndv > 16 * p.n_probe) AS salt_recommended
FROM (
    SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_probe,
           CAST(COUNT(*) AS BIGINT) AS ndv,
           CAST(COALESCE(MAX(c), 0) AS BIGINT) AS max_key_rows
    FROM (SELECT {key}, COUNT(*) AS c FROM {probe}
          WHERE {key} IS NOT NULL GROUP BY 1) g
) p CROSS JOIN (
    SELECT CAST(SUM({bexpr}) AS BIGINT) AS build_bytes FROM {build}
) b"""


@query(
    "join_strategy_advisor",
    oracle="\nUNION ALL\n".join(
        _join_leg_sql(*pair) for pair in _JOIN_PAIRS
    ),
)
def join_strategy_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast/sort-merge + salting advice per canonical join pair."""
    needed = sorted({p[1] for p in _JOIN_PAIRS} | {p[3] for p in _JOIN_PAIRS})
    tables = load_tables(spark, sf_dir, *needed)
    legs = []
    for name, probe, key, build in _JOIN_PAIRS:
        g = (
            tables[probe]
            .filter(F.col(key).isNotNull())
            .groupBy(key)
            .agg(F.count("*").alias("c"))
        )
        p = g.agg(
            F.coalesce(F.sum("c"), F.lit(0))
            .cast("bigint")
            .alias("n_probe"),
            F.count("*").cast("bigint").alias("ndv"),
            F.coalesce(F.max("c"), F.lit(0))
            .cast("bigint")
            .alias("max_key_rows"),
        )
        b = tables[build].agg(
            F.sum(F.expr(_BUILD_BYTES[build]))
            .cast("bigint")
            .alias("build_bytes")
        )
        legs.append(
            p.crossJoin(F.broadcast(b)).select(
                F.lit(name).alias("join_name"),
                "n_probe",
                "ndv",
                "max_key_rows",
                "build_bytes",
                F.when(F.col("build_bytes") < 10 * _MB, "broadcast")
                .otherwise("sort_merge")
                .alias("strategy"),
                (
                    F.col("max_key_rows") * F.col("ndv")
                    > 16 * F.col("n_probe")
                ).alias("salt_recommended"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out


# --------------------------------------------------------------------------
# Bloom-filter column advisor — which join/filter key columns earn a
# parquet bloom filter (or a runtime bloom-pruned scan)? Per candidate
# column: non-null rows, exact NDV, repetition ratio, the standard
# m = ceil(-n·ln p / ln²2) sizing at 1% FPP (9.58496 bits/key as the
# FIXED-POINT constant 958496/100000 so the ceil is integer-exact,
# never a float boundary), k = 7 hashes, and a recommendation gated on
# the filter fitting a broadcast-friendly 16 MiB. Complements
# encoding_advisor / join_strategy_advisor in the physical-design
# family.
#
# Scale: one stats-only aggregate per column (two-phase distinct
# count), four scalar legs unioned — no data movement beyond the
# per-column group-count.
# --------------------------------------------------------------------------

_BLOOM_BITS_NUM = 958496  # ceil(9.58496 bits/key) in 1e5 fixed point
_BLOOM_CAP_BYTES = 16 * 1024 * 1024


def _bloom_leg_sql(table: str, col: str) -> str:
    bits = f"((ndv * {_BLOOM_BITS_NUM} + {10**5 - 1}) // {10**5})"
    return f"""
SELECT '{table}.{col}' AS column_name,
       n_rows, ndv,
       {sql_dround('ndv * 1.0 / (CASE WHEN n_rows > 0 THEN n_rows END)', 6)}
           AS ndv_ratio,
       CAST({bits} AS BIGINT) AS bloom_bits,
       CAST(({bits} + 7) // 8 AS BIGINT) AS bloom_bytes,
       CAST(7 AS BIGINT) AS k_hashes,
       (({bits} + 7) // 8 <= {_BLOOM_CAP_BYTES}) AS recommended
FROM (
    SELECT CAST(COUNT({col}) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT {col}) AS BIGINT) AS ndv
    FROM {table}
)"""


_BLOOM_CANDIDATES = (
    ("orders", "o_custkey"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("events", "user_id"),
)


@query(
    "bloom_filter_advisor",
    oracle="\nUNION ALL\n".join(
        _bloom_leg_sql(t, c) for t, c in _BLOOM_CANDIDATES
    ),
)
def bloom_filter_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1%-FPP bloom sizing + recommendation per candidate key column."""
    from functools import reduce

    needed = sorted({t for t, _ in _BLOOM_CANDIDATES})
    tables = load_tables(spark, sf_dir, *needed)
    legs = []
    for t, c in _BLOOM_CANDIDATES:
        stats = tables[t].agg(
            F.count(c).cast("bigint").alias("n_rows"),
            F.countDistinct(c).cast("bigint").alias("ndv"),
        )
        bits = F.expr(
            f"(ndv * {_BLOOM_BITS_NUM} + {10**5 - 1}) div {10**5}"
        )
        bytes_expr = F.expr(
            f"((ndv * {_BLOOM_BITS_NUM} + {10**5 - 1}) div {10**5} + 7)"
            " div 8"
        )
        # all-NULL column -> n_rows = 0: guard lives in the
        # denominator (Spark 4 ANSI throws on x/0, DuckDB is NULL)
        legs.append(
            stats.select(
                F.lit(f"{t}.{c}").alias("column_name"),
                "n_rows",
                "ndv",
                dround(
                    F.col("ndv")
                    * 1.0
                    / F.when(F.col("n_rows") > 0, F.col("n_rows")),
                    6,
                ).alias("ndv_ratio"),
                bits.cast("bigint").alias("bloom_bits"),
                bytes_expr.cast("bigint").alias("bloom_bytes"),
                F.lit(7).cast("bigint").alias("k_hashes"),
                (bytes_expr <= _BLOOM_CAP_BYTES).alias("recommended"),
            )
        )
    return reduce(lambda a, b: a.unionAll(b), legs)


# --------------------------------------------------------------------------
# File-skipping effectiveness: zone-map (footer min/max) pruning audit
# for a ladder of date predicates under two physical layouts — files
# cut by ingest key-range (the write-order default) vs one file per
# calendar month (the standard time-partitioning). Per (layout,
# predicate): files read vs total, row mass read vs rows actually
# matching (read amplification). This is the measurement that
# motivates zorder_layout_audit's multi-dim clustering and the
# partitionBy-month sink layout: on a random-date ingest layout every
# file's span covers the whole range and NOTHING skips.
#
# Scale: file stats are a single groupBy to FILE grain (the same
# statistic parquet footers already hold — production reads footers,
# not data); the predicate ladder joins against the file-grain table
# only, and matching-row counts come from ONE wide conditional
# scan-agg unpivoted with stack(). No global sort is simulated —
# monthly layout is a partitionBy(month), not a row_number.
# --------------------------------------------------------------------------

_FS_PREDS = [
    ("p_1996q1", "1996-01-01", "1996-04-01"),
    ("p_1997", "1997-01-01", "1998-01-01"),
    ("p_1998jun", "1998-06-01", "1998-07-01"),
    ("p_wide", "1995-07-01", "2000-01-01"),
]


def _file_skipping_oracle() -> str:
    pred_values = ", ".join(
        f"('{n}', TIMESTAMP '{lo} 00:00:00', TIMESTAMP '{hi} 00:00:00')"
        for n, lo, hi in _FS_PREDS
    )
    match_branches = "\nUNION ALL\n".join(
        f"SELECT '{n}' AS pred, CAST(COUNT(*) FILTER (WHERE"
        f" o_orderdate >= TIMESTAMP '{lo} 00:00:00' AND"
        f" o_orderdate < TIMESTAMP '{hi} 00:00:00') AS BIGINT)"
        " AS rows_matching FROM orders"
        for n, lo, hi in _FS_PREDS
    )
    return f"""
WITH files AS (
    SELECT 'keyrange' AS layout, o_orderkey // 1000 AS fid,
           MIN(o_orderdate) AS min_d, MAX(o_orderdate) AS max_d,
           CAST(COUNT(*) AS BIGINT) AS nrows
    FROM orders GROUP BY 1, 2
    UNION ALL
    SELECT 'monthly', CAST(EXTRACT(YEAR FROM o_orderdate) * 12
               + EXTRACT(MONTH FROM o_orderdate) AS BIGINT),
           MIN(o_orderdate), MAX(o_orderdate), CAST(COUNT(*) AS BIGINT)
    FROM orders GROUP BY 1, 2
),
preds(pred, lo, hi) AS (VALUES {pred_values}),
scan AS (
    SELECT f.layout, p.pred,
           CAST(COUNT(*) AS BIGINT) AS files_total,
           CAST(COUNT(*) FILTER (WHERE f.max_d >= p.lo AND f.min_d < p.hi)
               AS BIGINT) AS files_read,
           CAST(SUM(CASE WHEN f.max_d >= p.lo AND f.min_d < p.hi
                         THEN f.nrows ELSE 0 END) AS BIGINT) AS rows_read
    FROM files f CROSS JOIN preds p
    GROUP BY 1, 2
),
matching AS ({match_branches})
SELECT s.layout, s.pred, s.files_total, s.files_read, s.rows_read,
       m.rows_matching,
       {sql_dround("1.0 - s.files_read * 1.0 / s.files_total", 6)}
           AS skip_ratio,
       CASE WHEN m.rows_matching > 0 THEN
           {sql_dround("s.rows_read * 1.0 / m.rows_matching", 6)}
       END AS read_amplification
FROM scan s JOIN matching m USING (pred)
"""


@query("file_skipping_effectiveness", oracle=_file_skipping_oracle())
def file_skipping_effectiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    key_files = orders.groupBy(
        F.floor(F.col("o_orderkey") / 1000).alias("fid")
    ).agg(
        F.min("o_orderdate").alias("min_d"),
        F.max("o_orderdate").alias("max_d"),
        F.count("*").alias("nrows"),
    ).select(F.lit("keyrange").alias("layout"), "min_d", "max_d", "nrows")
    month_files = orders.groupBy(
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate")
        ).cast("bigint").alias("fid")
    ).agg(
        F.min("o_orderdate").alias("min_d"),
        F.max("o_orderdate").alias("max_d"),
        F.count("*").alias("nrows"),
    ).select(F.lit("monthly").alias("layout"), "min_d", "max_d", "nrows")
    files = key_files.unionByName(month_files)

    preds = spark.createDataFrame(
        [(n, lo, hi) for n, lo, hi in _FS_PREDS],
        "pred string, lo_s string, hi_s string",
    ).select(
        "pred",
        F.col("lo_s").cast("timestamp").alias("lo"),
        F.col("hi_s").cast("timestamp").alias("hi"),
    )
    overlap = (F.col("max_d") >= F.col("lo")) & (F.col("min_d") < F.col("hi"))
    scan = (
        files.crossJoin(F.broadcast(preds))
        .groupBy("layout", "pred")
        .agg(
            F.count("*").alias("files_total"),
            F.sum(F.when(overlap, 1).otherwise(0))
            .cast("bigint")
            .alias("files_read"),
            F.sum(F.when(overlap, F.col("nrows")).otherwise(F.lit(0)))
            .alias("rows_read"),
        )
    )
    # matching-row counts: ONE wide conditional scan-agg, stack()ed
    match_aggs = [
        F.sum(
            F.when(
                (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(hi).cast("timestamp")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias(f"__m_{n}")
        for n, lo, hi in _FS_PREDS
    ]
    stack_pairs = ", ".join(f"'{n}', __m_{n}" for n, _, _ in _FS_PREDS)
    matching = orders.agg(*match_aggs).selectExpr(
        f"stack({len(_FS_PREDS)}, {stack_pairs}) AS (pred, rows_matching)"
    )
    return (
        scan.join(F.broadcast(matching), "pred")
        .select(
            "layout",
            "pred",
            "files_total",
            "files_read",
            "rows_read",
            "rows_matching",
            dround(
                1.0 - F.col("files_read") * 1.0 / F.col("files_total"), 6
            ).alias("skip_ratio"),
            F.when(
                F.col("rows_matching") > 0,
                dround(
                    F.col("rows_read") * 1.0 / F.col("rows_matching"), 6
                ),
            ).alias("read_amplification"),
        )
    )


# --------------------------------------------------------------------------
# Hilbert-curve layout audit — the locality upgrade over Z-order.
# Morton interleave has "seams": consecutive Z-values can jump across
# the full grid, so file bounding boxes stay wider than necessary.
# The Hilbert curve visits every cell of the 2^b x 2^b grid with
# unit steps, which is why lakehouse clustering (Delta/Iceberg) offers
# it beside Z-order. Audited with the SAME file statistic as
# zorder_layout_audit (min/max bounding-box area per file), with all
# three layouts in one result so the ordering hilbert <= zorder <<
# linear is a hashed fact, not a claim.
#
# The xy->d transform is the standard per-bit rotation automaton
# (public domain, e.g. Wikipedia "Hilbert curve"): sequential state
# per bit level. Spark runs it as F.aggregate over the 8 level sizes
# with a struct accumulator — lambda variables are VALUES, so each
# level is evaluated once (no exponential expression inlining; the
# winnowing let-bind precedent). The oracle unrolls the same 8 levels
# as chained MATERIALIZED CTEs.
# --------------------------------------------------------------------------

_H_LEVELS = [128, 64, 32, 16, 8, 4, 2, 1]  # bit-plane sizes for 8-bit dims
_H_FILES = 64


def _hilbert_spark(x: str, y: str) -> Column:
    """Hilbert d of two 8-bit ints, via aggregate over bit planes."""
    steps = ",".join(str(s) for s in _H_LEVELS)
    return F.expr(
        f"""
aggregate(
  array({steps}),
  named_struct('hx', CAST({x} AS INT), 'hy', CAST({y} AS INT),
               'hd', CAST(0 AS BIGINT)),
  (acc, s) -> named_struct(
    'hx', CASE WHEN (acc.hy & s) = 0
               THEN CASE WHEN (acc.hx & s) > 0
                         THEN s - 1 - acc.hy ELSE acc.hy END
               ELSE acc.hx END,
    'hy', CASE WHEN (acc.hy & s) = 0
               THEN CASE WHEN (acc.hx & s) > 0
                         THEN s - 1 - acc.hx ELSE acc.hx END
               ELSE acc.hy END,
    'hd', acc.hd + CAST(s AS BIGINT) * s *
          ((3 * (CASE WHEN (acc.hx & s) > 0 THEN 1 ELSE 0 END))
           ^ (CASE WHEN (acc.hy & s) > 0 THEN 1 ELSE 0 END))
  ),
  acc -> acc.hd
)"""
    )


def _hilbert_sql_ctes() -> str:
    """hl0..hl8 chained CTEs computing the same fold."""
    parts = [
        """
hl0 AS MATERIALIZED (
    SELECT x, y, x AS hx, y AS hy, CAST(0 AS BIGINT) AS hd FROM hdims
)"""
    ]
    for i, s in enumerate(_H_LEVELS):
        parts.append(f"""
hl{i + 1} AS MATERIALIZED (
    SELECT x, y,
           CASE WHEN (hy & {s}) = 0
                THEN CASE WHEN (hx & {s}) > 0
                          THEN {s - 1} - hy ELSE hy END
                ELSE hx END AS hx,
           CASE WHEN (hy & {s}) = 0
                THEN CASE WHEN (hx & {s}) > 0
                          THEN {s - 1} - hx ELSE hx END
                ELSE hy END AS hy,
           hd + CAST({s} AS BIGINT) * {s} *
           xor(3 * (CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END),
               (CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END)) AS hd
    FROM hl{i}
)""")
    return ",".join(parts)


@query(
    "hilbert_layout_audit",
    oracle=f"""
WITH hraw AS (
    -- the curve domain is [0,255]²: values past 511 share the edge
    -- cell (2 sf0.1 rows) and negatives pin to cell 0
    SELECT CAST({sql_clamp('FLOOR(value / 2)', 0, 255)} AS INT) AS x,
           CAST(FLOOR(((EXTRACT(hour FROM ts) * 60
                        + EXTRACT(minute FROM ts)) * 256) / 1440.0)
                AS INT) AS y
    FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
),
cells0 AS (SELECT x, y, COUNT(*) AS n FROM hraw GROUP BY 1, 2),
hdims AS (SELECT x, y FROM cells0),
{_hilbert_sql_ctes().lstrip()},
hcells AS (
    SELECT h.x, h.y, c.n, h.hd, {sql_zvalue('h.x', 'h.y')} AS zv
    FROM hl{len(_H_LEVELS)} h JOIN cells0 c ON c.x = h.x AND c.y = h.y
),
htiled AS (
    SELECT x, y, n,
           ntile({_H_FILES}) OVER (ORDER BY hd, x, y) AS hilbert_file,
           ntile({_H_FILES}) OVER (ORDER BY zv, x, y) AS z_file,
           ntile({_H_FILES}) OVER (ORDER BY x, y) AS linear_file
    FROM hcells
),
hper_file AS (
    SELECT 'hilbert' AS layout, hilbert_file AS file_id,
           CAST(SUM(n) AS BIGINT) AS n,
           MAX(x) - MIN(x) + 1 AS xs, MAX(y) - MIN(y) + 1 AS ys
    FROM htiled GROUP BY hilbert_file
    UNION ALL
    SELECT 'zorder', z_file, CAST(SUM(n) AS BIGINT),
           MAX(x) - MIN(x) + 1, MAX(y) - MIN(y) + 1
    FROM htiled GROUP BY z_file
    UNION ALL
    SELECT 'linear_x', linear_file, CAST(SUM(n) AS BIGINT),
           MAX(x) - MIN(x) + 1, MAX(y) - MIN(y) + 1
    FROM htiled GROUP BY linear_file
)
SELECT layout,
       COUNT(*) AS n_files,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(SUM(xs * ys) AS BIGINT) AS total_span_area,
       {sql_dround('SUM(xs) * 1.0 / COUNT(*)', 4)} AS avg_x_span,
       {sql_dround('SUM(ys) * 1.0 / COUNT(*)', 4)} AS avg_y_span,
       {sql_dround('SUM(xs * ys) * 1.0 / COUNT(*)', 4)} AS avg_span_area
FROM hper_file
GROUP BY layout
""",
)
def hilbert_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping audit: Hilbert vs Z-order vs linear clustering.

    Unlike zorder_layout_audit's fixed top-bit file cuts (which align
    to squares and cannot tell the curves apart), files here are
    EQUAL-FREQUENCY cuts along each curve order — exactly what
    repartitionByRange-on-the-curve-key produces on a real writer.
    Per-file stats run at the CELL grain (≤2^16 rows — bounded model
    state, so the three ntile windows are grid-bounded, never
    data-sized). Dims are full-range probe dimensions (value-range ×
    minute-of-day). The hashed facts: hilbert's avg bounding-box area
    beats zorder (unit-step locality vs Morton seams), and linear_x
    shows the degenerate avg_y_span=256 that makes single-column
    clustering unprunable on the second dimension.
    """
    from pyspark.sql.window import Window as _W

    events = load_tables(spark, sf_dir, "events")["events"]
    x = clamp(F.floor(F.col("value") / 2), 0, 255).cast("int")
    y = F.floor(
        (F.hour("ts") * 60 + F.minute("ts")) * 256 / 1440.0
    ).cast("int")
    cells = (
        events.filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .groupBy(x.alias("x"), y.alias("y"))
        .agg(F.count("*").alias("n"))
    )
    keyed = cells.select(
        "x",
        "y",
        "n",
        _hilbert_spark("x", "y").alias("hd"),
        zvalue(F.col("x"), F.col("y")).alias("zv"),
    )
    tiled = keyed.select(
        "x",
        "y",
        "n",
        F.ntile(_H_FILES).over(_W.orderBy("hd", "x", "y")).alias(
            "hilbert_file"
        ),
        F.ntile(_H_FILES).over(_W.orderBy("zv", "x", "y")).alias("z_file"),
        F.ntile(_H_FILES).over(_W.orderBy("x", "y")).alias("linear_file"),
    )

    def _per_file(file_col: str, label: str) -> DataFrame:
        return (
            tiled.groupBy(F.col(file_col).alias("file_id"))
            .agg(
                F.sum("n").cast("bigint").alias("n"),
                (F.max("x") - F.min("x") + 1).alias("xs"),
                (F.max("y") - F.min("y") + 1).alias("ys"),
            )
            .select(F.lit(label).alias("layout"), "file_id", "n", "xs", "ys")
        )

    per_file = (
        _per_file("hilbert_file", "hilbert")
        .unionAll(_per_file("z_file", "zorder"))
        .unionAll(_per_file("linear_file", "linear_x"))
    )
    return per_file.groupBy("layout").agg(
        F.count("*").alias("n_files"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.sum(F.col("xs") * F.col("ys")).cast("bigint").alias(
            "total_span_area"
        ),
        dround(F.sum("xs") * 1.0 / F.count("*"), 4).alias("avg_x_span"),
        dround(F.sum("ys") * 1.0 / F.count("*"), 4).alias("avg_y_span"),
        dround(F.sum(F.col("xs") * F.col("ys")) * 1.0 / F.count("*"), 4).alias(
            "avg_span_area"
        ),
    )
