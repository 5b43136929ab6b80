"""Hash-checked frequency sketches.

``cms_heavy_hitters_checked`` completes the checked-sketch family
(MinHash, SimHash, LSH, IVF, PQ, k-means, HLL — see dedup.py,
similarity.py, advanced.py) with a Count-Min sketch: the workhorse
structure for approximate per-key frequency at 100-TB scale, where a
full per-key GROUP BY may be too wide to materialize but a (depth ×
width) table of counters always fits in memory.

Like the HLL twin, every hash is derived from sha256 so Spark and the
DuckDB oracle build bit-identical counter tables — the driver's value
hash then proves the sketch math end-to-end, not just "rows came back":

- counter update is a map-side-combinable integer aggregation over
  (depth, bucket) — 4×512 cells regardless of key cardinality;
- the point query for a key is ``min`` over its 4 cells, which
  upper-bounds the true count (CMS guarantee — surfaced as the
  always-non-negative ``overestimate`` column);
- candidate keys come from an exact top-k (TakeOrdered, no full sort);
  in production the candidate stream would be the keys themselves.

Reference analog: none (the reference has no sketches) — this extends
SURVEY §2's aggregation family for the LLM-pipeline scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dround, sql_dround
from ..session import load_tables
from .registry import query

_CMS_W = 512  # buckets per row
_CMS_D = 4  # independent hash rows
_CMS_TOPK = 20


def _cms_bucket_cols(key):
    """The _CMS_D bucket indices of a key: disjoint 8-hex-char (32-bit)
    slices of one sha256, reduced mod the width."""
    hexh = F.sha2(key.cast("string"), 256)
    return [
        (F.conv(F.substring(hexh, 1 + 8 * j, 8), 16, 10).cast("bigint") % _CMS_W).alias(
            f"b{j}"
        )
        for j in range(_CMS_D)
    ]


def _sql_bucket(j: int) -> str:
    return (
        f"(CAST(concat('0x', substring(sha256(CAST(user_id AS VARCHAR)), "
        f"{1 + 8 * j}, 8)) AS BIGINT) % {_CMS_W})"
    )


@query(
    "cms_heavy_hitters_checked",
    oracle=f"""
WITH h AS (
    SELECT {_sql_bucket(0)} AS b0, {_sql_bucket(1)} AS b1,
           {_sql_bucket(2)} AS b2, {_sql_bucket(3)} AS b3
    FROM events WHERE user_id IS NOT NULL
),
cells AS (
              SELECT 0 AS depth, b0 AS bucket, COUNT(*) AS c FROM h GROUP BY 2
    UNION ALL SELECT 1, b1, COUNT(*) FROM h GROUP BY 2
    UNION ALL SELECT 2, b2, COUNT(*) FROM h GROUP BY 2
    UNION ALL SELECT 3, b3, COUNT(*) FROM h GROUP BY 2
),
top AS (
    SELECT user_id, COUNT(*) AS n_exact FROM events
    WHERE user_id IS NOT NULL GROUP BY 1
    ORDER BY n_exact DESC, user_id LIMIT {_CMS_TOPK}
),
th AS (
    SELECT user_id, n_exact,
           {_sql_bucket(0)} AS b0, {_sql_bucket(1)} AS b1,
           {_sql_bucket(2)} AS b2, {_sql_bucket(3)} AS b3
    FROM top
),
probes AS (
              SELECT user_id, n_exact, 0 AS depth, b0 AS bucket FROM th
    UNION ALL SELECT user_id, n_exact, 1, b1 FROM th
    UNION ALL SELECT user_id, n_exact, 2, b2 FROM th
    UNION ALL SELECT user_id, n_exact, 3, b3 FROM th
)
SELECT p.user_id, p.n_exact,
       MIN(c.c) AS cms_estimate,
       MIN(c.c) - p.n_exact AS overestimate
FROM probes p JOIN cells c ON c.depth = p.depth AND c.bucket = p.bucket
GROUP BY 1, 2
""",
)
def cms_heavy_hitters_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point queries vs exact counts for the top-20 keys.

    Scale: the sketch build is one narrow projection + a GROUP BY over
    at most depth×width = 2048 cells (map-side combine collapses each
    task's contribution to ≤2048 partials — the shuffle is constant-size
    no matter how many events or distinct users exist). The exact top-k
    side exists only to CHECK the estimates; its TakeOrdered finisher
    never materializes a full sort. The probe join broadcasts 80 rows.
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    # NULL keys have no frequency-sketch semantics (sha2(NULL) buckets
    # to NULL; DuckDB's '0x'||NULL cast would error) — filter both sides.
    events = events.filter(F.col("user_id").isNotNull())
    h = events.select(*_cms_bucket_cols(F.col("user_id")))
    cells = (
        h.select(
            F.posexplode(F.array(*[F.col(f"b{j}") for j in range(_CMS_D)])).alias(
                "depth", "bucket"
            )
        )
        .groupBy("depth", "bucket")
        .agg(F.count("*").alias("c"))
    )
    top = (
        events.groupBy("user_id")
        .agg(F.count("*").alias("n_exact"))
        .orderBy(F.desc("n_exact"), "user_id")
        .limit(_CMS_TOPK)
    )
    probes = top.select(
        "user_id", "n_exact", *_cms_bucket_cols(F.col("user_id"))
    ).select(
        "user_id",
        "n_exact",
        F.posexplode(F.array(*[F.col(f"b{j}") for j in range(_CMS_D)])).alias(
            "depth", "bucket"
        ),
    )
    return (
        F.broadcast(probes)
        .join(cells, ["depth", "bucket"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("c").alias("cms_estimate"))
        .select(
            "user_id",
            "n_exact",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("n_exact")).alias("overestimate"),
        )
    )


# --------------------------------------------------------------------------
# HLL set algebra: the property that makes HyperLogLog THE distributed
# distinct-counter is that registers MERGE (bucket-wise max) — union
# cardinality needs no re-scan, and intersections fall out of
# inclusion-exclusion. Reuses the approx_distinct_hll_checked register
# construction (plans/advanced.py) per segment, so the merged estimates
# are value-hash-checked end to end, alongside the exact answers.
# --------------------------------------------------------------------------

from pyspark.sql.window import Window  # noqa: E402

from .advanced import _HLL_ALPHA, _HLL_M  # noqa: E402

_SEG_A = "view"
_SEG_B = "click"


def _sql_regs(tag: str, pred: str) -> str:
    # user_id IS NOT NULL: Spark's register build drops NULL keys
    # structurally (sha2(NULL) -> NULL bucket never joins the bucket
    # spine), but DuckDB's concat('0x', NULL-hash) yields the literal
    # '0x' and the BIGINT cast ERRORS — the filter makes both engines
    # skip NULL keys explicitly (a distinct-count sketch has no NULL
    # key semantics, same as COUNT(DISTINCT)).
    return f"""
h_{tag} AS (
    SELECT substring(sha256(CAST(user_id AS VARCHAR)), 1, 2) AS bhex,
           substring(sha256(CAST(user_id AS VARCHAR)), 3, 14) AS rest
    FROM events WHERE user_id IS NOT NULL AND ({pred})
),
ranked_{tag} AS (
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
    FROM h_{tag}
),
regs_{tag} AS (
    SELECT b.bucket, COALESCE(MAX(r.rank), 0) AS reg
    FROM (SELECT unnest(range(0, {_HLL_M})) AS bucket) b
    LEFT JOIN ranked_{tag} r ON r.bucket = b.bucket
    GROUP BY 1
)"""


def _sql_est(tag: str, regs: str) -> str:
    return f"""
s_{tag} AS (
    SELECT CAST(SUM(CAST(1 AS BIGINT) << CAST(60 - reg AS INT)) AS DOUBLE)
               / 1152921504606846976.0 AS harm,
           COUNT(*) FILTER (WHERE reg = 0) AS v
    FROM {regs}
),
e_{tag} AS (
    SELECT CASE WHEN (CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M} * {_HLL_M} / harm)
                     <= 2.5 * {_HLL_M} AND v > 0
                THEN {_HLL_M} * ln({_HLL_M} * 1.0 / v)
                ELSE CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M} * {_HLL_M} / harm END AS e
    FROM s_{tag}
)"""


@query(
    "hll_set_algebra_checked",
    oracle=f"""
WITH {_sql_regs('a', f"event_type = '{_SEG_A}'").lstrip()},
{_sql_regs('b', f"event_type = '{_SEG_B}'").lstrip()},
regs_u AS (
    SELECT a.bucket, GREATEST(a.reg, b.reg) AS reg
    FROM regs_a a JOIN regs_b b USING (bucket)
),
{_sql_est('a', 'regs_a').lstrip()},
{_sql_est('b', 'regs_b').lstrip()},
{_sql_est('u', 'regs_u').lstrip()},
x AS (
    SELECT COUNT(DISTINCT user_id) FILTER (WHERE event_type = '{_SEG_A}') AS xa,
           COUNT(DISTINCT user_id) FILTER (WHERE event_type = '{_SEG_B}') AS xb,
           COUNT(DISTINCT user_id) FILTER (
               WHERE event_type IN ('{_SEG_A}', '{_SEG_B}')) AS xu
    FROM events
),
wide AS (
    SELECT ea.e AS ea, eb.e AS eb, eu.e AS eu, x.xa, x.xb, x.xu
    FROM e_a ea CROSS JOIN e_b eb CROSS JOIN e_u eu CROSS JOIN x
)
SELECT '{_SEG_A}' AS set_name, {sql_dround('ea', 4)}
           AS hll_estimate, xa AS n_exact FROM wide
UNION ALL
SELECT '{_SEG_B}', {sql_dround('eb', 4)}, xb FROM wide
UNION ALL
SELECT 'union', {sql_dround('eu', 4)}, xu FROM wide
UNION ALL
SELECT 'intersection', {sql_dround('(ea + eb - eu)', 4)},
       xa + xb - xu FROM wide
""",
)
def hll_set_algebra_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-HLL union/intersection estimates vs exact counts.

    Scale: each segment's register build is a map-side-combinable max
    over 256 buckets; the MERGE is a 256-row join (bucket-wise max) —
    the whole point: union cardinality across shards/segments/days
    composes from constant-size state with no re-scan, which is why a
    1000-executor distinct-count pipeline ships registers, not keys.
    Exact counts ride along purely to check the estimates.
    """
    events = load_tables(spark, sf_dir, "events")["events"]

    def regs(pred) -> DataFrame:
        hexh = F.sha2(F.col("user_id").cast("string"), 256)
        h = events.filter(pred).select(
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
            F.least(
                F.lit(57).cast("bigint"), (4 * zeros + extra + 1).cast("bigint")
            ).alias("rank"),
        )
        buckets = spark.range(0, _HLL_M).select(F.col("id").alias("bucket"))
        return (
            buckets.join(ranked, "bucket", "left")
            .groupBy("bucket")
            .agg(F.coalesce(F.max("rank"), F.lit(0)).alias("reg"))
        )

    def est(r: DataFrame, name: str) -> DataFrame:
        s = r.agg(
            (
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
        e = F.when(
            (e_raw <= 2.5 * _HLL_M) & (F.col("v") > 0),
            _HLL_M * F.log(_HLL_M * 1.0 / F.col("v")),
        ).otherwise(e_raw)
        return s.select(e.alias(name))

    ra = regs(F.col("event_type") == _SEG_A)
    rb = regs(F.col("event_type") == _SEG_B)
    # register MERGE: 256-row bucket-wise max — broadcast the right
    # register set (constant sketch state), never a shuffle join
    ru = (
        ra.withColumnRenamed("reg", "ra")
        .join(F.broadcast(rb.withColumnRenamed("reg", "rb")), "bucket")
        .select("bucket", F.greatest("ra", "rb").alias("reg"))
    )
    x = events.agg(
        F.count_distinct(
            F.when(F.col("event_type") == _SEG_A, F.col("user_id"))
        ).alias("xa"),
        F.count_distinct(
            F.when(F.col("event_type") == _SEG_B, F.col("user_id"))
        ).alias("xb"),
        F.count_distinct(
            F.when(
                F.col("event_type").isin(_SEG_A, _SEG_B), F.col("user_id")
            )
        ).alias("xu"),
    )
    wide = (
        est(ra, "ea")
        .crossJoin(est(rb, "eb"))
        .crossJoin(est(ru, "eu"))
        .crossJoin(x)
    )
    return wide.select(
        F.expr(
            f"""stack(4,
            '{_SEG_A}', {sql_dround('ea', 4)}, xa,
            '{_SEG_B}', {sql_dround('eb', 4)}, xb,
            'union', {sql_dround('eu', 4)}, xu,
            'intersection', {sql_dround('ea + eb - eu', 4)}, xa + xb - xu
            ) AS (set_name, hll_estimate, n_exact)"""
        )
    )


# --------------------------------------------------------------------------
# Checked approximate quantiles: fixed-width histogram (B bins over the
# per-group [min, max]) → cumulative counts → bin-edge quantile
# estimate, audited against the exact order-statistic. The native
# approx_percentile sketch is engine-internal (rows-only check);
# this twin is the same idea with engine-identical arithmetic, so the
# estimate AND its error vs exact are value-hash-checked. The
# histogram build is the scale path (two scans, constant state);
# the exact side is the audit only (per-group sort).
# --------------------------------------------------------------------------

_HQ_B = 256
_HQ_QS = (0.5, 0.9, 0.99)

_HQ_QS_SQL = ", ".join(f"({q})" for q in _HQ_QS)


@query(
    "histogram_quantiles_checked",
    oracle=f"""
WITH v AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
st AS (
    SELECT event_type, MIN(value) AS mn, MAX(value) AS mx, COUNT(*) AS n
    FROM v GROUP BY 1
),
b AS (
    SELECT v.event_type,
           LEAST(CAST({_HQ_B - 1} AS BIGINT),
                 CAST(FLOOR((v.value - s.mn)
                      / ((s.mx - s.mn) / {_HQ_B})) AS BIGINT)) AS bin
    FROM v JOIN st s USING (event_type)
    WHERE s.mx > s.mn
),
bc AS (SELECT event_type, bin, COUNT(*) AS c FROM b GROUP BY 1, 2),
cum AS (
    SELECT event_type, bin,
           CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY bin
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
    FROM bc
),
qs AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES {_HQ_QS_SQL}) t(q)),
targets AS (
    SELECT s.event_type, q.q, s.mn, s.mx, s.n,
           CAST(CEIL(q.q * s.n) AS BIGINT) AS trn
    FROM st s CROSS JOIN qs q
    WHERE s.mx > s.mn
),
est AS (
    SELECT t.event_type, t.q, t.n, t.mn, t.mx, MIN(c.bin) AS qbin
    FROM targets t
    JOIN cum c ON c.event_type = t.event_type AND c.cum >= t.trn
    GROUP BY 1, 2, 3, 4, 5
),
ranked AS (
    SELECT event_type, value,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn
    FROM v
),
exact AS (
    SELECT t.event_type, t.q, r.value AS exact_q
    FROM targets t
    JOIN ranked r ON r.event_type = t.event_type AND r.rn = t.trn
)
SELECT e.event_type, e.q, e.n,
       {sql_dround(f"(e.mn + (e.qbin + 1) * ((e.mx - e.mn) / {_HQ_B}))", 6)}
           AS est_quantile,
       {sql_dround("x.exact_q", 6)} AS exact_quantile,
       {sql_dround(f"((e.mx - e.mn) / {_HQ_B})", 6)} AS bin_width
FROM est e JOIN exact x ON x.event_type = e.event_type AND x.q = e.q
""",
)
def histogram_quantiles_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram p50/p90/p99 per event type, audited against exact.

    Scale: two passes — (min, max, n) per group, then a B-cell binned
    count that map-side combines to ≤ B rows per group; the quantile
    read-off is a window over the bounded bin axis. Error ≤ one bin
    width by construction (also emitted). The exact order-statistic
    side exists only to CHECK the estimate; production uses the
    histogram (or re-bins the candidate bin for refinement).
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    # A histogram over values has no NULL semantics: a NULL value would
    # inflate n (COUNT(*)) while escaping min/max, land in a NULL bin
    # that the two engines order on opposite ends of the bin axis, and
    # shift the exact order statistic — filter both sides.
    v = events.select("event_type", "value").filter(
        F.col("value").isNotNull()
    )
    st = v.groupBy("event_type").agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.count("*").alias("n"),
    )
    stf = st.filter(F.col("mx") > F.col("mn"))
    width = (F.col("mx") - F.col("mn")) / _HQ_B
    b = v.join(F.broadcast(stf), "event_type").select(
        "event_type",
        F.least(
            F.lit(_HQ_B - 1).cast("bigint"),
            F.floor((F.col("value") - F.col("mn")) / width).cast("bigint"),
        ).alias("bin"),
    )
    bc = b.groupBy("event_type", "bin").agg(F.count("*").alias("c"))
    wcum = Window.partitionBy("event_type").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = bc.select(
        "event_type",
        "bin",
        F.sum("c").over(wcum).cast("bigint").alias("cum"),
    )
    qs = events.sparkSession.createDataFrame(
        [(float(q),) for q in _HQ_QS], "q double"
    )
    targets = stf.crossJoin(F.broadcast(qs)).select(
        "event_type",
        "q",
        "mn",
        "mx",
        "n",
        F.ceil(F.col("q") * F.col("n")).cast("bigint").alias("trn"),
    )
    # targets is model-sized (event_types x quantiles) — broadcast it
    # into both probe joins so neither the 256-bin cum table nor the
    # corpus-sized ranked table shuffles for the lookup
    est = (
        F.broadcast(targets)
        .join(
            cum.withColumnRenamed("event_type", "et"),
            (F.col("et") == F.col("event_type"))
            & (F.col("cum") >= F.col("trn")),
        )
        .groupBy("event_type", "q", "n", "mn", "mx")
        .agg(F.min("bin").alias("qbin"))
    )
    wr = Window.partitionBy("event_type").orderBy("value")
    ranked = v.select(
        "event_type", "value", F.row_number().over(wr).alias("rn")
    )
    exact = F.broadcast(targets).join(
        ranked.withColumnRenamed("event_type", "et"),
        (F.col("et") == F.col("event_type")) & (F.col("rn") == F.col("trn")),
    ).select("event_type", "q", F.col("value").alias("exact_q"))
    # dround, not a bare floor: 2^63 saturation guard (r12 2e17 probe)
    return est.join(F.broadcast(exact), ["event_type", "q"]).select(
        "event_type",
        "q",
        "n",
        dround(
            F.col("mn")
            + (F.col("qbin") + 1) * ((F.col("mx") - F.col("mn")) / _HQ_B),
            6,
        ).alias("est_quantile"),
        dround(F.col("exact_q"), 6).alias("exact_quantile"),
        dround((F.col("mx") - F.col("mn")) / _HQ_B, 6).alias("bin_width"),
    )


# --------------------------------------------------------------------------
# CMS inner-product join-cardinality estimate: |A JOIN B on key| =
# sum_key cntA*cntB, estimated as min over depths of the counter-row
# dot product (Alon-Matias-Szegedy / Cormode-Muthukrishnan) — the
# optimizer statistic a planner uses to size a join without scanning
# either side twice. Same sha256-derived buckets as
# cms_heavy_hitters_checked, so both engines build bit-identical
# counter tables and the estimate is exactly reproducible; the exact
# pair count (computable here because the key-grain tables fit) makes
# the driver hash prove the whole estimator.
#
# Scale: each sketch is a constant (depth x width) table built by one
# map-combined aggregation; the dot product joins 2048-cell tables.
# The exact side is two key-grain reduces + an equi-join — present
# only as the oracle-checkable ground truth (join_strategy_advisor /
# self_join_blowup_forecast are the planning consumers).
# --------------------------------------------------------------------------


def _sql_bucket_expr(col: str, j: int) -> str:
    return (
        f"(CAST(concat('0x', substring(sha256(CAST({col} AS VARCHAR)), "
        f"{1 + 8 * j}, 8)) AS BIGINT) % {_CMS_W})"
    )


def _cms_cells_sql(table: str, col: str, where: str) -> str:
    branches = "\n    UNION ALL ".join(
        f"SELECT {j} AS depth, {_sql_bucket_expr(col, j)} AS bucket,"
        f" CAST(COUNT(*) AS BIGINT) AS c FROM {table} WHERE {where}"
        f" GROUP BY 2"
        for j in range(_CMS_D)
    )
    return branches


@query(
    "join_cardinality_cms_estimate",
    oracle=f"""
WITH cells_a AS (
    {_cms_cells_sql("events", "user_id", "user_id IS NOT NULL")}
),
cells_b AS (
    {_cms_cells_sql("orders", "o_custkey", "o_custkey IS NOT NULL")}
),
per_depth AS (
    SELECT a.depth, CAST(SUM(a.c * b.c) AS BIGINT) AS dot
    FROM cells_a a JOIN cells_b b
      ON a.depth = b.depth AND a.bucket = b.bucket
    GROUP BY 1
),
est AS (SELECT CAST(MIN(dot) AS BIGINT) AS cms_estimate FROM per_depth),
exact AS (
    SELECT CAST(COALESCE(SUM(ca.n * cb.n), 0) AS BIGINT) AS exact_pairs
    FROM (SELECT user_id AS k, COUNT(*) AS n FROM events
          WHERE user_id IS NOT NULL GROUP BY 1) ca
    JOIN (SELECT o_custkey AS k, COUNT(*) AS n FROM orders
          WHERE o_custkey IS NOT NULL GROUP BY 1) cb USING (k)
)
SELECT x.exact_pairs, e.cms_estimate,
       e.cms_estimate - x.exact_pairs AS overestimate,
       CASE WHEN x.exact_pairs > 0 THEN
           {sql_dround(
               "(e.cms_estimate - x.exact_pairs) * 1.0 / x.exact_pairs", 6)}
       END AS relative_error
FROM exact x CROSS JOIN est e
""",
)
def join_cardinality_cms_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    t = load_tables(spark, sf_dir, "events", "orders")
    events = t["events"].filter(F.col("user_id").isNotNull())
    orders = t["orders"].filter(F.col("o_custkey").isNotNull())

    def cells(df: DataFrame, key) -> DataFrame:
        return (
            df.select(*_cms_bucket_cols(key))
            .select(
                F.posexplode(
                    F.array(*[F.col(f"b{j}") for j in range(_CMS_D)])
                ).alias("depth", "bucket")
            )
            .groupBy("depth", "bucket")
            .agg(F.count("*").alias("c"))
        )
    ca = cells(events, F.col("user_id"))
    cb = cells(orders, F.col("o_custkey"))
    per_depth = (
        ca.alias("a")
        .join(
            cb.alias("b"),
            (F.col("a.depth") == F.col("b.depth"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .groupBy(F.col("a.depth"))
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("dot"))
    )
    est = per_depth.agg(F.min("dot").cast("bigint").alias("cms_estimate"))
    na = events.groupBy(F.col("user_id").alias("k")).agg(
        F.count("*").alias("n_a")
    )
    nb = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count("*").alias("n_b")
    )
    exact = (
        na.join(nb, "k")
        .agg(
            F.coalesce(F.sum(F.col("n_a") * F.col("n_b")), F.lit(0))
            .cast("bigint")
            .alias("exact_pairs")
        )
    )
    from ..functions import dround

    return exact.crossJoin(F.broadcast(est)).select(
        "exact_pairs",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_pairs")).alias("overestimate"),
        F.when(
            F.col("exact_pairs") > 0,
            dround(
                (F.col("cms_estimate") - F.col("exact_pairs"))
                * 1.0
                / F.col("exact_pairs"),
                6,
            ),
        ).alias("relative_error"),
    )


# --------------------------------------------------------------------------
# V-optimal histogram (Jagadish et al., VLDB 1998): partition the daily
# event-count series into K buckets minimizing total within-bucket SSE,
# by exact dynamic programming over the bounded day grain. SSE terms
# come from integer prefix sums (one IEEE division each), DP additions
# follow the identical recurrence tree on both engines, and every
# argmin is tie-broken on the split index — so the chosen boundary SET
# is deterministic, not just the cost.
# --------------------------------------------------------------------------

_VOPT_K = 5


def _vopt_dp_sql() -> str:
    parts = []
    for k in range(2, _VOPT_K + 1):
        p = k - 1
        parts.append(f"""
dp{k} AS MATERIALIZED (
    SELECT i, d, si, qi, cost, bounds FROM (
        SELECT pi.i, pi.d, pi.si, pi.qi,
               dp.cost + ((pi.qi - dp.qi)
                   - (pi.si - dp.si) * (pi.si - dp.si) * 1.0
                     / (pi.i - dp.i)) AS cost,
               list_append(dp.bounds, dp.i) AS bounds,
               ROW_NUMBER() OVER (
                   PARTITION BY pi.i
                   ORDER BY dp.cost + ((pi.qi - dp.qi)
                       - (pi.si - dp.si) * (pi.si - dp.si) * 1.0
                         / (pi.i - dp.i)), dp.i
               ) AS rn
        FROM dp{p} dp JOIN pre pi ON pi.i > dp.i
    ) WHERE rn = 1
)""")
    return ",".join(parts)


@query(
    "voptimal_histogram_dp",
    oracle=f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS v
    FROM events WHERE ts IS NOT NULL GROUP BY 1
),
pre AS MATERIALIZED (
    SELECT d, v,
           CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS i,
           CAST(SUM(v) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS si,
           CAST(SUM(v * v) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS qi
    FROM daily
),
dp1 AS MATERIALIZED (
    SELECT i, d, si, qi,
           qi - si * si * 1.0 / i AS cost,
           CAST([] AS BIGINT[]) AS bounds
    FROM pre
),
{_vopt_dp_sql().lstrip()},
fin AS (
    SELECT dp.cost AS total_sse, dp.bounds, dp.i AS t
    FROM dp{_VOPT_K} dp
    WHERE dp.i = (SELECT MAX(i) FROM pre)
),
buckets AS (
    SELECT m.m AS bucket,
           CASE WHEN m.m = 1 THEN 1 ELSE f.bounds[m.m - 1] + 1 END AS a,
           CASE WHEN m.m = {_VOPT_K} THEN f.t ELSE f.bounds[m.m] END AS b,
           f.total_sse
    FROM fin f CROSS JOIN (SELECT UNNEST(range(1, {_VOPT_K + 1})) AS m) m
),
out AS (
    SELECT bk.bucket,
           pa.d AS start_day, pb.d AS end_day,
           CAST(bk.b - bk.a + 1 AS BIGINT) AS n_days,
           CAST(pb.si - COALESCE(pj.si, 0) AS BIGINT) AS sum_events,
           (pb.qi - COALESCE(pj.qi, 0))
               - (pb.si - COALESCE(pj.si, 0))
                 * (pb.si - COALESCE(pj.si, 0)) * 1.0
                 / (bk.b - bk.a + 1) AS sse,
           bk.total_sse
    FROM buckets bk
    JOIN pre pa ON pa.i = bk.a
    JOIN pre pb ON pb.i = bk.b
    LEFT JOIN pre pj ON pj.i = bk.a - 1
)
SELECT CAST(bucket AS INTEGER) AS bucket, start_day, end_day, n_days,
       sum_events,
       {sql_dround('sse', 6)} AS sse,
       {sql_dround('total_sse', 6)} AS total_sse
FROM out
""",
)
def voptimal_histogram_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K=5 v-optimal bucketing of the daily event-count series.

    Scale: the only data-sized stage is the date-grain count; the DP
    runs on the bounded day grain (T days → T² candidate splits per
    level, K-1 levels), where each level is one self-join + per-i
    argmin — the standard distributed formulation of the O(T²K)
    Jagadish DP. Driver holds no per-day state. At 100 TB the day
    grain is still thousands of rows; the T² grid stays a broadcast
    join. Integer prefix sums make every SSE a single-division double,
    so DP costs are bit-identical across engines and the boundary SET
    (not just the cost) is pinned by the argmin tie-break on split
    index. Reference has no synopsis ops (closest: daily rollups,
    transform.py:1).
    """
    from pyspark.sql.window import Window

    from ..functions import dround

    ev = load_tables(spark, sf_dir, "events")["events"]
    daily = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("bigint").alias("v"))
    )
    wd = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = daily.select(
        "d",
        "v",
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("i"),
        F.sum("v").over(wd).cast("bigint").alias("si"),
        F.sum(F.col("v") * F.col("v")).over(wd).cast("bigint").alias("qi"),
    ).localCheckpoint(eager=True)

    dp = pre.select(
        "i",
        "d",
        "si",
        "qi",
        (F.col("qi") - F.col("si") * F.col("si") * 1.0 / F.col("i")).alias(
            "cost"
        ),
        F.array().cast("array<bigint>").alias("bounds"),
    )
    for k in range(2, _VOPT_K + 1):
        prev = dp.select(
            F.col("i").alias("ji"),
            F.col("si").alias("jsi"),
            F.col("qi").alias("jqi"),
            F.col("cost").alias("jcost"),
            F.col("bounds").alias("jbounds"),
        )
        cand = pre.join(
            F.broadcast(prev), F.col("i") > F.col("ji")
        ).select(
            "i",
            "d",
            "si",
            "qi",
            (
                F.col("jcost")
                + (
                    (F.col("qi") - F.col("jqi"))
                    - (F.col("si") - F.col("jsi"))
                    * (F.col("si") - F.col("jsi"))
                    * 1.0
                    / (F.col("i") - F.col("ji"))
                )
            ).alias("cost"),
            F.concat(F.col("jbounds"), F.array(F.col("ji"))).alias(
                "bounds"
            ),
            F.col("ji"),
        )
        wk = Window.partitionBy("i").orderBy("cost", "ji")
        dp = (
            cand.withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") == 1)
            .drop("rn", "ji")
        )

    tmax = pre.agg(F.max("i").alias("t"))
    fin = dp.join(F.broadcast(tmax), F.col("i") == F.col("t")).select(
        F.col("cost").alias("total_sse"), "bounds", "t"
    )
    ms = spark.range(1, _VOPT_K + 1).select(
        (F.col("id")).cast("int").alias("bucket")
    )
    buckets = fin.crossJoin(F.broadcast(ms)).select(
        "bucket",
        F.when(F.col("bucket") == 1, F.lit(1).cast("bigint"))
        .otherwise(F.element_at("bounds", F.col("bucket") - 1) + 1)
        .alias("a"),
        F.when(F.col("bucket") == _VOPT_K, F.col("t"))
        .otherwise(F.element_at("bounds", F.col("bucket")))
        .alias("b"),
        "total_sse",
    )
    pa = pre.select(F.col("i").alias("a"), F.col("d").alias("start_day"))
    pb = pre.select(
        F.col("i").alias("b"),
        F.col("d").alias("end_day"),
        F.col("si").alias("bsi"),
        F.col("qi").alias("bqi"),
    )
    pj = pre.select(
        (F.col("i") + 1).alias("a"),
        F.col("si").alias("jsi"),
        F.col("qi").alias("jqi"),
    )
    out = (
        buckets.join(F.broadcast(pa), "a")
        .join(F.broadcast(pb), "b")
        .join(F.broadcast(pj), "a", "left")
    )
    nsd = F.col("b") - F.col("a") + 1
    sd = F.col("bsi") - F.coalesce(F.col("jsi"), F.lit(0))
    sse = (
        (F.col("bqi") - F.coalesce(F.col("jqi"), F.lit(0)))
        - sd * sd * 1.0 / nsd
    )
    return out.select(
        F.col("bucket").cast("int").alias("bucket"),
        "start_day",
        "end_day",
        nsd.cast("bigint").alias("n_days"),
        sd.cast("bigint").alias("sum_events"),
        dround(sse, 6).alias("sse"),
        dround(F.col("total_sse"), 6).alias("total_sse"),
    )


# --------------------------------------------------------------------------
# Haar wavelet synopsis (Matias/Vitter/Wang, SIGMOD 1998): top-C
# largest-energy Haar coefficients of the daily event-count series.
# Unnormalized sum/difference coefficients are exact bigints; the
# orthonormal energy of detail (s,k) is d²/2^s, compared on the common
# ×32 integer scale e32 = d²·2^(5-s) — so selection, dropped-SSE, and
# the Parseval identity 32·Σv² = c0² + Σe32 are all pure integer
# arithmetic (parseval_gap32 pins it to 0).
# --------------------------------------------------------------------------

_HAAR_C = 8


@query(
    "haar_wavelet_synopsis",
    oracle=f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS v
    FROM events WHERE ts IS NOT NULL GROUP BY 1
),
pre AS MATERIALIZED (
    SELECT v, CAST(ROW_NUMBER() OVER (ORDER BY d) - 1 AS BIGINT) AS j
    FROM daily QUALIFY ROW_NUMBER() OVER (ORDER BY d) <= 32
),
levels(s, bs, hs, w) AS (
    VALUES (1, 2, 1, 16), (2, 4, 2, 8), (3, 8, 4, 4),
           (4, 16, 8, 2), (5, 32, 16, 1)
),
coefs AS MATERIALIZED (
    SELECT l.s, p.j // l.bs AS k, l.w,
           CAST(SUM(p.v * (1 - 2 * ((p.j // l.hs) % 2))) AS BIGINT) AS coef
    FROM pre p CROSS JOIN levels l
    GROUP BY 1, 2, 3
),
en AS (
    SELECT s, k, coef, CAST(coef * coef * w AS BIGINT) AS e32
    FROM coefs
),
tot AS (
    SELECT CAST(SUM(v) AS BIGINT) AS c0,
           CAST(32 * SUM(v * v) AS BIGINT) AS q32
    FROM pre
),
alle AS (
    SELECT CAST(SUM(e32) AS BIGINT) AS e32_total,
           CAST(COUNT(*) AS BIGINT) AS n_coefs
    FROM en
),
top AS (
    SELECT s, k, coef, e32
    FROM en
    QUALIFY ROW_NUMBER() OVER (ORDER BY e32 DESC, s, k) <= {_HAAR_C}
)
SELECT CAST(t.s AS INTEGER) AS s, t.k, t.coef, t.e32,
       a.n_coefs, o.c0,
       CAST(o.q32 - o.c0 * o.c0 - a.e32_total AS BIGINT) AS parseval_gap32,
       {sql_dround('(a.e32_total - SUM(t.e32) OVER ()) / 32.0', 6)}
           AS dropped_sse
FROM top t CROSS JOIN tot o CROSS JOIN alle a
""",
)
def haar_wavelet_synopsis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 Haar coefficients of the daily series, all-integer.

    Scale: the data-sized stage is the date-grain count; the transform
    is a 5-way level fan-out of the bounded day grain (<=160 rows) and
    one (s,k) groupBy — each coefficient a partial-aggregable integer
    sum, so the synopsis builds in one shuffle-free-after-count pass
    at any SF. Headroom: coef <= Σv_day over one block; e32 = coef²·32
    needs the DECIMAL(38) swap once daily volume passes ~5e8 events
    (moments_skew_kurtosis precedent). Self-check: parseval_gap32 == 0
    pins the transform's orthogonality end-to-end. Reference has no
    synopsis ops; pairs with voptimal_histogram_dp as the two classic
    SSE-optimal summaries.
    """
    from pyspark.sql.window import Window

    from ..functions import dround

    ev = load_tables(spark, sf_dir, "events")["events"]
    daily = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("bigint").alias("v"))
    )
    wj = Window.orderBy("d")
    pre = (
        daily.select(
            "v",
            (F.row_number().over(wj) - 1).cast("bigint").alias("j"),
        )
        .filter(F.col("j") < 32)
        .localCheckpoint(eager=True)
    )
    levels = spark.createDataFrame(
        [(1, 2, 1, 16), (2, 4, 2, 8), (3, 8, 4, 4), (4, 16, 8, 2),
         (5, 32, 16, 1)],
        "s int, bs int, hs int, w int",
    )
    coefs = (
        pre.crossJoin(F.broadcast(levels))
        .groupBy(
            "s",
            F.expr("j div bs").alias("k"),
            "w",
        )
        .agg(
            F.sum(
                F.col("v") * (1 - 2 * (F.expr("j div hs") % 2))
            )
            .cast("bigint")
            .alias("coef")
        )
    )
    en = coefs.select(
        "s",
        "k",
        "coef",
        (F.col("coef") * F.col("coef") * F.col("w"))
        .cast("bigint")
        .alias("e32"),
    )
    tot = pre.agg(
        F.sum("v").cast("bigint").alias("c0"),
        (32 * F.sum(F.col("v") * F.col("v"))).cast("bigint").alias("q32"),
    )
    alle = en.agg(
        F.sum("e32").cast("bigint").alias("e32_total"),
        F.count("*").cast("bigint").alias("n_coefs"),
    )
    wtop = Window.orderBy(F.col("e32").desc(), "s", "k")
    top = (
        en.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= _HAAR_C)
        .drop("rn")
    )
    wall = Window.partitionBy()
    return (
        top.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(alle))
        .select(
            F.col("s").cast("int").alias("s"),
            "k",
            "coef",
            "e32",
            "n_coefs",
            "c0",
            (F.col("q32") - F.col("c0") * F.col("c0") - F.col("e32_total"))
            .cast("bigint")
            .alias("parseval_gap32"),
            dround(
                (F.col("e32_total") - F.sum("e32").over(wall)) / 32.0, 6
            ).alias("dropped_sse"),
        )
    )


# --------------------------------------------------------------------------
# KMV (k-minimum-values / bottom-k) distinct sketch — the third checked
# distinct estimator beside exact COUNT(DISTINCT) and HLL. KMV keeps
# the k smallest normalized hash values; estimate = (k-1)/u_(k). Unlike
# HLL it supports an UNBIASED intersection estimate via the merged
# bottom-k (Beyer et al., "On Synopses for Distinct-Value Estimation
# Under Multiset Operations", SIGMOD'07): rho = |K ∩ sk_A ∩ sk_B| / |K|
# over the union sketch K, est_inter = rho * est_union. Every hash is
# sha256-derived so both engines build bit-identical sketches and the
# driver hash proves estimator math end to end.
#
# Key grain: (user_id, activity day) pairs — ~1.6k per event segment at
# sf0.01 (users alone are only 150 — all segments would intersect
# fully, a vacuous-intersection leg).
# --------------------------------------------------------------------------

_KMV_K = 64
_KMV_A = "view"
_KMV_B = "click"
_KMV_SCALE = float(1 << 60)  # hashes are 15 hex chars = 60 bits


def _kmv_sql(tag: str, pred: str) -> str:
    return f"""
k_{tag} AS (
    SELECT DISTINCT CAST(concat('0x', substring(sha256(
               CAST(user_id AS VARCHAR) || '|'
               || CAST(CAST(ts AS DATE) AS VARCHAR)), 1, 15)) AS BIGINT) AS h
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL AND ({pred})
),
sk_{tag} AS (SELECT h FROM k_{tag} ORDER BY h LIMIT {_KMV_K}),
st_{tag} AS (SELECT COUNT(*) AS c, MAX(h) AS mx FROM sk_{tag}),
ex_{tag} AS (SELECT COUNT(*) AS ex FROM k_{tag})"""


def _kmv_est_sql(tag: str) -> str:
    return (
        f"(CASE WHEN (SELECT c FROM st_{tag}) < {_KMV_K} "
        f"THEN CAST((SELECT c FROM st_{tag}) AS DOUBLE) "
        f"ELSE {_KMV_K - 1} * {_KMV_SCALE!r} / (SELECT mx FROM st_{tag}) END)"
    )


@query(
    "approx_distinct_kmv_checked",
    oracle=f"""
WITH {_kmv_sql('a', f"event_type = '{_KMV_A}'").lstrip()},
{_kmv_sql('b', f"event_type = '{_KMV_B}'").lstrip()},
{_kmv_sql('u', f"event_type IN ('{_KMV_A}', '{_KMV_B}')").lstrip()},
sk_m AS (
    SELECT h FROM (SELECT h FROM sk_a UNION SELECT h FROM sk_b)
    ORDER BY h LIMIT {_KMV_K}
),
st_m AS (SELECT COUNT(*) AS c, MAX(h) AS mx FROM sk_m),
inter_m AS (
    SELECT COUNT(*) AS m FROM sk_m
    WHERE h IN (SELECT h FROM sk_a) AND h IN (SELECT h FROM sk_b)
),
ex_i AS (
    SELECT COUNT(*) AS ex FROM
    (SELECT h FROM k_a INTERSECT SELECT h FROM k_b)
),
est_m AS (
    SELECT CASE WHEN c < {_KMV_K} THEN CAST(c AS DOUBLE)
                ELSE {_KMV_K - 1} * {_KMV_SCALE!r} / mx END AS e,
           c FROM st_m
),
raw AS (
    SELECT 'kmv_a' AS metric, {_kmv_est_sql('a')} AS est,
           (SELECT ex FROM ex_a) AS exact_count
    UNION ALL
    SELECT 'kmv_b', {_kmv_est_sql('b')}, (SELECT ex FROM ex_b)
    UNION ALL
    SELECT 'kmv_union_merged', (SELECT e FROM est_m),
           (SELECT ex FROM ex_u)
    UNION ALL
    SELECT 'kmv_intersection',
           CASE WHEN (SELECT c FROM est_m) = 0 THEN 0.0
                ELSE (SELECT m FROM inter_m) * 1.0 / (SELECT c FROM est_m)
                     * (SELECT e FROM est_m) END,
           (SELECT ex FROM ex_i)
)
SELECT metric,
       {sql_dround('est', 4)} AS estimate,
       CAST(exact_count AS BIGINT) AS exact_count,
       CASE WHEN exact_count = 0 THEN 0
            ELSE CAST(FLOOR(ABS(est - exact_count) * 1000000.0
                            / exact_count + 0.5) AS BIGINT)
       END AS err_ppm
FROM raw
""",
)
def approx_distinct_kmv_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k distinct sketch: per-segment, merged-union, intersection.

    Scale: the distinct-hash build is a map-side-combinable GROUP BY on
    a 60-bit hash (shuffles hashes, never keys); bottom-k is
    TakeOrderedAndProject (per-partition k then a k-row merge — no full
    sort). The union MERGE touches only 2k sketch rows — constant
    state, which is the point: a 1000-executor distinct-count pipeline
    ships 64-row sketches, not keysets, and intersection cardinality
    falls out of the same state with no re-scan. Exact counts ride
    along purely to check the estimates (err_ppm is hashed).
    Reference analog: none (sketch family extension).
    """
    from ..functions import dround

    events = load_tables(spark, sf_dir, "events")["events"]

    def keyset(pred) -> DataFrame:
        key = F.concat(
            F.col("user_id").cast("string"),
            F.lit("|"),
            F.col("ts").cast("date").cast("string"),
        )
        h = F.conv(F.substring(F.sha2(key, 256), 1, 15), 16, 10).cast("bigint")
        return (
            events.filter(
                F.col("user_id").isNotNull() & F.col("ts").isNotNull() & pred
            )
            .select(h.alias("h"))
            .distinct()
        )

    def sketch(ks: DataFrame) -> DataFrame:
        return ks.orderBy("h").limit(_KMV_K)

    def stats(sk: DataFrame) -> DataFrame:
        return sk.agg(F.count("*").alias("c"), F.max("h").alias("mx"))

    def est_col():
        return F.when(F.col("c") < _KMV_K, F.col("c").cast("double")).otherwise(
            F.lit(float(_KMV_K - 1)) * F.lit(_KMV_SCALE) / F.col("mx")
        )

    ka = keyset(F.col("event_type") == _KMV_A)
    kb = keyset(F.col("event_type") == _KMV_B)
    ku = keyset(F.col("event_type").isin(_KMV_A, _KMV_B))
    ska, skb = sketch(ka), sketch(kb)
    skm = sketch(ska.union(skb).distinct())
    # membership of merged bottom-k in both input sketches: k-row joins
    m_inter = (
        skm.join(ska.withColumnRenamed("h", "h2"), skm["h"] == F.col("h2"))
        .drop("h2")
        .join(skb.withColumnRenamed("h", "h3"), F.col("h") == F.col("h3"))
        .agg(F.count("*").alias("m"))
    )
    ex_i = (
        ka.join(kb.withColumnRenamed("h", "h2"), ka["h"] == F.col("h2"))
        .agg(F.count("*").alias("ex"))
    )

    def one(metric: str, st: DataFrame, ex: DataFrame) -> DataFrame:
        return (
            st.crossJoin(ex)
            .select(
                F.lit(metric).alias("metric"),
                est_col().alias("est"),
                F.col("ex").cast("bigint").alias("exact_count"),
            )
        )

    exa = ka.agg(F.count("*").alias("ex"))
    exb = kb.agg(F.count("*").alias("ex"))
    exu = ku.agg(F.count("*").alias("ex"))
    stm = stats(skm)
    rows = (
        one("kmv_a", stats(ska), exa)
        .unionAll(one("kmv_b", stats(skb), exb))
        .unionAll(one("kmv_union_merged", stm, exu))
        .unionAll(
            stm.crossJoin(m_inter)
            .crossJoin(ex_i)
            .select(
                F.lit("kmv_intersection").alias("metric"),
                F.when(F.col("c") == 0, F.lit(0.0))
                .otherwise(F.col("m") * 1.0 / F.col("c") * est_col())
                .alias("est"),
                F.col("ex").cast("bigint").alias("exact_count"),
            )
        )
    )
    return rows.select(
        "metric",
        dround(F.col("est"), 4).alias("estimate"),
        "exact_count",
        F.when(F.col("exact_count") == 0, F.lit(0))
        .otherwise(
            F.floor(
                F.abs(F.col("est") - F.col("exact_count")) * 1000000.0
                / F.col("exact_count")
                + 0.5
            )
        )
        .cast("bigint")
        .alias("err_ppm"),
    )
