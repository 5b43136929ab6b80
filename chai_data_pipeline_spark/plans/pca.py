"""Hash-checked PCA power iteration over the embeddings table.

Dominant principal direction of X^T X in 3 power-iteration supersteps —
the dimensionality-reduction / drift-monitoring primitive an embedding
pipeline runs (and the core of spectral initialization for IVF/PQ
codebooks). Joins the checked-twin family (MinHash/SimHash/LSH/IVF/PQ/
k-means/HLL/CMS) as its only ITERATIVE float member besides k-means —
and unlike k-means it is fully value-hash-checked against DuckDB.

The determinism protocol per iteration (same discipline as
pagerank_trade_graph, extended to vectors):

1. embeddings quantize ONCE to exact ×2^20 BIGINTs (the
   embedding_norm_outliers quantization);
2. c_i = Σ_j xq_ij·v_j is exact BIGINT (v is a ×1e6 unit vector);
3. w_j = Σ_i c_i·xq_ij is exact wide-integer (DECIMAL(38,0) on Spark,
   HUGEINT in DuckDB — same exact value, one correctly-rounded cast to
   double at the end);
4. renormalization never sums raw doubles: components rescale by the
   order-independent MAX(|m|), quantize to ×1e6 ints, take an exact
   integer sum of squares, and divide by one sqrt.

Every cross-row reduction is therefore integer (order- and
partitioning-independent); every float op is a per-row identical IEEE
expression. A 1000-executor run reproduces the component bit-for-bit.

Reference analog: none — LLM-pipeline embedding extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_tables
from .registry import query
from ..functions import qround, sql_qround

_PCA_DIM = 64
_PCA_ITERS = 3


def _sql_iter(t: int) -> str:
    p = t - 1
    return f"""
c{t} AS (
    SELECT x.vec_id, CAST(SUM(x.xq * v.v) AS BIGINT) AS c
    FROM x JOIN v{p} v USING (dim) GROUP BY 1
),
w{t} AS (
    SELECT x.dim, CAST(SUM(CAST(c.c AS HUGEINT) * x.xq) AS DOUBLE) AS m
    FROM x JOIN c{t} c USING (vec_id) GROUP BY 1
),
s{t} AS (SELECT MAX(ABS(m)) AS mmax FROM w{t}),
q{t} AS (
    SELECT w.dim, {sql_qround('w.m / s.mmax', 6)} AS mq
    FROM w{t} w CROSS JOIN s{t} s
),
n{t} AS (SELECT sqrt(CAST(SUM(mq * mq) AS DOUBLE)) AS nrm FROM q{t}),
v{t} AS (
    SELECT q.dim, {sql_qround('q.mq / n.nrm', 6)} AS v
    FROM q{t} q CROSS JOIN n{t} n
)"""


@query(
    "pca_power_iteration_checked",
    oracle=f"""
WITH x AS (
    SELECT vec_id, j.i AS dim,
           CAST(FLOOR(CAST(embedding[j.i + 1] AS DOUBLE) * 1048576)
                AS BIGINT) AS xq
    FROM embeddings
    CROSS JOIN (SELECT unnest(range(0, {_PCA_DIM})) AS i) j
),
v0 AS (
    SELECT unnest(range(0, {_PCA_DIM})) AS dim,
           CAST(1000000 AS BIGINT) AS v
),
{_sql_iter(1)},
{_sql_iter(2)},
{_sql_iter(3)}
SELECT dim, v AS component_micro,
       CAST(v AS DOUBLE) / 1000000.0 AS component
FROM v{_PCA_ITERS}
""",
)
def pca_power_iteration_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction via 3 exact-fixed-point power iterations.

    The contract is "exactly 3 power-iteration steps from the all-ones
    start", which both engines reproduce bit-for-bit; closeness to the
    true eigenvector converges as (λ2/λ1)^t, so on spectrally-flat data
    (like this isotropic synthetic set) more iterations are needed —
    raise _PCA_ITERS, cost is linear supersteps, state stays d-sized.

    Scale: the (vec_id, dim, xq) table is the only row-cardinality
    data; each superstep is one broadcast of the 64-row vector, a
    map-side-combinable per-row dot product, and a (dim)-grain integer
    aggregation — the same shuffle shape as embedding k-means, with
    driver/broadcast state never exceeding the d-row vector. More
    iterations = more supersteps, not more state.
    """
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    # materialized once (localCheckpoint — cleaner-freed, unlike a
    # persist with no unpersist point): every power-iteration step
    # reads x TWICE (the v-dot and the re-projection), so t iterations
    # would otherwise re-decode and re-explode the parquet 2t times
    x = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "xv")
    ).select(
        "vec_id",
        F.col("dim").cast("bigint").alias("dim"),
        F.floor(F.col("xv").cast("double") * 1048576).cast("bigint").alias("xq"),
    ).localCheckpoint(eager=True)
    v = spark.range(_PCA_DIM).select(
        F.col("id").alias("dim"), F.lit(1000000).cast("bigint").alias("v")
    )
    for _ in range(_PCA_ITERS):
        c = (
            x.join(F.broadcast(v), "dim")
            .groupBy("vec_id")
            .agg(F.sum(F.col("xq") * F.col("v")).alias("c"))
        )
        w = (
            x.join(c, "vec_id")
            .groupBy("dim")
            .agg(
                F.sum(F.col("c").cast("decimal(38,0)") * F.col("xq"))
                .cast("double")
                .alias("m")
            )
        )
        s = w.agg(F.max(F.abs(F.col("m"))).alias("mmax"))
        q = w.crossJoin(F.broadcast(s)).select(
            "dim",
            qround(F.col("m") / F.col("mmax"), 6)
            .alias("mq"),
        )
        n = q.agg(
            F.sqrt(F.sum(F.col("mq") * F.col("mq")).cast("double")).alias("nrm")
        )
        v = q.crossJoin(F.broadcast(n)).select(
            "dim",
            qround(F.col("mq") / F.col("nrm"), 6)
            .alias("v"),
        )
    return v.select(
        "dim",
        F.col("v").alias("component_micro"),
        (F.col("v").cast("double") / 1000000.0).alias("component"),
    )
