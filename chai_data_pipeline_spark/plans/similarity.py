"""Embedding similarity-search queries (LLM-pipeline core ops).

- brute-force cosine top-k against one query vector (oracle-checked,
  bit-exact: both engines fold the dot product in index order)
- exact KNN join for a capped query set (oracle-checked)
- LSH-bucketed approximate top-k (rows-only: xxhash64-based hyperplanes)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import dround, qround, sql_dround, sql_qround
from ..operators.similarity import (
    ann_topk_lsh,
    brute_force_topk,
    cosine_sql_duckdb,
    cosine_sql_spark,
)
from ..session import load_tables, parquet_footer
from .registry import query

DIM = 64

# --------------------------------------------------------------------------
# Brute-force cosine top-k vs the vec_id=0 query vector
# --------------------------------------------------------------------------


@query(
    "similarity_cosine_topk",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
    SELECT vec_id,
           {sql_dround(cosine_sql_duckdb('embedding', 'qv', DIM), 6)} AS cosine
    FROM embeddings CROSS JOIN q
), ranked AS (
    SELECT vec_id, cosine,
           ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS rank
    FROM scored
)
SELECT vec_id, cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 10
""",
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    qdf = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    return brute_force_topk(emb, qdf, k=10)


# --------------------------------------------------------------------------
# Exact KNN join: top-1 neighbor for each of the first 50 vectors.
# Quadratic step capped on the query side; the full-scale answer is the
# LSH plan below.
# --------------------------------------------------------------------------


@query(
    "similarity_knn_join",
    oracle=f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 50),
scored AS (
    SELECT qid, vec_id AS neighbor_id,
           {sql_dround(cosine_sql_duckdb('embedding', 'qv', DIM), 6)} AS cosine
    FROM embeddings CROSS JOIN q
    WHERE vec_id <> qid
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY qid ORDER BY cosine DESC, neighbor_id
    ) AS rn
    FROM scored
)
SELECT qid, neighbor_id, cosine FROM ranked WHERE rn = 1
""",
)
def similarity_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import dot_sql_spark

    # r13: 64-dim folds x 50 queries per corpus row dominate; split
    # measured 1.32->0.62 s (guide §2.5)
    emb = load_tables(spark, sf_dir, "embeddings", split=("embeddings",))[
        "embeddings"
    ]
    # hoist each side's norm to a per-ROW column before the crossJoin:
    # the naive per-pair cosine folds three 64-dim dot products in the
    # INTERPRETED higher-order-function path — precomputing norms cuts
    # that to one fold per pair, bit-identically (same ops, same order:
    # dot / (sqrt(aa) * sqrt(bb)))
    base = emb.withColumn(
        "__n", F.expr(f"sqrt({dot_sql_spark('embedding', 'embedding')})")
    )
    q = base.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("__n").alias("__qn"),
    )
    scored = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("neighbor_id"),
            dround(
                F.expr(dot_sql_spark("embedding", "qv"))
                / (F.col("__n") * F.col("__qn")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("qid", "neighbor_id", "cosine")
    )


# --------------------------------------------------------------------------
# LSH-bucketed approximate top-k (the 100 TB path; rows-only check)
# --------------------------------------------------------------------------


@query("similarity_ann_lsh")
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    qdf = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    return ann_topk_lsh(emb, qdf, k=10, dim=DIM)


# --------------------------------------------------------------------------
# IVF-bucketed approximate top-k (coarse quantize → probe nearest
# inverted lists; the other 100 TB path besides LSH; rows-only check,
# recall covered by the agreement unit test)
# --------------------------------------------------------------------------


def _ivf_arrow_auto(sf_dir: str, threshold: int = 10_000) -> bool:
    """Volume switch for the rows-only IVF path (r14, VERDICT item 6).

    The Arrow/numpy form pays a ~0.8 s FIXED cost (codebook + query
    collect jobs, Python worker spin-up) and then scales almost flat,
    while the interpreted fold form is cheap to start but linear in
    vectors×centroids: measured min-of-3 interleaved at 2k vectors
    (sf0.1) fold 0.62 s vs arrow 1.43 s, at 20k vectors (sf1) fold
    3.55 s vs arrow 1.31 s (plans/r14/ab_ivf_arrow.json) — crossover
    ≈7k. Below the threshold the fold form wins and the local bench is
    unchanged by construction; above it the matmul form wins and keeps
    widening (the adaptive_state_partitions posture: derive from data
    volume, never from the local harness). An unreadable footer keeps
    the fold form."""
    meta = parquet_footer(os.path.join(sf_dir, "embeddings.parquet"))
    return meta is not None and meta[0] >= threshold


@query("similarity_ann_ivf")
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ann_topk_ivf

    # r13: in-row codebook argmax dominates; split measured 1.04->0.61 s
    emb = load_tables(spark, sf_dir, "embeddings", split=("embeddings",))[
        "embeddings"
    ]
    qdf = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    # r14: above ~10k vectors the per-row 16-centroid assignment moves
    # from the interpreted fold evaluator to one numpy matmul per Arrow
    # batch (see _ivf_arrow_auto for the measured crossover). Proven
    # row-identical to the fold form at sf0.001/0.01/0.1/sf1 — 0
    # assignment flips over 23k vectors (plans/r14/ab_ivf_arrow.json);
    # the hash-checked twin similarity_ann_ivf_checked keeps the fold
    # form because SIMD summation order has no DuckDB twin.
    return ann_topk_ivf(emb, qdf, k=10, arrow=_ivf_arrow_auto(sf_dir))


# --------------------------------------------------------------------------
# Per-label centroids — distributed vector averaging. The scalable
# layout: posexplode to (label, dim, val) so each dimension's sum is an
# independent aggregation key (no giant per-group vector state, shuffle
# carries (label × dim) partials). Cross-row float sums are order-
# dependent, so values are fixed-point quantized first: floor(x·2²⁰)
# is an exact IEEE op (power-of-two scale = exponent shift) and the
# resulting integer sum is associative — bit-identical on any engine
# and any partitioning. Centroids come out at 2⁻²⁰ resolution, far
# below float32's own noise floor for unit-scale embeddings.
# --------------------------------------------------------------------------


@query(
    "embedding_centroids",
    oracle="""
WITH flat AS (
    SELECT label,
           unnest(range(len(embedding))) AS dim,
           unnest(embedding) AS val
    FROM embeddings
)
SELECT label, CAST(dim AS INTEGER) AS dim,
       (CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * 1048576) AS BIGINT)) AS DOUBLE)
        / (1048576.0 * COUNT(*))) AS centroid,
       COUNT(*) AS n_vectors
FROM flat
GROUP BY label, dim
""",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    flat = emb.select(
        "label", F.posexplode("embedding").alias("dim", "val")
    )
    q = F.floor(F.col("val").cast("double") * 1048576).cast("long")
    return flat.groupBy("label", "dim").agg(
        (F.sum(q).cast("double") / (1048576.0 * F.count("*"))).alias(
            "centroid"
        ),
        F.count("*").alias("n_vectors"),
    )


# --------------------------------------------------------------------------
# K-means codebook training (Lloyd's) + cluster summary — the
# production IVF codebook path (ivf_assign's first-k init is the
# stand-in it names). Rows-only: the iterative trainer has no tractable
# SQL oracle; determinism and recovery are pinned by unit tests
# (tests/test_operators.py: blob recovery, run-to-run identity).
# iters=3 (r11, was 5): the per-iteration cost is Spark JOB overhead
# (one assignment + one k×dim partial-sum shuffle each), not data
# volume, so the benched entry trains the canonical short schedule; the
# unit tests train their own 5-iteration fits on planted blobs, and
# embedding_kmeans_checked pins the fit algebra under the DuckDB
# oracle independently of the iteration count here.
# --------------------------------------------------------------------------


@query("embedding_kmeans")
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import kmeans_fit, kmeans_summary

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    codebook = kmeans_fit(emb, k=8, iters=3)
    return kmeans_summary(emb, codebook)


# --------------------------------------------------------------------------
# Hash-checked ANN: the LSH hyperplanes are plan-time literals, so an
# expression-fold signature variant can embed the SAME literals in the
# DuckDB oracle — both engines compute bit-identical signs, making the
# full ANN pipeline (bucketing → candidate join → exact-cosine top-k)
# hash-checkable end to end. The numpy-matmul variant above stays as
# the fast production path (SIMD summation order is not reproducible
# in SQL); this one puts ANN under the differential oracle.
# --------------------------------------------------------------------------


def _ann_checked_oracle() -> str:
    from ..operators.similarity import lsh_signature_exprs

    _, d_corpus = lsh_signature_exprs("embedding")
    _, d_query = lsh_signature_exprs("qv")
    cos = sql_dround(cosine_sql_duckdb("embedding", "qv", DIM), 6)
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qsig AS (
    SELECT unnest([{", ".join(d_query)}]) AS signature,
           unnest([0, 1]) AS table_id
    FROM q
),
bsig AS (
    SELECT vec_id,
           unnest([{", ".join(d_corpus)}]) AS signature,
           unnest([0, 1]) AS table_id
    FROM embeddings
),
cands AS (
    SELECT DISTINCT b.vec_id
    FROM bsig b JOIN qsig s
      ON b.table_id = s.table_id AND b.signature = s.signature
),
scored AS (
    SELECT e.vec_id, {cos} AS cosine
    FROM cands c JOIN embeddings e ON c.vec_id = e.vec_id CROSS JOIN q
),
ranked AS (
    SELECT vec_id, cosine,
           ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS rank
    FROM scored
)
SELECT vec_id, cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 10
"""


@query("similarity_ann_lsh_checked", oracle=_ann_checked_oracle())
def similarity_ann_lsh_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ann_topk_lsh_checked

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    qdf = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    return ann_topk_lsh_checked(emb, qdf, k=10, dim=DIM)


# --------------------------------------------------------------------------
# Hash-checked IVF ANN: ann_topk_ivf is ALREADY fully deterministic and
# expression-based (first-k codebook, sequential-fold cosine, explicit
# tiebreaks) — it just never had an oracle. This twin runs the SAME
# Spark plan under a DuckDB oracle that reproduces codebook selection,
# nearest-centroid assignment (ties to the lowest centroid id), the
# n_probe nearest inverted lists, and the exact-cosine top-k —
# bit-identical arithmetic throughout (same left-fold dot products).
# --------------------------------------------------------------------------

_IVF_CENTS = 16
_IVF_PROBE = 4


def _ivf_checked_oracle() -> str:
    assign_cos = cosine_sql_duckdb("e.embedding", "c.centroid_vec", DIM)
    probe_cos = cosine_sql_duckdb("centroid_vec", "qv", DIM)
    final_cos = cosine_sql_duckdb("embedding", "qv", DIM)
    return f"""
WITH cents AS (
    SELECT vec_id AS centroid_id, embedding AS centroid_vec
    FROM embeddings ORDER BY vec_id LIMIT {_IVF_CENTS}
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
assigned AS (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {assign_cos} DESC, c.centroid_id ASC
           ) AS rn
    FROM embeddings e CROSS JOIN cents c
),
probe AS (
    SELECT centroid_id
    FROM cents CROSS JOIN q
    ORDER BY {probe_cos} DESC, centroid_id ASC
    LIMIT {_IVF_PROBE}
),
cands AS (
    SELECT a.vec_id, a.embedding
    FROM assigned a JOIN probe p USING (centroid_id)
    WHERE a.rn = 1
),
scored AS (
    SELECT vec_id, {sql_dround(final_cos, 6)} AS cosine
    FROM cands CROSS JOIN q
),
ranked AS (
    SELECT vec_id, cosine,
           ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS rank
    FROM scored
)
SELECT vec_id, cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 10
"""


@query("similarity_ann_ivf_checked", oracle=_ivf_checked_oracle())
def similarity_ann_ivf_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ann_topk_ivf

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    qdf = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    return ann_topk_ivf(
        emb, qdf, k=10, n_centroids=_IVF_CENTS, n_probe=_IVF_PROBE
    )


# --------------------------------------------------------------------------
# Hash-checked k-means: ONE assign+summary pass against the
# deterministic INIT codebook (the k lowest-id vectors — exactly
# kmeans_fit(iters=0)). The iterative trainer stays rows-only
# (embedding_kmeans); this twin puts the assignment arithmetic, the
# lowest-id tiebreak, and the fixed-point mean-similarity reduction
# under the DuckDB differential oracle. The codebook literals are
# collected float32 values (exact in double), and the centroid-norm
# literal is a Python sequential fold — the same left-to-right IEEE
# accumulation both engines' folds perform, so sims are bit-identical.
# --------------------------------------------------------------------------

_KM_K = 8
_KM_Q = 1 << 20


def _kmeans_checked_oracle() -> str:
    cos = cosine_sql_duckdb("e.embedding", "c.cvec", DIM)
    return f"""
WITH cents AS (
    SELECT embedding AS cvec,
           ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster_id
    FROM embeddings ORDER BY vec_id LIMIT {_KM_K}
),
assigned AS (
    SELECT e.vec_id, c.cluster_id, {cos} AS sim,
           ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {cos} DESC, c.cluster_id ASC
           ) AS rn
    FROM embeddings e CROSS JOIN cents c
)
SELECT CAST(cluster_id AS INTEGER) AS cluster_id,
       COUNT(*) AS n_members,
       {sql_dround(
           'CAST(SUM(CAST(FLOOR(sim * ' + str(_KM_Q) + ') AS BIGINT)) AS DOUBLE)'
           ' / (' + str(float(_KM_Q)) + ' * COUNT(*))', 4)} AS mean_sim
FROM assigned WHERE rn = 1
GROUP BY cluster_id
"""


@query("embedding_kmeans_checked", oracle=_kmeans_checked_oracle())
def embedding_kmeans_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import kmeans_fit, kmeans_summary

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    codebook = kmeans_fit(emb, k=_KM_K, iters=0)
    return kmeans_summary(emb, codebook)


# --------------------------------------------------------------------------
# Product quantization ANN (the IVF-PQ compression path): map-only
# encode against per-subspace codebooks, asymmetric-distance top-k via
# an M×K lookup table. Codebooks are the deterministic first-k init
# (kmeans_fit iters=0 posture, per subspace), so the WHOLE pipeline —
# codebook derivation → per-subspace nearest-centroid codes (ties to
# lowest id) → LUT scoring → top-k — is reproduced in the DuckDB
# oracle with identical left-fold arithmetic. Production trains the
# sub-codebooks with kmeans_fit instead; encode/score plans are
# identical. Scale: codes are M small ints per vector (32× compression
# at M=8 vs 64 float32), encode and scoring are map-only, the finisher
# is TakeOrdered — zero shuffles in the hot path.
# --------------------------------------------------------------------------

_PQ_M = 8  # subspaces (64-dim -> 8 dims each)
_PQ_K = 16  # sub-centroids per subspace
_PQ_SUB = DIM // _PQ_M


def _pq_checked_oracle() -> str:
    sq = (
        "list_sum(list_transform(range(1, {n} + 1), "
        "i -> (({a}[i]) - ({b}[i])) * (({a}[i]) - ({b}[i]))))"
    )
    sub_slice = (
        "list_transform(list_slice({v}, m.m * {s} + 1, m.m * {s} + {s}), "
        "x -> CAST(x AS DOUBLE))"
    ).format(v="{v}", s=_PQ_SUB)
    return f"""
WITH ms AS (SELECT unnest(range(0, {_PQ_M})) AS m),
cents AS (
    SELECT embedding AS cvec,
           ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
    FROM embeddings ORDER BY vec_id LIMIT {_PQ_K}
),
csub AS (
    SELECT cid, m.m AS m, {sub_slice.format(v='cvec')} AS c
    FROM cents, ms m
),
vsub AS (
    SELECT vec_id, m.m AS m, {sub_slice.format(v='embedding')} AS v
    FROM embeddings, ms m
),
dists AS (
    SELECT vec_id, s.m, c.cid,
           {sq.format(n=_PQ_SUB, a='s.v', b='c.c')} AS d
    FROM vsub s JOIN csub c ON s.m = c.m
),
codes AS (
    SELECT vec_id, m, cid AS code
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY vec_id, m ORDER BY d ASC, cid ASC) AS rn
          FROM dists)
    WHERE rn = 1
),
qsub AS (
    SELECT m.m AS m, {sub_slice.format(v='embedding')} AS v
    FROM embeddings, ms m WHERE vec_id = 0
),
qlut AS (
    SELECT c.m, c.cid, {sq.format(n=_PQ_SUB, a='q.v', b='c.c')} AS d
    FROM csub c JOIN qsub q ON c.m = q.m
),
tot AS (
    SELECT codes.vec_id,
           {sql_dround('list_sum(list(qlut.d ORDER BY codes.m))', 6)}
               AS approx_dist
    FROM codes JOIN qlut ON qlut.m = codes.m AND qlut.cid = codes.code
    GROUP BY codes.vec_id
),
ranked AS (
    SELECT vec_id, approx_dist,
           ROW_NUMBER() OVER (ORDER BY approx_dist ASC, vec_id) AS rank
    FROM tot
)
SELECT vec_id, approx_dist, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 10
"""


@query("similarity_ann_pq_checked", oracle=_pq_checked_oracle())
def similarity_ann_pq_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pq_codebooks, pq_topk

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    codebooks = pq_codebooks(emb, _PQ_M, _PQ_K)
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select("embedding")
        .collect()[0][0]
    ]
    return pq_topk(emb, codebooks, qv, k=10)


# --------------------------------------------------------------------------
# Centroid drift: pairwise squared-L2 distance between label centroids
# — the embedding-space separation monitor (labels collapsing toward
# each other = representation drift / training-data contamination
# between classes). Centroid sums ride the SAME ×2^20 exact float32
# quantization as embedding_centroids, so each centroid coordinate is
# identical on both engines; per-dim squared-diff terms are
# dround(12)-snapped and decimal-summed (numeric.py rule) so the
# dim-reduction is order-independent.
# --------------------------------------------------------------------------


@query(
    "embedding_centroid_drift",
    oracle=f"""
WITH flat AS (
    SELECT label, UNNEST(embedding) AS val,
           generate_subscripts(embedding, 1) - 1 AS dim
    FROM embeddings
),
cent AS (
    SELECT label, dim,
           (CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * 1048576) AS BIGINT))
                 AS DOUBLE) / (1048576.0 * COUNT(*))) AS c
    FROM flat GROUP BY 1, 2
),
terms AS (
    SELECT a.label AS label_a, b.label AS label_b,
           {sql_dround('(a.c - b.c) * (a.c - b.c)', 12)} AS t
    FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
)
SELECT label_a, label_b,
       COUNT(*) AS n_dims,
       {sql_dround('CAST(CAST(SUM(CAST(t AS DECIMAL(27,12))) AS VARCHAR) AS DOUBLE)', 8)} AS dist_sq
FROM terms
GROUP BY 1, 2
""",
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise label-centroid squared distances (exact cross-engine).

    Everything heavy is the (label, dim) centroid aggregate — the
    pair join runs over labels×dims rows (model-sized). At 100 TB the
    only full-scan stage is the posexplode + quantized partial sum.
    """
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    flat = emb.select("label", F.posexplode("embedding").alias("dim", "val"))
    q = F.floor(F.col("val").cast("double") * 1048576).cast("long")
    cent = flat.groupBy("label", "dim").agg(
        (F.sum(q).cast("double") / (1048576.0 * F.count("*"))).alias("c")
    )
    a = cent.alias("a")
    b = cent.alias("b")
    diff = F.col("a.c") - F.col("b.c")
    term = dround(diff * diff, 12)
    pairs = a.join(
        b,
        (F.col("a.dim") == F.col("b.dim"))
        & (F.col("a.label") < F.col("b.label")),
    ).select(
        F.col("a.label").alias("label_a"),
        F.col("b.label").alias("label_b"),
        term.alias("t"),
    )
    return pairs.groupBy("label_a", "label_b").agg(
        F.count("*").alias("n_dims"),
        dround(
                F.sum(F.col("t").cast("decimal(27,12)")).cast("double"), 8
            ).alias("dist_sq"),
    )


# --------------------------------------------------------------------------
# Embedding norm hygiene: per-label squared-norm profile + outlier
# counts. Degenerate vectors (near-zero or exploded norms) poison
# cosine similarity and k-means alike — this is the screen run before
# any embedding op. Norms ride the ×2^20 exact quantization: each
# vector's squared norm is an exact BIGINT, so every statistic except
# the two medians is integer arithmetic.
# --------------------------------------------------------------------------


@query(
    "embedding_norm_outliers",
    oracle="""
WITH norms AS (
    SELECT label,
           list_sum(list_transform(
               embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576) AS BIGINT)
                    * CAST(FLOOR(CAST(x AS DOUBLE) * 1048576) AS BIGINT)
           )) AS nsq
    FROM embeddings
),
stats AS (
    SELECT label, median(nsq) AS med FROM norms GROUP BY 1
)
SELECT n.label,
       COUNT(*) AS n_vectors,
       CAST(MIN(n.nsq) AS BIGINT) AS min_nsq,
       CAST(MAX(n.nsq) AS BIGINT) AS max_nsq,
       COUNT(*) FILTER (WHERE n.nsq > 3 * s.med) AS n_high_outliers,
       COUNT(*) FILTER (WHERE n.nsq * 3 < s.med) AS n_low_outliers
FROM norms n JOIN stats s USING (label)
GROUP BY 1
""",
)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    q = (
        "aggregate(transform(embedding, x -> "
        "CAST(FLOOR(CAST(x AS DOUBLE) * 1048576) AS BIGINT)"
        " * CAST(FLOOR(CAST(x AS DOUBLE) * 1048576) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    norms = emb.select("label", F.expr(q).alias("nsq"))
    stats = norms.groupBy("label").agg(F.median("nsq").alias("med"))
    j = norms.join(F.broadcast(stats), "label")
    return j.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.min("nsq").alias("min_nsq"),
        F.max("nsq").alias("max_nsq"),
        F.count_if(F.col("nsq") > 3 * F.col("med")).alias(
            "n_high_outliers"
        ),
        F.count_if(F.col("nsq") * 3 < F.col("med")).alias(
            "n_low_outliers"
        ),
    )


# --------------------------------------------------------------------------
# Contrastive training-pair mining: for a hash-sampled query set, the
# top same-label neighbors (positives) and top DIFFERENT-label
# neighbors (hard negatives — the pairs that actually teach a
# contrastive embedding model). Dot products ride the ×2^20 exact
# integer quantization, so candidate scoring is order-independent and
# the ranking floats are identical single expressions.
# --------------------------------------------------------------------------

from .training import hash_bucket, sql_hash_bucket  # noqa: E402

_MINE_TOPK = 3
_MINE_PCT = 2  # query sample: sha256 bucket < 2 of 100


@query(
    "hard_negative_mining",
    oracle=f"""
WITH q AS (
    SELECT vec_id AS q_id, label AS q_label,
           list_transform(range(1, 65), i ->
               CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1048576)
                    AS BIGINT)) AS qa
    FROM embeddings
    WHERE {sql_hash_bucket('vec_id')} < {_MINE_PCT}
),
c AS (
    SELECT vec_id AS c_id, label AS c_label,
           list_transform(range(1, 65), i ->
               CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1048576)
                    AS BIGINT)) AS ca
    FROM embeddings
),
scored AS (
    SELECT q.q_id, c.c_id,
           CASE WHEN q.q_label = c.c_label
                THEN 'positive' ELSE 'hard_negative' END AS kind,
           CAST(list_sum(list_transform(range(1, 65),
                i -> q.qa[i] * c.ca[i])) AS DOUBLE)
           / (sqrt(CAST(list_sum(list_transform(range(1, 65),
                  i -> q.qa[i] * q.qa[i])) AS DOUBLE))
              * sqrt(CAST(list_sum(list_transform(range(1, 65),
                  i -> c.ca[i] * c.ca[i])) AS DOUBLE))) AS cos
    FROM q CROSS JOIN c
    WHERE q.q_id <> c.c_id
),
ranked AS (
    SELECT q_id, c_id, kind, cos,
           ROW_NUMBER() OVER (
               PARTITION BY q_id, kind ORDER BY cos DESC, c_id
           ) AS rnk
    FROM scored
)
SELECT q_id, kind, rnk, c_id AS neighbor_id,
       {sql_dround('cos', 6)} AS cosine
FROM ranked WHERE rnk <= {_MINE_TOPK}
""",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 positives and hard negatives per sampled query vector.

    Scale: the query side is a sha256-sampled sliver (broadcast); the
    candidate scan is one map-only pass computing exact-integer dots
    via zip_with — no shuffle until the per-(query, kind) top-k window
    over |Q|-bounded groups. At corpus scale the candidate pass swaps
    to the IVF/LSH candidate generators (same scoring expression) —
    this is the mining loop behind every contrastive-embedding
    training set.
    """
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    quant = F.expr(
        "transform(embedding, x ->"
        " CAST(FLOOR(CAST(x AS DOUBLE) * 1048576) AS BIGINT))"
    )
    q = emb.filter(hash_bucket("vec_id") < _MINE_PCT).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        quant.alias("qa"),
    )
    c = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("label").alias("c_label"),
        quant.alias("ca"),
    )
    dot = F.expr(
        "aggregate(zip_with(qa, ca, (a, b) -> a * b),"
        " CAST(0 AS BIGINT), (s, x) -> s + x)"
    )
    nq = F.sqrt(
        F.expr(
            "aggregate(transform(qa, a -> a * a),"
            " CAST(0 AS BIGINT), (s, x) -> s + x)"
        ).cast("double")
    )
    nc = F.sqrt(
        F.expr(
            "aggregate(transform(ca, a -> a * a),"
            " CAST(0 AS BIGINT), (s, x) -> s + x)"
        ).cast("double")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            F.when(F.col("q_label") == F.col("c_label"), "positive")
            .otherwise("hard_negative")
            .alias("kind"),
            (dot.cast("double") / (nq * nc)).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id", "kind").orderBy(F.desc("cos"), "c_id")
    return (
        scored.select("q_id", "c_id", "kind", "cos", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= _MINE_TOPK)
        .select(
            "q_id",
            "kind",
            "rnk",
            F.col("c_id").alias("neighbor_id"),
            dround("cos", 6).alias("cosine"),
        )
    )


# --------------------------------------------------------------------------
# Retrieval-quality evaluation: NDCG@10 of exact-cosine ranking with
# same-label relevance, per sampled query. The log2 position discounts
# are PYTHON-precomputed ×1e6 integers injected into both engines as
# literals, so DCG/IDCG are pure integer sums — the only runtime float
# is the final ratio. Complements lsh_recall_audit (candidate recall)
# with the ranking-quality metric.
# --------------------------------------------------------------------------

import math as _math  # noqa: E402

_NDCG_K = 10
_NDCG_GAINS = [
    int(_math.floor(1_000_000 / _math.log2(i + 1) + 0.5))
    for i in range(1, _NDCG_K + 1)
]
_NDCG_PREFIX = [sum(_NDCG_GAINS[: k + 1]) for k in range(_NDCG_K)]

_GAIN_CASE = "CASE rnk " + " ".join(
    f"WHEN {i + 1} THEN {g}" for i, g in enumerate(_NDCG_GAINS)
) + " END"
_IDCG_CASE = "CASE LEAST(n_rel_total, 10) " + " ".join(
    f"WHEN {k + 1} THEN {p}" for k, p in enumerate(_NDCG_PREFIX)
) + " ELSE 0 END"


@query(
    "retrieval_ndcg_audit",
    oracle=f"""
WITH q AS (
    SELECT vec_id AS q_id, label AS q_label,
           list_transform(range(1, 65), i ->
               CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1048576)
                    AS BIGINT)) AS qa
    FROM embeddings
    WHERE {sql_hash_bucket('vec_id')} < {_MINE_PCT}
),
c AS (
    SELECT vec_id AS c_id, label AS c_label,
           list_transform(range(1, 65), i ->
               CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1048576)
                    AS BIGINT)) AS ca
    FROM embeddings
),
scored AS (
    SELECT q.q_id, q.q_label, c.c_id, c.c_label,
           CAST(list_sum(list_transform(range(1, 65),
                i -> q.qa[i] * c.ca[i])) AS DOUBLE)
           / (sqrt(CAST(list_sum(list_transform(range(1, 65),
                  i -> q.qa[i] * q.qa[i])) AS DOUBLE))
              * sqrt(CAST(list_sum(list_transform(range(1, 65),
                  i -> c.ca[i] * c.ca[i])) AS DOUBLE))) AS cos
    FROM q CROSS JOIN c
    WHERE q.q_id <> c.c_id
),
ranked AS (
    SELECT q_id, q_label, c_label,
           ROW_NUMBER() OVER (
               PARTITION BY q_id ORDER BY cos DESC, c_id
           ) AS rnk
    FROM scored
),
labelcnt AS (
    SELECT label, COUNT(*) AS n_lbl FROM embeddings GROUP BY 1
),
dcg AS (
    SELECT q_id, q_label,
           CAST(COALESCE(SUM(CASE WHEN c_label = q_label
                THEN {_GAIN_CASE} END), 0) AS BIGINT) AS dcg_micro
    FROM ranked WHERE rnk <= {_NDCG_K}
    GROUP BY 1, 2
)
SELECT d.q_id, d.q_label,
       CAST(LEAST(l.n_lbl - 1, 10) AS BIGINT) AS n_rel_total,
       d.dcg_micro,
       CAST((SELECT {_IDCG_CASE} FROM (SELECT l.n_lbl - 1 AS n_rel_total))
            AS BIGINT) AS idcg_micro,
       {sql_dround(
           f"d.dcg_micro * 1.0 / (SELECT {_IDCG_CASE} "
           "FROM (SELECT l.n_lbl - 1 AS n_rel_total))", 6)} AS ndcg
FROM dcg d JOIN labelcnt l ON l.label = d.q_label
""",
)
def retrieval_ndcg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of exact-cosine retrieval under same-label relevance.

    Scale: same broadcast-sliver × map-only candidate pass as
    hard_negative_mining; the metric itself is integer sums of
    injected positional constants over |Q|-bounded groups. This is the
    eval loop you run after swapping the exact scorer for IVF/LSH —
    recall (lsh_recall_audit) says what survived candidate
    generation, NDCG says whether ordering quality held.
    """
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    quant = F.expr(
        "transform(embedding, x ->"
        " CAST(FLOOR(CAST(x AS DOUBLE) * 1048576) AS BIGINT))"
    )
    q = emb.filter(hash_bucket("vec_id") < _MINE_PCT).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        quant.alias("qa"),
    )
    c = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("label").alias("c_label"),
        quant.alias("ca"),
    )
    dot = F.expr(
        "aggregate(zip_with(qa, ca, (a, b) -> a * b),"
        " CAST(0 AS BIGINT), (s, x) -> s + x)"
    )
    nq = F.sqrt(
        F.expr(
            "aggregate(transform(qa, a -> a * a),"
            " CAST(0 AS BIGINT), (s, x) -> s + x)"
        ).cast("double")
    )
    nc = F.sqrt(
        F.expr(
            "aggregate(transform(ca, a -> a * a),"
            " CAST(0 AS BIGINT), (s, x) -> s + x)"
        ).cast("double")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "q_label",
            "c_id",
            "c_label",
            (dot.cast("double") / (nq * nc)).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "c_id")
    ranked = scored.select(
        "q_id", "q_label", "c_label", F.row_number().over(w).alias("rnk")
    ).filter(F.col("rnk") <= _NDCG_K)
    gain = F.expr(_GAIN_CASE)
    dcg = ranked.groupBy("q_id", "q_label").agg(
        F.coalesce(
            F.sum(F.when(F.col("c_label") == F.col("q_label"), gain)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("dcg_micro")
    )
    labelcnt = emb.groupBy(F.col("label")).agg(F.count("*").alias("n_lbl"))
    joined = dcg.join(
        F.broadcast(labelcnt), dcg.q_label == F.col("label")
    ).withColumn("n_rel_total", F.col("n_lbl") - 1)
    idcg = F.expr(_IDCG_CASE)
    return joined.select(
        "q_id",
        "q_label",
        F.least(F.col("n_lbl") - 1, F.lit(10)).cast("bigint").alias(
            "n_rel_total"
        ),
        "dcg_micro",
        idcg.cast("bigint").alias("idcg_micro"),
        dround(F.col("dcg_micro") * 1.0 / idcg, 6).alias("ndcg"),
    )


# --------------------------------------------------------------------------
# PQ reconstruction-error audit: how much of each label's signal the
# 32× product-quantization compression destroys. Per subspace the
# reconstruction error IS the min distance to the codebook (a numeric
# MIN — order-independent, no argmax tiebreak even needed); per-vector
# totals fold the 8 subspace minima in fixed m-order, quantize ×1e6,
# and aggregate exactly per label. Pairs with
# similarity_ann_pq_checked (ranking fidelity) by measuring the other
# failure mode: representation fidelity.
# --------------------------------------------------------------------------


def _pq_recon_oracle() -> str:
    sq = (
        "list_sum(list_transform(range(1, {n} + 1), "
        "i -> (({a}[i]) - ({b}[i])) * (({a}[i]) - ({b}[i]))))"
    )
    sub_slice = (
        "list_transform(list_slice({v}, m.m * {s} + 1, m.m * {s} + {s}), "
        "x -> CAST(x AS DOUBLE))"
    ).format(v="{v}", s=_PQ_SUB)
    return f"""
WITH ms AS (SELECT unnest(range(0, {_PQ_M})) AS m),
cents AS (
    SELECT embedding AS cvec,
           ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
    FROM embeddings ORDER BY vec_id LIMIT {_PQ_K}
),
csub AS (
    SELECT cid, m.m AS m, {sub_slice.format(v='cvec')} AS c
    FROM cents, ms m
),
vsub AS (
    SELECT vec_id, m.m AS m, {sub_slice.format(v='embedding')} AS v
    FROM embeddings, ms m
),
best AS (
    SELECT s.vec_id, s.m,
           MIN({sq.format(n=_PQ_SUB, a='s.v', b='c.c')}) AS dmin
    FROM vsub s JOIN csub c ON s.m = c.m
    GROUP BY 1, 2
),
per_vec AS (
    SELECT vec_id,
           {sql_qround('list_sum(list(dmin ORDER BY m))', 6)} AS rq
    FROM best GROUP BY 1
),
norms AS (
    SELECT vec_id, label,
           {sql_qround(f'list_sum(list_transform(range(1, {DIM} + 1),'
                       ' i -> CAST(embedding[i] AS DOUBLE)'
                       ' * CAST(embedding[i] AS DOUBLE)))', 6)} AS nq
    FROM embeddings
)
SELECT n.label,
       COUNT(*) AS n_vecs,
       CAST(SUM(p.rq) AS BIGINT) * 1.0 / COUNT(*) / 1000000.0
           AS avg_recon_mse,
       CAST(SUM(n.nq) AS BIGINT) * 1.0 / COUNT(*) / 1000000.0
           AS avg_norm_sq,
       {sql_dround(
           'CAST(SUM(p.rq) AS BIGINT) * 1.0 / CAST(SUM(n.nq) AS BIGINT)', 6)}
           AS rel_error
FROM per_vec p JOIN norms n USING (vec_id)
GROUP BY 1
"""


@query("pq_reconstruction_error", oracle=_pq_recon_oracle())
def pq_reconstruction_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label PQ reconstruction MSE, absolute and norm-relative.

    Scale: map-only — each row computes its 8 subspace minima against
    the broadcast codebook literals and folds them in fixed order; the
    only shuffle is the label-grain aggregate of quantized integers.
    The audit that says whether _PQ_K sub-centroids are enough before
    trusting ADC distances at corpus scale.
    """
    from ..operators.similarity import _sq_l2_spark, pq_codebooks

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    codebooks = pq_codebooks(emb, _PQ_M, _PQ_K)
    sub = _PQ_SUB
    dmins = []
    for m, cb in enumerate(codebooks):
        slice_expr = f"slice(embedding, {m * sub + 1}, {sub})"
        arr = ", ".join(_sq_l2_spark(slice_expr, c) for c in cb)
        dmins.append(f"array_min(array({arr}))")
    total = " + ".join(f"({d})" for d in dmins)  # fixed m-order fold
    norm_sq = (
        "aggregate(transform(embedding, x -> cast(x AS double)"
        " * cast(x AS double)), cast(0 AS double), (acc, v) -> acc + v)"
    )
    q = emb.select(
        "label",
        qround(F.expr(total), 6).alias("rq"),
        qround(F.expr(norm_sq), 6).alias("nq"),
    )
    return q.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        (F.sum("rq").cast("bigint") * 1.0 / F.count("*") / 1000000.0).alias(
            "avg_recon_mse"
        ),
        (F.sum("nq").cast("bigint") * 1.0 / F.count("*") / 1000000.0).alias(
            "avg_norm_sq"
        ),
        dround(
            F.sum("rq").cast("bigint") * 1.0 / F.sum("nq").cast("bigint"), 6
        ).alias("rel_error"),
    )


# --------------------------------------------------------------------------
# MMR diversified top-k (maximal marginal relevance): greedy re-rank of
# the cosine top-R so the answer set isn't R copies of the same
# near-duplicate cluster — the standard diversity pass between
# retrieval and a RAG context window. Greedy argmax of
# λ·rel − (1−λ)·max_sim_to_selected with λ=0.7; all scores are exact
# ×1e6 integers scaled ×10 (7·rel − 3·maxsim), so every argmax has a
# total (score, id) order on both engines. Scale: candidate gen is the
# top-R retrieval plan; the greedy loop touches only the R×R candidate
# sim matrix (model-sized — collected like the markov edge list), so
# corpus size never enters the iteration.
# --------------------------------------------------------------------------

_MMR_R = 20
_MMR_K = 5


def _mmr_sql() -> str:
    cos = sql_dround(cosine_sql_duckdb("e.embedding", "q.qv", DIM), 6)
    pcos = sql_dround(cosine_sql_duckdb("a.embedding", "b.embedding", DIM), 6)
    parts = [f"""q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cand0 AS (
    SELECT e.vec_id, {sql_qround(cos, 6)} AS rel
    FROM embeddings e CROSS JOIN q
    WHERE e.embedding IS NOT NULL
    ORDER BY rel DESC, e.vec_id LIMIT {_MMR_R}
),
sims AS (
    SELECT a.vec_id AS ia, b.vec_id AS ib,
           {sql_qround(pcos, 6)} AS sim
    FROM embeddings a
    JOIN cand0 ca ON ca.vec_id = a.vec_id
    JOIN embeddings b ON TRUE
    JOIN cand0 cb ON cb.vec_id = b.vec_id
    WHERE a.vec_id <> b.vec_id
),
sel1 AS (
    SELECT vec_id, 1 AS mmr_rank, rel, 7 * rel AS score
    FROM cand0 ORDER BY rel DESC, vec_id LIMIT 1
)"""]
    union = ["SELECT * FROM sel1"]
    for k in range(2, _MMR_K + 1):
        all_sel = " UNION ALL ".join(
            f"SELECT vec_id FROM sel{j}" for j in range(1, k)
        )
        parts.append(f"""sel{k} AS (
    SELECT c.vec_id, {k} AS mmr_rank, c.rel,
           7 * c.rel - 3 * MAX(s.sim) AS score
    FROM cand0 c
    JOIN sims s ON s.ia = c.vec_id
     AND s.ib IN ({all_sel})
    WHERE c.vec_id NOT IN ({all_sel})
    GROUP BY c.vec_id, c.rel
    ORDER BY score DESC, c.vec_id LIMIT 1
)""")
        union.append(f"SELECT * FROM sel{k}")
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT CAST(mmr_rank AS INTEGER) AS mmr_rank, vec_id,\n"
        + "       CAST(rel AS DOUBLE) / 1000000.0 AS relevance,\n"
        + "       CAST(score AS DOUBLE) / 10000000.0 AS mmr_score\n"
        + "FROM (" + " UNION ALL ".join(union) + ")"
    )


@query("mmr_diversified_topk", oracle=_mmr_sql())
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MMR re-rank (λ=0.7) of the cosine top-20 down to 5.

    The candidate relevance list and the R×R candidate sim matrix are
    computed distributed (broadcast joins against the R-row candidate
    set); only that model-sized matrix (≤ R² = 400 rows) is collected
    for the greedy loop — the documented markov-edge-list pattern. All
    arithmetic is exact integers, matching the oracle's unrolled CTEs.
    """
    from ..operators.similarity import dot_sql_spark

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    cos_q = F.expr(
        f"({dot_sql_spark('embedding', 'qv')}) / "
        f"(sqrt({dot_sql_spark('embedding', 'embedding')})"
        f" * sqrt({dot_sql_spark('qv', 'qv')}))"
    )
    rel6 = dround(cos_q, 6)
    # NULL embeddings have no cosine and can't be candidates (a NULL
    # rel would also crash the integer greedy loop)
    cand = (
        emb.filter(F.col("embedding").isNotNull())
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "embedding",
            qround(rel6, 6).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(_MMR_R)
    )
    a = cand.select(
        F.col("vec_id").alias("ia"), F.col("embedding").alias("ea")
    )
    b = cand.select(
        F.col("vec_id").alias("ib"), F.col("embedding").alias("eb")
    )
    cos_p = F.expr(
        f"({dot_sql_spark('ea', 'eb')}) / "
        f"(sqrt({dot_sql_spark('ea', 'ea')})"
        f" * sqrt({dot_sql_spark('eb', 'eb')}))"
    )
    p6 = dround(cos_p, 6)
    sims_df = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("ia") != F.col("ib"))
        .select(
            "ia",
            "ib",
            qround(p6, 6).alias("sim"),
        )
    )
    # model-sized collects: ≤ R rows + R(R−1) sims
    cands = [(r.vec_id, int(r.rel)) for r in cand.select("vec_id", "rel").collect()]
    sims = {(r.ia, r.ib): int(r.sim) for r in sims_df.collect()}

    selected: list[tuple[int, int, int, int]] = []  # (id, rank, rel, score)
    chosen: list[int] = []
    for rank in range(1, _MMR_K + 1):
        best = None
        for vid, rel in cands:
            if vid in chosen:
                continue
            if not chosen:
                score = 7 * rel
            else:
                score = 7 * rel - 3 * max(sims[(vid, s)] for s in chosen)
            key = (-score, vid)
            if best is None or key < best[0]:
                best = (key, vid, rel, score)
        if best is None:
            # candidate pool exhausted before K picks — degrade to a
            # shorter list exactly like the oracle's empty sel_k CTEs
            break
        _, vid, rel, score = best
        chosen.append(vid)
        selected.append((rank, vid, rel, score))
    return spark.createDataFrame(
        [
            (rank, vid, rel / 1000000.0, score / 10000000.0)
            for rank, vid, rel, score in selected
        ],
        "mmr_rank int, vec_id long, relevance double, mmr_score double",
    )


# --------------------------------------------------------------------------
# Matryoshka truncation audit: how much retrieval quality survives when
# the 64-dim embedding is truncated to its 16-dim prefix (the MRL
# deployment question — truncated vectors are 4× cheaper to store and
# search). Metrics: overlap@K between the full-dim and truncated
# top-K, and the exact mean |rank shift| of the full-dim top-K under
# the truncated ranking. Rankings use ×1e6-rounded cosines with id
# tiebreaks (total order on both engines); the comparison tables are
# K-row joins. Scale: two top-K retrieval plans + a K-row join — the
# audit is constant-size however big the corpus is.
# --------------------------------------------------------------------------

_MRL_DIM = 16
_MRL_K = 20


def _mrl_cos_duck(a: str, b: str, dim: int) -> str:
    return sql_dround(cosine_sql_duckdb(a, b, dim), 6)


@query(
    "matryoshka_truncation_audit",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
full_r AS (
    SELECT vec_id, CAST(ROW_NUMBER() OVER (
               ORDER BY {_mrl_cos_duck('embedding', 'qv', DIM)} DESC, vec_id
           ) AS BIGINT) AS r_full
    FROM embeddings CROSS JOIN q
),
trunc_r AS (
    SELECT e.vec_id, CAST(ROW_NUMBER() OVER (
               ORDER BY {_mrl_cos_duck(f'e.embedding[1:{_MRL_DIM}]',
                                       f'q.qv[1:{_MRL_DIM}]', _MRL_DIM)}
                   DESC, e.vec_id
           ) AS BIGINT) AS r_trunc
    FROM embeddings e CROSS JOIN q
),
j AS (
    SELECT f.vec_id, f.r_full, t.r_trunc
    FROM full_r f JOIN trunc_r t USING (vec_id)
    WHERE f.r_full <= {_MRL_K}
)
SELECT CAST({_MRL_K} AS INTEGER) AS k,
       CAST(COUNT(*) FILTER (WHERE r_trunc <= {_MRL_K}) AS BIGINT)
           AS overlap_at_k,
       {sql_dround(f'COUNT(*) FILTER (WHERE r_trunc <= {_MRL_K}) * 1.0 / {_MRL_K}', 4)} AS recall_at_k,
       {sql_dround(f'CAST(SUM(ABS(r_trunc - r_full)) AS BIGINT) * 1.0 / {_MRL_K}', 2)} AS mean_rank_shift
FROM j
""",
)
def matryoshka_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K agreement between full-dim and 16-dim-prefix retrieval."""
    from ..operators.similarity import dot_sql_spark

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    base = emb.crossJoin(F.broadcast(qv)).withColumn(
        "emb_t", F.slice("embedding", 1, _MRL_DIM)
    ).withColumn("qv_t", F.slice("qv", 1, _MRL_DIM))

    def cos6(a: str, b: str):
        c = F.expr(
            f"({dot_sql_spark(a, b)}) / "
            f"(sqrt({dot_sql_spark(a, a)}) * sqrt({dot_sql_spark(b, b)}))"
        )
        return dround(c, 6)

    scored = base.select(
        "vec_id",
        cos6("embedding", "qv").alias("c_full"),
        cos6("emb_t", "qv_t").alias("c_trunc"),
    )
    # full-dim top-K via TakeOrdered (never a global window over the
    # scored corpus), then row_number over the K-row result
    w_full = Window.orderBy(F.desc("c_full"), F.asc("vec_id"))
    topk = (
        scored.orderBy(F.desc("c_full"), F.asc("vec_id"))
        .limit(_MRL_K)
        .select(
            F.col("vec_id").alias("k_id"),
            F.col("c_trunc").alias("k_ct"),
            F.row_number().over(w_full).cast("bigint").alias("r_full"),
        )
    )
    # exact truncated-order rank of each top-K vector WITHOUT a global
    # sort: broadcast the K rows against the scored corpus and count
    # the strictly-ahead vectors under the (c_trunc, vec_id) total
    # order — map-side K comparisons per corpus row, one aggregation
    ahead = (
        scored.crossJoin(F.broadcast(topk))
        .filter(
            (F.col("c_trunc") > F.col("k_ct"))
            | (
                (F.col("c_trunc") == F.col("k_ct"))
                & (F.col("vec_id") < F.col("k_id"))
            )
        )
        .groupBy("k_id", "r_full")
        .agg(F.count("*").alias("n_ahead"))
    )
    ranked = topk.join(
        ahead, ["k_id", "r_full"], "left"
    ).select(
        "r_full",
        (F.coalesce(F.col("n_ahead"), F.lit(0)) + 1)
        .cast("bigint")
        .alias("r_trunc"),
    )
    return ranked.agg(
        F.lit(_MRL_K).cast("int").alias("k"),
        F.count_if(F.col("r_trunc") <= _MRL_K)
        .cast("bigint")
        .alias("overlap_at_k"),
        dround(
            F.count_if(F.col("r_trunc") <= _MRL_K) * 1.0
            / _MRL_K,
            4,
        ).alias("recall_at_k"),
        dround(
            F.sum(F.abs(F.col("r_trunc") - F.col("r_full")))
            .cast("bigint")
            * 1.0
            / _MRL_K,
            2,
        ).alias("mean_rank_shift"),
    )


# --------------------------------------------------------------------------
# Scalar (int8) quantization audit — the compression report a vector
# store produces before switching a 100-TB embedding corpus from
# float32 to per-dimension uint8 codes (4x smaller, SIMD-scannable):
# per-dim min/max calibration, quantize, reconstruct, and measure the
# error actually introduced. Everything before the final MSE division
# is exact: min/max are exact comparisons, the code is one shared
# FLOOR chain, and squared errors are fixed-point quantized at 2^-40
# (power-of-two scale = exact IEEE multiply) before the associative
# integer sum — bit-identical under any partitioning.
#
# Scale: two map-side-combined passes over the exploded corpus (one
# for calibration stats, one for error), both keyed on dim (64
# groups); the stats join back is a broadcast. No row-cardinality
# shuffle.
# --------------------------------------------------------------------------


@query(
    "scalar_quantization_audit",
    oracle="""
WITH flat AS (
    SELECT generate_subscripts(embedding, 1) - 1 AS dim,
           CAST(unnest(embedding) AS DOUBLE) AS x
    FROM embeddings WHERE embedding IS NOT NULL
),
stats AS (
    SELECT dim, MIN(x) AS mn, MAX(x) AS mx
    FROM flat WHERE x IS NOT NULL GROUP BY 1
),
coded AS (
    SELECT f.dim, f.x, s.mn, s.mx,
           CASE WHEN s.mx > s.mn
                THEN FLOOR((f.x - s.mn) / (s.mx - s.mn) * 255 + 0.5)
                ELSE 0 END AS code
    FROM flat f JOIN stats s USING (dim)
    WHERE f.x IS NOT NULL
),
err AS (
    SELECT dim, mn, mx,
           (x - (mn + code * ((mx - mn) / 255.0))) AS e
    FROM coded
)
SELECT CAST(dim AS INTEGER) AS dim,
       mn AS dim_min, mx AS dim_max,
       COUNT(*) AS n_values,
       (CAST(SUM(CAST(FLOOR(e * e * 1099511627776.0 + 0.5) AS BIGINT))
             AS DOUBLE) / (1099511627776.0 * COUNT(*))) AS mse,
       (CAST(MAX(CAST(FLOOR(ABS(e) * 1073741824.0 + 0.5) AS BIGINT))
             AS DOUBLE) / 1073741824.0) AS max_abs_err
FROM err
GROUP BY 1, 2, 3
""",
)
def scalar_quantization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dim int8 quantization error report over the embedding corpus."""
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    flat = (
        emb.filter(F.col("embedding").isNotNull())
        .select(F.posexplode("embedding").alias("dim", "xf"))
        .select("dim", F.col("xf").cast("double").alias("x"))
        .filter(F.col("x").isNotNull())
    )
    stats = flat.groupBy("dim").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    coded = flat.join(F.broadcast(stats), "dim").select(
        "dim",
        "x",
        "mn",
        "mx",
        F.when(
            F.col("mx") > F.col("mn"),
            F.floor(
                (F.col("x") - F.col("mn"))
                / (F.col("mx") - F.col("mn"))
                * 255
                + 0.5
            ),
        )
        .otherwise(0)
        .alias("code"),
    )
    e = F.col("x") - (
        F.col("mn") + F.col("code") * ((F.col("mx") - F.col("mn")) / 255.0)
    )
    err = coded.select("dim", "mn", "mx", e.alias("e"))
    two40 = 1099511627776.0  # 2^40: power-of-two scale, exact multiply
    two30 = 1073741824.0
    return err.groupBy(
        F.col("dim").cast("integer").alias("dim"),
        F.col("mn").alias("dim_min"),
        F.col("mx").alias("dim_max"),
    ).agg(
        F.count("*").alias("n_values"),
        (
            F.sum(F.floor(F.col("e") * F.col("e") * two40 + 0.5).cast("long"))
            .cast("double")
            / (two40 * F.count("*"))
        ).alias("mse"),
        (
            F.max(F.floor(F.abs("e") * two30 + 0.5).cast("long"))
            .cast("double")
            / two30
        ).alias("max_abs_err"),
    )


# --------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023): cluster embeddings, then drop items
# whose within-cluster cosine to a LOWER-id member exceeds tau —
# semantic dedup without any corpus-wide pair join. Deterministic
# twin of the trained-codebook production path (embedding_kmeans):
# the codebook is the _SD_K lowest-id vectors (kmeans_fit(iters=0)
# posture), assignment is the map-only ivf_assign argmax (lowest-id
# tiebreak), and the drop test compares RAW cosines whose folds are
# bit-identical across engines (dedup_embedding_cosine precedent).
#
# Scale: assignment is zero-shuffle (literal-codebook argmax); the
# pair join is equi-keyed on cluster_id so the pair space is
# sum(|cluster|^2), bounded by the codebook granularity — production
# raises K with corpus size (SemDeDup uses ~50k clusters) and caps
# hot clusters exactly like the simhash chunk-block cap. Never a
# global all-pairs join.
# --------------------------------------------------------------------------

_SD_K = 16
# 0.35 is data-calibrated: the synthetic embeddings top out at ~0.47
# within-label cosine, so the original 0.8 never dropped anything
# (vacuous drop leg, round-8 empty-result audit); production tunes
# tau per embedding model
_SD_TAU = 0.35


def _semdedup_oracle() -> str:
    assign_cos = cosine_sql_duckdb("e.embedding", "c.cvec", DIM)
    pair_cos = cosine_sql_duckdb("a.embedding", "b.embedding", DIM)
    return f"""
WITH cents AS (
    SELECT vec_id AS cluster_id, embedding AS cvec
    FROM embeddings ORDER BY vec_id LIMIT {_SD_K}
),
assigned AS (
    SELECT e.vec_id, e.embedding, c.cluster_id,
           ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {assign_cos} DESC, c.cluster_id ASC
           ) AS rn
    FROM embeddings e CROSS JOIN cents c
),
members AS (
    SELECT vec_id, embedding, cluster_id FROM assigned WHERE rn = 1
),
dups AS (
    SELECT DISTINCT b.cluster_id, b.vec_id
    FROM members a JOIN members b
      ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
    WHERE {pair_cos} >= {_SD_TAU}
)
SELECT m.cluster_id,
       COUNT(*) AS n_members,
       CAST(COUNT(d.vec_id) AS BIGINT) AS n_dropped,
       CAST(COUNT(*) - COUNT(d.vec_id) AS BIGINT) AS n_kept,
       {sql_dround("COUNT(d.vec_id) * 1.0 / COUNT(*)", 6)} AS drop_rate
FROM members m
LEFT JOIN dups d ON d.cluster_id = m.cluster_id AND d.vec_id = m.vec_id
GROUP BY m.cluster_id
"""


@query("semdedup_centroid_cosine", oracle=_semdedup_oracle())
def semdedup_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster SemDeDup report: members, dropped near-dups, kept.

    A vector is dropped when any lower-id member of its cluster has
    cosine >= tau to it — the keep-lowest-id survivor rule every exact
    dedup in the repo uses.
    """
    from ..operators.similarity import dot_sql_spark, ivf_assign

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    members = ivf_assign(emb.select("vec_id", "embedding"), _SD_K).select(
        "vec_id", "embedding", F.col("centroid_id").alias("cluster_id")
    )
    # hoist per-member norms before the equi-join (one fold per member,
    # not three per pair; bit-identical — same ops, same order)
    m = members.withColumn(
        "__n", F.expr(f"sqrt({dot_sql_spark('embedding', 'embedding')})")
    )
    a = m.select(
        "cluster_id",
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        F.col("__n").alias("na"),
    )
    b = m.select(
        "cluster_id",
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        F.col("__n").alias("nb"),
    )
    pair_cos = F.expr(dot_sql_spark("ea", "eb")) / (
        F.col("na") * F.col("nb")
    )
    dups = (
        a.join(b, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(pair_cos >= _SD_TAU)
        .select("cluster_id", F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    return (
        members.join(dups, ["cluster_id", "vec_id"], "left")
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.count("__dup").alias("n_dropped"),
            (F.count("*") - F.count("__dup")).alias("n_kept"),
            dround(F.count("__dup") * 1.0 / F.count("*"), 6).alias(
                "drop_rate"
            ),
        )
    )


# --------------------------------------------------------------------------
# IVF probe-recall tradeoff: the accuracy-vs-cost ladder every ANN
# deployment tunes. For n_probe in {1, 2, 4} against the fixed
# 16-centroid codebook, measure candidate-set size and recall@10 vs
# the exact brute-force top-10 — the quantitative basis for picking
# n_probe (completes the audit family: lsh_recall_audit measures the
# LSH path, retrieval_ndcg_audit the ranking quality).
#
# Scale: assignment is the map-only ivf_assign; candidate sets are
# n_probe/16 of the corpus per query; the ladder multiplies work by
# |probes| over ONE shared assignment, not one scan per setting.
# --------------------------------------------------------------------------

_PR_PROBES = (1, 2, 4)


def _probe_tradeoff_oracle() -> str:
    assign_cos = cosine_sql_duckdb("e.embedding", "c.cvec", DIM)
    probe_cos = cosine_sql_duckdb("cvec", "qv", DIM)
    final_cos = cosine_sql_duckdb("embedding", "qv", DIM)
    values = ", ".join(f"({p})" for p in _PR_PROBES)
    return f"""
WITH cents AS (
    SELECT vec_id AS centroid_id, embedding AS cvec
    FROM embeddings ORDER BY vec_id LIMIT {_IVF_CENTS}
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
assigned AS (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {assign_cos} DESC, c.centroid_id ASC
           ) AS rn
    FROM embeddings e CROSS JOIN cents c
),
members AS (SELECT vec_id, embedding, centroid_id FROM assigned WHERE rn = 1),
probe_rank AS (
    SELECT centroid_id,
           ROW_NUMBER() OVER (ORDER BY {probe_cos} DESC, centroid_id) AS pr
    FROM cents CROSS JOIN q
),
brute AS (
    SELECT vec_id FROM (
        SELECT vec_id, ROW_NUMBER() OVER (
            ORDER BY {sql_dround(final_cos, 6)} DESC, vec_id) AS rk
        FROM embeddings CROSS JOIN q
    ) WHERE rk <= 10
),
probes(np) AS (VALUES {values}),
cand AS (
    SELECT p.np, m.vec_id, m.embedding
    FROM members m
    JOIN probe_rank r USING (centroid_id)
    CROSS JOIN probes p
    WHERE r.pr <= p.np
),
topk AS (
    SELECT np, vec_id FROM (
        SELECT np, vec_id, ROW_NUMBER() OVER (
            PARTITION BY np
            ORDER BY {sql_dround(final_cos, 6)} DESC, vec_id) AS rk
        FROM cand CROSS JOIN q
    ) WHERE rk <= 10
),
counts AS (
    SELECT np, CAST(COUNT(*) AS BIGINT) AS n_candidates
    FROM cand GROUP BY np
)
SELECT CAST(c.np AS INTEGER) AS n_probe,
       c.n_candidates,
       CAST(COUNT(b.vec_id) AS BIGINT) AS hits_at_10,
       COUNT(b.vec_id) / 10.0 AS recall_at_10
FROM counts c
JOIN topk t ON t.np = c.np
LEFT JOIN brute b ON b.vec_id = t.vec_id
GROUP BY c.np, c.n_candidates
"""


@query("ivf_probe_recall_tradeoff", oracle=_probe_tradeoff_oracle())
def ivf_probe_recall_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.similarity import dot_sql_spark, ivf_assign

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    members = ivf_assign(emb.select("vec_id", "embedding"), _IVF_CENTS)
    cents = (
        emb.orderBy("vec_id")
        .limit(_IVF_CENTS)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cvec"),
        )
    )
    # probe ranks: 16 scored centroids, sort+limit then a rank over the
    # bounded result (ranked_topk posture — constant key, <=16 rows)
    pw = Window.partitionBy(F.lit(0)).orderBy(
        F.desc("__pc"), F.asc("centroid_id")
    )
    probe_rank = (
        cents.crossJoin(F.broadcast(q))
        .withColumn("__pc", F.expr(cosine_sql_spark("cvec", "qv")))
        .select("centroid_id", "__pc")
        .withColumn("pr", F.row_number().over(pw))
        .select("centroid_id", "pr")
    )
    probes = spark.createDataFrame(
        [(p,) for p in _PR_PROBES], "np int"
    )
    cand = (
        members.join(F.broadcast(probe_rank), "centroid_id")
        .crossJoin(F.broadcast(probes))
        .filter(F.col("pr") <= F.col("np"))
        .select("np", "vec_id", "embedding")
    )
    qn = q.withColumn(
        "__qn", F.expr(f"sqrt({dot_sql_spark('qv', 'qv')})")
    )
    scored = (
        cand.withColumn(
            "__n", F.expr(f"sqrt({dot_sql_spark('embedding', 'embedding')})")
        )
        .crossJoin(F.broadcast(qn))
        .select(
            "np",
            "vec_id",
            dround(
                F.expr(dot_sql_spark("embedding", "qv"))
                / (F.col("__n") * F.col("__qn")),
                6,
            ).alias("cosine"),
        )
    )
    tw = Window.partitionBy("np").orderBy(F.desc("cosine"), F.asc("vec_id"))
    topk = (
        scored.withColumn("rk", F.row_number().over(tw))
        .filter(F.col("rk") <= 10)
        .select("np", "vec_id")
    )
    from ..operators.similarity import brute_force_topk

    brute = (
        brute_force_topk(emb, q, k=10)
        .select("vec_id")
        .withColumn("__bf", F.lit(1))
    )
    counts = cand.groupBy("np").agg(F.count("*").alias("n_candidates"))
    hits = (
        topk.join(F.broadcast(brute), "vec_id", "left")
        .groupBy("np")
        .agg(
            F.count("__bf").alias("hits_at_10"),
            (F.count("__bf") / F.lit(10.0)).alias("recall_at_10"),
        )
    )
    return (
        counts.join(hits, "np")
        .select(
            F.col("np").alias("n_probe"),
            "n_candidates",
            "hits_at_10",
            "recall_at_10",
        )
    )


# --------------------------------------------------------------------------
# kNN label accuracy: leave-one-out top-5 cosine neighbors for a
# capped query set (vec_id < 200), majority label vote with a
# (count DESC, label ASC) tiebreak over the (rounded cosine DESC,
# vec_id ASC) neighbor order — the embedding-quality eval that asks
# "do nearest neighbors share the label?", the intrinsic complement
# to the ANN recall audits. Per-label accuracy rows, exact integer
# counts. Scale: the query cap bounds the pair space (the
# similarity_knn_join posture); production swaps the exact scan for
# the IVF/LSH candidate path and keeps the vote identical.
# --------------------------------------------------------------------------

_KNN_ACC_Q = 200
_KNN_ACC_K = 5


def _knn_acc_oracle() -> str:
    cos = cosine_sql_duckdb("e.embedding", "q.qv", DIM)
    return f"""
WITH q AS (
    SELECT vec_id AS qid, embedding AS qv, label AS true_label
    FROM embeddings WHERE vec_id < {_KNN_ACC_Q} AND label IS NOT NULL
),
scored AS (
    SELECT q.qid, q.true_label, e.vec_id, e.label,
           ROW_NUMBER() OVER (
               PARTITION BY q.qid
               ORDER BY {sql_dround(cos, 6)} DESC, e.vec_id
           ) AS rn
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> q.qid AND e.label IS NOT NULL
),
votes AS (
    SELECT qid, true_label, label, COUNT(*) AS c
    FROM scored WHERE rn <= {_KNN_ACC_K}
    GROUP BY 1, 2, 3
),
pred AS (
    SELECT qid, true_label, label AS pred_label,
           ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY c DESC, label
           ) AS vr
    FROM votes
)
SELECT CAST(true_label AS INTEGER) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
           AS BIGINT) AS n_correct,
       {sql_dround(
           "SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)"
           " * 1.0 / COUNT(*)", 6)} AS accuracy
FROM pred WHERE vr = 1
GROUP BY 1
"""


@query("knn_label_accuracy", oracle=_knn_acc_oracle())
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.similarity import dot_sql_spark

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    # NULL-label guard (both engines): a vote tie involving a NULL
    # neighbor label would flip pred_label across engines (Spark ASC
    # is NULLS FIRST vs DuckDB NULLS LAST) — exclude unlabeled rows
    # from both the query set and the voting neighbor set.
    base = emb.filter(F.col("label").isNotNull()).withColumn(
        "__n", F.expr(f"sqrt({dot_sql_spark('embedding', 'embedding')})")
    )
    q = base.filter(F.col("vec_id") < _KNN_ACC_Q).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("true_label"),
        F.col("__n").alias("__qn"),
    )
    scored = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "true_label",
            "vec_id",
            "label",
            dround(
                F.expr(dot_sql_spark("embedding", "qv"))
                / (F.col("__n") * F.col("__qn")),
                6,
            ).alias("cosine"),
        )
    )
    wr = Window.partitionBy("qid").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    votes = (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= _KNN_ACC_K)
        .groupBy("qid", "true_label", "label")
        .agg(F.count("*").alias("c"))
    )
    wv = Window.partitionBy("qid").orderBy(F.desc("c"), F.asc("label"))
    pred = (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("true_label", F.col("label").alias("pred_label"))
    )
    correct = F.sum(
        F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
    )
    return pred.groupBy(
        F.col("true_label").cast("int").alias("label")
    ).agg(
        F.count("*").alias("n_queries"),
        correct.cast("bigint").alias("n_correct"),
        dround(correct * 1.0 / F.count("*"), 6).alias("accuracy"),
    )


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss random-projection distortion audit — measures
# what a 64→16 sign-projection (Achlioptas 2003 ±1 matrix) does to
# pairwise squared distances, the decision input for "can we shrink
# the embedding column 4× before the ANN stage?". The projection
# matrix is DERIVED, not stored: sign(j,i) = parity of the first byte
# of sha256("jl:j:i"), computed once at plan-build time and inlined as
# ±1 literals into BOTH engines' expressions — the same no-stored-model
# discipline as the LSH hyperplanes. Distances use the proven
# sequential-fold dot helpers (dot(a,a) − 2·dot(a,b) + dot(b,b), one
# fixed IEEE chain); each pair's distortion ratio quantizes to ×1e6
# BEFORE the histogram reduce, so bin counts and per-bin means are
# exact integer aggregates.
#
# Scale: the audit grain is a FIXED 100-vector sample (4 950 pairs) at
# any SF — you audit a projection on a sample, then apply the cheap
# map-only projection corpus-wide; the pair stage never scales with
# the data.
# --------------------------------------------------------------------------

import hashlib as _hashlib  # noqa: E402

_JL_OUT = 16
_JL_SIGNS = [
    [
        1.0
        if _hashlib.sha256(f"jl:{j}:{i}".encode()).digest()[0] % 2 == 0
        else -1.0
        for i in range(DIM)
    ]
    for j in range(_JL_OUT)
]
_JL_SAMPLE = 100


def _jl_proj_spark() -> str:
    cols = []
    for j in range(_JL_OUT):
        arr = ", ".join(
            f"cast({s:.1f} AS double)" for s in _JL_SIGNS[j]
        )
        cols.append(
            f"aggregate(zip_with(transform(embedding, x -> cast(x AS double)),"
            f" array({arr}), (x, y) -> x * y),"
            f" cast(0 AS double), (acc, v) -> acc + v) * 0.25"
        )
    return "array(" + ", ".join(cols) + ")"


def _jl_proj_duckdb() -> str:
    cols = []
    for j in range(_JL_OUT):
        arr = ", ".join(f"{s:.1f}" for s in _JL_SIGNS[j])
        cols.append(
            f"list_sum(list_transform(range(1, {DIM + 1}),"
            f" i -> CAST(embedding[i] AS DOUBLE) * ([{arr}])[i])) * 0.25"
        )
    return "[" + ", ".join(cols) + "]"


def _d2_duckdb(a: str, b: str, dim: int) -> str:
    from ..operators.similarity import dot_sql_duckdb

    return (
        f"(({dot_sql_duckdb(a, a, dim)}) - 2.0 * ({dot_sql_duckdb(a, b, dim)})"
        f" + ({dot_sql_duckdb(b, b, dim)}))"
    )


def _d2_spark(a: str, b: str) -> str:
    from ..operators.similarity import dot_sql_spark

    return (
        f"(({dot_sql_spark(a, a)}) - 2.0 * ({dot_sql_spark(a, b)})"
        f" + ({dot_sql_spark(b, b)}))"
    )


@query(
    "random_projection_jl_audit",
    oracle=f"""
WITH sample_v AS (
    SELECT vec_id, embedding, {_jl_proj_duckdb()} AS pv
    FROM embeddings WHERE vec_id < {_JL_SAMPLE}
),
pairs AS (
    SELECT {_d2_duckdb('a.embedding', 'b.embedding', DIM)} AS d2o,
           {_d2_duckdb('a.pv', 'b.pv', _JL_OUT)} AS d2p
    FROM sample_v a JOIN sample_v b ON a.vec_id < b.vec_id
),
q AS (
    SELECT {sql_qround('d2p / d2o', 6)} AS rm
    FROM pairs WHERE d2o > 0
)
SELECT CAST(FLOOR(rm / 100000.0) AS BIGINT) AS ratio_bin,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       {sql_dround('SUM(rm) * 1.0 / COUNT(*) / 1000000.0', 6)}
           AS mean_ratio,
       {sql_dround('MIN(rm) / 1000000.0', 6)} AS min_ratio,
       {sql_dround('MAX(rm) / 1000000.0', 6)} AS max_ratio
FROM q
GROUP BY 1
""",
)
def random_projection_jl_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distortion histogram of a derived ±1 JL projection (64→16)."""
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    sample_v = emb.filter(F.col("vec_id") < _JL_SAMPLE).select(
        "vec_id",
        "embedding",
        F.expr(_jl_proj_spark()).alias("pv"),
    )
    a = sample_v.select(
        F.col("vec_id").alias("aid"),
        F.col("embedding").alias("ea"),
        F.col("pv").alias("pa"),
    )
    b = sample_v.select(
        F.col("vec_id").alias("bid"),
        F.col("embedding").alias("eb"),
        F.col("pv").alias("pb"),
    )
    pairs = a.join(F.broadcast(b), F.col("aid") < F.col("bid")).select(
        F.expr(_d2_spark("ea", "eb")).alias("d2o"),
        F.expr(_d2_spark("pa", "pb")).alias("d2p"),
    )
    q = pairs.filter(F.col("d2o") > 0).select(
        qround(F.col("d2p") / F.col("d2o"), 6)
        .alias("rm")
    )
    return q.groupBy(
        F.floor(F.col("rm") / 100000.0).cast("bigint").alias("ratio_bin")
    ).agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        dround(
            F.sum("rm") * 1.0 / F.count("*") / 1000000.0, 6
        ).alias("mean_ratio"),
        dround(F.min("rm") / 1000000.0, 6).alias("min_ratio"),
        dround(F.max("rm") / 1000000.0, 6).alias("max_ratio"),
    )


# --------------------------------------------------------------------------
# Diagonal-Mahalanobis embedding outliers — the covariance-aware
# completion of embedding_norm_outliers (norm outliers miss vectors
# that are extreme in a LOW-variance dimension). Two passes: one
# 64-row moment aggregate (S_d, Q_d per dimension, exact ints on the
# ×2^20 quantized grid), then a map-side score join — the 100 TB
# shape: no per-pair work, no global sort until the bounded top-k.
# Every per-dim term is one fixed-order double chain from exact ints
# ((v·N−S)² / (Q·N−S²), both int64-exact at this data's range),
# quantized ×1e9 to an integer BEFORE the cross-dimension sum, so the
# Mahalanobis² is an exact integer sum at any partitioning.
# Headroom: Q·N and S² stay under 2^63 while N·|x|²·2^40 < 2^63 —
# at |x|≤0.6 that is N ≲ 16M vectors; past that, swap the moment
# sums to DECIMAL(38,0) (moments_skew_kurtosis precedent).
# --------------------------------------------------------------------------

_MAHA_TOPK = 20


@query(
    "embedding_mahalanobis_outliers",
    oracle=f"""
WITH v AS (
    SELECT vec_id, label, u.d,
           CAST(FLOOR(CAST(embedding[u.d] AS DOUBLE) * 1048576) AS BIGINT)
               AS q
    FROM embeddings, (SELECT unnest(range(1, 65)) AS d) u
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
st AS (
    SELECT d, CAST(SUM(q) AS BIGINT) AS s,
           CAST(SUM(q * q) AS BIGINT) AS qq
    FROM v GROUP BY d
),
terms AS (
    SELECT v.vec_id, v.label,
           {sql_qround('CAST(v.q * nn.n - st.s AS DOUBLE)'
                       ' * CAST(v.q * nn.n - st.s AS DOUBLE)'
                       ' / CAST(st.qq * nn.n - st.s * st.s AS DOUBLE)', 9)} AS t
    FROM v JOIN st USING (d) CROSS JOIN nn
    WHERE st.qq * nn.n - st.s * st.s > 0
),
md AS (
    SELECT vec_id, label, CAST(SUM(t) AS BIGINT) AS md2_9
    FROM terms GROUP BY 1, 2
)
SELECT vec_id, label, md2_9,
       {sql_dround('md2_9 / 1000000000.0', 6)} AS mahalanobis_sq
FROM md
ORDER BY md2_9 DESC, vec_id
LIMIT {_MAHA_TOPK}
""",
)
def embedding_mahalanobis_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-20 diagonal-Mahalanobis outliers over the embedding corpus.

    Scale: pass 1 shuffles 64 (dim) keys of exact-int partial moments
    (map-side combined); pass 2 is a broadcast join of the 64-row
    stats onto the exploded (vec, dim) grid + one groupBy(vec_id) of
    integer terms; finisher is TakeOrderedAndProject on
    (md2_9 DESC, vec_id). The per-dim variance denominator uses the
    N-scaled identity Q·N − S² (no mean materialization, no division
    until the final double chain). Zero-variance dimensions are
    excluded identically on both engines. Reference has no embedding
    ops; completes the outlier family (norm → covariance-aware).
    """
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    v = emb.select(
        "vec_id",
        "label",
        F.explode(
            F.expr(
                "transform(sequence(1, 64), d -> struct(d AS d, "
                "CAST(FLOOR(CAST(element_at(embedding, d) AS DOUBLE)"
                " * 1048576) AS BIGINT) AS q))"
            )
        ).alias("e"),
    ).select("vec_id", "label", "e.d", "e.q")
    nn = emb.agg(F.count("*").cast("bigint").alias("n"))
    st = v.groupBy("d").agg(
        F.sum("q").cast("bigint").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("qq"),
    )
    num = F.col("q") * F.col("n") - F.col("s")
    den = F.col("qq") * F.col("n") - F.col("s") * F.col("s")
    terms = (
        v.join(F.broadcast(st), "d")
        .crossJoin(F.broadcast(nn))
        .filter(den > 0)
        .select(
            "vec_id",
            "label",
            qround(
                num.cast("double")
                * num.cast("double")
                / den.cast("double"),
                9,
            )
            .alias("t"),
        )
    )
    md = terms.groupBy("vec_id", "label").agg(
        F.sum("t").cast("bigint").alias("md2_9")
    )
    return (
        md.select(
            "vec_id",
            "label",
            "md2_9",
            dround(F.col("md2_9") / 1000000000.0, 6).alias("mahalanobis_sq"),
        )
        .orderBy(F.col("md2_9").desc(), "vec_id")
        .limit(_MAHA_TOPK)
    )


# --------------------------------------------------------------------------
# Facility-location prototype selection (greedy 1-1/e submodular
# maximization) — the corpus-representative counterpart to MMR:
# MMR re-ranks a QUERY's candidates; this selects K prototypes that
# jointly cover the sample, the standard coreset/diverse-subset
# primitive for training-data selection. Objective
# F(S) = Σ_v max(0, max_{s∈S} sim(v, s)) over the FIXED 100-vector
# sample (audit-on-sample like random_projection_jl_audit; the apply —
# assign every corpus vector to its nearest prototype — is map-only).
# Similarity is the ×2^20-quantized integer dot product, so every
# objective/marginal is an EXACT integer and the greedy trajectory
# (with vec_id tie-break) reproduces at any partitioning. The oracle
# unrolls the K greedy rounds as AS-MATERIALIZED CTEs; the Spark side
# computes the sample×sample sim grid distributed and collects only
# that model-sized matrix for the greedy loop (the documented MMR
# pattern, ≤ sample² rows).
# --------------------------------------------------------------------------

_FL_SAMPLE = 100
_FL_K = 5


def _fl_round_sql(i: int) -> str:
    prev_best = f"best{i - 1}"
    excl = " UNION ALL ".join(
        f"SELECT vec_id FROM pick{j}" for j in range(1, i)
    )
    where = f"WHERE p.c NOT IN ({excl})" if i > 1 else ""
    return f"""gain{i} AS MATERIALIZED (
    SELECT p.c, CAST(SUM(GREATEST(b.best, p.sim)) AS BIGINT) AS tot
    FROM fl_pairs p JOIN {prev_best} b ON p.v = b.v
    {where}
    GROUP BY 1
),
pick{i} AS MATERIALIZED (
    SELECT c AS vec_id, tot FROM gain{i} ORDER BY tot DESC, c LIMIT 1
),
best{i} AS MATERIALIZED (
    SELECT b.v, GREATEST(b.best, p.sim) AS best
    FROM best{i - 1} b
    JOIN fl_pairs p ON p.v = b.v
    JOIN pick{i} k ON p.c = k.vec_id
)"""


def _fl_final_sql() -> str:
    rows = []
    for i in range(1, _FL_K + 1):
        prev = (
            "CAST(0 AS BIGINT)" if i == 1 else f"(SELECT tot FROM pick{i - 1})"
        )
        rows.append(
            f"SELECT CAST({i} AS INTEGER) AS rank, k.vec_id, s.label,"
            f" k.tot AS objective, CAST(k.tot - {prev} AS BIGINT)"
            f" AS marginal_gain"
            f" FROM pick{i} k JOIN sv s ON s.vec_id = k.vec_id"
        )
    return " UNION ALL ".join(rows)


@query(
    "facility_location_prototypes",
    oracle=f"""
WITH sv AS MATERIALIZED (
    SELECT vec_id, label,
           list_transform(range(1, 65), i ->
               CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1048576)
                    AS BIGINT)) AS qa
    FROM embeddings
    WHERE vec_id < {_FL_SAMPLE} AND embedding IS NOT NULL
),
fl_pairs AS MATERIALIZED (
    SELECT a.vec_id AS v, b.vec_id AS c,
           CAST(list_sum(list_transform(range(1, 65),
                i -> a.qa[i] * b.qa[i])) AS BIGINT) AS sim
    FROM sv a, sv b
),
best0 AS MATERIALIZED (SELECT vec_id AS v, CAST(0 AS BIGINT) AS best FROM sv),
{",".join(_fl_round_sql(i) for i in range(1, _FL_K + 1))}
{_fl_final_sql()}
ORDER BY rank
""",
)
def facility_location_prototypes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Greedy facility-location selection of 5 prototypes from the
    fixed 100-vector sample; exact-integer objective trajectory.

    Scale: the sim grid is computed distributed (broadcast cross join
    of the 100-row sample against itself) and only that model-sized
    matrix (≤ sample² = 10k integer rows) is collected for the greedy
    loop — driver state O(sample²), never O(data). At 100 TB the
    sample stays 100 vectors by construction and the selected
    prototypes apply corpus-wide as a map-only nearest-prototype
    assignment (the IVF-assignment plan shape). Reference has no
    embedding ops; completes the selection family (MMR re-ranks per
    query, k-means averages, this PICKS exemplars).
    """
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    sv = emb.filter(
        (F.col("vec_id") < _FL_SAMPLE) & F.col("embedding").isNotNull()
    ).select(
        "vec_id",
        "label",
        F.expr(
            "transform(sequence(1, 64), i -> "
            "CAST(FLOOR(CAST(element_at(embedding, i) AS DOUBLE)"
            " * 1048576) AS BIGINT))"
        ).alias("qa"),
    )
    a = sv.select(F.col("vec_id").alias("v"), F.col("qa").alias("pa"))
    b = sv.select(F.col("vec_id").alias("c"), F.col("qa").alias("pb"))
    pairs = a.crossJoin(F.broadcast(b)).select(
        "v",
        "c",
        F.expr(
            "CAST(aggregate(zip_with(pa, pb, (x, y) -> x * y), "
            "CAST(0 AS BIGINT), (acc, t) -> acc + t) AS BIGINT)"
        ).alias("sim"),
    )
    # model-sized collects (MMR precedent): sample ids/labels + sim grid
    labels = {
        r.vec_id: r.label for r in sv.select("vec_id", "label").collect()
    }
    sims: dict[tuple[int, int], int] = {
        (r.v, r.c): int(r.sim) for r in pairs.collect()
    }
    ids = sorted(labels)
    best = {v: 0 for v in ids}
    chosen: list[int] = []
    out = []
    prev_obj = 0
    for rank in range(1, _FL_K + 1):
        pick = None
        for c in ids:
            if c in chosen:
                continue
            tot = sum(max(best[v], sims[(v, c)]) for v in ids)
            key = (-tot, c)
            if pick is None or key < pick[0]:
                pick = (key, c, tot)
        if pick is None:
            break
        _, c, tot = pick
        chosen.append(c)
        out.append((rank, c, labels[c], tot, tot - prev_obj))
        prev_obj = tot
        for v in ids:
            best[v] = max(best[v], sims[(v, c)])
    return spark.createDataFrame(
        out,
        "rank int, vec_id long, label int, objective long,"
        " marginal_gain long",
    )


# --------------------------------------------------------------------------
# Cluster-quality eval: purity + NMI of the deterministic k-means
# assignment (first-k codebook, the embedding_kmeans_checked posture)
# against the ground-truth label column — the standard external
# clustering eval a curation pipeline runs before trusting cluster-
# based ops (SemDeDup pruning, stratified mixing). The contingency
# table is ≤ k × |labels| cells; every MI/entropy term is one double
# chain from exact integer counts, ×1e12 int-quantized BEFORE the
# cross-cell sum, so MI/H/NMI are bit-identical at any partitioning.
# --------------------------------------------------------------------------


def _nmi_oracle() -> str:
    cos = cosine_sql_duckdb("e.embedding", "c.cvec", DIM)
    t12 = "1000000000000"
    return f"""
WITH e AS (
    SELECT vec_id, label, embedding FROM embeddings
    WHERE embedding IS NOT NULL AND label IS NOT NULL
),
cents AS (
    SELECT embedding AS cvec,
           ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster_id
    FROM e ORDER BY vec_id LIMIT {_KM_K}
),
assigned AS (
    SELECT e.vec_id, e.label, c.cluster_id,
           ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {cos} DESC, c.cluster_id ASC
           ) AS rn
    FROM e CROSS JOIN cents c
),
cells AS (
    SELECT cluster_id, label, CAST(COUNT(*) AS BIGINT) AS n
    FROM assigned WHERE rn = 1 GROUP BY 1, 2
),
nn AS (SELECT CAST(SUM(n) AS BIGINT) AS nv FROM cells),
cs AS (SELECT cluster_id, CAST(SUM(n) AS BIGINT) AS nc FROM cells GROUP BY 1),
ls AS (SELECT label, CAST(SUM(n) AS BIGINT) AS nl FROM cells GROUP BY 1),
mi AS (
    SELECT CAST(SUM({sql_qround(
        "(CAST(c.n AS DOUBLE) / o.nv)"
        " * ln((CAST(o.nv AS DOUBLE) * c.n) / (CAST(s.nc AS DOUBLE) * l.nl))",
        12)}) AS BIGINT) AS mi12
    FROM cells c
    JOIN cs s USING (cluster_id) JOIN ls l USING (label) CROSS JOIN nn o
),
hc AS (
    SELECT CAST(SUM({sql_qround(
        "-(CAST(nc AS DOUBLE) / o.nv) * ln(CAST(nc AS DOUBLE) / o.nv)", 12)})
        AS BIGINT) AS hc12
    FROM cs CROSS JOIN nn o
),
hl AS (
    SELECT CAST(SUM({sql_qround(
        "-(CAST(nl AS DOUBLE) / o.nv) * ln(CAST(nl AS DOUBLE) / o.nv)", 12)})
        AS BIGINT) AS hl12
    FROM ls CROSS JOIN nn o
),
pur AS (
    SELECT CAST(SUM(mx) AS BIGINT) AS pnum
    FROM (SELECT cluster_id, MAX(n) AS mx FROM cells GROUP BY 1)
),
cnt AS (
    SELECT (SELECT COUNT(*) FROM cs) AS n_clusters,
           (SELECT COUNT(*) FROM ls) AS n_labels
)
SELECT o.nv AS n_vectors,
       CAST(cnt.n_clusters AS BIGINT) AS n_clusters,
       CAST(cnt.n_labels AS BIGINT) AS n_labels,
       {sql_dround('CAST(pur.pnum AS DOUBLE) / o.nv', 6)} AS purity,
       {sql_dround(f'CAST(mi.mi12 AS DOUBLE) / {t12}.0', 6)} AS mi,
       {sql_dround(f'CAST(hc.hc12 AS DOUBLE) / {t12}.0', 6)} AS h_cluster,
       {sql_dround(f'CAST(hl.hl12 AS DOUBLE) / {t12}.0', 6)} AS h_label,
       {sql_dround(
           f'''CASE WHEN hc.hc12 > 0 AND hl.hl12 > 0 THEN
                 (CAST(mi.mi12 AS DOUBLE) / {t12}.0)
                 / sqrt((CAST(hc.hc12 AS DOUBLE) / {t12}.0)
                        * (CAST(hl.hl12 AS DOUBLE) / {t12}.0))
               END''', 6)} AS nmi
FROM nn o CROSS JOIN mi CROSS JOIN hc CROSS JOIN hl
CROSS JOIN pur CROSS JOIN cnt
"""


@query("embedding_cluster_purity_nmi", oracle=_nmi_oracle())
def embedding_cluster_purity_nmi(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Purity + NMI of the deterministic first-k k-means assignment
    vs ground-truth labels, one row.

    Scale: assignment is the map-only literal-codebook argmax
    (kmeans_assign — the plan-shape-tested IVF posture); the
    contingency table is one groupBy of ≤ k·|labels| cells and all
    entropy math runs on that bounded grain. The hash match rides on
    embedding_kmeans_checked's proven property that the SQL cosine and
    the sequential-fold literal-norm cosine are bit-identical.
    """
    from ..operators.kmeans import kmeans_assign, kmeans_fit

    emb = (
        load_tables(spark, sf_dir, "embeddings")["embeddings"]
        .filter(F.col("embedding").isNotNull() & F.col("label").isNotNull())
    )
    codebook = kmeans_fit(emb, k=_KM_K, iters=0)
    cells = (
        kmeans_assign(emb, codebook)
        .groupBy("cluster_id", "label")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    nn = cells.agg(F.sum("n").cast("bigint").alias("nv"))
    cs = cells.groupBy("cluster_id").agg(
        F.sum("n").cast("bigint").alias("nc")
    )
    ls = cells.groupBy("label").agg(F.sum("n").cast("bigint").alias("nl"))
    t12 = 1000000000000
    mi_term = qround(
        (F.col("n").cast("double") / F.col("nv"))
        * F.log(
            (F.col("nv").cast("double") * F.col("n"))
            / (F.col("nc").cast("double") * F.col("nl"))
        ),
        12,
    )
    mi = (
        cells.join(F.broadcast(cs), "cluster_id")
        .join(F.broadcast(ls), "label")
        .crossJoin(F.broadcast(nn))
        .agg(F.sum(mi_term).cast("bigint").alias("mi12"))
    )

    def _h12(sizes: DataFrame, col: str, out: str) -> DataFrame:
        term = qround(
            -(F.col(col).cast("double") / F.col("nv"))
            * F.log(F.col(col).cast("double") / F.col("nv")),
            12,
        )
        return sizes.crossJoin(F.broadcast(nn)).agg(
            F.sum(term).cast("bigint").alias(out)
        )

    hc = _h12(cs, "nc", "hc12")
    hl = _h12(ls, "nl", "hl12")
    pur = (
        cells.groupBy("cluster_id")
        .agg(F.max("n").alias("mx"))
        .agg(F.sum("mx").cast("bigint").alias("pnum"))
    )
    cnt = cs.agg(F.count("*").alias("n_clusters")).crossJoin(
        ls.agg(F.count("*").alias("n_labels"))
    )
    j = (
        nn.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(pur))
        .crossJoin(F.broadcast(cnt))
    )
    mi_d = F.col("mi12").cast("double") / float(t12)
    hc_d = F.col("hc12").cast("double") / float(t12)
    hl_d = F.col("hl12").cast("double") / float(t12)
    return j.select(
        F.col("nv").alias("n_vectors"),
        F.col("n_clusters").cast("bigint").alias("n_clusters"),
        F.col("n_labels").cast("bigint").alias("n_labels"),
        dround(F.col("pnum").cast("double") / F.col("nv"), 6).alias("purity"),
        dround(mi_d, 6).alias("mi"),
        dround(hc_d, 6).alias("h_cluster"),
        dround(hl_d, 6).alias("h_label"),
        dround(
            F.when(
                (F.col("hc12") > 0) & (F.col("hl12") > 0),
                mi_d / F.sqrt(hc_d * hl_d),
            ),
            6,
        ).alias("nmi"),
    )


# --------------------------------------------------------------------------
# Binary (sign-bit) quantization audit — the 1-bit member of the
# compression family (int8 = scalar_quantization_audit, PQ, JL,
# matryoshka): code every embedding as its 64 sign bits packed into
# two 32-bit words (CLAUDE.md shift rule: DuckDB overflow-checks
# 1<<63, so never build 64-bit masks in one word), then measure how
# well Hamming distance preserves the exact-cosine ranking — the
# statistic that decides whether a 64x-smaller index can serve as a
# first-pass filter. Hamming is exact integer; cosine reuses the
# proven sequential-fold form rounded to 6dp before ranking.
# --------------------------------------------------------------------------

_BQ_QUERIES = 8
_BQ_K = 10


@query(
    "binary_quantization_hamming_audit",
    oracle=f"""
WITH bq AS (
    SELECT vec_id,
           CAST(SUM(CASE WHEN x > 0 AND dim < 32
                         THEN (CAST(1 AS BIGINT) << dim) ELSE 0 END)
                AS BIGINT) AS w0,
           CAST(SUM(CASE WHEN x > 0 AND dim >= 32
                         THEN (CAST(1 AS BIGINT) << (dim - 32)) ELSE 0 END)
                AS BIGINT) AS w1
    FROM (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
                 CAST(unnest(embedding) AS DOUBLE) AS x
          FROM embeddings WHERE embedding IS NOT NULL)
    GROUP BY 1
),
q AS (
    SELECT vec_id AS qid, embedding AS qv FROM embeddings
    WHERE vec_id < {_BQ_QUERIES} AND embedding IS NOT NULL
),
pairs AS (
    SELECT q.qid, e.vec_id,
           {sql_dround(cosine_sql_duckdb('e.embedding', 'q.qv', DIM), 6)}
               AS cosine
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> q.qid AND e.embedding IS NOT NULL
),
ham AS (
    SELECT p.qid, p.vec_id, p.cosine,
           CAST(bit_count(xor(a.w0, b.w0))
                + bit_count(xor(a.w1, b.w1)) AS BIGINT) AS hamming
    FROM pairs p
    JOIN bq a ON a.vec_id = p.qid
    JOIN bq b ON b.vec_id = p.vec_id
),
rankedb AS (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY cosine DESC, vec_id) AS rc,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY hamming, vec_id) AS rh
    FROM ham
)
SELECT qid AS q_vec_id,
       COUNT(*) FILTER (WHERE rc <= {_BQ_K} AND rh <= {_BQ_K})
           AS overlap_at_k,
       {sql_dround(f'SUM(CASE WHEN rc <= {_BQ_K} THEN hamming END) * 1.0 / {_BQ_K}', 4)}
           AS ham_mean_cos_topk,
       {sql_dround('SUM(hamming) * 1.0 / COUNT(*)', 4)} AS ham_mean_all,
       CAST(MAX(CASE WHEN rc = 1 THEN hamming END) AS BIGINT)
           AS cos_top1_hamming
FROM rankedb
GROUP BY 1
""",
)
def binary_quantization_hamming_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hamming-vs-cosine rank agreement for 1-bit sign codes.

    Scale: code build is one map-side posexplode aggregate (two 32-bit
    words per vector — a 64x index shrink); the audit's brute-force
    pair stage is query-capped (8 × corpus), the same exact-baseline
    posture as similarity_knn_join. In production the Hamming leg is
    the cheap first-pass filter (XOR+popcount over packed words,
    SIMD-friendly) and this audit's overlap@k is the go/no-go metric.
    """
    from ..operators.similarity import dot_sql_spark

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    nn = emb.filter(F.col("embedding").isNotNull())
    flat = nn.select(
        "vec_id", F.posexplode("embedding").alias("dim", "xf")
    ).select("vec_id", "dim", F.col("xf").cast("double").alias("x"))
    bq = flat.groupBy("vec_id").agg(
        F.sum(
            F.when(
                (F.col("x") > 0) & (F.col("dim") < 32),
                F.expr("shiftleft(CAST(1 AS BIGINT), dim)"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("w0"),
        F.sum(
            F.when(
                (F.col("x") > 0) & (F.col("dim") >= 32),
                F.expr("shiftleft(CAST(1 AS BIGINT), dim - 32)"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("w1"),
    )
    base = nn.withColumn(
        "__n", F.expr(f"sqrt({dot_sql_spark('embedding', 'embedding')})")
    )
    q = base.filter(F.col("vec_id") < _BQ_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("__n").alias("__qn"),
    )
    pairs = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            dround(
                F.expr(dot_sql_spark("embedding", "qv"))
                / (F.col("__n") * F.col("__qn")),
                6,
            ).alias("cosine"),
        )
    )
    ha = bq.select(
        F.col("vec_id").alias("qid"),
        F.col("w0").alias("qw0"),
        F.col("w1").alias("qw1"),
    )
    ham = (
        pairs.join(F.broadcast(ha), "qid")
        .join(F.broadcast(bq), "vec_id")
        .select(
            "qid",
            "vec_id",
            "cosine",
            (
                F.bit_count(F.expr("qw0 ^ w0"))
                + F.bit_count(F.expr("qw1 ^ w1"))
            )
            .cast("bigint")
            .alias("hamming"),
        )
    )
    wc = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    wh = Window.partitionBy("qid").orderBy(F.asc("hamming"), F.asc("vec_id"))
    ranked = ham.select(
        "*",
        F.row_number().over(wc).alias("rc"),
        F.row_number().over(wh).alias("rh"),
    )
    return ranked.groupBy(F.col("qid").alias("q_vec_id")).agg(
        F.count_if((F.col("rc") <= _BQ_K) & (F.col("rh") <= _BQ_K)).alias(
            "overlap_at_k"
        ),
        dround(
            F.sum(F.when(F.col("rc") <= _BQ_K, F.col("hamming"))) * 1.0
            / _BQ_K,
            4,
        ).alias("ham_mean_cos_topk"),
        dround(F.sum("hamming") * 1.0 / F.count("*"), 4).alias("ham_mean_all"),
        F.max(F.when(F.col("rc") == 1, F.col("hamming")))
        .cast("bigint")
        .alias("cos_top1_hamming"),
    )


# --------------------------------------------------------------------------
# Centroid silhouette by label — the internal clustering-quality
# metric beside the external ones (purity/NMI need the k-means
# assignment; silhouette needs only labels + geometry): a(v) =
# distance to own-label centroid, b(v) = nearest other-label
# centroid, s = (b - a)/max(a, b). Centroids come from exact ×1e9
# fixed-point sums; per-(vector, label) squared distances are
# per-dim-quantized integers before the cross-dim sum, so no float
# fold order can differ; sqrt/compare/divide are then identical IEEE
# ops on identical inputs.
# --------------------------------------------------------------------------


@query(
    "embedding_silhouette_by_label",
    oracle=f"""
WITH sflat AS (
    SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS dim,
           CAST(unnest(embedding) AS DOUBLE) AS x
    FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL
),
cent AS (
    SELECT label, dim,
           CAST(SUM({sql_qround('x', 9)}) AS DOUBLE)
               / (1000000000.0 * COUNT(*)) AS c
    FROM sflat GROUP BY 1, 2
),
d2 AS (
    SELECT f.vec_id, f.label AS own, c.label AS other,
           CAST(SUM({sql_qround('(f.x - c.c) * (f.x - c.c)', 9)}) AS BIGINT) AS dq
    FROM sflat f JOIN cent c USING (dim)
    GROUP BY 1, 2, 3
),
ab AS (
    SELECT vec_id, own,
           sqrt(MAX(CASE WHEN own = other THEN dq END) / 1000000000.0) AS a,
           sqrt(MIN(CASE WHEN own <> other THEN dq END) / 1000000000.0) AS b
    FROM d2 GROUP BY 1, 2
),
sil AS (
    SELECT vec_id, own,
           CASE WHEN GREATEST(a, b) > 0
                THEN {sql_qround('(b - a) / GREATEST(a, b)', 9)}
                ELSE 0 END AS sq,
           {sql_qround('a', 6)} AS aq,
           {sql_qround('b', 6)} AS bq
    FROM ab
)
SELECT own AS label,
       COUNT(*) AS n_vectors,
       {sql_dround('SUM(sq) / (1000000000.0 * COUNT(*))', 6)}
           AS avg_silhouette,
       {sql_dround('SUM(aq) / (1000000.0 * COUNT(*))', 4)} AS mean_a,
       {sql_dround('SUM(bq) / (1000000.0 * COUNT(*))', 4)} AS mean_b
FROM sil GROUP BY 1
""",
)
def embedding_silhouette_by_label(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-label centroid silhouette over the embedding corpus.

    Scale: centroid build is a map-side-combinable (label, dim)
    aggregate — |labels|×dim model state; scoring joins the broadcast
    centroid table and reduces per (vector, label) — never a
    vector-vector pair stage (the full silhouette's O(n²) is exactly
    what the centroid variant removes at scale). Per-vector s values
    are ×1e9 ints so the label average is order-independent.
    """
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    sflat = (
        emb.filter(F.col("embedding").isNotNull() & F.col("label").isNotNull())
        .select("vec_id", "label", F.posexplode("embedding").alias("dim", "xf"))
        .select("vec_id", "label", "dim", F.col("xf").cast("double").alias("x"))
    )
    cent = sflat.groupBy(F.col("label").alias("clabel"), "dim").agg(
        (
            F.sum(qround(F.col("x"), 9))
            .cast("double")
            / (F.lit(1000000000.0) * F.count("*"))
        ).alias("c")
    )
    d2 = (
        sflat.join(F.broadcast(cent), "dim")
        .groupBy(
            "vec_id", F.col("label").alias("own"), F.col("clabel").alias("other")
        )
        .agg(
            F.sum(
                qround(
                    (F.col("x") - F.col("c"))
                    * (F.col("x") - F.col("c")),
                    9,
                )
            )
            .cast("bigint")
            .alias("dq")
        )
    )
    ab = d2.groupBy("vec_id", "own").agg(
        F.sqrt(
            F.max(F.when(F.col("own") == F.col("other"), F.col("dq")))
            / 1000000000.0
        ).alias("a"),
        F.sqrt(
            F.min(F.when(F.col("own") != F.col("other"), F.col("dq")))
            / 1000000000.0
        ).alias("b"),
    )
    sil = ab.select(
        "own",
        F.when(
            F.greatest("a", "b") > 0,
            qround(
                (F.col("b") - F.col("a"))
                / F.greatest("a", "b"),
                9,
            ),
        )
        .otherwise(F.lit(0))
        .alias("sq"),
        qround(F.col("a"), 6).alias("aq"),
        qround(F.col("b"), 6).alias("bq"),
    )
    return sil.groupBy(F.col("own").alias("label")).agg(
        F.count("*").alias("n_vectors"),
        dround(
            F.sum("sq") / (F.lit(1000000000.0) * F.count("*")), 6
        ).alias("avg_silhouette"),
        dround(F.sum("aq") / (F.lit(1000000.0) * F.count("*")), 4).alias(
            "mean_a"
        ),
        dround(F.sum("bq") / (F.lit(1000000.0) * F.count("*")), 4).alias(
            "mean_b"
        ),
    )
