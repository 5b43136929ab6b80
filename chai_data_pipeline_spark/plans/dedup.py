"""Deduplication queries over documents (LLM-pipeline core ops).

- exact content dedup (oracle-checked)
- blocked n-gram Jaccard near-dup pairs (oracle-checked — blocking keys
  and set arithmetic identical in both engines)
- MinHash-LSH candidate pairs and SimHash fingerprints (rows-only:
  xxhash64 has no DuckDB equivalent; determinism is covered by unit
  tests with planted near-duplicates instead)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dround, qround, sql_dround, sql_qround
from ..operators.dedup import (
    dedup_exact,
    hamming64,
    jaccard_verify,
    minhash_lsh_candidates,
    simhash64,
)
from ..session import load_tables
from .registry import query

# --------------------------------------------------------------------------
# Exact dedup by normalized content hash
# --------------------------------------------------------------------------


@query(
    "dedup_exact_content",
    oracle="""
WITH h AS (
    SELECT doc_id,
           sha256(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))))
               AS content_hash
    FROM documents
)
SELECT content_hash,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM h GROUP BY 1
""",
)
def dedup_exact_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return dedup_exact(docs, "text", "doc_id", normalize=True)


# --------------------------------------------------------------------------
# Blocked n-gram Jaccard near-dup pairs: block on (lang, n_chars//64) so
# the pair space is bounded, then exact 3-gram Jaccard ≥ 0.5. Both the
# blocking and the set arithmetic (|A∩B| / (|A|+|B|-|A∩B|)) are
# engine-identical.
#
# Block populations grow linearly with the corpus, so same-block pairing
# alone is quadratic at scale. MAX_BLOCK caps it: blocks larger than the
# cap are dropped entirely (deterministic, mirrors the max_bucket cap in
# operators/dedup.minhash_lsh_candidates), bounding any block's pair
# count at MAX_BLOCK²/2. Oversized blocks are exactly the ones LSH
# handles — the 100 TB path is minhash_lsh_candidates + jaccard_verify.
# The oracle encodes the SAME cap so the comparison stays exact.
# --------------------------------------------------------------------------

MAX_BLOCK = 256

_JACCARD_BLOCK_SQL = f"""
sh0 AS (
    SELECT doc_id, lang, n_chars // 64 AS len_bucket,
           list_distinct(list_transform(
               range(1, GREATEST(LENGTH(text) - 2, 0) + 1),
               i -> text[i : i + 2]
           )) AS grams
    FROM documents
    WHERE LENGTH(text) >= 3
),
ok AS (
    SELECT lang, len_bucket FROM sh0
    GROUP BY lang, len_bucket HAVING COUNT(*) <= {MAX_BLOCK}
),
sh AS (SELECT sh0.* FROM sh0 JOIN ok USING (lang, len_bucket))
"""


def _capped_shingle_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, len_bucket, grams) with over-cap blocks removed."""
    from ..operators.dedup import shingles

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    # LENGTH(text) >= 3 is the cross-engine empty-shingle guard: Spark's
    # transform-over-sequence yields a size-1 array even for sub-3-char
    # (and NULL) text, while DuckDB's range() yields []; it also makes
    # union > 0 structurally impossible to violate, so the Jaccard
    # division downstream can never hit Spark 4 ANSI div-by-zero.
    sh = docs.filter(F.length("text") >= 3).select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 64).cast("long").alias("len_bucket"),
        shingles("text", 3).alias("grams"),
    )
    ok = (
        sh.groupBy("lang", "len_bucket")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") <= MAX_BLOCK)
        .drop("__n")
    )
    # block-cardinality table is small — broadcast keeps the cap filter
    # a map-side semi join, no shuffle of the shingle table
    return sh.join(F.broadcast(ok), ["lang", "len_bucket"])


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_JACCARD_BLOCK_SQL}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       {sql_dround('''len(list_intersect(a.grams, b.grams)) * 1.0
        / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))''', 6)}
           AS jaccard
FROM sh a JOIN sh b
  ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.grams, b.grams)) * 1.0
      / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
      >= 0.5
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import dround

    sh = _capped_shingle_blocks(spark, sf_dir)
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = (
        F.size(F.col("a.grams")) + F.size(F.col("b.grams")) - inter
    )
    jac = inter * 1.0 / union
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(jac >= 0.5)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            dround(jac, 6).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# MinHash-LSH candidates (rows-only: depends on xxhash64) — the scale
# path for near-dedup: equi-join on band buckets, never O(n²).
# --------------------------------------------------------------------------


@query("dedup_minhash_lsh")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    cands = minhash_lsh_candidates(
        docs, "text", "doc_id", num_perm=32, bands=8, shingle_size=3
    )
    return jaccard_verify(
        cands, docs, "text", "doc_id", shingle_size=3, threshold=0.5
    )


# --------------------------------------------------------------------------
# SimHash fingerprints + near-pairs within Hamming distance 12
# (rows-only: xxhash64-based)
# --------------------------------------------------------------------------


@query("dedup_simhash")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    sig = simhash64(docs, "text", "doc_id")
    # block on 16-bit chunks: near-dups (≤12 differing bits of 64) must
    # share at least one exact 16-bit chunk by pigeonhole when ≤3 chunks
    # are touched; 4-chunk blocking gives exact recall for hamming ≤ 3
    # per-chunk spread and high recall otherwise — the standard trick.
    chunks = (
        sig.select(
            "doc_id",
            "simhash",
            F.explode(
                F.expr(
                    "transform(sequence(0, 3),"
                    " c -> struct(c AS chunk_idx,"
                    " shiftright(simhash, c * 16) & 65535 AS chunk_val))"
                )
            ).alias("ch"),
        )
        .select("doc_id", "simhash", "ch.chunk_idx", "ch.chunk_val")
        # materialize ONCE: three consumers (the cap census and both
        # self-join sides) would otherwise each re-run the tokenize →
        # xxhash → Arrow sign-fold subplan — the dominant cost. Same
        # rationale at 100 TB, where the signature table is written
        # out before blocking (pagerank localCheckpoint precedent).
        .localCheckpoint(eager=True)
    )
    # skew cap: same-vocabulary corpora produce near-identical simhashes,
    # so a hot chunk bucket would go quadratic — cap like MinHash-LSH
    sizes = chunks.groupBy("chunk_idx", "chunk_val").agg(
        F.count("*").alias("__n")
    )
    chunks = chunks.join(
        sizes.filter(F.col("__n") <= 100), ["chunk_idx", "chunk_val"]
    ).drop("__n")
    a = chunks.alias("a")
    b = chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            hamming64("a.simhash", "b.simhash").alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= 12)
    )
    return pairs


# --------------------------------------------------------------------------
# Embedding-cosine near-dup pairs, label-blocked (the semantic-dedup
# variant: near-identical embeddings = near-identical content). Blocking
# on the label column bounds the pair space the same way LSH buckets
# would; cosine is the bit-exact sequential fold.
# --------------------------------------------------------------------------


@query(
    "dedup_embedding_cosine",
    oracle=f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {sql_dround('('
                   ' list_sum(list_transform(range(1, 65),'
                   ' i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))'
                   ' / (sqrt(list_sum(list_transform(range(1, 65),'
                   ' i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))'
                   ' * sqrt(list_sum(list_transform(range(1, 65),'
                   ' i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))'
                   ' )', 6)} AS cosine
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE (list_sum(list_transform(range(1, 65),
           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
       / (sqrt(list_sum(list_transform(range(1, 65),
           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
        * sqrt(list_sum(list_transform(range(1, 65),
           i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))))
      >= 0.35
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import dround
    from ..operators.similarity import dot_sql_spark

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    # per-row norms hoisted before the self-join (one fold per VECTOR,
    # not three per PAIR) — bit-identical to the oracle's per-pair form:
    # dot / (sqrt(aa) * sqrt(bb)), same ops in the same order
    base = emb.withColumn(
        "__n", F.expr(f"sqrt({dot_sql_spark('embedding', 'embedding')})")
    )
    a = base.select(
        F.col("vec_id").alias("id_a"),
        F.col("label").alias("label_a"),
        F.col("embedding").alias("emb_a"),
        F.col("__n").alias("__na"),
    )
    b = base.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("label_b"),
        F.col("embedding").alias("emb_b"),
        F.col("__n").alias("__nb"),
    )
    cos = F.expr(dot_sql_spark("emb_a", "emb_b")) / (
        F.col("__na") * F.col("__nb")
    )
    return (
        a.join(
            b,
            (F.col("label_a") == F.col("label_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .filter(cos >= 0.35)
        .select("id_a", "id_b", dround(cos, 6).alias("cosine"))
    )


# --------------------------------------------------------------------------
# Edit-distance (Levenshtein) fuzzy-match pairs — the entity-resolution
# flavor of near-dedup. Blocked by (nation, name length bucket) so the
# pair space stays bounded; both engines use unit-cost Levenshtein.
# --------------------------------------------------------------------------


@query(
    "dedup_fuzzy_names",
    oracle="""
WITH c AS (
    SELECT c_custkey, c_nationkey, c_name, LENGTH(c_name) // 4 AS len_bucket
    FROM customer
)
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS edit_distance
FROM c a JOIN c b
  ON a.c_nationkey = b.c_nationkey
 AND a.len_bucket = b.len_bucket
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 2
""",
)
def dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    c = cust.select(
        "c_custkey",
        "c_nationkey",
        "c_name",
        (F.length("c_name") / 4).cast("long").alias("len_bucket"),
    )
    a = c.alias("a")
    b = c.alias("b")
    dist = F.levenshtein(F.col("a.c_name"), F.col("b.c_name"))
    return (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .filter(dist <= 2)
        .select(
            F.col("a.c_custkey").alias("id_a"),
            F.col("b.c_custkey").alias("id_b"),
            dist.cast("int").alias("edit_distance"),
        )
    )


# --------------------------------------------------------------------------
# Near-dup cluster assignment: Jaccard candidate pairs → connected
# components (iterative min-label propagation). Similarity is pairwise,
# not transitive — turning pairs into KEEP-ONE-PER-CLUSTER decisions
# requires the transitive closure, which is this query. The oracle
# expresses the same closure as a DuckDB recursive CTE (tractable at
# test SF; the Spark side is the scale path).
# --------------------------------------------------------------------------

# Shared closure SQL (after the capped-block CTEs): edges → symmetric
# closure → reachability → min-label clusters. Reused by the
# keep-canonical materialization below.
_CLUSTER_SQL = """
edges AS (
    SELECT a.doc_id AS src, b.doc_id AS dst
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.len_bucket = b.len_bucket
         AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.grams, b.grams)) * 1.0
          / (len(a.grams) + len(b.grams)
             - len(list_intersect(a.grams, b.grams))) >= 0.5
),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(node, r) AS (
    SELECT DISTINCT src, src FROM sym
    UNION
    SELECT s.src, reach.r FROM sym s JOIN reach ON reach.node = s.dst
),
clusters AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node)
"""


@query(
    "dedup_cluster_components",
    oracle=f"""
WITH RECURSIVE {_JACCARD_BLOCK_SQL},
{_CLUSTER_SQL}
SELECT node AS doc_id, cluster_id FROM clusters
""",
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge generation uses the INVERTED-INDEX formulation, not
    pairwise array intersection: explode distinct grams, equi-join on
    (block, gram), count shared grams per candidate pair —
    |A∩B| arrives as a join-aggregate and |A|/|B| ride along, so
    Jaccard needs no per-pair set arithmetic. Equivalent semantics to
    the oracle's list_intersect, ~2× faster at sf0.1, and shuffle-
    bound rather than compute-bound (gram postings move through one
    equi-join instead of O(pairs × gram-length) intersections).

    Exact-Jaccard edge generation still touches every same-block pair
    sharing any gram, so blocks are capped at MAX_BLOCK docs (oversized
    blocks dropped, mirrored in the oracle — see dedup_ngram_jaccard).
    At 100 TB, swap the edge source for `minhash_lsh_candidates` +
    `jaccard_verify` (same module): candidates drop to LSH-bucket
    collisions and the verification cost scales with true-duplicate
    density, not block size. `connected_components` is unchanged
    either way."""
    from ..operators.graph import connected_components

    edges = _jaccard_edges(spark, sf_dir)
    return connected_components(edges).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


def _jaccard_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst) near-dup edges via the inverted-index formulation over
    MAX_BLOCK-capped blocks (see dedup_cluster_components docstring)."""
    sh = _capped_shingle_blocks(spark, sf_dir)
    postings = sh.select(
        "doc_id",
        "lang",
        "len_bucket",
        F.size("grams").alias("n_grams"),
        F.explode("grams").alias("gram"),
    )
    a = postings.alias("a")
    b = postings.alias("b")
    pair_inter = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("src"),
            F.col("b.doc_id").alias("dst"),
            F.col("a.n_grams").alias("na"),
            F.col("b.n_grams").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
    )
    return pair_inter.filter(
        F.col("inter") * 1.0 / (F.col("na") + F.col("nb") - F.col("inter"))
        >= 0.5
    ).select("src", "dst")


# --------------------------------------------------------------------------
# Keep-one-per-cluster materialization — the dedup DECISION table a
# training pipeline actually consumes: every document labeled with its
# cluster, whether it is the kept (canonical) copy, and the cluster
# size. Min-label propagation makes cluster_id = MIN(doc_id) in the
# component, so canonical = (doc_id == cluster_id); singletons (no
# near-dup edge) keep themselves.
# --------------------------------------------------------------------------


@query(
    "dedup_keep_canonical",
    oracle=f"""
WITH RECURSIVE {_JACCARD_BLOCK_SQL},
{_CLUSTER_SQL},
assigned AS (
    SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN clusters c ON d.doc_id = c.node
),
sizes AS (
    SELECT cluster_id, COUNT(*) AS cluster_size
    FROM assigned GROUP BY cluster_id
)
SELECT a.doc_id, a.cluster_id,
       (a.doc_id = a.cluster_id) AS is_canonical,
       s.cluster_size
FROM assigned a JOIN sizes s USING (cluster_id)
""",
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: component assignment touches only docs WITH edges
    (cluster table ≪ corpus); the left join back to the corpus shuffles
    on doc_id and the cluster size comes from a count-over-window on
    cluster_id — ONE pass over the assignment (a groupBy+self-join
    would compute the whole join tree twice), with per-partition state
    bounded by the largest cluster. The output is directly joinable to
    the corpus as the keep/drop filter.
    """
    from pyspark.sql.window import Window

    from ..operators.graph import connected_components

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    clusters = connected_components(_jaccard_edges(spark, sf_dir))
    assigned = (
        docs.select("doc_id")
        .join(clusters, docs["doc_id"] == clusters["node"], "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
    )
    return assigned.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
        F.count("*")
        .over(Window.partitionBy("cluster_id"))
        .alias("cluster_size"),
    )


# --------------------------------------------------------------------------
# Hash-checked MinHash-LSH: the production path (dedup_minhash_lsh)
# hashes shingles with xxhash64, which no SQL engine reproduces — so it
# carries only a rows-only check. This variant hashes each shingle ONCE
# via an md5 prefix (bit-identical in Spark, DuckDB, and Python) and
# derives the 16 minhash permutations by universal hashing
# (a_p·h + b_p) mod P — pure 64-bit-safe integer arithmetic, identical
# in both engines — making the ENTIRE pipeline — shingle → minhash →
# banded buckets → candidate join → exact-Jaccard verify —
# value-hash-checked end to end. Same plan shape as the fast path:
# bucket equi-join, never O(n²). (The previous formulation hashed md5
# per (shingle, perm) — 16× the string-hash work, 120 s at sf0.1.)
# --------------------------------------------------------------------------

from ..operators.dedup import _MH_A, _MH_B, _MH_P  # noqa: E402

_MINHASH_PERMS = 16
_MINHASH_BANDS = 4  # 4 rows per band

_MH_SIG_DUCK = ", ".join(
    f"list_min(list_transform(hs, h -> ({_MH_A[p]} * h + {_MH_B[p]})"
    f" % {_MH_P}))"
    for p in range(_MINHASH_PERMS)
)
_MH_SIG_SPARK = ", ".join(
    f"array_min(transform(hs, h -> ({_MH_A[p]} * h + {_MH_B[p]})"
    f" % {_MH_P}))"
    for p in range(_MINHASH_PERMS)
)


# Shared LSH-candidate CTE chain (md5-deterministic recipe): shingle →
# hash once → minhash → banded buckets → distinct candidate pairs.
# Reused by dedup_minhash_lsh_checked and curation_near_dup_end_to_end.
_LSH_CAND_SQL = f"""sh AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, GREATEST(LENGTH(text) - 2, 0) + 1),
               i -> text[i : i + 2]
           )) AS grams
    FROM documents WHERE LENGTH(text) >= 3
),
hb AS (
    SELECT doc_id, grams,
           list_transform(grams, g ->
               CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT)) AS hs
    FROM sh
),
mh AS (
    SELECT doc_id, grams, [{_MH_SIG_DUCK}] AS sig
    FROM hb
),
buckets AS (
    SELECT doc_id, grams, b.b AS band,
           array_to_string(list_slice(sig, b.b * 4 + 1, b.b * 4 + 4), ',')
               AS band_sig
    FROM mh, (SELECT unnest(range(0, {_MINHASH_BANDS})) AS b) b
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           a.grams AS ga, b.grams AS gb
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
)"""


@query(
    "dedup_minhash_lsh_checked",
    oracle=f"""
WITH {_LSH_CAND_SQL}
SELECT id_a, id_b,
       {sql_dround('''len(list_intersect(ga, gb)) * 1.0
        / (len(ga) + len(gb) - len(list_intersect(ga, gb)))''', 6)} AS jaccard
FROM cand
WHERE len(list_intersect(ga, gb)) * 1.0
      / (len(ga) + len(gb) - len(list_intersect(ga, gb))) >= 0.5
""",
)
def dedup_minhash_lsh_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import dround

    cand = _lsh_md5_candidate_pairs(spark, sf_dir)
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size("ga") + F.size("gb") - inter
    jac = inter * 1.0 / union
    return cand.filter(jac >= 0.5).select(
        "id_a", "id_b", dround(jac, 6).alias("jaccard")
    )


def _lsh_md5_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b, ga, gb) MinHash-LSH candidate pairs via the
    md5-deterministic recipe (shared by dedup_minhash_lsh_checked and
    the near-dup curation composition)."""
    from ..operators.dedup import shingles

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    # LENGTH >= 3 mirrors the oracle's sh CTE (the ['']-array artifact
    # of Spark's shingle transform would otherwise keep sub-3-char docs
    # that DuckDB drops); also guarantees non-empty hs below.
    sh = docs.filter(F.length("text") >= 3).select(
        "doc_id", shingles("text", 3).alias("grams")
    )
    hs_expr = (
        "transform(grams, g -> "
        "cast(conv(substring(md5(g), 1, 8), 16, 10) AS bigint))"
    )
    band_expr = (
        f"transform(sequence(0, {_MINHASH_BANDS - 1}), b -> "
        "struct(b AS band, "
        "concat_ws(',', transform(slice(sig, b * 4 + 1, 4), "
        "x -> cast(x AS string))) AS band_sig))"
    )
    buckets = (
        sh.withColumn("hs", F.expr(hs_expr))
        .withColumn("sig", F.expr(f"array({_MH_SIG_SPARK})"))
        .select("doc_id", F.explode(F.expr(band_expr)).alias("bb"))
        .select("doc_id", "bb.band", "bb.band_sig")
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    # candidate pairs are dedup'd as BARE id pairs — carrying both
    # shingle arrays through the band join + distinct shuffle is the
    # dominant cost on dup-dense corpora (each pair would ship ~300
    # strings, ×4 band duplicates); grams re-join per side afterwards
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .join(
            sh.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("ga")),
            "id_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("gb")),
            "id_b",
        )
    )
    return cand


# --------------------------------------------------------------------------
# Near-dup curation END TO END — the apply arc for MinHash-LSH, the
# composition curation_end_to_end provides for exact dedup: LSH
# candidates (md5-deterministic recipe) → exact-Jaccard verify →
# connected components → keep-canonical decision → per-source
# kept/dropped TOKEN accounting. This is the table a training-data
# owner actually reads before a near-dup dedup run: how many documents
# and tokens each source loses, and how much of the loss is
# cross-source (a source's content surviving only via another source's
# canonical copy). Hash-checking the final per-source token totals
# pins the ENTIRE five-stage composition at once.
# --------------------------------------------------------------------------

_ND_TOKENS_DUCK = """CASE WHEN text IS NULL OR TRIM(text) = '' THEN 0
                ELSE len(string_split_regex(TRIM(text), '\\s+')) END"""

# Min-label + pointer-jump closure, UNROLLED: the LSH near-dup graph is
# far denser than the Jaccard-blocked one (candidates cross length
# buckets), and DuckDB's UNION-recursive reach CTE materializes every
# (node, reachable-label) pair — Σ comp_size² rows and |E|·|comp| join
# work per iteration (43 s at sf0.01 vs 2.5 s for the blocked graph).
# Instead: K rounds of  nm_i(v) = min(l(v), min_nbr l(u))  followed by
# one pointer jump  l_{i+1}(v) = min(nm_i(v), nm_i(nm_i(v)))  — each
# round O(|E|) with per-node state, AS MATERIALIZED per the kcore
# precedent (a plain CTE referenced twice per round expands
# exponentially). Jumping makes convergence O(log diameter): K=8
# covers any component this side of diameter ~2^8. Convergence is NOT
# assumed: the final select is gated on l_K == l_{K-1} for every node,
# so a pathological graph yields zero rows (a loud row-count mismatch
# against Spark's exact fixpoint), never a silently wrong clustering.
_ND_CC_ROUNDS = 8


def _nd_closure_sql(k: int = _ND_CC_ROUNDS) -> str:
    parts = [
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym)",
        "l0 AS MATERIALIZED (SELECT node, node AS l FROM nodes)",
    ]
    for i in range(k):
        parts.append(f"""nm{i} AS MATERIALIZED (
    SELECT n.node, LEAST(n.l, COALESCE(MIN(x.l), n.l)) AS l
    FROM l{i} n
    LEFT JOIN sym s ON s.src = n.node
    LEFT JOIN l{i} x ON x.node = s.dst
    GROUP BY n.node, n.l
)""")
        parts.append(f"""l{i + 1} AS MATERIALIZED (
    SELECT a.node, LEAST(a.l, b.l) AS l
    FROM nm{i} a JOIN nm{i} b ON b.node = a.l
)""")
    parts.append(
        f"conv AS (SELECT BOOL_AND(a.l = b.l) AS ok "
        f"FROM l{k} a JOIN l{k - 1} b USING (node))"
    )
    parts.append(
        f"clusters AS (SELECT node, l AS cluster_id FROM l{k} "
        "CROSS JOIN conv WHERE conv.ok)"
    )
    return ",\n".join(parts)


@query(
    "curation_near_dup_end_to_end",
    oracle=f"""
WITH {_LSH_CAND_SQL},
edges AS (
    SELECT id_a AS src, id_b AS dst FROM cand
    WHERE len(list_intersect(ga, gb)) * 1.0
          / (len(ga) + len(gb) - len(list_intersect(ga, gb))) >= 0.5
),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
{_nd_closure_sql()},
docs_t AS (
    SELECT doc_id, source,
           {_ND_TOKENS_DUCK} AS n_tokens
    FROM documents
),
assigned AS (
    SELECT d.doc_id, d.source, d.n_tokens,
           COALESCE(c.cluster_id, d.doc_id) AS cluster_id
    FROM docs_t d LEFT JOIN clusters c ON d.doc_id = c.node
),
canon AS (
    SELECT a.source, a.n_tokens, a.cluster_id,
           (a.doc_id = a.cluster_id) AS is_kept,
           k.source AS canon_source
    FROM assigned a JOIN docs_t k ON a.cluster_id = k.doc_id
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(*) FILTER (WHERE is_kept) AS n_kept,
       COUNT(*) FILTER (WHERE NOT is_kept) AS n_dropped,
       COUNT(*) FILTER (WHERE NOT is_kept AND canon_source <> source)
           AS n_dropped_cross_source,
       CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters_touched,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
       CAST(SUM(CASE WHEN is_kept THEN n_tokens ELSE 0 END) AS BIGINT)
           AS tokens_kept,
       CAST(SUM(CASE WHEN NOT is_kept THEN n_tokens ELSE 0 END) AS BIGINT)
           AS tokens_dropped,
       {sql_dround(
           '''CASE WHEN SUM(n_tokens) > 0 THEN
                SUM(CASE WHEN NOT is_kept THEN n_tokens ELSE 0 END)
                * 1.0 / SUM(n_tokens) END''', 6)} AS dropped_token_frac
FROM canon
GROUP BY source
""",
)
def curation_near_dup_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source near-dup dedup impact: docs/tokens kept vs dropped.

    Composition: `_lsh_md5_candidate_pairs` (banded bucket equi-join,
    never all-pairs) → exact-Jaccard verify (cost scales with true-dup
    density) → `connected_components` min-label propagation (touches
    only docs WITH edges, ≪ corpus) → left join back to the corpus →
    one per-source aggregate. Stages are the same operators the
    standalone queries use, fused into one declarative plan so Catalyst
    optimizes across stage boundaries.

    Scale: the only corpus-sized stages are the shingle scan and the
    final map-side token count + groupBy(source); the cluster table
    and edge list are duplicate-density-sized. The canonical-source
    lookup joins the assignment to the corpus on cluster_id — an
    equi-join on the same doc_id domain, co-partitionable with the
    assignment shuffle. Conservation is structural (kept + dropped
    token sums partition the total) and cross-checkable via
    n_kept ≤ n_clusters_touched per source. Reference has no near-dup
    ops (closest: drop_duplicates, scripts/transform.py:1); models the
    Lee et al. 2022 dedup accounting at the source grain.
    """
    from ..operators.graph import connected_components

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    cand = _lsh_md5_candidate_pairs(spark, sf_dir)
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size("ga") + F.size("gb") - inter
    edges = cand.filter(inter * 1.0 / union >= 0.5).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    clusters = connected_components(edges)
    wc = F.when(
        F.col("text").isNull() | (F.trim(F.col("text")) == ""), F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
    docs_t = docs.select("doc_id", "source", wc.alias("n_tokens"))
    assigned = (
        docs_t.join(clusters, docs_t["doc_id"] == clusters["node"], "left")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
    )
    canon = assigned.join(
        docs_t.select(
            F.col("doc_id").alias("cluster_id"),
            F.col("source").alias("canon_source"),
        ),
        "cluster_id",
    ).select(
        "source",
        "n_tokens",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_kept"),
        "canon_source",
    )
    kept = F.col("is_kept")
    tokens_total = F.sum("n_tokens")
    tokens_dropped = F.sum(F.when(~kept, F.col("n_tokens")).otherwise(0))
    return canon.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(kept, 1)).alias("n_kept"),
        F.count(F.when(~kept, 1)).alias("n_dropped"),
        F.count(F.when(~kept & (F.col("canon_source") != F.col("source")), 1))
        .alias("n_dropped_cross_source"),
        F.countDistinct("cluster_id").cast("bigint")
        .alias("n_clusters_touched"),
        tokens_total.cast("bigint").alias("tokens_total"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("tokens_kept"),
        tokens_dropped.cast("bigint").alias("tokens_dropped"),
        dround(
            F.when(
                tokens_total > 0, tokens_dropped * 1.0 / tokens_total
            ),
            6,
        ).alias("dropped_token_frac"),
    )


# --------------------------------------------------------------------------
# Hash-checked SimHash: the production path (dedup_simhash) hashes
# tokens with xxhash64 and folds the 64 sign-sums in a numpy pandas
# UDF — neither is reproducible in SQL, so it carries a rows-only
# check. This twin derives 32-bit token hashes from md5 (bit-identical
# in Spark and DuckDB, same recipe as dedup_minhash_lsh_checked) and
# folds the sign-sums as pure column expressions, putting the ENTIRE
# pipeline — tokenize → hash → sign-fold fingerprint → chunk blocking
# with skew cap → Hamming filter — under the value-hash oracle. Same
# plan shape as the fast path: chunk equi-join, never O(n²).
# --------------------------------------------------------------------------

_SIMHASH_CHK_BITS = 32
_SIMHASH_CHK_CHUNKS = 4  # 8 bits each
_SIMHASH_CHK_CAP = 100  # hot-chunk skew cap, as in dedup_simhash
_SIMHASH_CHK_HAM = 6  # of 32 bits ≈ the production 12-of-64 threshold

_TOKENS_SPARK = "array_distinct(split(lower(trim(text)), '\\\\s+'))"
_HASHES_SPARK = (
    f"transform({_TOKENS_SPARK}, t -> "
    "cast(conv(substring(md5(t), 1, 8), 16, 10) AS bigint))"
)
_BITSUMS_SPARK = (
    f"aggregate({_HASHES_SPARK}, "
    f"transform(sequence(0, {_SIMHASH_CHK_BITS - 1}), b -> cast(0 AS bigint)), "
    f"(acc, h) -> zip_with(acc, sequence(0, {_SIMHASH_CHK_BITS - 1}), "
    "(a, b) -> a + (CASE WHEN (shiftright(h, b) & 1) = 1 THEN 1 ELSE -1 END)))"
)
_SIMHASH_SPARK = (
    f"aggregate(zip_with({_BITSUMS_SPARK}, "
    f"sequence(0, {_SIMHASH_CHK_BITS - 1}), "
    "(s, b) -> CASE WHEN s > 0 THEN shiftleft(cast(1 AS bigint), b) "
    "ELSE cast(0 AS bigint) END), "
    "cast(0 AS bigint), (acc, v) -> acc + v)"
)


# DuckDB twin of _SIMHASH_SPARK: tok + sig CTEs (md5-derived 32-bit
# sign-fold fingerprint). Shared verbatim by dedup_simhash_checked and
# the streaming_neardup_guard oracle (plans/streaming.py).
_SIMHASH_SIG_SQL_DUCKDB = f"""tok AS (
    SELECT doc_id,
           list_transform(
               list_distinct(string_split_regex(lower(trim(text)), '\\s+')),
               t -> CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT)
           ) AS hashes
    FROM documents
    -- a NULL text folds to simhash 0 in DuckDB but NULL in Spark
    -- (list_sum(NULL) vs aggregate-over-NULL) — shared filter
    WHERE text IS NOT NULL
),
sig AS (
    SELECT doc_id,
           CAST(list_sum(list_transform(range(0, {_SIMHASH_CHK_BITS}), b ->
               CASE WHEN list_sum(list_transform(hashes, h ->
                        CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END
           )) AS BIGINT) AS simhash
    FROM tok
)"""


@query(
    "dedup_simhash_checked",
    oracle=f"""
WITH {_SIMHASH_SIG_SQL_DUCKDB},
chunks AS (
    SELECT doc_id, simhash, c.c AS chunk_idx,
           (simhash >> (c.c * 8)) & 255 AS chunk_val
    FROM sig, (SELECT unnest(range(0, {_SIMHASH_CHK_CHUNKS})) AS c) c
),
ok AS (
    SELECT chunk_idx, chunk_val FROM chunks
    GROUP BY 1, 2 HAVING COUNT(*) <= {_SIMHASH_CHK_CAP}
),
kept AS (SELECT chunks.* FROM chunks JOIN ok USING (chunk_idx, chunk_val)),
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           a.simhash AS sa, b.simhash AS sb
    FROM kept a JOIN kept b
      ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
         AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
FROM pairs WHERE bit_count(xor(sa, sb)) <= {_SIMHASH_CHK_HAM}
""",
)
def dedup_simhash_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    sig = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.expr(_SIMHASH_SPARK).alias("simhash")
    )
    chunks = (
        sig.select(
            "doc_id",
            "simhash",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {_SIMHASH_CHK_CHUNKS - 1}),"
                    " c -> struct(c AS chunk_idx,"
                    " shiftright(simhash, c * 8) & 255 AS chunk_val))"
                )
            ).alias("ch"),
        )
        .select("doc_id", "simhash", "ch.chunk_idx", "ch.chunk_val")
        # materialize once — the interpreted higher-order sign-fold is
        # the dominant cost and has three consumers (see dedup_simhash)
        .localCheckpoint(eager=True)
    )
    sizes = chunks.groupBy("chunk_idx", "chunk_val").agg(
        F.count("*").alias("__n")
    )
    chunks = chunks.join(
        sizes.filter(F.col("__n") <= _SIMHASH_CHK_CAP),
        ["chunk_idx", "chunk_val"],
    ).drop("__n")
    a = chunks.alias("a")
    b = chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.expr("cast(bit_count(a.simhash ^ b.simhash) AS int)").alias(
                "hamming"
            ),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= _SIMHASH_CHK_HAM)
    )


# --------------------------------------------------------------------------
# Dedup observability: the size distribution of exact-duplicate
# clusters. This is the number a curation run reports BEFORE deleting
# anything — how much of the corpus is redundant and whether
# duplication is a long tail of pairs or a few megaclusters (the
# latter changes strategy: megaclusters are boilerplate/templates, not
# crawl dupes). Two hash-keyed map-combining aggregates; the output is
# distinct-cluster-size cardinality (tiny at any corpus size).
# --------------------------------------------------------------------------


@query(
    "dup_cluster_size_histogram",
    oracle="""
WITH clusters AS (
    SELECT sha256(substring(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), 1, 80))
               AS content_hash,
           COUNT(*) AS n
    FROM documents
    GROUP BY 1
)
SELECT n AS cluster_size,
       COUNT(*) AS n_clusters,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_redundant
FROM clusters
GROUP BY n
""",
)
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup cluster-size census over normalized content hashes.

    The companion report to ``dedup_exact_content``: per cluster size,
    how many clusters and how many redundant docs deleting would
    reclaim. The text never shuffles — only (hash) leaves the map
    side — and both aggregates combine partially, so the cost at
    100 TB is one hash-keyed exchange of 32-byte keys.
    """
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    clusters = docs.select(F.sha2(F.substring(norm, 1, 80), 256).alias("content_hash")).groupBy(
        "content_hash"
    ).agg(F.count("*").alias("n"))
    return clusters.groupBy(F.col("n").alias("cluster_size")).agg(
        F.count("*").alias("n_clusters"),
        F.sum("n").alias("n_docs"),
        (F.sum("n") - F.count("*")).alias("n_redundant"),
    )


# --------------------------------------------------------------------------
# Dedup-graph degree census: the structural profile of the near-dup
# graph BEFORE clustering collapses it. Degree distribution answers
# "is duplication pairwise (degree 1-2) or hub-shaped (template pages
# with hundreds of near-copies)?" — hubs mean the canonical-keep rule
# matters and LSH bucket caps will bite. Same capped edge rule as
# dedup_ngram_jaccard / dedup_cluster_components; output is
# degree-cardinality plus one isolated-docs row (degree 0).
# --------------------------------------------------------------------------


@query(
    "dedup_graph_degree_census",
    oracle=f"""
WITH {_JACCARD_BLOCK_SQL},
edges AS (
    SELECT a.doc_id AS src, b.doc_id AS dst
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.len_bucket = b.len_bucket
         AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.grams, b.grams)) * 1.0
          / (len(a.grams) + len(b.grams)
             - len(list_intersect(a.grams, b.grams))) >= 0.5
),
sym AS (
    SELECT src AS doc_id FROM edges
    UNION ALL SELECT dst FROM edges
),
deg AS (SELECT doc_id, COUNT(*) AS degree FROM sym GROUP BY 1)
SELECT degree, COUNT(*) AS n_docs FROM deg GROUP BY 1
UNION ALL
SELECT CAST(0 AS BIGINT) AS degree,
       (SELECT COUNT(*) FROM documents)
       - (SELECT COUNT(*) FROM deg) AS n_docs
""",
)
def dedup_graph_degree_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the near-dup graph (+ degree-0 row)."""
    edges = _jaccard_edges(spark, sf_dir)
    sym = edges.select(F.col("src").alias("doc_id")).unionAll(
        edges.select(F.col("dst").alias("doc_id"))
    )
    deg = sym.groupBy("doc_id").agg(F.count("*").alias("degree"))
    hist = deg.groupBy("degree").agg(F.count("*").alias("n_docs"))
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    n_total = docs.agg(F.count("*").alias("n"))
    n_matched = deg.agg(F.count("*").alias("m"))
    isolated = (
        n_total.crossJoin(F.broadcast(n_matched))
        .select(
            F.lit(0).cast("bigint").alias("degree"),
            (F.col("n") - F.col("m")).alias("n_docs"),
        )
    )
    return hist.unionAll(isolated)


# --------------------------------------------------------------------------
# Survivor-bias audit: after keep-first exact dedup, do the KEPT docs
# differ systematically from the DROPPED copies? Keep-min-id is
# content-blind, but if ingestion order correlates with a source or a
# length regime, the surviving corpus is biased — this audit measures
# that before anyone trains on it. Per language: kept/dropped counts
# and exact mean lengths of each side (decimal-summed chars; engine-
# exact), with the length delta as the headline bias number.
# --------------------------------------------------------------------------


@query(
    "dedup_survivor_bias_audit",
    oracle=f"""
WITH h AS (
    SELECT doc_id, lang, n_chars,
           sha256(substring(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), 1, 80))
               AS content_hash
    FROM documents
),
keep AS (
    SELECT content_hash, MIN(doc_id) AS keep_id FROM h GROUP BY 1
),
marked AS (
    SELECT h.lang, h.n_chars,
           h.doc_id = k.keep_id AS kept
    FROM h JOIN keep k USING (content_hash)
)
SELECT lang,
       COUNT(*) FILTER (WHERE kept) AS n_kept,
       COUNT(*) FILTER (WHERE NOT kept) AS n_dropped,
       {sql_dround('SUM(CASE WHEN kept THEN n_chars END) * 1.0'
                   ' / COUNT(*) FILTER (WHERE kept)', 4)}
           AS kept_avg_chars,
       {sql_dround('COALESCE(SUM(CASE WHEN NOT kept THEN n_chars END)'
                   ' * 1.0 / NULLIF(COUNT(*) FILTER (WHERE NOT kept), 0),'
                   ' 0.0)', 4)} AS dropped_avg_chars
FROM marked
GROUP BY 1
""",
)
def dedup_survivor_bias_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    h = docs.select(
        "doc_id", "lang", "n_chars", F.sha2(F.substring(norm, 1, 80), 256).alias("content_hash")
    )
    keep = h.groupBy("content_hash").agg(F.min("doc_id").alias("keep_id"))
    marked = h.join(keep, "content_hash").select(
        "lang",
        "n_chars",
        (F.col("doc_id") == F.col("keep_id")).alias("kept"),
    )
    kept_n = F.count_if("kept")
    drop_n = F.count_if(~F.col("kept"))
    return marked.groupBy("lang").agg(
        kept_n.alias("n_kept"),
        drop_n.alias("n_dropped"),
        dround(
            F.sum(F.when(F.col("kept"), F.col("n_chars"))) * 1.0 / kept_n,
            4,
        ).alias("kept_avg_chars"),
        F.coalesce(
            dround(
                F.sum(F.when(~F.col("kept"), F.col("n_chars")))
                * 1.0
                / F.nullif(drop_n, F.lit(0)),
                4,
            ),
            F.lit(0.0),
        ).alias("dropped_avg_chars"),
    )


from .registry import ORACLES as ORACLES_REF  # noqa: E402


# --------------------------------------------------------------------------
# LSH recall audit — quantifies the approximate path against exact
# truth, fully hash-checked: reference pairs come from the blocked
# exact-Jaccard rule (dedup_ngram_jaccard) and candidates from the
# md5-deterministic MinHash-LSH (dedup_minhash_lsh_checked); both are
# already-registered constructions, composed here as CTEs. Reports
# recall of the LSH path over the blocked truth AND the pairs LSH
# finds that blocking missed (LSH buckets cross (lang, len) blocks).
# This is the measurement that justifies "swap blocked-exact for LSH
# at 100 TB" with a number instead of an assertion.
# --------------------------------------------------------------------------


@query(
    "lsh_recall_audit",
    oracle=f"""
WITH truth AS ({ORACLES_REF['dedup_ngram_jaccard']}),
lsh AS ({ORACLES_REF['dedup_minhash_lsh_checked']}),
j AS (
    SELECT COALESCE(t.id_a, l.id_a) AS id_a,
           COALESCE(t.id_b, l.id_b) AS id_b,
           t.id_a IS NOT NULL AS in_truth,
           l.id_a IS NOT NULL AS in_lsh
    FROM truth t FULL OUTER JOIN lsh l
      ON t.id_a = l.id_a AND t.id_b = l.id_b
)
SELECT COUNT(*) FILTER (WHERE in_truth) AS n_truth_pairs,
       COUNT(*) FILTER (WHERE in_lsh) AS n_lsh_pairs,
       COUNT(*) FILTER (WHERE in_truth AND in_lsh) AS n_common,
       COUNT(*) FILTER (WHERE in_lsh AND NOT in_truth) AS n_lsh_only,
       {sql_dround('COALESCE(COUNT(*) FILTER (WHERE in_truth AND in_lsh)'
                   ' * 1.0 / NULLIF(COUNT(*) FILTER (WHERE in_truth), 0),'
                   ' 1.0)', 6)} AS recall
FROM j
""",
)
def lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpretation (sf0.01 readout): the 4-band×4-row checked LSH
    recalls ~50% of blocked-truth pairs at the 0.5-Jaccard threshold
    (the s-curve P = 1-(1-s⁴)⁴ is ~0.5 there by construction) while
    surfacing ~10× MORE verified pairs the blocking dropped
    (oversized blocks, cross-block pairs) — i.e., BOTH methods are
    partial, in measurable, complementary ways. More bands push
    recall up at candidate-volume cost; the production xxhash64 path
    runs 8×4. This query is where that trade-off gets a number."""
    truth = dedup_ngram_jaccard(spark, sf_dir).select("id_a", "id_b")
    lsh = dedup_minhash_lsh_checked(spark, sf_dir).select("id_a", "id_b")
    t = truth.withColumn("in_truth", F.lit(True))
    l2 = lsh.withColumn("in_lsh", F.lit(True))
    j = t.join(l2, ["id_a", "id_b"], "full").select(
        F.coalesce("in_truth", F.lit(False)).alias("in_truth"),
        F.coalesce("in_lsh", F.lit(False)).alias("in_lsh"),
    )
    n_truth = F.count_if("in_truth")
    n_common = F.count_if(F.col("in_truth") & F.col("in_lsh"))
    return j.agg(
        n_truth.alias("n_truth_pairs"),
        F.count_if("in_lsh").alias("n_lsh_pairs"),
        n_common.alias("n_common"),
        F.count_if(F.col("in_lsh") & ~F.col("in_truth")).alias(
            "n_lsh_only"
        ),
        F.coalesce(
            dround(n_common * 1.0 / F.nullif(n_truth, F.lit(0)), 6),
            F.lit(1.0),
        ).alias("recall"),
    )


# --------------------------------------------------------------------------
# Asymmetric containment near-dup pairs: |A∩B| / min(|A|,|B|) over
# 3-gram shingle sets catches subset/quotation relationships that the
# symmetric Jaccard rule (dedup_ngram_jaccard) under-scores — a short
# doc fully contained in a long one has tiny Jaccard but containment 1.
# Candidates come from RARE-shingle posting lists (df 2..3): the pair
# fan-out per shingle is df(df−1)/2 ≤ 3, so candidate generation is an
# inverted-index equi-join with a hard per-key bound, never all-pairs.
# --------------------------------------------------------------------------

from ..operators.text import word_ngrams, word_ngrams_sql_duckdb  # noqa: E402

_CONT_DF_MAX = 3
_CONT_THRESHOLD = 0.5


@query(
    "doc_containment_pairs",
    oracle=f"""
WITH d AS (
    SELECT doc_id,
           list_distinct({word_ngrams_sql_duckdb('text', 3)}) AS grams
    FROM documents
),
g AS (SELECT doc_id, unnest(grams) AS gram FROM d),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY 1),
dfreq AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY 1),
rare AS (SELECT gram FROM dfreq WHERE df BETWEEN 2 AND {_CONT_DF_MAX}),
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM g a
    JOIN rare r ON r.gram = a.gram
    JOIN g b ON b.gram = a.gram AND a.doc_id < b.doc_id
),
inter AS (
    SELECT p.id_a, p.id_b, COUNT(*) AS n_shared
    FROM pairs p
    JOIN g ga ON ga.doc_id = p.id_a
    JOIN g gb ON gb.doc_id = p.id_b AND gb.gram = ga.gram
    GROUP BY 1, 2
)
SELECT i.id_a, i.id_b, i.n_shared,
       sa.n AS n_a, sb.n AS n_b,
       {sql_dround('i.n_shared * 1.0 / LEAST(sa.n, sb.n)', 6)} AS containment
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE i.n_shared * 1.0 / LEAST(sa.n, sb.n) >= {_CONT_THRESHOLD}
""",
)
def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment ≥ 0.5 doc pairs from rare-shingle candidate blocking.

    Scale: the posting-list self-join only fans out on shingles with
    df ≤ {_CONT_DF_MAX} (bounded pairs per key by construction — the
    frequent-shingle tail generates no candidates, the opposite of a
    hot-key join); intersection counting re-joins only CANDIDATE pairs
    against the gram index on the gram-hash shuffle key. This is the
    same index decontaminate/novelty use — one build, three consumers.
    """
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    d = (
        docs.select("doc_id", F.expr("split(trim(text), '\\\\s+')").alias("ws"))
        .select(
            "doc_id",
            F.array_distinct(word_ngrams("ws", 3, presplit=True)).alias("grams"),
        )
    )
    g = d.select("doc_id", F.explode("grams").alias("gram"))
    sizes = g.groupBy("doc_id").agg(F.count("*").alias("n"))
    dfreq = g.groupBy("gram").agg(F.count("*").alias("df"))
    rare = dfreq.filter(
        (F.col("df") >= 2) & (F.col("df") <= _CONT_DF_MAX)
    ).select("gram")
    ga = g.withColumnRenamed("doc_id", "id_a")
    gb = g.withColumnRenamed("doc_id", "id_b")
    pairs = (
        ga.join(rare, "gram")
        .join(gb, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    inter = (
        pairs.join(ga, "id_a")
        .join(gb, ["gram", "id_b"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
    )
    cont = F.col("n_shared") * 1.0 / F.least(F.col("n_a"), F.col("n_b"))
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
        .filter(cont >= _CONT_THRESHOLD)
        .select(
            "id_a",
            "id_b",
            "n_shared",
            "n_a",
            "n_b",
            dround(cont, 6).alias("containment"),
        )
    )


# --------------------------------------------------------------------------
# Field-level golden-record merge (MDM survivorship): within each
# exact-duplicate cluster, each output FIELD can come from a different
# member row — earliest id as the canonical key, the longest variant's
# length, the modal language with a (count DESC, lang) tiebreak, and
# the source spread. Complements dedup_keep_canonical (ROW-level
# survivor choice) with the column-wise best-of-breed merge an MDM
# pipeline actually ships.
# --------------------------------------------------------------------------


@query(
    "golden_record_merge",
    oracle="""
WITH h AS (
    SELECT doc_id, lang, source, n_chars,
           substring(sha256(substring(LOWER(TRIM(REGEXP_REPLACE(text,
               '\\s+', ' ', 'g'))), 1, 80)), 1, 16) AS cluster_key
    FROM documents
),
sized AS (
    SELECT cluster_key FROM h GROUP BY 1 HAVING COUNT(*) >= 2
),
members AS (SELECT h.* FROM h JOIN sized USING (cluster_key)),
lang_counts AS (
    SELECT cluster_key, lang, COUNT(*) AS c FROM members GROUP BY 1, 2
),
lang_mode AS (
    SELECT cluster_key, lang AS mode_lang FROM (
        SELECT cluster_key, lang,
               ROW_NUMBER() OVER (PARTITION BY cluster_key
                                  ORDER BY c DESC, lang) AS rn
        FROM lang_counts
    ) WHERE rn = 1
)
SELECT m.cluster_key,
       COUNT(*) AS n_members,
       MIN(m.doc_id) AS canonical_id,
       CAST(MAX(m.n_chars) AS BIGINT) AS best_len,
       COUNT(DISTINCT m.source) AS n_sources,
       MAX(lm.mode_lang) AS mode_lang
FROM members m JOIN lang_mode lm USING (cluster_key)
GROUP BY 1
""",
)
def golden_record_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-wise survivorship over normalized-prefix match clusters.

    The match key is the sha256 of the first 80 normalized chars — the
    MDM candidate-key posture (the current corpus generation has ZERO
    exact full-text duplicates below sf0.1, which left the original
    exact-hash key vacuously empty; round-8 empty-result audit).

    Scale: one content-hash shuffle groups members; every survivorship
    rule is a bounded per-cluster aggregate or a cluster-partitioned
    argmax window — no cross-cluster work. The same rules generalize
    to near-dup clusters by swapping the key for
    dedup_cluster_components' cluster id.
    """
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    h = docs.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.substring(
            F.sha2(F.substring(norm, 1, 80), 256), 1, 16
        ).alias("cluster_key"),
    )
    sized = (
        h.groupBy("cluster_key")
        .agg(F.count("*").alias("cn"))
        .filter(F.col("cn") >= 2)
        .select("cluster_key")
    )
    members = h.join(sized, "cluster_key")
    lang_counts = members.groupBy("cluster_key", "lang").agg(
        F.count("*").alias("c")
    )
    wl = Window.partitionBy("cluster_key").orderBy(F.desc("c"), "lang")
    lang_mode = (
        lang_counts.select(
            "cluster_key", "lang", F.row_number().over(wl).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .select("cluster_key", F.col("lang").alias("mode_lang"))
    )
    return (
        members.join(lang_mode, "cluster_key")
        .groupBy("cluster_key")
        .agg(
            F.count("*").alias("n_members"),
            F.min("doc_id").alias("canonical_id"),
            F.max("n_chars").cast("bigint").alias("best_len"),
            F.count_distinct("source").alias("n_sources"),
            F.max("mode_lang").alias("mode_lang"),
        )
    )


# --------------------------------------------------------------------------
# Content-defined chunking (the rsync/LBFS/backup-dedup trick): chunk
# boundaries are set wherever a polynomial hash of the local 8-char
# window hits 0 mod 64, so boundaries move WITH content — an insertion
# shifts one chunk instead of re-aligning every fixed-size block.
# The boundary hash is pure integer arithmetic (ascii × 31^k — no
# engine hash in the hot loop); chunk identity is sha256 of the chunk
# text. Dedup ratio = shared chunks across the corpus.
# --------------------------------------------------------------------------

_CDC_W = 8
_CDC_MOD = 64
_CDC_COEF = [31**k % 1_000_003 for k in range(_CDC_W)]


def _cdc_poly(cs: str, i: str, elem: str) -> str:
    """Polynomial window hash at position ``i`` (1-based) over a
    MATERIALIZED char-code array ``cs`` — one ascii() per character
    instead of eight per position (measured 13.5 s → ~3 s at sf0.1).
    ``elem`` is the engine's array indexer."""
    terms = " + ".join(
        elem.format(cs=cs, idx=f"({i}) + {k}") + f" * {c}"
        for k, c in enumerate(_CDC_COEF)
    )
    return f"(({terms}) % {_CDC_MOD})"


_ELEM_DUCK = "{cs}[{idx}]"
_ELEM_SPARK = "element_at({cs}, CAST({idx} AS INT))"


@query(
    "content_defined_chunking",
    oracle=f"""
WITH cs AS (
    SELECT doc_id, source, text, LENGTH(text) AS len,
           -- BIGINT codes: ascii() of a non-ASCII char is its full
           -- codepoint (up to ~1.1M) and the polynomial product would
           -- overflow 32-bit INT on both engines
           list_transform(range(1, LENGTH(text) + 1),
               i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)) AS codes
    FROM documents WHERE text IS NOT NULL
),
b AS (
    SELECT doc_id, source, text, len,
           list_concat(
               list_concat([0], list_filter(
                   range(1, GREATEST(1, len - {_CDC_W - 1}) + 1),
                   i -> {_cdc_poly('codes', 'i', _ELEM_DUCK)} = 0)),
               [len]) AS bounds
    FROM cs
),
chunks AS (
    SELECT doc_id, source,
           unnest(list_transform(range(2, len(bounds) + 1),
               j -> substring(text, bounds[j - 1] + 1,
                              bounds[j] - bounds[j - 1]))) AS chunk
    FROM b
),
hashed AS (
    SELECT source, LENGTH(chunk) AS clen,
           substring(sha256(chunk), 1, 16) AS chash
    FROM chunks WHERE LENGTH(chunk) > 0
)
SELECT source,
       COUNT(*) AS n_chunks,
       COUNT(DISTINCT chash) AS n_distinct_chunks,
       CAST(SUM(clen) AS BIGINT) AS total_chars,
       {sql_dround('CAST(SUM(clen) AS BIGINT) * 1.0 / COUNT(*)', 4)} AS avg_chunk_len,
       {sql_dround('(1.0 - COUNT(DISTINCT chash) * 1.0 / COUNT(*))', 6)} AS dedup_ratio
FROM hashed
GROUP BY 1
""",
)
def content_defined_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source chunk stats and dedup ratio under CDC boundaries.

    Scale: the boundary scan is map-only integer arithmetic per
    position (no engine hash until chunk identity); chunk dedup is one
    sha-keyed distinct. This is the storage-level dedup family —
    byte-stream chunks instead of token shingles — and the chunk-hash
    table it produces is what incremental backup/transfer diffs
    against at 100 TB.
    """
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    # NULL text has no chunks (oracle carries the same predicate)
    cs = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        "source",
        "text",
        F.expr(
            # BIGINT: a non-ASCII codepoint (~1.1M max) times the 31^k
            # coefficients overflows INT under ANSI
            "transform(sequence(1, length(text)),"
            " i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))"
        ).alias("codes"),
    )
    poly = _cdc_poly("codes", "i", _ELEM_SPARK)
    # the window-shorter-than-W case must SKIP the boundary scan: the
    # oracle's out-of-range list index is NULL (poly never hits 0) but
    # Spark's element_at THROWS under ANSI — an empty candidate list
    # reproduces DuckDB's [0, len] bounds without evaluating poly.
    # (sequence(1, 0) would be DESCENDING in Spark, hence the CASE.)
    bounds = F.expr(
        f"concat(array(0), CASE WHEN length(text) >= {_CDC_W} THEN "
        f"filter(sequence(1, length(text) - {_CDC_W - 1}),"
        f" i -> {poly} = 0) ELSE array() END, array(length(text)))"
    )
    b = cs.select("doc_id", "source", "text", bounds.alias("bounds"))
    chunks = b.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(2, size(bounds)), j -> "
                "substring(text, element_at(bounds, j - 1) + 1, "
                "element_at(bounds, j) - element_at(bounds, j - 1)))"
            )
        ).alias("chunk"),
    ).filter(F.length("chunk") > 0)
    hashed = chunks.select(
        "source",
        F.length("chunk").alias("clen"),
        F.substring(F.sha2("chunk", 256), 1, 16).alias("chash"),
    )
    return hashed.groupBy("source").agg(
        F.count("*").alias("n_chunks"),
        F.count_distinct("chash").alias("n_distinct_chunks"),
        F.sum("clen").cast("bigint").alias("total_chars"),
        dround(
                F.sum("clen").cast("bigint") * 1.0 / F.count("*"), 4
            ).alias("avg_chunk_len"),
        dround(
            (
                1.0
                - F.count_distinct("chash") * 1.0 / F.count("*")
            ),
            6,
        ).alias("dedup_ratio"),
    )


# --------------------------------------------------------------------------
# Sorted-neighborhood blocking (SNM): sort by a fuzzy key, compare
# each record only with its w successors — the record-linkage blocking
# strategy for TYPO-heavy keys where hash blocking fails (a single
# character error moves a hash bucket but barely moves a sort
# position). Completes the blocking family: hash (exact), LSH
# (minhash), rare-shingle (containment), grid (spatial), and now
# sort-order windows.
# --------------------------------------------------------------------------

_SNM_W = 2
_SNM_MAXD = 3


@query(
    "sorted_neighborhood_pairs",
    oracle=f"""
WITH ranked AS (
    SELECT c_custkey, c_name,
           {" , ".join(
               f"LEAD(c_name, {k}) OVER w AS nb{k}"
               for k in range(1, _SNM_W + 1)
           )}
    FROM customer
    WINDOW w AS (ORDER BY c_name, c_custkey)
),
cand AS (
    {" UNION ALL ".join(
        f"SELECT c_custkey, levenshtein(c_name, nb{k}) AS d "
        f"FROM ranked WHERE nb{k} IS NOT NULL"
        for k in range(1, _SNM_W + 1)
    )}
)
SELECT CAST(d AS BIGINT) AS edit_distance,
       COUNT(*) AS n_pairs
FROM cand
WHERE d <= {_SNM_MAXD}
GROUP BY 1
""",
)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance census of sorted-neighborhood candidate pairs.

    Scale: the sort order is RANGE-PARTITIONED (repartitionByRange) and
    the neighbor window runs PER RANGE PARTITION — never a
    single-partition global window over the raw table. Boundary pairs
    are recovered exactly by borrowing each partition's first w rows
    into the PREVIOUS partition (range partitioning guarantees borrowed
    rows sort after all local rows), so every row still sees its true w
    global successors and the census is identical to the global-sort
    formulation — the DuckDB oracle keeps the plain global window.
    Window w=2 means each row compares with ≤2 neighbors: verification
    cost is 2n regardless of duplicate density. The census says which
    distance cutoff the match rule should use before running the full
    linkage.
    """
    from pyspark.sql.window import Window

    cust = load_tables(spark, sf_dir, "customer")["customer"]
    n_parts = spark.sparkContext.defaultParallelism
    part = cust.repartitionByRange(
        n_parts, F.col("c_name"), F.col("c_custkey")
    ).select(
        "c_custkey", "c_name", F.spark_partition_id().alias("pid")
    )
    wp = Window.partitionBy("pid").orderBy("c_name", "c_custkey")
    rn = part.select("*", F.row_number().over(wp).alias("rn"))
    # Borrow each partition's true w global successors from the tiny
    # head-candidate set (first w rows of EVERY partition, w*P rows):
    # for target partition i, the first w candidates with pid > i in
    # global order. Robust to partitions holding fewer than w rows —
    # naive borrow-from-pid+1 would drop boundary pairs there.
    cand = rn.filter(F.col("rn") <= _SNM_W).select(
        F.col("pid").alias("cpid"), "c_custkey", "c_name"
    )
    targets = rn.select("pid").distinct()
    wb = Window.partitionBy("pid").orderBy("c_name", "c_custkey")
    borrowed = (
        targets.join(F.broadcast(cand), F.col("cpid") > F.col("pid"))
        .withColumn("brn", F.row_number().over(wb))
        .filter(F.col("brn") <= _SNM_W)
        .select(
            "pid", "c_custkey", "c_name", F.lit(True).alias("borrowed")
        )
    )
    aug = rn.select(
        "pid", "c_custkey", "c_name", F.lit(False).alias("borrowed")
    ).unionByName(borrowed)
    w = Window.partitionBy("pid").orderBy("c_name", "c_custkey")
    cols = [
        F.lead("c_name", k).over(w).alias(f"nb{k}")
        for k in range(1, _SNM_W + 1)
    ]
    ranked = aug.select("borrowed", "c_custkey", "c_name", *cols).filter(
        ~F.col("borrowed")
    )
    legs = [
        ranked.filter(F.col(f"nb{k}").isNotNull()).select(
            F.levenshtein("c_name", f"nb{k}").alias("d")
        )
        for k in range(1, _SNM_W + 1)
    ]
    cand = legs[0]
    for leg in legs[1:]:
        cand = cand.unionAll(leg)
    return (
        cand.filter(F.col("d") <= _SNM_MAXD)
        .groupBy(F.col("d").cast("bigint").alias("edit_distance"))
        .agg(F.count("*").alias("n_pairs"))
    )


# --------------------------------------------------------------------------
# Near-dup threshold sensitivity: pair and doc counts at a ladder of
# Jaccard cutoffs, from ONE blocked pair pass — the operating curve
# behind choosing a dedup threshold (0.9 kills only twins; 0.5 starts
# eating templated families). Reuses the capped shingle blocking, so
# the pair space stays bounded at 100 TB; every per-threshold metric
# is a conditional count over the same pair stream.
# --------------------------------------------------------------------------

_SENS_THRESHOLDS = (30, 50, 70, 90)  # percent


@query(
    "dedup_threshold_sensitivity",
    oracle=f"""
WITH {_JACCARD_BLOCK_SQL},
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.grams, b.grams)) * 1.0
           / (len(a.grams) + len(b.grams)
              - len(list_intersect(a.grams, b.grams))) AS j
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.len_bucket = b.len_bucket
     AND a.doc_id < b.doc_id
),
docs50 AS (
    SELECT COUNT(DISTINCT id) AS docs_ge_50
    FROM (
        SELECT id_a AS id FROM pairs WHERE j >= 0.5
        UNION ALL
        SELECT id_b FROM pairs WHERE j >= 0.5
    )
)
SELECT p.*, d.docs_ge_50
FROM (
    SELECT COUNT(*) AS n_candidate_pairs,
{', '.join(
    "           COUNT(*) FILTER (WHERE j >= %s) AS pairs_ge_%d"
    % (t / 100.0, t)
    for t in _SENS_THRESHOLDS)}
    FROM pairs
) p CROSS JOIN docs50 d
""",
)
def dedup_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair/doc counts at a Jaccard-threshold ladder, one pair pass."""
    sh = _capped_shingle_blocks(spark, sf_dir)
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = F.size(F.col("a.grams")) + F.size(F.col("b.grams")) - inter
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.len_bucket") == F.col("b.len_bucket"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        (inter * 1.0 / union).alias("j"),
    )
    docs50 = (
        pairs.filter(F.col("j") >= 0.5)
        .select(F.explode(F.array("id_a", "id_b")).alias("id"))
        .agg(F.count_distinct("id").alias("docs_ge_50"))
    )
    aggs = [F.count("*").alias("n_candidate_pairs")]
    for t in _SENS_THRESHOLDS:
        aggs.append(
            F.count_if(F.col("j") >= t / 100.0).alias(f"pairs_ge_{t}")
        )
    return pairs.agg(*aggs).crossJoin(F.broadcast(docs50))


# --------------------------------------------------------------------------
# Train/eval near-duplicate leakage audit: exact-match decontamination
# (decontaminate_exact/_bloom) misses PARAPHRASE-level leakage — an
# eval doc whose near-twin sits in train still inflates benchmarks.
# Composes the deterministic hash split (same sha256 bucket as
# train_test_split) with the capped-block Jaccard pair pass: count
# cross-split near-dup pairs and the distinct eval docs leaked, at the
# 0.7 working threshold and the 0.9 near-twin bar. One pair pass,
# split labels are map-side hash arithmetic.
# --------------------------------------------------------------------------

from .training import sql_hash_bucket as _shb  # noqa: E402


@query(
    "split_leakage_near_dup",
    oracle=f"""
WITH {_JACCARD_BLOCK_SQL},
lab AS (
    SELECT sh.*,
           ({_shb('doc_id')} < 80) AS is_train
    FROM sh WHERE doc_id IS NOT NULL
),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           a.is_train AS train_a, b.is_train AS train_b,
           len(list_intersect(a.grams, b.grams)) * 1.0
           / (len(a.grams) + len(b.grams)
              - len(list_intersect(a.grams, b.grams))) AS j
    FROM lab a JOIN lab b
      ON a.lang = b.lang AND a.len_bucket = b.len_bucket
     AND a.doc_id < b.doc_id
    WHERE a.is_train <> b.is_train
),
leaked AS (
    SELECT COUNT(DISTINCT CASE WHEN j >= 0.7 THEN eval_id END)
               AS eval_docs_leaked_70
    FROM (
        SELECT j, CASE WHEN train_a THEN id_b ELSE id_a END AS eval_id
        FROM pairs
    )
)
SELECT p.*, l.eval_docs_leaked_70
FROM (
    SELECT COUNT(*) AS n_cross_pairs,
           COUNT(*) FILTER (WHERE j >= 0.7) AS leaky_pairs_70,
           COUNT(*) FILTER (WHERE j >= 0.9) AS leaky_pairs_90
    FROM pairs
) p CROSS JOIN leaked l
""",
)
def split_leakage_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup leakage across the deterministic 80/20 train/eval split."""
    from .training import hash_bucket

    sh = _capped_shingle_blocks(spark, sf_dir).filter(
        F.col("doc_id").isNotNull()
    )
    lab = sh.withColumn("is_train", hash_bucket("doc_id") < 80)
    a = lab.alias("a")
    b = lab.alias("b")
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = F.size(F.col("a.grams")) + F.size(F.col("b.grams")) - inter
    pairs = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(F.col("a.is_train") != F.col("b.is_train"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.is_train").alias("train_a"),
            (inter * 1.0 / union).alias("j"),
        )
    )
    leaked = (
        pairs.filter(F.col("j") >= 0.7)
        .select(
            F.when(F.col("train_a"), F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("eval_id")
        )
        .agg(F.count_distinct("eval_id").alias("eval_docs_leaked_70"))
    )
    stats = pairs.agg(
        F.count("*").alias("n_cross_pairs"),
        F.count_if(F.col("j") >= 0.7).alias("leaky_pairs_70"),
        F.count_if(F.col("j") >= 0.9).alias("leaky_pairs_90"),
    )
    return stats.crossJoin(F.broadcast(leaked))


# --------------------------------------------------------------------------
# Blocking recall audit: what fraction of TRUE near-dup pairs does the
# production (lang, len_bucket) blocking actually surface? Ground
# truth is exact all-pairs Jaccard on a capped id-prefix sample (the
# only place all-pairs is ever allowed); candidates are the same
# blocking the dedup family uses, restricted to the sample. The gap
# IS the blocking's miss rate — cross-language twins and documents
# whose lengths straddle a bucket boundary. This is the audit that
# justifies (or indicts) a blocking scheme before trusting corpus-
# scale dedup numbers.
# --------------------------------------------------------------------------

_BRA_SAMPLE = 100
_BRA_T = 0.5


@query(
    "blocking_recall_audit",
    oracle=f"""
WITH s AS (
    SELECT doc_id, lang, n_chars // 64 AS len_bucket,
           list_distinct(list_transform(
               range(1, GREATEST(LENGTH(text) - 2, 0) + 1),
               i -> text[i : i + 2]
           )) AS grams
    FROM documents
    WHERE doc_id < {_BRA_SAMPLE} AND LENGTH(text) >= 3
),
truth AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           (a.lang IS NOT DISTINCT FROM b.lang
            AND a.len_bucket IS NOT DISTINCT FROM b.len_bucket)
               AS same_block
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.grams, b.grams)) * 1.0
          / (len(a.grams) + len(b.grams)
             - len(list_intersect(a.grams, b.grams))) >= {_BRA_T}
)
SELECT COUNT(*) AS n_true_pairs,
       COUNT(*) FILTER (WHERE same_block) AS n_blocked_pairs,
       COUNT(*) FILTER (WHERE NOT same_block) AS n_missed_pairs,
       CASE WHEN COUNT(*) > 0 THEN
           {sql_dround('COUNT(*) FILTER (WHERE same_block) * 1.0 / COUNT(*)', 6)}
       END AS blocking_recall
FROM truth
""",
)
def blocking_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the (lang, len_bucket) blocking vs capped exact truth."""
    from ..operators.dedup import shingles

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    # length >= 3 (not isNotNull): same empty-shingle/div-by-zero guard
    # as _capped_shingle_blocks — Spark's shingles() is non-empty even
    # for sub-3-char text, DuckDB's range() version is [].
    s = docs.filter(
        (F.col("doc_id") < _BRA_SAMPLE) & (F.length("text") >= 3)
    ).select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 64).cast("long").alias("len_bucket"),
        shingles("text", 3).alias("grams"),
    )
    a = s.alias("a")
    b = s.alias("b")
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = F.size(F.col("a.grams")) + F.size(F.col("b.grams")) - inter
    truth = (
        a.join(F.broadcast(b), F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(inter * 1.0 / union >= _BRA_T)
        .select(
            (
                F.col("a.lang").eqNullSafe(F.col("b.lang"))
                & F.col("a.len_bucket").eqNullSafe(F.col("b.len_bucket"))
            ).alias("same_block")
        )
    )
    n = F.count("*")
    n_blk = F.count_if(F.col("same_block"))
    return truth.agg(
        n.alias("n_true_pairs"),
        n_blk.alias("n_blocked_pairs"),
        F.count_if(~F.col("same_block")).alias("n_missed_pairs"),
        F.when(
            n > 0, dround(n_blk * 1.0 / n, 6)
        ).alias("blocking_recall"),
    )


# --------------------------------------------------------------------------
# Exact-substring duplication census: the planning statistics behind
# substring-granular dedup (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better") — how much token mass sits in
# 8-token windows that repeat across documents, and how many docs are
# touched. Exact-match dedup misses boilerplate spans embedded in
# otherwise-unique pages; this census sizes that problem BEFORE anyone
# commits to a suffix-array pass. The reference has no substring
# notion at all (its dedup is whole-row pandas drop_duplicates,
# transform_covid_data.py style) — this is the corpus-scale extension.
#
# Scale: everything runs at gram-occurrence grain (doc × window
# positions) and reduces immediately to gram-TYPE grain; the dup flag
# is a window over the (lang, gram) partition of the already-reduced
# (lang, gram, doc) frame — never an all-pairs join, never a global
# sort. At 100 TB the (lang, gram) shuffle is the one big exchange,
# map-combined by the first groupBy.
# --------------------------------------------------------------------------

_SUBSTR_K = 8  # window length in tokens

from ..operators.text import word_ngrams_sql_duckdb as _wng_sql  # noqa: E402

_SUBSTR_GRAMS_SQL = _wng_sql("text", _SUBSTR_K)
_SUBSTR_DUP_RATIO = sql_dround(
    "COALESCE(SUM(CASE WHEN n_docs >= 2 THEN n END), 0) * 1.0 / SUM(n)", 6
)


@query(
    "substring_dup_census",
    oracle=f"""
WITH occ AS (
    SELECT lang, doc_id, g AS gram, COUNT(*) AS n
    FROM (
        SELECT lang, doc_id,
               unnest({_SUBSTR_GRAMS_SQL}) AS g
        FROM documents
    )
    GROUP BY 1, 2, 3
),
marked AS (
    SELECT lang, doc_id, gram, n,
           COUNT(*) OVER (PARTITION BY lang, gram) AS n_docs
    FROM occ
)
SELECT lang,
       COUNT(DISTINCT gram) AS n_gram_types,
       COUNT(DISTINCT CASE WHEN n_docs >= 2 THEN gram END)
           AS n_dup_types,
       CAST(SUM(n) AS BIGINT) AS n_total_occurrences,
       CAST(COALESCE(SUM(CASE WHEN n_docs >= 2 THEN n END), 0) AS BIGINT)
           AS n_dup_occurrences,
       COUNT(DISTINCT CASE WHEN n_docs >= 2 THEN doc_id END)
           AS n_affected_docs,
       {_SUBSTR_DUP_RATIO} AS dup_mass_ratio
FROM marked
GROUP BY 1
""",
)
def substring_dup_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document 8-token-window duplication census per language."""
    from pyspark.sql.window import Window

    from ..operators.text import word_ngrams, words

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    toks = docs.select("lang", "doc_id", words("text").alias("t"))
    occ = (
        toks.select(
            "lang",
            "doc_id",
            F.explode(word_ngrams("t", _SUBSTR_K, presplit=True)).alias(
                "gram"
            ),
        )
        .groupBy("lang", "doc_id", "gram")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang", "gram")
    marked = occ.withColumn("n_docs", F.count("*").over(w))
    dup = F.col("n_docs") >= 2
    dup_occ = F.coalesce(F.sum(F.when(dup, F.col("n"))), F.lit(0)).cast(
        "bigint"
    )
    return marked.groupBy("lang").agg(
        F.countDistinct("gram").alias("n_gram_types"),
        F.countDistinct(F.when(dup, F.col("gram"))).alias("n_dup_types"),
        F.sum("n").cast("bigint").alias("n_total_occurrences"),
        dup_occ.alias("n_dup_occurrences"),
        F.countDistinct(F.when(dup, F.col("doc_id"))).alias(
            "n_affected_docs"
        ),
        dround(dup_occ * 1.0 / F.sum("n"), 6).alias("dup_mass_ratio"),
    )


# --------------------------------------------------------------------------
# Incremental LSH-index maintenance — the delta rule for near-dup
# detection when a new batch of documents lands: only the NEW docs'
# band buckets probe the full bucket index (Δcand = buckets(Δ) ⋈
# buckets(all)), never a full self-join, so daily maintenance cost is
# O(Δ·bucket-width) instead of O(corpus). The oracle computes the
# answer the OPPOSITE way — the full checked LSH pipeline filtered to
# pairs touching a new doc — so a hash match PROVES the delta rule
# (the incremental_join_refresh precedent). "New" is the scale-free
# sha256 bucket >= 90 (last 10% of arrivals).
# --------------------------------------------------------------------------

from .training import sql_hash_bucket as _lsh_hb_sql  # noqa: E402

_LSH_NEW_CUT = 90


@query(
    "incremental_lsh_refresh",
    oracle=f"""
WITH lsh AS ({{CHECKED}}),
flagged AS (
    SELECT id_a, id_b, jaccard,
           ({_lsh_hb_sql('id_a')} >= {_LSH_NEW_CUT}) AS new_a,
           ({_lsh_hb_sql('id_b')} >= {_LSH_NEW_CUT}) AS new_b
    FROM lsh
),
delta AS (SELECT * FROM flagged WHERE new_a OR new_b)
SELECT CASE WHEN new_a AND new_b THEN 'new_new' ELSE 'new_old' END
           AS pair_class,
       COUNT(*) AS n_pairs,
       CAST(SUM({sql_qround('jaccard', 6)}) AS BIGINT)
           AS jaccard_micro_sum
FROM delta
GROUP BY 1
""".replace("{CHECKED}", ORACLES_REF["dedup_minhash_lsh_checked"]),
)
def incremental_lsh_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-rule LSH maintenance: new-doc buckets probe the full index."""
    from ..operators.dedup import shingles
    from .training import hash_bucket

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    sh = docs.filter(F.length("text") >= 3).select(
        "doc_id", shingles("text", 3).alias("grams")
    )
    hs_expr = (
        "transform(grams, g -> "
        "cast(conv(substring(md5(g), 1, 8), 16, 10) AS bigint))"
    )
    band_expr = (
        f"transform(sequence(0, {_MINHASH_BANDS - 1}), b -> "
        "struct(b AS band, "
        "concat_ws(',', transform(slice(sig, b * 4 + 1, 4), "
        "x -> cast(x AS string))) AS band_sig))"
    )
    buckets = (
        sh.withColumn("hs", F.expr(hs_expr))
        .withColumn("sig", F.expr(f"array({_MH_SIG_SPARK})"))
        .select("doc_id", F.explode(F.expr(band_expr)).alias("bb"))
        .select(
            "doc_id",
            "bb.band",
            "bb.band_sig",
            (hash_bucket("doc_id") >= _LSH_NEW_CUT).alias("is_new"),
        )
    )
    # THE DELTA RULE: only new-doc buckets (left side) probe the full
    # index (right side) — the join input is O(Δ), not O(corpus)²
    new_b = buckets.filter(F.col("is_new")).alias("d")
    all_b = buckets.alias("s")
    cand = (
        new_b.join(
            all_b,
            (F.col("d.band") == F.col("s.band"))
            & (F.col("d.band_sig") == F.col("s.band_sig"))
            & (F.col("d.doc_id") != F.col("s.doc_id")),
        )
        .select(
            F.least(F.col("d.doc_id"), F.col("s.doc_id")).alias("id_a"),
            F.greatest(F.col("d.doc_id"), F.col("s.doc_id")).alias("id_b"),
            F.col("d.is_new").alias("new_d"),
            F.col("s.is_new").alias("new_s"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .join(
            sh.select(
                F.col("doc_id").alias("id_a"), F.col("grams").alias("ga")
            ),
            "id_a",
        )
        .join(
            sh.select(
                F.col("doc_id").alias("id_b"), F.col("grams").alias("gb")
            ),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size("ga") + F.size("gb") - inter
    jac = inter * 1.0 / union
    verified = cand.filter(jac >= 0.5).select(
        "id_a",
        "id_b",
        dround(jac, 6).alias("jaccard"),
        (F.col("new_d") & F.col("new_s")).alias("both_new"),
    )
    return verified.groupBy(
        F.when(F.col("both_new"), "new_new")
        .otherwise("new_old")
        .alias("pair_class")
    ).agg(
        F.count("*").alias("n_pairs"),
        F.sum(qround(F.col("jaccard"), 6))
        .cast("bigint")
        .alias("jaccard_micro_sum"),
    )


# --------------------------------------------------------------------------
# MinHash estimator calibration: over the SAME banded-LSH candidate
# pairs as dedup_minhash_lsh_checked, compare the signature estimate
# (matching components / 16, an exact rational: matches x 62500 in
# x1e6 units) against the exact shingle Jaccard, banded by exact-J
# decile — the audit that says how much to trust the sketch before
# skipping verification. Completes the sketch-audit family
# (lsh_recall_audit = candidate recall; dedup_threshold_sensitivity =
# threshold choice; this = estimator accuracy). Every cross-row sum is
# an exact integer; the component-match count is an unrolled 16-term
# CASE sum (element_at on Spark, 1-based [] on DuckDB — Spark's []
# is 0-based, never use it cross-engine).
# --------------------------------------------------------------------------

_MH_MATCH_DUCK = " + ".join(
    f"(CASE WHEN sa[{p}] = sb[{p}] THEN 1 ELSE 0 END)"
    for p in range(1, _MINHASH_PERMS + 1)
)
_MH_MATCH_SPARK = " + ".join(
    f"(CASE WHEN element_at(sa, {p}) = element_at(sb, {p})"
    " THEN 1 ELSE 0 END)"
    for p in range(1, _MINHASH_PERMS + 1)
)


@query(
    "minhash_estimate_error_audit",
    oracle=f"""
WITH sh AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, GREATEST(LENGTH(text) - 2, 0) + 1),
               i -> text[i : i + 2]
           )) AS grams
    FROM documents WHERE LENGTH(text) >= 3
),
hb AS (
    SELECT doc_id, grams,
           list_transform(grams, g ->
               CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT)) AS hs
    FROM sh
),
mh AS (
    SELECT doc_id, grams, [{_MH_SIG_DUCK}] AS sig
    FROM hb
),
buckets AS (
    SELECT doc_id, b.b AS band,
           array_to_string(list_slice(sig, b.b * 4 + 1, b.b * 4 + 4), ',')
               AS band_sig
    FROM mh, (SELECT unnest(range(0, {_MINHASH_BANDS})) AS b) b
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
),
scored AS (
    SELECT CAST(FLOOR(
               len(list_intersect(ma.grams, mb.grams)) * 1000000.0
               / (len(ma.grams) + len(mb.grams)
                  - len(list_intersect(ma.grams, mb.grams))) + 0.5)
               AS BIGINT) AS jq,
           CAST(({_MH_MATCH_DUCK}) AS BIGINT) * 62500 AS eq
    FROM cand c
    JOIN (SELECT doc_id, grams, sig AS sa FROM mh) ma ON ma.doc_id = c.id_a
    JOIN (SELECT doc_id, grams, sig AS sb FROM mh) mb ON mb.doc_id = c.id_b
)
SELECT LEAST(CAST(9 AS BIGINT),
             CAST(FLOOR(jq / 100000.0) AS BIGINT)) AS exact_j_band,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       {sql_dround("CAST(SUM(jq) AS BIGINT) * 1.0 / COUNT(*) / 1000000.0", 6)}
           AS mean_exact_j,
       {sql_dround("CAST(SUM(eq) AS BIGINT) * 1.0 / COUNT(*) / 1000000.0", 6)}
           AS mean_estimate,
       {sql_dround(
           "CAST(SUM(ABS(eq - jq)) AS BIGINT) * 1.0 / COUNT(*) / 1000000.0",
           6)} AS mean_abs_error,
       {sql_dround(
           "CAST(SUM(eq - jq) AS BIGINT) * 1.0 / COUNT(*) / 1000000.0",
           6)} AS mean_bias
FROM scored GROUP BY 1
""",
)
def minhash_estimate_error_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..functions import dround
    from ..operators.dedup import shingles

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    sh = docs.filter(F.length("text") >= 3).select(
        "doc_id", shingles("text", 3).alias("grams")
    )
    hs_expr = (
        "transform(grams, g -> "
        "cast(conv(substring(md5(g), 1, 8), 16, 10) AS bigint))"
    )
    mh = sh.withColumn("hs", F.expr(hs_expr)).withColumn(
        "sig", F.expr(f"array({_MH_SIG_SPARK})")
    )
    band_expr = (
        f"transform(sequence(0, {_MINHASH_BANDS - 1}), b -> "
        "struct(b AS band, "
        "concat_ws(',', transform(slice(sig, b * 4 + 1, 4), "
        "x -> cast(x AS string))) AS band_sig))"
    )
    buckets = mh.select(
        "doc_id", F.explode(F.expr(band_expr)).alias("bb")
    ).select("doc_id", "bb.band", "bb.band_sig")
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .join(
            mh.select(
                F.col("doc_id").alias("id_a"),
                F.col("grams").alias("ga"),
                F.col("sig").alias("sa"),
            ),
            "id_a",
        )
        .join(
            mh.select(
                F.col("doc_id").alias("id_b"),
                F.col("grams").alias("gb"),
                F.col("sig").alias("sb"),
            ),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size("ga") + F.size("gb") - inter
    scored = cand.select(
        F.floor(inter * 1000000.0 / union + 0.5).cast("bigint").alias("jq"),
        (
            F.expr(f"({_MH_MATCH_SPARK})").cast("bigint") * 62500
        ).alias("eq"),
    )
    band = F.least(
        F.lit(9).cast("bigint"),
        F.floor(F.col("jq") / 100000.0).cast("bigint"),
    )
    n = F.count("*")
    return scored.groupBy(band.alias("exact_j_band")).agg(
        n.alias("n_pairs"),
        dround(F.sum("jq") * 1.0 / n / 1000000.0, 6).alias("mean_exact_j"),
        dround(F.sum("eq") * 1.0 / n / 1000000.0, 6).alias("mean_estimate"),
        dround(
            F.sum(F.abs(F.col("eq") - F.col("jq"))) * 1.0 / n / 1000000.0,
            6,
        ).alias("mean_abs_error"),
        dround(
            F.sum(F.col("eq") - F.col("jq")) * 1.0 / n / 1000000.0, 6
        ).alias("mean_bias"),
    )


# --------------------------------------------------------------------------
# SimHash Hamming calibration: over chunk-blocked candidate pairs of
# the dedup_simhash_checked construction (WITHOUT the Hamming cut, and
# with case-SENSITIVE tokens — unicode lower() is engine-specific, see
# the function body), band the
# fingerprint distance into 8-bit ranges and report each band's exact
# word-set Jaccard profile — the curve that justifies the <= 12
# Hamming threshold the production path uses (the SimHash sibling of
# minhash_estimate_error_audit). The J >= 0.5 share is an exact
# integer cross-multiplication (2*inter >= union); per-pair Jaccard
# quantizes x1e6 before the band sums.
# --------------------------------------------------------------------------


@query(
    "simhash_hamming_calibration",
    oracle=f"""
WITH tok AS (
    SELECT doc_id,
           list_distinct(string_split_regex(trim(text), '\\s+'))
               AS words,
           list_transform(
               list_distinct(string_split_regex(trim(text), '\\s+')),
               t -> CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT)
           ) AS hashes
    FROM documents
    WHERE text IS NOT NULL  -- same NULL-fingerprint guard as the twin
),
sig AS (
    SELECT doc_id, words,
           CAST(list_sum(list_transform(range(0, {_SIMHASH_CHK_BITS}), b ->
               CASE WHEN list_sum(list_transform(hashes, h ->
                        CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END
           )) AS BIGINT) AS simhash
    FROM tok
),
chunks AS (
    SELECT doc_id, simhash, c.c AS chunk_idx,
           (simhash >> (c.c * 8)) & 255 AS chunk_val
    FROM sig, (SELECT unnest(range(0, {_SIMHASH_CHK_CHUNKS})) AS c) c
),
ok AS (
    SELECT chunk_idx, chunk_val FROM chunks
    GROUP BY 1, 2 HAVING COUNT(*) <= {_SIMHASH_CHK_CAP}
),
kept AS (SELECT chunks.* FROM chunks JOIN ok USING (chunk_idx, chunk_val)),
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           a.simhash AS sa, b.simhash AS sb
    FROM kept a JOIN kept b
      ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
         AND a.doc_id < b.doc_id
),
scored AS (
    SELECT CAST(bit_count(xor(p.sa, p.sb)) AS BIGINT) AS hamming,
           len(list_intersect(wa.words, wb.words)) AS inter,
           len(wa.words) + len(wb.words)
             - len(list_intersect(wa.words, wb.words)) AS un
    FROM pairs p
    JOIN (SELECT doc_id, words FROM tok) wa ON wa.doc_id = p.id_a
    JOIN (SELECT doc_id, words FROM tok) wb ON wb.doc_id = p.id_b
)
SELECT CAST(FLOOR(hamming / 8.0) AS BIGINT) AS hamming_band,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       {sql_dround("CAST(SUM(hamming) AS BIGINT) * 1.0 / COUNT(*)", 4)}
           AS mean_hamming,
       {sql_dround(
           "CAST(SUM(CAST(FLOOR(inter * 1000000.0 / un + 0.5) AS BIGINT))"
           " AS BIGINT) * 1.0 / COUNT(*) / 1000000.0", 6)}
           AS mean_jaccard,
       {sql_dround(
           "CAST(SUM(CASE WHEN 2 * inter >= un THEN 1 ELSE 0 END)"
           " AS BIGINT) * 1.0 / COUNT(*)", 6)} AS share_j_ge_50
FROM scored GROUP BY 1
""",
)
def simhash_hamming_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..functions import dround

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    # case-SENSITIVE tokenization, locally: unicode lower() is
    # engine-specific (Spark/JVM vs DuckDB casing tables) — the
    # nullsweep unicode probe flipped one planted pair's band under
    # the shared lowercased tokens. The checked twin keeps lower()
    # (its Hamming cut masks the divergence); this calibration
    # defines its fingerprint over raw trimmed tokens instead.
    toks_cs = "array_distinct(split(trim(text), '\\\\s+'))"
    hashes_cs = (
        f"transform({toks_cs}, t -> "
        "cast(conv(substring(md5(t), 1, 8), 16, 10) AS bigint))"
    )
    bitsums_cs = (
        f"aggregate({hashes_cs}, "
        f"transform(sequence(0, {_SIMHASH_CHK_BITS - 1}),"
        " b -> cast(0 AS bigint)), "
        f"(acc, h) -> zip_with(acc, sequence(0, {_SIMHASH_CHK_BITS - 1}), "
        "(a, b) -> a + (CASE WHEN (shiftright(h, b) & 1) = 1"
        " THEN 1 ELSE -1 END)))"
    )
    simhash_cs = (
        f"aggregate(zip_with({bitsums_cs}, "
        f"sequence(0, {_SIMHASH_CHK_BITS - 1}), "
        "(s, b) -> CASE WHEN s > 0 THEN shiftleft(cast(1 AS bigint), b) "
        "ELSE cast(0 AS bigint) END), "
        "cast(0 AS bigint), (acc, v) -> acc + v)"
    )
    tok = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.expr(toks_cs).alias("words"),
        F.expr(simhash_cs).alias("simhash"),
    )
    chunks = tok.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_SIMHASH_CHK_CHUNKS - 1}),"
                " c -> struct(c AS chunk_idx,"
                " shiftright(simhash, c * 8) & 255 AS chunk_val))"
            )
        ).alias("ch"),
    ).select("doc_id", "simhash", "ch.chunk_idx", "ch.chunk_val")
    sizes = chunks.groupBy("chunk_idx", "chunk_val").agg(
        F.count("*").alias("__n")
    )
    kept = chunks.join(
        sizes.filter(F.col("__n") <= _SIMHASH_CHK_CAP),
        ["chunk_idx", "chunk_val"],
    ).drop("__n")
    a = kept.alias("a")
    b = kept.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.expr(
                "cast(bit_count(a.simhash ^ b.simhash) AS bigint)"
            ).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    scored = (
        pairs.join(
            tok.select(F.col("doc_id").alias("id_a"), F.col("words").alias("wa")),
            "id_a",
        )
        .join(
            tok.select(F.col("doc_id").alias("id_b"), F.col("words").alias("wb")),
            "id_b",
        )
        .select(
            "hamming",
            F.size(F.array_intersect("wa", "wb")).alias("inter"),
            (
                F.size("wa")
                + F.size("wb")
                - F.size(F.array_intersect("wa", "wb"))
            ).alias("un"),
        )
    )
    jq = F.floor(
        F.col("inter") * 1000000.0 / F.col("un") + 0.5
    ).cast("bigint")
    n = F.count("*")
    return scored.groupBy(
        F.floor(F.col("hamming") / 8.0).cast("bigint").alias("hamming_band")
    ).agg(
        n.alias("n_pairs"),
        dround(F.sum("hamming") * 1.0 / n, 4).alias("mean_hamming"),
        dround(F.sum(jq) * 1.0 / n / 1000000.0, 6).alias("mean_jaccard"),
        dround(
            F.sum(
                F.when(2 * F.col("inter") >= F.col("un"), 1).otherwise(0)
            )
            * 1.0
            / n,
            6,
        ).alias("share_j_ge_50"),
    )


# --------------------------------------------------------------------------
# Substring-dedup APPLY — the transform substring_dup_census motivates
# (Lee et al. 2022): every 8-token window that repeats anywhere in the
# corpus keeps ONLY its first occurrence by (doc_id, pos); all later
# occurrences mark their [pos, pos+7] span for masking, overlapping
# spans coalesce per doc (gaps-and-islands, the
# interval_coalesce_user_activity pattern), and the per-language
# report accounts every token: tokens_kept + tokens_dropped =
# tokens_total by construction, and tests/test_substring_dedup.py
# re-derives tokens_kept INDEPENDENTLY by materializing the surviving
# token positions — a non-vacuous conservation proof.
#
# The reference's dedup is whole-row pandas drop_duplicates
# (transform_covid_data.py); this is the corpus-scale substring
# extension. Scale posture: first-occurrence is a gram-grain
# MIN(doc_id*1e9+pos) groupBy (map-side combinable — no per-gram
# sort, so a hot boilerplate gram costs one combiner cell, not a
# giant sorted partition), the span join shuffles on gram at
# occurrence grain (AQE skew-split handles hot grams), and the
# island windows partition per doc_id — bounded by document length.
# Never all-pairs, no global sort. The 1e9 position multiplier is
# safe for docs up to 1e9 tokens and doc_ids up to 9.2e9 in int64
# (both orders of magnitude beyond any real corpus row).
# --------------------------------------------------------------------------


from ..operators.dedup import (  # noqa: E402
    coalesce_span_token_mass,
    span_union_sql_duckdb,
)

# base CTE shared by the span-masking pair: per-doc gram list +
# whitespace token count over ALL docs (NULL text -> 0 tokens).
_SPAN_BASE_SQL = f"""
base AS (
    SELECT lang, source, doc_id, {_SUBSTR_GRAMS_SQL} AS gl,
           CASE WHEN text IS NULL THEN 0
                ELSE len(string_split_regex(TRIM(text), '\\s+')) END
               AS n_tok
    FROM documents
),
occ AS (
    SELECT doc_id,
           unnest(range(1, len(gl) + 1)) AS pos,
           unnest(gl) AS gram
    FROM base
)"""


def _span_report_sql(group_col: str, where: str = "") -> str:
    """Final per-group token-accounting SELECT over base x per_doc."""
    return f"""
SELECT b.{group_col},
       COUNT(*) AS n_docs,
       COUNT(p.dropped) AS n_docs_affected,
       CAST(COALESCE(SUM(p.n_spans), 0) AS BIGINT) AS n_masked_spans,
       CAST(SUM(b.n_tok) AS BIGINT) AS tokens_total,
       CAST(COALESCE(SUM(p.dropped), 0) AS BIGINT) AS tokens_dropped,
       CAST(SUM(b.n_tok) - COALESCE(SUM(p.dropped), 0) AS BIGINT)
           AS tokens_kept,
       CASE WHEN SUM(b.n_tok) > 0 THEN
           {sql_dround(
               "COALESCE(SUM(p.dropped), 0) * 1.0 / SUM(b.n_tok)", 6)}
       END AS drop_ratio
FROM base b LEFT JOIN per_doc p ON b.doc_id = p.doc_id
{where}
GROUP BY 1
"""


def _span_docs_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark mirror of _SPAN_BASE_SQL's base CTE."""
    from ..operators.text import word_ngrams, words

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    toks = docs.select(
        "lang", "source", "doc_id", words("text").alias("t")
    )
    return toks.select(
        "lang",
        "source",
        "doc_id",
        F.when(F.col("t").isNull(), F.lit(0))
        .otherwise(F.size("t"))
        .alias("n_tok"),
        word_ngrams("t", _SUBSTR_K, presplit=True).alias("gl"),
    )


def _span_occ(base: DataFrame) -> DataFrame:
    """(doc_id, gram, pos) occurrence grain, pos 1-based."""
    return base.select(
        "doc_id", F.posexplode("gl").alias("pos0", "gram")
    ).select("doc_id", "gram", (F.col("pos0") + 1).alias("pos"))


def _span_report(joined: DataFrame, group_col: str) -> DataFrame:
    """Spark mirror of _span_report_sql over base x per_doc."""
    total = F.sum("n_tok")
    dropped = F.coalesce(F.sum("dropped"), F.lit(0))
    return joined.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.count("dropped").alias("n_docs_affected"),
        F.coalesce(F.sum("n_spans"), F.lit(0))
        .cast("bigint")
        .alias("n_masked_spans"),
        total.cast("bigint").alias("tokens_total"),
        dropped.cast("bigint").alias("tokens_dropped"),
        (total - dropped).cast("bigint").alias("tokens_kept"),
        F.when(total > 0, dround(dropped * 1.0 / total, 6)).alias(
            "drop_ratio"
        ),
    )


@query(
    "substring_dedup_apply",
    oracle=f"""
WITH {_SPAN_BASE_SQL.lstrip()},
keyed AS (
    SELECT gram, doc_id, pos,
           doc_id * 1000000000 + pos AS k
    FROM occ
),
gmin AS (
    SELECT gram, MIN(k) AS mk FROM keyed GROUP BY 1
),
spans AS (
    SELECT o.doc_id, o.pos AS s, o.pos + {_SUBSTR_K - 1} AS e
    FROM keyed o JOIN gmin g ON o.gram = g.gram
    WHERE o.k > g.mk
),
{span_union_sql_duckdb().lstrip()}
{_span_report_sql("lang")}
""",
)
def substring_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first substring dedup: mask repeated 8-token windows."""
    base = _span_docs_base(spark, sf_dir)
    keyed = _span_occ(base).withColumn(
        "k",
        F.col("doc_id").cast("bigint") * F.lit(1000000000).cast("bigint")
        + F.col("pos"),
    )
    gmin = keyed.groupBy("gram").agg(F.min("k").alias("mk"))
    spans = (
        keyed.join(gmin, "gram")
        .filter(F.col("k") > F.col("mk"))
        .select(
            "doc_id",
            F.col("pos").alias("s"),
            (F.col("pos") + _SUBSTR_K - 1).alias("e"),
        )
    )
    per_doc = coalesce_span_token_mass(spans)
    return _span_report(base.join(per_doc, "doc_id", "left"), "lang")


# --------------------------------------------------------------------------
# Span-masking decontamination — the APPLY of doc_contamination's
# measurement, GPT-3 style (Brown et al. 2020, Appendix C): instead
# of flagging whole documents whose 5-gram overlap ratio crosses a
# threshold, mask ONLY the contaminated spans — every corpus 8-token
# window that also appears anywhere in the benchmark source ('src0',
# the doc_contamination convention) marks [pos, pos+7]; overlapping
# spans coalesce per doc and the per-source report accounts every
# token (kept + dropped == total; same conservation proof as
# substring_dedup_apply via tests/test_substring_dedup.py).
#
# Scale posture: eval/benchmark gram sets are tiny next to a 100-TB
# corpus, so the contamination probe is a corpus-side semi join
# against a BROADCAST benchmark gram set — map-only until the
# per-doc island windows (bounded by document length). No
# first-occurrence ranking at all (benchmark spans mask wherever
# they appear), so no gram-grain shuffle on the corpus side.
# --------------------------------------------------------------------------


@query(
    "decontaminate_span_mask",
    oracle=f"""
WITH {_SPAN_BASE_SQL.lstrip()},
bench AS (
    SELECT DISTINCT o.gram
    FROM occ o JOIN base b ON o.doc_id = b.doc_id
    WHERE b.source = 'src0'
),
spans AS (
    SELECT o.doc_id, o.pos AS s, o.pos + {_SUBSTR_K - 1} AS e
    FROM occ o
    JOIN base d ON o.doc_id = d.doc_id
    JOIN bench bn ON o.gram = bn.gram
    WHERE d.source <> 'src0'
),
{span_union_sql_duckdb().lstrip()}
{_span_report_sql("source", "WHERE b.source <> 'src0'")}
""",
)
def decontaminate_span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mask benchmark-overlapping 8-token spans in corpus docs."""
    base = _span_docs_base(spark, sf_dir)
    occ = _span_occ(base)
    src = base.select("doc_id", "source")
    bench = (
        occ.join(
            src.filter(F.col("source") == "src0"), "doc_id"
        )
        .select("gram")
        .distinct()
    )
    spans = (
        occ.join(src.filter(F.col("source") != "src0"), "doc_id")
        .join(F.broadcast(bench), "gram")
        .select(
            "doc_id",
            F.col("pos").alias("s"),
            (F.col("pos") + _SUBSTR_K - 1).alias("e"),
        )
    )
    per_doc = coalesce_span_token_mass(spans)
    corpus = base.filter(F.col("source") != "src0")
    return _span_report(
        corpus.join(per_doc, "doc_id", "left"), "source"
    )


# --------------------------------------------------------------------------
# Leave-one-out source impact on duplicate mass — the data-valuation
# question a mixture owner asks before dropping a crawl source: how
# many duplicate pairs would disappear if source s were removed?
# Exact per-source answer from the (cluster, source) grain alone:
# pairs_touched(s) = Σ_clusters [C(n,2) − C(n−n_s,2)] needs only each
# cluster's total n and its per-source count n_s — never the pairs
# themselves. Doubled-pair arithmetic (n(n−1) terms, always even)
# keeps everything in exact bigints with one FLOOR(x/2.0) at the end
# (never integer division — CLAUDE.md truncate-vs-round pitfall).
# Dup truth is the established prefix-80 content hash (the corpus has
# no full-text exact dups since the r8 regeneration).
# Scale: one hash-grain groupBy + one (hash, source) groupBy, both
# map-combinable; output is source-cardinality.
# --------------------------------------------------------------------------


@query(
    "dedup_loo_source_impact",
    oracle=f"""
WITH h AS (
    SELECT doc_id, source,
           sha256(substring(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), 1, 80))
               AS ch
    FROM documents WHERE text IS NOT NULL
),
cl AS (
    SELECT ch, CAST(COUNT(*) AS BIGINT) AS n
    FROM h GROUP BY 1 HAVING COUNT(*) >= 2
),
tot AS (SELECT CAST(SUM(n * (n - 1)) AS BIGINT) AS total2 FROM cl),
per_src AS (
    SELECT h.source, h.ch, CAST(COUNT(*) AS BIGINT) AS ns
    FROM h JOIN cl ON h.ch = cl.ch
    GROUP BY 1, 2
),
impact AS (
    SELECT p.source,
           CAST(SUM(p.ns) AS BIGINT) AS n_dup_docs,
           CAST(SUM(cl.n * (cl.n - 1)
                - (cl.n - p.ns) * (cl.n - p.ns - 1)) AS BIGINT) AS p2
    FROM per_src p JOIN cl ON p.ch = cl.ch
    GROUP BY 1
),
srcs AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM h GROUP BY 1
)
SELECT s.source, s.n_docs,
       CAST(COALESCE(i.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
       CAST(FLOOR(COALESCE(i.p2, 0) / 2.0) AS BIGINT) AS pairs_touched,
       CASE WHEN t.total2 > 0 THEN
           {sql_dround("COALESCE(i.p2, 0) * 1.0 / t.total2", 6)}
       END AS pair_share
FROM srcs s LEFT JOIN impact i ON s.source = i.source
CROSS JOIN tot t
""",
)
def dedup_loo_source_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source leave-one-out duplicate-pair impact."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    h = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        "source",
        F.sha2(F.substring(norm, 1, 80), 256).alias("ch"),
    )
    cl = (
        h.groupBy("ch")
        .agg(F.count("*").cast("bigint").alias("n"))
        .filter(F.col("n") >= 2)
    )
    tot = cl.agg(
        F.sum(F.col("n") * (F.col("n") - 1)).cast("bigint").alias("total2")
    )
    per_src = (
        h.join(cl, "ch")
        .groupBy("source", "ch", "n")
        .agg(F.count("*").cast("bigint").alias("ns"))
    )
    impact = per_src.groupBy("source").agg(
        F.sum("ns").cast("bigint").alias("n_dup_docs"),
        F.sum(
            F.col("n") * (F.col("n") - 1)
            - (F.col("n") - F.col("ns"))
            * (F.col("n") - F.col("ns") - 1)
        )
        .cast("bigint")
        .alias("p2"),
    )
    srcs = h.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    return (
        srcs.join(F.broadcast(impact), "source", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_dup_docs"), F.lit(0))
            .cast("bigint")
            .alias("n_dup_docs"),
            F.floor(F.coalesce(F.col("p2"), F.lit(0)) / 2.0)
            .cast("bigint")
            .alias("pairs_touched"),
            F.when(
                F.col("total2") > 0,
                dround(
                    F.coalesce(F.col("p2"), F.lit(0))
                    * 1.0
                    / F.col("total2"),
                    6,
                ),
            ).alias("pair_share"),
        )
    )


# --------------------------------------------------------------------------
# Fellegi–Sunter record-linkage weights, one exact EM step (Fellegi &
# Sunter 1969; Winkler's EM estimation): over the blocked customer
# candidate pairs (same nation + name-length bucket — the
# dedup_fuzzy_names blocking), build the 3-field agreement vector
# (name edit distance <= 2, segment equal, balance within $100),
# reduce the pair space to its 2^3 agreement-PATTERN counts, and run
# ONE EM step from the canonical init (p=0.05, m=0.9, u=0.1):
# E-step match posteriors are per-PATTERN scalar expressions (a fixed
# IEEE sequence, quantized x1e6 once), the M-step is an integer-
# weighted sum over 8 pattern rows — so the whole iteration is exact
# and engine-identical without any iterative float state. Output: per
# field the re-estimated m/u and the log2 agreement/disagreement
# weights a production linker would threshold on.
# Scale: blocking bounds the pair space (the dedup_fuzzy_names
# posture); the pattern reduce is map-combinable to 8 rows, and EM
# runs on those 8 rows — more iterations cost nothing extra per row
# of data.
# --------------------------------------------------------------------------

_FS_P0, _FS_M0, _FS_U0 = 0.05, 0.9, 0.1


def _fs_d(v: float) -> str:
    """DOUBLE literal for DuckDB (bare decimals parse as DECIMAL and
    chained likelihood products escalate past scale 38); repr() emits
    the exact shortest-roundtrip form, so both engines compute on the
    bit-identical double F.lit(v) ships."""
    return f"({v!r}::DOUBLE)"


def _fs_field_sql(field: str, g: str) -> str:
    return f"""
SELECT '{field}' AS field,
       CAST(SUM(CASE WHEN {g} THEN wq * cnt ELSE 0 END) AS BIGINT) AS aw,
       CAST(SUM(wq * cnt) AS BIGINT) AS tw,
       CAST(SUM(CASE WHEN {g} THEN (1000000 - wq) * cnt ELSE 0 END)
           AS BIGINT) AS au,
       CAST(SUM((1000000 - wq) * cnt) AS BIGINT) AS tu
FROM pat"""


@query(
    "fellegi_sunter_em_weights",
    oracle=f"""
WITH c AS (
    SELECT c_custkey, c_nationkey, c_name,
           LENGTH(c_name) // 4 AS lb,
           c_mktsegment AS seg,
           CASE WHEN c_acctbal IS NOT NULL THEN
               {sql_qround('c_acctbal', 2)} END AS bal
    FROM customer
),
pairs AS (
    SELECT (levenshtein(a.c_name, b.c_name) <= 2) AS g_name,
           (a.seg IS NOT DISTINCT FROM b.seg
            AND a.seg IS NOT NULL) AS g_seg,
           (a.bal IS NOT NULL AND b.bal IS NOT NULL
            AND ABS(a.bal - b.bal) <= 10000) AS g_bal
    FROM c a JOIN c b
      ON a.c_nationkey = b.c_nationkey AND a.lb = b.lb
     AND a.c_custkey < b.c_custkey
),
pat AS MATERIALIZED (
    SELECT g_name, g_seg, g_bal, CAST(COUNT(*) AS BIGINT) AS cnt,
           {sql_qround(f'({_fs_d(_FS_P0)} * (CASE WHEN g_name THEN {_fs_d(_FS_M0)} ELSE {_fs_d(1 - _FS_M0)} END)'
                       f' * (CASE WHEN g_seg  THEN {_fs_d(_FS_M0)} ELSE {_fs_d(1 - _FS_M0)} END)'
                       f' * (CASE WHEN g_bal  THEN {_fs_d(_FS_M0)} ELSE {_fs_d(1 - _FS_M0)} END))'
                       f' / ({_fs_d(_FS_P0)} * (CASE WHEN g_name THEN {_fs_d(_FS_M0)} ELSE {_fs_d(1 - _FS_M0)} END)'
                       f' * (CASE WHEN g_seg  THEN {_fs_d(_FS_M0)} ELSE {_fs_d(1 - _FS_M0)} END)'
                       f' * (CASE WHEN g_bal  THEN {_fs_d(_FS_M0)} ELSE {_fs_d(1 - _FS_M0)} END)'
                       f' + {_fs_d(1 - _FS_P0)}'
                       f' * (CASE WHEN g_name THEN {_fs_d(_FS_U0)} ELSE {_fs_d(1 - _FS_U0)} END)'
                       f' * (CASE WHEN g_seg  THEN {_fs_d(_FS_U0)} ELSE {_fs_d(1 - _FS_U0)} END)'
                       f' * (CASE WHEN g_bal  THEN {_fs_d(_FS_U0)} ELSE {_fs_d(1 - _FS_U0)} END))', 6)} AS wq
    FROM pairs GROUP BY 1, 2, 3
),
fields AS (
    {_fs_field_sql("name_edit2", "g_name")}
    UNION ALL {_fs_field_sql("segment_eq", "g_seg")}
    UNION ALL {_fs_field_sql("balance_100", "g_bal")}
),
est AS (
    SELECT field,
           CASE WHEN tw > 0 THEN
               {sql_dround("aw * 1.0 / tw", 6)} END AS m1,
           CASE WHEN tu > 0 THEN
               {sql_dround("au * 1.0 / tu", 6)} END AS u1
    FROM fields
)
SELECT field, m1, u1,
       CASE WHEN u1 > 0 AND m1 > 0 THEN
           {sql_dround("log2(m1 / u1)", 6)} END AS w_agree,
       CASE WHEN m1 < 1 AND u1 < 1 THEN
           {sql_dround("log2((1.0 - m1) / (1.0 - u1))", 6)}
       END AS w_disagree
FROM est
""",
)
def fellegi_sunter_em_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One exact EM step of Fellegi–Sunter m/u over blocked pairs."""
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    c = cust.select(
        "c_custkey",
        "c_nationkey",
        "c_name",
        (F.length("c_name") / 4).cast("long").alias("lb"),
        F.col("c_mktsegment").alias("seg"),
        F.when(
            F.col("c_acctbal").isNotNull(),
            qround(F.col("c_acctbal"), 2),
        ).alias("bal"),
    )
    a, b = c.alias("a"), c.alias("b")
    pairs = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.lb") == F.col("b.lb"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(
        (
            F.levenshtein(F.col("a.c_name"), F.col("b.c_name")) <= 2
        ).alias("g_name"),
        (
            F.col("a.seg").eqNullSafe(F.col("b.seg"))
            & F.col("a.seg").isNotNull()
        ).alias("g_seg"),
        (
            F.col("a.bal").isNotNull()
            & F.col("b.bal").isNotNull()
            & (F.abs(F.col("a.bal") - F.col("b.bal")) <= 10000)
        ).alias("g_bal"),
    )

    def lik(g: str, v: float) -> F.Column:
        return F.when(F.col(g), F.lit(v)).otherwise(F.lit(1 - v))

    num = (
        F.lit(_FS_P0)
        * lik("g_name", _FS_M0)
        * lik("g_seg", _FS_M0)
        * lik("g_bal", _FS_M0)
    )
    den = num + F.lit(1 - _FS_P0) * lik("g_name", _FS_U0) * lik(
        "g_seg", _FS_U0
    ) * lik("g_bal", _FS_U0)
    pat = (
        pairs.groupBy("g_name", "g_seg", "g_bal")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .withColumn(
            "wq",
            qround(num / den, 6),
        )
    )
    parts = []
    for field, g in (
        ("name_edit2", "g_name"),
        ("segment_eq", "g_seg"),
        ("balance_100", "g_bal"),
    ):
        gc = F.col(g)
        parts.append(
            pat.agg(
                F.lit(field).alias("field"),
                F.sum(F.when(gc, F.col("wq") * F.col("cnt")).otherwise(0))
                .cast("bigint")
                .alias("aw"),
                F.sum(F.col("wq") * F.col("cnt"))
                .cast("bigint")
                .alias("tw"),
                F.sum(
                    F.when(
                        gc, (1000000 - F.col("wq")) * F.col("cnt")
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias("au"),
                F.sum((1000000 - F.col("wq")) * F.col("cnt"))
                .cast("bigint")
                .alias("tu"),
            )
        )
    fields = parts[0].unionAll(parts[1]).unionAll(parts[2])
    est = fields.select(
        "field",
        F.when(
            F.col("tw") > 0,
            dround(F.col("aw") * 1.0 / F.col("tw"), 6),
        ).alias("m1"),
        F.when(
            F.col("tu") > 0,
            dround(F.col("au") * 1.0 / F.col("tu"), 6),
        ).alias("u1"),
    )
    return est.select(
        "field",
        "m1",
        "u1",
        F.when(
            (F.col("u1") > 0) & (F.col("m1") > 0),
            dround(F.log2(F.col("m1") / F.col("u1")), 6),
        ).alias("w_agree"),
        F.when(
            (F.col("m1") < 1) & (F.col("u1") < 1),
            dround(
                F.log2((1.0 - F.col("m1")) / (1.0 - F.col("u1"))), 6
            ),
        ).alias("w_disagree"),
    )


# --------------------------------------------------------------------------
# Memorization-risk ranking (Carlini et al. 2022 / Lee et al. 2022):
# the empirical drivers of verbatim memorization are how many TIMES
# content repeats and how LONG it is. This corpus has NO exact
# duplicates at the gate SF (checked: 500/500 distinct normalized
# texts at sf0.01 — an exact-dup grain would be the vacuous-parity
# class), so repetition is counted at the NEAR-DUP CLUSTER grain: the
# proven Jaccard-block connected components (dedup_cluster_components
# machinery). risk = cluster_size x n_tokens, exact ints; summarized
# as per-source risk mass — the table a privacy/IP review reads
# before training.
# --------------------------------------------------------------------------


@query(
    "memorization_risk_ranking",
    oracle=f"""
WITH RECURSIVE {_JACCARD_BLOCK_SQL},
{_CLUSTER_SQL},
sizes AS (
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM clusters GROUP BY 1
),
csize AS (
    SELECT c.node AS doc_id, s.n_copies
    FROM clusters c JOIN sizes s USING (cluster_id)
),
r AS (
    SELECT d.doc_id, d.source,
           COALESCE(cs.n_copies, 1) AS n_copies,
           CASE WHEN d.text IS NULL OR TRIM(d.text) = '' THEN 0
                ELSE len(string_split_regex(TRIM(d.text), '\\s+')) END
               AS n_tokens
    FROM documents d LEFT JOIN csize cs USING (doc_id)
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(*) FILTER (WHERE n_copies > 1) AS n_duplicated,
       CAST(MAX(n_copies * n_tokens) AS BIGINT) AS max_risk,
       CAST(SUM(n_copies * n_tokens) AS BIGINT) AS total_risk,
       CAST(SUM(CASE WHEN n_copies > 1 THEN n_copies * n_tokens
                     ELSE 0 END) AS BIGINT) AS duplicated_risk
FROM r GROUP BY source
""",
)
def memorization_risk_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source memorization-risk mass from the near-dup cluster grain.

    Scale: reuses the capped-block inverted-index edge build +
    min-label components (duplicate-density-sized); the corpus-sized
    stages are the shingle scan, one doc_id-keyed left join, and the
    per-source aggregate. Docs outside any cluster (incl. NULL/short
    text, which the shingle guard excludes from edges) count as
    n_copies = 1 via COALESCE — the stated universe is ALL documents.
    Reference has no dedup ops (closest: drop_duplicates,
    scripts/transform.py:1).
    """
    from ..operators.graph import connected_components

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    clusters = connected_components(_jaccard_edges(spark, sf_dir))
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("n_copies")
    )
    csize = clusters.join(sizes, "cluster_id").select(
        F.col("node").alias("doc_id"), "n_copies"
    )
    wc = F.when(
        F.col("text").isNull() | (F.trim(F.col("text")) == ""), F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
    r = (
        docs.select("doc_id", "source", wc.alias("n_tokens"))
        .join(csize, "doc_id", "left")
        .select(
            "source",
            F.coalesce("n_copies", F.lit(1)).cast("bigint").alias("n_copies"),
            "n_tokens",
        )
    )
    risk = (F.col("n_copies") * F.col("n_tokens")).cast("bigint")
    dup = F.col("n_copies") > 1
    return r.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(dup, 1)).alias("n_duplicated"),
        F.max(risk).cast("bigint").alias("max_risk"),
        F.sum(risk).cast("bigint").alias("total_risk"),
        F.sum(F.when(dup, risk).otherwise(0))
        .cast("bigint")
        .alias("duplicated_risk"),
    )


# --------------------------------------------------------------------------
# b-bit MinHash audit (Li & König 2010): store only the lowest b bits
# of each permutation's min-hash and correct the collision floor —
# Ĵ_b = max((P_match − r)/(1 − r), 0) with r = 2^-b. The audit runs
# full-width and b ∈ {1,2,4,8} estimators against EXACT Jaccard on a
# pinned 20-doc pair grid (190 pairs × 16 perms), hashing the
# bias/accuracy-vs-storage tradeoff that decides a near-dup index's
# width. Rides the md5-deterministic signature recipe shared with
# dedup_minhash_lsh_checked.
# --------------------------------------------------------------------------

_BBIT_DOCS = 20
_BBIT_BS = (1, 2, 4, 8)


def _bbit_leg_sql(name: str, bits: int, mcol: str, r: float) -> str:
    est = (
        f"(GREATEST(({mcol} / {float(_MINHASH_PERMS)} - CAST({r!r} AS DOUBLE))"
        f" / (1.0 - CAST({r!r} AS DOUBLE)), 0.0))"
        if r > 0
        else f"({mcol} / {float(_MINHASH_PERMS)})"
    )
    return f"""
SELECT '{name}' AS estimator, {bits} AS bits_per_perm,
       COUNT(*) AS n_pairs,
       CAST(FLOOR(SUM({sql_qround(f'ABS({est} - jx)', 6)}) * 1.0 / COUNT(*) + 0.5) AS BIGINT)
           AS mae_ppm,
       CAST(FLOOR(SUM({sql_qround(f'({est} - jx)', 6)}) * 1.0 / COUNT(*) + 0.5) AS BIGINT)
           AS bias_ppm
FROM bb_perpair"""


@query(
    "bbit_minhash_audit",
    oracle=f"""
WITH bb_sh AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, GREATEST(LENGTH(text) - 2, 0) + 1),
               i -> text[i : i + 2]
           )) AS grams
    FROM documents WHERE LENGTH(text) >= 3 AND doc_id < {_BBIT_DOCS}
),
bb_hb AS (
    SELECT doc_id, grams,
           list_transform(grams, g ->
               CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT)) AS hs
    FROM bb_sh
),
bb_mh AS (
    SELECT doc_id, grams, [{_MH_SIG_DUCK}] AS sig FROM bb_hb
),
bb_pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.grams, b.grams)) * 1.0
           / (len(a.grams) + len(b.grams)
              - len(list_intersect(a.grams, b.grams))) AS jx,
           a.sig AS siga, b.sig AS sigb
    FROM bb_mh a JOIN bb_mh b ON a.doc_id < b.doc_id
),
bb_perpair AS (
    SELECT id_a, id_b, jx,
           SUM(CASE WHEN va = vb THEN 1 ELSE 0 END) AS m_full,
           SUM(CASE WHEN va % 2 = vb % 2 THEN 1 ELSE 0 END) AS m_b1,
           SUM(CASE WHEN va % 4 = vb % 4 THEN 1 ELSE 0 END) AS m_b2,
           SUM(CASE WHEN va % 16 = vb % 16 THEN 1 ELSE 0 END) AS m_b4,
           SUM(CASE WHEN va % 256 = vb % 256 THEN 1 ELSE 0 END) AS m_b8
    FROM (
        SELECT id_a, id_b, jx, p.p,
               siga[p.p] AS va, sigb[p.p] AS vb
        FROM bb_pairs,
             (SELECT unnest(range(1, {_MINHASH_PERMS + 1})) AS p) p
    ) GROUP BY 1, 2, 3
)
{_bbit_leg_sql('full', 32, 'm_full', 0.0)}
UNION ALL {_bbit_leg_sql('b1', 1, 'm_b1', 0.5)}
UNION ALL {_bbit_leg_sql('b2', 2, 'm_b2', 0.25)}
UNION ALL {_bbit_leg_sql('b4', 4, 'm_b4', 0.0625)}
UNION ALL {_bbit_leg_sql('b8', 8, 'm_b8', 0.00390625)}
""",
)
def bbit_minhash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy-vs-storage of b-bit MinHash against exact Jaccard.

    Scale: the audited pair grid is pinned (20 docs → 190 pairs — an
    exact-baseline design study, same posture as the ANN recall
    audits); signatures are the production 16-perm arithmetic over
    once-hashed shingles. The estimator math is what a 32×-smaller
    1-bit index would serve, and the hashed bias/MAE columns are the
    go/no-go numbers for shrinking the near-dup index.
    """
    from ..functions import dround  # noqa: F401
    from ..operators.dedup import shingles

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    sh = docs.filter(
        (F.length("text") >= 3) & (F.col("doc_id") < _BBIT_DOCS)
    ).select("doc_id", shingles("text", 3).alias("grams"))
    hs_expr = (
        "transform(grams, g -> "
        "cast(conv(substring(md5(g), 1, 8), 16, 10) AS bigint))"
    )
    mh = sh.withColumn("hs", F.expr(hs_expr)).select(
        "doc_id", "grams", F.expr(f"array({_MH_SIG_SPARK})").alias("sig")
    )
    a = mh.select(
        F.col("doc_id").alias("id_a"),
        F.col("grams").alias("ga"),
        F.col("sig").alias("siga"),
    )
    b = mh.select(
        F.col("doc_id").alias("id_b"),
        F.col("grams").alias("gb"),
        F.col("sig").alias("sigb"),
    )
    inter = F.size(F.array_intersect("ga", "gb"))
    jx = inter * 1.0 / (F.size("ga") + F.size("gb") - inter)
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", jx.alias("jx"), "siga", "sigb")
    )
    pspine = spark.range(1, _MINHASH_PERMS + 1).select(
        F.col("id").cast("int").alias("p")
    )
    expl = pairs.crossJoin(F.broadcast(pspine)).select(
        "id_a",
        "id_b",
        "jx",
        F.expr("siga[p - 1]").alias("va"),
        F.expr("sigb[p - 1]").alias("vb"),
    )
    perpair = expl.groupBy("id_a", "id_b", "jx").agg(
        F.sum(F.when(F.col("va") == F.col("vb"), 1).otherwise(0)).alias(
            "m_full"
        ),
        *[
            F.sum(
                F.when(
                    F.col("va") % (1 << bb) == F.col("vb") % (1 << bb), 1
                ).otherwise(0)
            ).alias(f"m_b{bb}")
            for bb in _BBIT_BS
        ],
    )

    def leg(name: str, bits: int, mcol: str, r: float) -> DataFrame:
        if r > 0:
            est = F.greatest(
                (F.col(mcol) / float(_MINHASH_PERMS) - F.lit(r))
                / (1.0 - F.lit(r)),
                F.lit(0.0),
            )
        else:
            est = F.col(mcol) / float(_MINHASH_PERMS)
        errq = qround(F.abs(est - F.col("jx")), 6)
        biasq = qround(est - F.col("jx"), 6)
        return perpair.agg(
            F.count("*").alias("n_pairs"),
            F.floor(F.sum(errq) * 1.0 / F.count("*") + 0.5)
            .cast("bigint")
            .alias("mae_ppm"),
            F.floor(F.sum(biasq) * 1.0 / F.count("*") + 0.5)
            .cast("bigint")
            .alias("bias_ppm"),
        ).select(
            F.lit(name).alias("estimator"),
            F.lit(bits).alias("bits_per_perm"),
            "n_pairs",
            "mae_ppm",
            "bias_ppm",
        )

    out = leg("full", 32, "m_full", 0.0)
    for bb, r in zip(_BBIT_BS, (0.5, 0.25, 0.0625, 0.00390625)):
        out = out.unionAll(leg(f"b{bb}", bb, f"m_b{bb}", r))
    return out
