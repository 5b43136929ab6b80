"""Retrieval-style corpus queries: BM25 ranking and n-gram novelty.

Training-data curation needs retrieval primitives on top of the token
stats in plans/text.py: BM25 is the standard lexical ranker used to
mine topical subsets from a crawl (and the baseline any embedding
retriever is judged against), and first-occurrence n-gram novelty is
the memorization/diversity signal (how much of a document is new
relative to everything ingested before it).

Determinism: BM25 term scores are floats, and a per-doc score is a SUM
of them — summation order across engines would differ, so each term
score is fixed-pointed to an exact ×1e6 BIGINT first (floor(x*1e6+0.5)
is a fixed IEEE sequence, identical on both engines); the per-doc sum
is then exact integer arithmetic and one final division produces the
reported double. Same ppm trick for novelty shares. This is the
zipf_slope_by_lang pattern (text.py).

Reference analog: none — the reference has no text retrieval; this
extends the LLM-pipeline surface (SURVEY §2 north-star items).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import dround, qround, sql_dround, sql_qround
from ..operators import text as T
from ..operators.similarity import dot_sql_duckdb
from ..operators.text import word_ngrams, word_ngrams_sql_duckdb
from ..session import load_tables
from .registry import query

# Fixed query-term set (pinned literals — no wall-clock/corpus-sniffing
# dependence; the terms exist in the synthetic corpus vocabulary).
_BM25_TERMS = ("vector", "stream", "hash")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10

_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)


@query(
    "bm25_doc_retrieval",
    oracle=f"""
WITH d AS (
    SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS ws FROM documents
),
dl AS (SELECT doc_id, len(ws) AS dl FROM d),
stats AS (
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
    FROM dl
),
tf AS (
    SELECT doc_id, word, COUNT(*) AS tf
    FROM (SELECT doc_id, unnest(ws) AS word FROM d)
    WHERE word IN ({_TERMS_SQL})
    GROUP BY 1, 2
),
dfreq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
    SELECT t.doc_id,
           {sql_qround('ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)'
                       f' * (t.tf * {_BM25_K1 + 1.0})'
                       f' / (t.tf + {_BM25_K1} * ({1.0 - _BM25_B} + {_BM25_B} * l.dl / s.avgdl))', 6)} AS sc
    FROM tf t
    JOIN dfreq f USING (word)
    JOIN dl l USING (doc_id)
    CROSS JOIN stats s
)
SELECT doc_id,
       COUNT(*) AS matched_terms,
       CAST(CAST(SUM(sc) AS BIGINT) AS DOUBLE) / 1000000.0 AS bm25_score
FROM scored
GROUP BY 1
ORDER BY SUM(sc) DESC, doc_id
LIMIT {_BM25_TOPK}
""",
)
def bm25_doc_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k documents for a pinned query-term set.

    Scale: the full-scan stages are the word explode filtered to the
    query terms (the filter collapses the posting stream to
    |terms|-bounded fan-in) and the integer doc-length projection. The
    per-term df table and the (n_docs, avgdl) scalar are broadcast;
    the finisher is TakeOrdered over docs that matched ≥1 term — never
    a full corpus sort. At 100 TB the tf table IS the inverted-index
    posting list for the query, built on demand.
    """
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    d = docs.select("doc_id", T.words("text").alias("ws"))
    dl = d.select("doc_id", F.size("ws").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        d.select("doc_id", F.explode("ws").alias("word"))
        .filter(F.col("word").isin(*_BM25_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    sc = qround(
        idf
        * (F.col("tf") * F.lit(_BM25_K1 + 1.0))
        / (
            F.col("tf")
            + F.lit(_BM25_K1)
            * (F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl"))
        ),
        6,
    )
    return (
        scored.select("doc_id", sc.alias("sc"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("matched_terms"),
            F.sum("sc").alias("sc_sum"),
        )
        .orderBy(F.desc("sc_sum"), "doc_id")
        .limit(_BM25_TOPK)
        .select(
            "doc_id",
            "matched_terms",
            (F.col("sc_sum").cast("double") / 1000000.0).alias("bm25_score"),
        )
    )


# --------------------------------------------------------------------------
# First-occurrence n-gram novelty: which sources are still contributing
# new text vs recombining what earlier docs already said. doc_id is the
# pinned ingestion order; a gram is "novel" in the single doc where it
# first appears.
# --------------------------------------------------------------------------


@query(
    "ngram_novelty_by_source",
    oracle=f"""
WITH d AS (
    SELECT doc_id, source,
           list_distinct({word_ngrams_sql_duckdb('text', 3)}) AS grams
    FROM documents
),
g AS (SELECT doc_id, source, unnest(grams) AS gram FROM d),
first AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY 1),
per_doc AS (
    SELECT g.doc_id, g.source,
           COUNT(*) AS n_g,
           COUNT(*) FILTER (WHERE f.first_doc = g.doc_id) AS n_novel
    FROM g JOIN first f USING (gram)
    GROUP BY 1, 2
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_g) AS BIGINT) AS total_grams,
       CAST(SUM(n_novel) AS BIGINT) AS novel_grams,
       CAST(CAST(SUM(CAST(FLOOR(n_novel * 1000000.0 / n_g + 0.5) AS BIGINT))
            AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_novelty_ppm
FROM per_doc
GROUP BY 1
""",
)
def ngram_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source share of 3-grams first introduced by each document.

    Scale: the gram table is the same inverted index decontamination
    builds (plans/training.py) — shuffle keyed on the gram hash, never
    an all-pairs comparison; the first-occurrence table is one MIN per
    gram (map-side combinable) and joins back on the same key, so the
    whole plan is two co-partitioned shuffles on `gram`. Docs with
    fewer than 3 words contribute no grams and drop out (documented
    semantics, mirrored in the oracle).
    """
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    # project the split ONCE in a separate select; word_ngrams references
    # its input repeatedly (see operators/text.py)
    d = (
        docs.select("doc_id", "source", T.words("text").alias("ws"))
        .select(
            "doc_id",
            "source",
            F.array_distinct(word_ngrams("ws", 3, presplit=True)).alias("grams"),
        )
        .withColumn("gram", F.explode("grams"))
        .drop("grams")
    )
    # first-occurrence via a gram-partitioned window MIN instead of a
    # grams ⋈ min-per-gram self-join: one gram shuffle feeds both the
    # min and the flag, halving the explode/shuffle work (12.2 s →
    # measured ~2× faster at sf0.1); the oracle keeps the join form —
    # value equality across the two shapes is part of what the hash
    # check proves.
    from pyspark.sql.window import Window

    wg = Window.partitionBy("gram")
    per_doc = (
        d.withColumn("first_doc", F.min("doc_id").over(wg))
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_g"),
            F.count_if(F.col("first_doc") == F.col("doc_id")).alias("n_novel"),
        )
    )
    ppm = F.floor(F.col("n_novel") * 1000000.0 / F.col("n_g") + 0.5).cast("bigint")
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_g").alias("total_grams"),
        F.sum("n_novel").alias("novel_grams"),
        (F.sum(ppm).cast("double") / F.count("*")).alias("avg_novelty_ppm"),
    )


# --------------------------------------------------------------------------
# Hybrid retrieval fusion (RRF): the standard way a RAG/curation stack
# combines a lexical ranker (BM25) with a dense ranker (embedding
# cosine) — reciprocal-rank fusion needs only the two rank lists, no
# score calibration. Each leg is cut to its top-R BEFORE fusing (rank
# tables are R-bounded regardless of corpus size), contributions are
# exact integers (1e9 // (K + rank)), and the fused order is total via
# the id tiebreak. doc_id ↔ vec_id is the corpus linkage (both 0..N).
# --------------------------------------------------------------------------

_RRF_K = 60
_RRF_LEG_R = 100
_RRF_OUT_K = 15


@query(
    "hybrid_rrf_fusion",
    oracle=f"""
WITH d AS (
    SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS ws
    FROM documents WHERE text IS NOT NULL
),
dl AS (SELECT doc_id, len(ws) AS dl FROM d),
stats AS (
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
    FROM dl
),
tf AS (
    SELECT doc_id, word, COUNT(*) AS tf
    FROM (SELECT doc_id, unnest(ws) AS word FROM d)
    WHERE word IN ({_TERMS_SQL})
    GROUP BY 1, 2
),
dfreq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
lex_scored AS (
    SELECT t.doc_id,
           CAST(SUM({sql_qround('ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)'
                                f' * (t.tf * {_BM25_K1 + 1.0})'
                                f' / (t.tf + {_BM25_K1} * ({1.0 - _BM25_B}'
                                f' + {_BM25_B} * l.dl / s.avgdl))', 6)}) AS BIGINT) AS sc
    FROM tf t
    JOIN dfreq f USING (word)
    JOIN dl l USING (doc_id)
    CROSS JOIN stats s
    GROUP BY 1
),
lex AS (
    SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id)
               AS INTEGER) AS lex_rank
    FROM lex_scored
    QUALIFY lex_rank <= {_RRF_LEG_R}
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
den_raw AS (
    SELECT vec_id,
           ({dot_sql_duckdb('embedding', 'qv', 64)}) /
           (sqrt({dot_sql_duckdb('embedding', 'embedding', 64)})
            * sqrt({dot_sql_duckdb('qv', 'qv', 64)})) AS cos
    FROM embeddings CROSS JOIN q
),
den_scored AS (
    SELECT vec_id, {sql_dround('cos', 6)} AS cos6 FROM den_raw
),
den AS (
    SELECT vec_id AS doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY cos6 DESC, vec_id)
               AS INTEGER) AS dense_rank
    FROM den_scored
    QUALIFY dense_rank <= {_RRF_LEG_R}
),
fused AS (
    SELECT COALESCE(lex.doc_id, den.doc_id) AS doc_id,
           lex.lex_rank, den.dense_rank,
           COALESCE(1000000000 // ({_RRF_K} + lex.lex_rank), 0)
           + COALESCE(1000000000 // ({_RRF_K} + den.dense_rank), 0)
               AS rrf_micro
    FROM lex FULL OUTER JOIN den ON lex.doc_id = den.doc_id
)
SELECT doc_id, lex_rank, dense_rank,
       CAST(rrf_micro AS DOUBLE) / 1000000000.0 AS rrf_score
FROM fused
ORDER BY rrf_micro DESC, doc_id
LIMIT {_RRF_OUT_K}
""",
)
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of BM25 and cosine rankings, top-15.

    Scale: each leg's rank list is built with its own scalable plan
    (BM25 = query-term posting lists; dense = brute force here, the
    ANN plans at corpus scale) and cut to top-R with TakeOrdered-style
    finishers; the fusion itself joins two R-row tables — driver-free
    and constant-size no matter the corpus. Contributions are exact
    integer micro-units so the fused order is engine-identical.
    """
    from ..operators.similarity import dot_sql_spark

    t = load_tables(spark, sf_dir, "documents", "embeddings")
    docs, emb = t["documents"], t["embeddings"]

    d = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", T.words("text").alias("ws")
    )
    dl = d.select("doc_id", F.size("ws").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        d.select("doc_id", F.explode("ws").alias("word"))
        .filter(F.col("word").isin(*_BM25_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    term_sc = qround(
        idf
        * (F.col("tf") * F.lit(_BM25_K1 + 1.0))
        / (
            F.col("tf")
            + F.lit(_BM25_K1)
            * (
                F.lit(1.0 - _BM25_B)
                + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")
            )
        ),
        6,
    )
    lex_scored = (
        tf.join(F.broadcast(dfreq), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", term_sc.alias("sc"))
        .groupBy("doc_id")
        .agg(F.sum("sc").cast("bigint").alias("sc"))
    )
    # TakeOrdered to R rows FIRST (every partition keeps a local top-R,
    # the driver merges R×P), THEN a row_number over the R-row result —
    # never a global single-partition window over the scored corpus
    w_lex = Window.orderBy(F.desc("sc"), F.asc("doc_id"))
    lex = (
        lex_scored.orderBy(F.desc("sc"), F.asc("doc_id"))
        .limit(_RRF_LEG_R)
        .select(
            "doc_id", F.row_number().over(w_lex).cast("int").alias("lex_rank")
        )
    )

    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    cos6 = dround(
        F.expr(
            f"({dot_sql_spark('embedding', 'qv')}) / "
            f"(sqrt({dot_sql_spark('embedding', 'embedding')})"
            f" * sqrt({dot_sql_spark('qv', 'qv')}))"
        ),
        6,
    )
    den_scored = emb.crossJoin(F.broadcast(qv)).select(
        "vec_id", cos6.alias("cos6")
    )
    w_den = Window.orderBy(F.desc("cos6"), F.asc("vec_id"))
    den = (
        den_scored.orderBy(F.desc("cos6"), F.asc("vec_id"))
        .limit(_RRF_LEG_R)
        .select(
            "vec_id",
            F.row_number().over(w_den).cast("int").alias("dense_rank"),
        )
        .select(F.col("vec_id").alias("doc_id"), "dense_rank")
    )

    fused = lex.join(den, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "dense_rank",
        (
            F.coalesce(
                F.expr(f"1000000000 DIV ({_RRF_K} + lex_rank)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"1000000000 DIV ({_RRF_K} + dense_rank)"), F.lit(0)
            )
        ).alias("rrf_micro"),
    )
    return (
        fused.orderBy(F.desc("rrf_micro"), F.asc("doc_id"))
        .limit(_RRF_OUT_K)
        .select(
            "doc_id",
            "lex_rank",
            "dense_rank",
            (F.col("rrf_micro").cast("double") / 1000000000.0).alias(
                "rrf_score"
            ),
        )
    )


# --------------------------------------------------------------------------
# Positional phrase search — exact multi-token phrase matching, the
# retrieval primitive BM25's bag-of-words scoring cannot express
# ("table scan" must match adjacent tokens, not co-occurrence). Both
# engines evaluate the SAME adjacency scan as a list lambda over the
# materialized token array (the array is a column FIRST — a split()
# inside a higher-order lambda re-runs per position, O(n^2) regex
# work). Guards: sub-2-token docs short-circuit before sequence()
# (Spark sequence(1,0) is DESCENDING) and the index range keeps ANSI
# element_at in bounds.
#
# Scale: pure per-row map work + one (lang)-keyed map-combined agg —
# zero joins, zero row-cardinality shuffles; phrase fan-out is a
# constant-width stack of one wide aggregate, not a per-phrase union.
# --------------------------------------------------------------------------

_PHRASE_1 = ("table", "scan")
_PHRASE_2 = ("hash", "join")


@query(
    "phrase_search_positional",
    oracle=f"""
WITH toks AS (
    SELECT lang, string_split(text, ' ') AS t
    FROM documents WHERE text IS NOT NULL
),
occ AS (
    SELECT lang,
           CASE WHEN len(t) >= 2 THEN len(list_filter(range(1, len(t)),
                i -> t[i] = '{_PHRASE_1[0]}' AND t[i+1] = '{_PHRASE_1[1]}'))
                ELSE 0 END AS o1,
           CASE WHEN len(t) >= 2 THEN len(list_filter(range(1, len(t)),
                i -> t[i] = '{_PHRASE_2[0]}' AND t[i+1] = '{_PHRASE_2[1]}'))
                ELSE 0 END AS o2
    FROM toks
),
agg AS (
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE o1 > 0) AS d1,
           CAST(SUM(o1) AS BIGINT) AS s1,
           COUNT(*) FILTER (WHERE o2 > 0) AS d2,
           CAST(SUM(o2) AS BIGINT) AS s2
    FROM occ GROUP BY 1
)
SELECT lang, '{" ".join(_PHRASE_1)}' AS phrase, n_docs,
       d1 AS docs_with_phrase, s1 AS occurrences FROM agg
UNION ALL
SELECT lang, '{" ".join(_PHRASE_2)}' AS phrase, n_docs,
       d2 AS docs_with_phrase, s2 AS occurrences FROM agg
""",
)
def phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact adjacent-token phrase counts per language, two phrases."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    toks = docs.filter(F.col("text").isNotNull()).select(
        "lang", F.split(F.col("text"), " ").alias("t")
    )

    def occ(w1: str, w2: str) -> F.Column:
        return F.expr(
            "CASE WHEN size(t) >= 2 THEN size(filter(sequence(1, size(t)-1),"
            f" i -> element_at(t, i) = '{w1}'"
            f" AND element_at(t, i+1) = '{w2}')) ELSE 0 END"
        )

    agg = (
        toks.select(
            "lang",
            occ(*_PHRASE_1).alias("o1"),
            occ(*_PHRASE_2).alias("o2"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_if(F.col("o1") > 0).alias("d1"),
            F.sum("o1").cast("bigint").alias("s1"),
            F.count_if(F.col("o2") > 0).alias("d2"),
            F.sum("o2").cast("bigint").alias("s2"),
        )
    )
    p1 = " ".join(_PHRASE_1)
    p2 = " ".join(_PHRASE_2)
    return agg.selectExpr(
        "lang",
        "n_docs",
        f"stack(2, '{p1}', d1, s1, '{p2}', d2, s2)"
        " AS (phrase, docs_with_phrase, occurrences)",
    ).select("lang", "phrase", "n_docs", "docs_with_phrase", "occurrences")


# --------------------------------------------------------------------------
# Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty,
# SIGIR 2001) — the LM counterpart to BM25 above, same pinned query.
# score6(d) = Σ_{t∈q∩d} q6(ln(1 + tf·T/(μ·cf_t))) + Σ_t q6(ln(μ·cf_t/T))
#             − |q|·q6(ln(dl_d + μ)),  q6(x) = floor(x·1e6 + 0.5)
# Each part quantizes to ×1e6 ints BEFORE any sum, so the score is an
# exact integer. The SPARK side computes the decomposed posting-list
# form (matched postings + a doc-length map + one broadcast constant);
# the ORACLE expands the naive docs×terms product with zero-tf rows —
# the hash match PROVES the decomposition that makes QL runnable off
# an inverted index at 100 TB.
# --------------------------------------------------------------------------

_QL_MU = 2000.0
_QL_TOPK = 10


@query(
    "ql_dirichlet_retrieval",
    oracle=f"""
WITH d AS (
    SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS ws
    FROM documents WHERE text IS NOT NULL
),
dl AS (SELECT doc_id, len(ws) AS dl FROM d),
tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS t FROM dl),
terms(word) AS (VALUES ({_TERMS_SQL.replace(", ", "), (")})),
cf0 AS (
    SELECT t.word, CAST(COUNT(w.word) AS BIGINT) AS cf
    FROM terms t
    LEFT JOIN (SELECT unnest(ws) AS word FROM d) w ON w.word = t.word
    GROUP BY 1
),
-- OOV guard: a query term absent from the corpus is DROPPED (standard
-- QL treatment) so cf=0 can never reach ln()/division on either engine
cf AS (SELECT * FROM cf0 WHERE cf > 0),
bconst AS (
    SELECT CAST(SUM({sql_qround(f'ln({_QL_MU} * c.cf / o.t)', 6)}) AS BIGINT) AS b6,
           CAST(COUNT(*) AS BIGINT) AS nq
    FROM cf c CROSS JOIN tot o
),
tf AS (
    SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(ws) AS word FROM d)
    WHERE word IN ({_TERMS_SQL})
    GROUP BY 1, 2
),
-- naive form: every (doc, term) pair, zero-tf rows contributing 0
a6 AS (
    SELECT l.doc_id,
           CAST(SUM(CASE WHEN f.tf IS NOT NULL THEN
               {sql_qround(f'ln(1.0 + (f.tf * o.t) * 1.0 / ({_QL_MU} * c.cf))', 6)}
               ELSE 0 END) AS BIGINT) AS a6,
           CAST(COUNT(*) FILTER (WHERE f.tf IS NOT NULL) AS BIGINT)
               AS matched_terms
    FROM dl l
    CROSS JOIN cf c
    CROSS JOIN tot o
    LEFT JOIN tf f ON f.doc_id = l.doc_id AND f.word = c.word
    GROUP BY 1
)
SELECT a.doc_id, a.matched_terms,
       CAST(a.a6 + b.b6 - b.nq *
            {sql_qround(f'ln(l.dl + {_QL_MU})', 6)}
            AS BIGINT) AS score6,
       CAST(CAST(a.a6 + b.b6 - b.nq *
            {sql_qround(f'ln(l.dl + {_QL_MU})', 6)}
            AS BIGINT) AS DOUBLE) / 1000000.0 AS ql_score
FROM a6 a JOIN dl l USING (doc_id) CROSS JOIN bconst b
ORDER BY score6 DESC, a.doc_id
LIMIT {_QL_TOPK}
""",
)
def ql_dirichlet_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet query-likelihood top-k via the posting-list form.

    Scale: unlike the oracle's docs×terms expansion, only MATCHED
    postings are scored (the zero-tf mass folds into one broadcast
    constant b6 and a per-doc length term) — at 100 TB this is the
    inverted-index access path: |postings(q)| + one map over dl, never
    |docs|·|q| rows. Headroom: tf·T stays under 2^63 until the corpus
    passes ~1e15 tokens per term occurrence. Finisher is
    TakeOrderedAndProject on (score6, doc_id).
    """
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    d = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", T.words("text").alias("ws")
    )
    dl = d.select("doc_id", F.size("ws").alias("dl"))
    tot = dl.agg(F.sum("dl").cast("bigint").alias("t"))
    words = d.select(F.explode("ws").alias("word"))
    terms = spark.createDataFrame(
        [(t,) for t in _BM25_TERMS], "word string"
    )
    # Count the RIGHT side, not the coalesced USING key: pre-aggregate
    # corpus term frequencies, left-join onto the term spine, coalesce
    # to 0, then drop OOV terms (cf=0) — identical to the oracle's
    # COUNT(w.word) + cf>0 guard. (A USING-join key is non-null even
    # for an unmatched term, which silently made cf=1 before.)
    wcount = (
        words.filter(F.col("word").isin(*_BM25_TERMS))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("cf0"))
    )
    cf = (
        terms.join(wcount, "word", "left")
        .select(
            "word",
            F.coalesce(F.col("cf0"), F.lit(0)).cast("bigint").alias("cf"),
        )
        .filter(F.col("cf") > 0)
    )
    bconst = (
        cf.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                qround(
                    F.log(F.lit(_QL_MU) * F.col("cf") / F.col("t")), 6
                )
            )
            .cast("bigint")
            .alias("b6"),
            F.count("*").cast("bigint").alias("nq"),
        )
    )
    tf = (
        d.select("doc_id", F.explode("ws").alias("word"))
        .filter(F.col("word").isin(*_BM25_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    a6 = (
        tf.join(F.broadcast(cf), "word")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum(
                qround(
                    F.log(
                        1.0
                        + (F.col("tf") * F.col("t"))
                        * 1.0
                        / (F.lit(_QL_MU) * F.col("cf"))
                    ),
                    6,
                )
            )
            .cast("bigint")
            .alias("a6"),
            F.count("*").cast("bigint").alias("matched_terms"),
        )
    )
    len6 = qround(
        F.log(F.col("dl") + F.lit(_QL_MU)), 6
    )
    scored = (
        dl.join(a6, "doc_id", "left")
        .crossJoin(F.broadcast(bconst))
        .select(
            "doc_id",
            F.coalesce(F.col("matched_terms"), F.lit(0))
            .cast("bigint")
            .alias("matched_terms"),
            (
                F.coalesce(F.col("a6"), F.lit(0))
                + F.col("b6")
                - F.col("nq") * len6
            )
            .cast("bigint")
            .alias("score6"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "matched_terms",
            "score6",
            (F.col("score6").cast("double") / 1000000.0).alias("ql_score"),
        )
        .orderBy(F.col("score6").desc(), "doc_id")
        .limit(_QL_TOPK)
    )


# --------------------------------------------------------------------------
# Ranking-quality evaluation: P@k / recall@k / MRR for a lexical ranker
# against a relevance oracle that is INDEPENDENT of the ranking score —
# relevance = the query term appears in the document's first 5 words (a
# title proxy), ranking = term-density score floor(tf*1e9/dl). The
# nDCG audit (retrieval_ndcg_audit) grades graded relevance; this adds
# the binary-relevance metric family every retrieval eval reports.
# --------------------------------------------------------------------------

_EVAL_K = 10


@query(
    "retrieval_eval_mrr_pk",
    oracle=f"""
WITH d AS (
    SELECT doc_id,
           CASE WHEN text IS NULL OR TRIM(text) = '' THEN []
                ELSE string_split_regex(TRIM(text), '\\s+') END AS ws
    FROM documents
),
q AS (SELECT unnest([{_TERMS_SQL}]) AS term),
tf AS (
    SELECT term, doc_id, tf, dl,
           list_contains(ws5, term) AS rel
    FROM (
        SELECT q.term, d.doc_id,
               len(list_filter(d.ws, w -> w = q.term)) AS tf,
               len(d.ws) AS dl, d.ws[1:5] AS ws5
        FROM d CROSS JOIN q
    )
    WHERE tf >= 1
),
rel_total AS (
    SELECT q.term,
           (SELECT COUNT(*) FROM d
            WHERE list_contains(d.ws[1:5], q.term)) AS n_relevant
    FROM q
),
ranked AS (
    SELECT term, doc_id, rel,
           ROW_NUMBER() OVER (
               PARTITION BY term
               ORDER BY FLOOR(tf * 1000000000.0 / dl) DESC, doc_id
           ) AS rnk
    FROM tf
),
topk AS (SELECT * FROM ranked WHERE rnk <= {_EVAL_K})
SELECT r.term,
       CAST(r.n_relevant AS BIGINT) AS n_relevant,
       CAST(COALESCE(t.hits, 0) AS BIGINT) AS hits_at_k,
       {sql_dround(f'COALESCE(t.hits, 0) * 1.0 / {_EVAL_K}', 6)} AS p_at_k,
       CASE WHEN r.n_relevant = 0 THEN 0.0
            ELSE {sql_dround('COALESCE(t.hits, 0) * 1.0 / r.n_relevant', 6)}
       END AS recall_at_k,
       CASE WHEN t.first_rel IS NULL THEN 0.0
            ELSE {sql_dround('1.0 / t.first_rel', 6)} END AS mrr
FROM rel_total r
LEFT JOIN (
    SELECT term,
           COUNT(*) FILTER (WHERE rel) AS hits,
           MIN(CASE WHEN rel THEN rnk END) AS first_rel
    FROM topk GROUP BY 1
) t USING (term)
""",
)
def retrieval_eval_mrr_pk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P@k, recall@k, MRR for the term-density ranker vs a title proxy.

    Scale: the posting build is the word explode filtered to the query
    terms (|terms|-bounded fan-in, same shape as BM25); the per-term
    ranking is a window over that filtered candidate set — at 100 TB
    the rank-filter is the standard top-k-per-group plan (partial
    TopK under AQE), never a corpus sort. Relevance labels come from a
    map-side first-5-words test; the k-row-per-term finisher joins a
    |terms|-row label-total table (broadcast). Reference analog: none
    (retrieval-eval extension beside retrieval_ndcg_audit).
    """
    from pyspark.sql.window import Window as _W

    from ..functions import dround

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    empty = F.col("text").isNull() | (F.trim(F.col("text")) == "")
    ws = F.when(empty, F.array().cast("array<string>")).otherwise(
        T.words("text")
    )
    d = docs.select("doc_id", ws.alias("ws"))
    q = spark.createDataFrame([(t,) for t in _BM25_TERMS], ["term"])
    tf = (
        d.crossJoin(F.broadcast(q))
        .select(
            "term",
            "doc_id",
            F.size(F.expr("filter(ws, w -> w = term)")).alias("tf"),
            F.size("ws").alias("dl"),
            F.array_contains(F.slice("ws", 1, 5), F.col("term")).alias("rel"),
        )
        .filter(F.col("tf") >= 1)
    )
    rel_total = (
        d.crossJoin(F.broadcast(q))
        .select(
            "term",
            F.array_contains(F.slice("ws", 1, 5), F.col("term")).alias("r5"),
        )
        .groupBy("term")
        .agg(F.count_if(F.col("r5")).alias("n_relevant"))
    )
    w = _W.partitionBy("term").orderBy(
        F.floor(F.col("tf") * 1000000000.0 / F.col("dl")).desc(),
        F.col("doc_id"),
    )
    topk = tf.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= _EVAL_K
    )
    agg = topk.groupBy("term").agg(
        F.count_if(F.col("rel")).alias("hits"),
        F.min(F.when(F.col("rel"), F.col("rnk"))).alias("first_rel"),
    )
    out = rel_total.join(F.broadcast(agg), "term", "left")
    hits = F.coalesce(F.col("hits"), F.lit(0))
    return out.select(
        "term",
        F.col("n_relevant").cast("bigint").alias("n_relevant"),
        hits.cast("bigint").alias("hits_at_k"),
        dround(hits * 1.0 / _EVAL_K, 6).alias("p_at_k"),
        F.when(F.col("n_relevant") == 0, F.lit(0.0))
        .otherwise(dround(hits * 1.0 / F.col("n_relevant"), 6))
        .alias("recall_at_k"),
        F.when(F.col("first_rel").isNull(), F.lit(0.0))
        .otherwise(dround(F.lit(1.0) / F.col("first_rel"), 6))
        .alias("mrr"),
    )


# --------------------------------------------------------------------------
# Rank-biased overlap (Webber et al. 2010) between two rankers — the
# standard top-weighted similarity for comparing ranked lists when
# neither is ground truth (nDCG/MRR need labels; RBO needs only the
# lists). Compared rankers: BM25 (idf- and length-aware) vs raw
# tf-density floor(tf*1e9/dl) — per pinned query term. RBO_min at
# depth 10, p=0.9: (1-p) Σ_d p^(d-1)·|A_d ∩ B_d|/d, every term ×1e9
# quantized before the integer sum.
# --------------------------------------------------------------------------

_RBO_P = 0.9
_RBO_DEPTH = 10
# (1-p)p^(d-1) precomputed in PYTHON: both engines get the bit-identical
# double literal — never engine-side pow(), whose libm rounding may
# differ by an ulp between DuckDB and the JVM.
_RBO_W = [(d, (1.0 - _RBO_P) * _RBO_P ** (d - 1)) for d in range(1, _RBO_DEPTH + 1)]
_RBO_W_SQL = ", ".join(f"({d}, CAST({w!r} AS DOUBLE))" for d, w in _RBO_W)


@query(
    "ranking_rbo_bm25_vs_density",
    oracle=f"""
WITH d AS (
    SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS ws
    FROM documents WHERE text IS NOT NULL AND TRIM(text) <> ''
),
dl AS (SELECT doc_id, len(ws) AS dl FROM d),
stats AS (
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
    FROM dl
),
tf AS (
    SELECT doc_id, word, COUNT(*) AS tf
    FROM (SELECT doc_id, unnest(ws) AS word FROM d)
    WHERE word IN ({_TERMS_SQL})
    GROUP BY 1, 2
),
dfreq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
    SELECT t.word AS term, t.doc_id,
           {sql_qround('ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)'
                       f' * (t.tf * {_BM25_K1 + 1.0})'
                       f' / (t.tf + {_BM25_K1} * ({1.0 - _BM25_B} + {_BM25_B} * l.dl / s.avgdl))', 6)} AS bm25_fp,
           CAST(FLOOR(t.tf * 1000000000.0 / l.dl) AS BIGINT) AS dens_fp
    FROM tf t
    JOIN dfreq f USING (word)
    JOIN dl l USING (doc_id)
    CROSS JOIN stats s
),
rr AS (
    SELECT term, doc_id,
           ROW_NUMBER() OVER (PARTITION BY term
                              ORDER BY bm25_fp DESC, doc_id) AS ra,
           ROW_NUMBER() OVER (PARTITION BY term
                              ORDER BY dens_fp DESC, doc_id) AS rb
    FROM scored
),
depths AS (SELECT * FROM (VALUES {_RBO_W_SQL}) t(dep, w)),
xd AS (
    SELECT dep, w,
           r.term,
           COUNT(*) FILTER (WHERE r.ra <= dep AND r.rb <= dep) AS x
    FROM rr r CROSS JOIN depths
    GROUP BY 1, 2, 3
),
terms_rbo AS (
    SELECT term,
           CAST(SUM(CAST(FLOOR(w * x * 1000000000.0 / dep + 0.5)
                         AS BIGINT)) AS BIGINT) AS rq,
           MAX(CASE WHEN dep = {_RBO_DEPTH} THEN x END) AS overlap_at_10
    FROM xd GROUP BY 1
)
SELECT t.term,
       CAST(c.n_cand AS BIGINT) AS n_candidates,
       CAST(t.overlap_at_10 AS BIGINT) AS overlap_at_10,
       {sql_dround('t.rq / 1000000000.0', 6)} AS rbo_min
FROM terms_rbo t
JOIN (SELECT term, COUNT(*) AS n_cand FROM rr GROUP BY 1) c USING (term)
""",
)
def ranking_rbo_bm25_vs_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RBO between the BM25 and tf-density rankings per query term.

    Scale: the posting build is the term-filtered word explode (same
    plan prefix as bm25_doc_retrieval); both rank columns come from
    ONE window pass each over the bounded candidate set; the depth
    expansion is a 10-row literal spine. The p^(d-1) weights are
    fixed-point-quantized per depth so the RBO sum is exact integer
    arithmetic. Reference analog: none (retrieval-eval extension).
    """
    from pyspark.sql.window import Window as _W

    from ..functions import dround

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    nonempty = F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    d = docs.filter(nonempty).select("doc_id", T.words("text").alias("ws"))
    dl = d.select("doc_id", F.size("ws").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        d.select("doc_id", F.explode("ws").alias("word"))
        .filter(F.col("word").isin(*_BM25_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))
    joined = (
        tf.join(F.broadcast(dfreq), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    bm25_fp = qround(
        idf
        * (F.col("tf") * F.lit(_BM25_K1 + 1.0))
        / (
            F.col("tf")
            + F.lit(_BM25_K1)
            * (F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl"))
        ),
        6,
    )
    dens_fp = F.floor(F.col("tf") * 1000000000.0 / F.col("dl")).cast("bigint")
    scored = joined.select(
        F.col("word").alias("term"),
        "doc_id",
        bm25_fp.alias("bm25_fp"),
        dens_fp.alias("dens_fp"),
    )
    rr = scored.select(
        "term",
        "doc_id",
        F.row_number()
        .over(_W.partitionBy("term").orderBy(F.desc("bm25_fp"), "doc_id"))
        .alias("ra"),
        F.row_number()
        .over(_W.partitionBy("term").orderBy(F.desc("dens_fp"), "doc_id"))
        .alias("rb"),
    )
    depths = spark.createDataFrame(_RBO_W, ["dep", "w"])
    xd = (
        rr.crossJoin(F.broadcast(depths))
        .groupBy("dep", "w", "term")
        .agg(
            F.count_if(
                (F.col("ra") <= F.col("dep")) & (F.col("rb") <= F.col("dep"))
            ).alias("x")
        )
    )
    rq_term = F.floor(
        F.col("w") * F.col("x") * 1000000000.0 / F.col("dep") + 0.5
    ).cast("bigint")
    terms_rbo = xd.groupBy("term").agg(
        F.sum(rq_term).cast("bigint").alias("rq"),
        F.max(
            F.when(F.col("dep") == _RBO_DEPTH, F.col("x"))
        ).alias("overlap_at_10"),
    )
    n_cand = rr.groupBy("term").agg(F.count("*").alias("n_cand"))
    return terms_rbo.join(F.broadcast(n_cand), "term").select(
        "term",
        F.col("n_cand").cast("bigint").alias("n_candidates"),
        F.col("overlap_at_10").cast("bigint").alias("overlap_at_10"),
        dround(F.col("rq") / 1000000000.0, 6).alias("rbo_min"),
    )
