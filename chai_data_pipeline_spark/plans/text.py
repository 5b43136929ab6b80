"""Text-analysis queries over the documents table (LLM-pipeline ops +
the realized clean_posts spec, SURVEY §2.12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dround, qround, sql_dround, sql_qround
from ..operators import text as T
from ..session import load_tables
from .registry import query

# --------------------------------------------------------------------------
# word/char stats + link detection (clean_posts columns)
# --------------------------------------------------------------------------


_WC = "len(string_split_regex(TRIM(text), '\\s+'))"
_AWL = sql_dround(
    "LENGTH(REGEXP_REPLACE(text, '\\s', '', 'g')) / " + _WC, 4
)
_DWR = sql_dround(
    "len(list_distinct(string_split_regex(TRIM(text), '\\s+'))) * 1.0 / " + _WC,
    4,
)


@query(
    "text_stats",
    oracle=f"""
SELECT doc_id,
       CAST(LENGTH(text) AS INTEGER) AS text_len,
       CAST({_WC} AS INTEGER) AS word_count,
       {_AWL} AS avg_word_length,
       regexp_matches(text, 'https?://') AS has_links,
       {_DWR} AS distinct_word_ratio
FROM documents
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return docs.select(
        "doc_id",
        F.length("text").alias("text_len"),
        T.word_count("text").alias("word_count"),
        dround(T.avg_word_length("text"), 4).alias("avg_word_length"),
        T.has_links("text").alias("has_links"),
        dround(T.distinct_word_ratio("text"), 4).alias("distinct_word_ratio"),
    )


# --------------------------------------------------------------------------
# BPE-ish token counting (regex tokenizer)
# --------------------------------------------------------------------------


@query(
    "token_counts",
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{T.TOKEN_PATTERN}')) AS INTEGER)
           AS n_tokens,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_number_tokens
FROM documents
""",
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return docs.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), 0)).alias(
            "n_number_tokens"
        ),
    )


# --------------------------------------------------------------------------
# language ID (marker-word n-gram heuristic, engine-identical arithmetic)
# --------------------------------------------------------------------------


@query(
    "lang_id",
    oracle=f"""
WITH s AS (
    SELECT doc_id, lang AS labeled_lang,
           {T.lang_scores_sql('text')['en']} AS score_en,
           {T.lang_scores_sql('text')['es']} AS score_es,
           {T.lang_scores_sql('text')['de']} AS score_de,
           {T.lang_scores_sql('text')['fr']} AS score_fr
    FROM documents
)
SELECT doc_id, labeled_lang, score_en, score_es, score_de, score_fr,
       {T.PREDICT_LANG_SQL.format(en='score_en', es='score_es',
                                  de='score_de', fr='score_fr')}
           AS predicted_lang
FROM s
""",
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    scores = T.lang_scores("text")
    s = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        scores["en"],
        scores["es"],
        scores["de"],
        scores["fr"],
    )
    return s.withColumn(
        "predicted_lang",
        T.predict_lang(
            F.col("score_en"),
            F.col("score_es"),
            F.col("score_de"),
            F.col("score_fr"),
        ),
    )


# --------------------------------------------------------------------------
# quality scoring (reference F8 penalty-chain shape) + rating bucket
# --------------------------------------------------------------------------


@query(
    "doc_quality_scores",
    oracle="""
WITH q AS (
    SELECT doc_id,
           100
           - CASE WHEN len(string_split_regex(TRIM(text), '\\s+')) < 10
                  THEN 30 ELSE 0 END
           - CASE WHEN n_chars < 80 THEN 20 ELSE 0 END
           - CASE WHEN len(list_distinct(string_split_regex(TRIM(text), '\\s+')))
                       * 1.0 / len(string_split_regex(TRIM(text), '\\s+')) < 0.5
                  THEN 20 ELSE 0 END AS quality_score
    FROM documents
)
SELECT doc_id, CAST(quality_score AS INTEGER) AS quality_score,
       CASE WHEN quality_score >= 90 THEN 'EXCELLENT'
            WHEN quality_score >= 70 THEN 'GOOD'
            WHEN quality_score >= 50 THEN 'FAIR'
            ELSE 'POOR' END AS quality_rating
FROM q
""",
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    score = T.quality_score("text", "n_chars")
    return docs.select(
        "doc_id",
        score.cast("int").alias("quality_score"),
        T.quality_rating(score).alias("quality_rating"),
    )


# --------------------------------------------------------------------------
# sentiment (lexicon hits; the reference declares sentiment_score on
# clean_posts but never populates it — transform_silver.py:89)
# --------------------------------------------------------------------------


_SENT = sql_dround(
    T.sentiment_score_sql("text") + " * 1.0 / " + _WC, 4
)


@query(
    "doc_sentiment",
    oracle=f"""
SELECT doc_id,
       {_SENT} AS sentiment_score
FROM documents
""",
)
def doc_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return docs.select(
        "doc_id",
        dround(T.sentiment_score("text"), 4).alias("sentiment_score"),
    )


# --------------------------------------------------------------------------
# Repetition / boilerplate metrics: duplicate word-3-gram fraction — the
# classic pretraining quality filter (high duplicate-n-gram fraction =
# boilerplate/spam; cf. the published Gopher/C4 rule sets). Map-only:
# grams, distinct and the ratio all compute in-row inside codegen — no
# shuffle, no UDF.
# --------------------------------------------------------------------------

_G3_DUCK = T.word_ngrams_sql_duckdb("text", 3)


@query(
    "doc_repetition",
    oracle=f"""
WITH g AS (
    SELECT doc_id,
           CAST(len(string_split_regex(TRIM(text), '\\s+')) AS INTEGER)
               AS n_words,
           {_G3_DUCK} AS grams
    FROM documents
)
SELECT doc_id, n_words,
       CAST(len(grams) AS INTEGER) AS n_3grams,
       CAST(len(list_distinct(grams)) AS INTEGER) AS distinct_3grams,
       {sql_dround("CASE WHEN len(grams) > 0 THEN 1.0 - len(list_distinct(grams)) * 1.0 / len(grams) ELSE 0.0 END", 4)}
           AS dup_3gram_ratio
FROM g
""",
)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: per-row 3-gram work dominates; split measured 0.63->0.30 s
    docs = load_tables(spark, sf_dir, "documents", split=("documents",))[
        "documents"
    ]
    # split once behind a projection boundary — the gram expression
    # references its input repeatedly and an inlined regex split at
    # every reference dominates per-row cost (measured ~2× at sf0.1)
    pre = docs.select("doc_id", T.words("text").alias("toks"))
    g = pre.select(
        "doc_id",
        F.size("toks").alias("n_words"),
        T.word_ngrams("toks", 3, presplit=True).alias("grams"),
    )
    n = F.size("grams")
    nd = F.size(F.array_distinct("grams"))
    return g.select(
        "doc_id",
        "n_words",
        n.alias("n_3grams"),
        nd.alias("distinct_3grams"),
        dround(
            F.when(n > 0, 1.0 - nd * 1.0 / n).otherwise(0.0), 4
        ).alias("dup_3gram_ratio"),
    )


# --------------------------------------------------------------------------
# Benchmark-contamination check: fraction of each corpus document's
# distinct word-5-grams that appear anywhere in the benchmark set
# (source='src0' stands in for an eval benchmark). The scalable shape is
# an INVERTED-INDEX equi-join on the gram (shuffle keyed by gram,
# map-side combine on the per-doc counts) — never doc×doc comparison;
# at 100 TB the benchmark side is tiny relative to the corpus and
# broadcast-joins.
# --------------------------------------------------------------------------

_G5_DUCK = T.word_ngrams_sql_duckdb("text", 5)
_CONTAM_RATIO = (
    "CASE WHEN len(g.grams) > 0 "
    "THEN COALESCE(h.n_overlap, 0) * 1.0 / len(g.grams) ELSE 0.0 END"
)


@query(
    "doc_contamination",
    oracle=f"""
WITH g AS (
    SELECT doc_id, source, list_distinct({_G5_DUCK}) AS grams
    FROM documents
),
bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE source = 'src0'),
corpus AS (
    SELECT doc_id, unnest(grams) AS gram FROM g WHERE source <> 'src0'
),
hits AS (
    SELECT c.doc_id,
           COUNT(*) FILTER (WHERE b.gram IS NOT NULL) AS n_overlap
    FROM corpus c LEFT JOIN bench b ON c.gram = b.gram
    GROUP BY c.doc_id
),
scored AS (
    SELECT g.doc_id,
           CAST(len(g.grams) AS INTEGER) AS n_grams,
           CAST(COALESCE(h.n_overlap, 0) AS INTEGER) AS n_overlap,
           {sql_dround(_CONTAM_RATIO, 4)} AS overlap_ratio
    FROM g LEFT JOIN hits h USING (doc_id)
    WHERE g.source <> 'src0'
)
SELECT doc_id, n_grams, n_overlap, overlap_ratio,
       (overlap_ratio >= 0.2) AS contaminated
FROM scored
""",
)
def doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: 5-gram shingling dominates; split measured 1.42->1.19 s
    docs = load_tables(spark, sf_dir, "documents", split=("documents",))[
        "documents"
    ]
    # split once behind a projection boundary (see doc_repetition)
    pre = docs.select("doc_id", "source", T.words("text").alias("toks"))
    g = pre.select(
        "doc_id",
        "source",
        F.array_distinct(T.word_ngrams("toks", 5, presplit=True)).alias(
            "grams"
        ),
    )
    bench = (
        g.filter(F.col("source") == "src0")
        .select(F.explode("grams").alias("gram"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    # explode_outer keeps zero-gram docs in the SAME pass (NULL gram
    # never matches the bench join, count(__hit) skips it) — no second
    # corpus subtree + join-back for the base row set
    exploded = g.filter(F.col("source") != "src0").select(
        "doc_id",
        F.size("grams").alias("n_grams"),
        F.explode_outer("grams").alias("gram"),
    )
    scored = (
        exploded.join(F.broadcast(bench), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.min("n_grams").alias("n_grams"),
            F.count("__hit").cast("int").alias("n_overlap"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_overlap",
            dround(
                F.when(
                    F.col("n_grams") > 0,
                    F.col("n_overlap") * 1.0 / F.col("n_grams"),
                ).otherwise(0.0),
                4,
            ).alias("overlap_ratio"),
        )
    )
    return scored.withColumn(
        "contaminated", F.col("overlap_ratio") >= 0.2
    )


# --------------------------------------------------------------------------
# document fingerprinting (normalized content hash)
# --------------------------------------------------------------------------


@query(
    "doc_fingerprints",
    oracle="""
SELECT doc_id,
       SUBSTRING(sha256(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))), 1, 16)
           AS fingerprint
FROM documents
""",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return docs.select(
        "doc_id", F.substring(F.sha2(norm, 256), 1, 16).alias("fingerprint")
    )


# --------------------------------------------------------------------------
# Unigram-frequency quality stats — the "model-based" filter without a
# model: average corpus frequency of a document's words (low = OOV /
# noise-heavy) and the share of rare words (corpus freq below half the mean
# frequency — an adaptive, integer-cross-multiplied cut). All
# integer/rational arithmetic (counts and ratios of counts), so the
# oracle comparison is exact — no transcendental functions whose libm
# bit-patterns could differ across engines. Shape: explode -> vocab
# aggregate (map-side combine to vocabulary size) -> inverted-index
# join back -> per-doc aggregate; at 100 TB the vocab side broadcasts.
# --------------------------------------------------------------------------


@query(
    "doc_unigram_stats",
    oracle=f"""
WITH w AS (
    SELECT doc_id, unnest(string_split_regex(TRIM(text), '\\s+')) AS word
    FROM documents
),
vocab AS (SELECT word, COUNT(*) AS freq FROM w GROUP BY word),
g AS (
    SELECT CAST(SUM(freq) AS BIGINT) AS tot,
           CAST(COUNT(*) AS BIGINT) AS v
    FROM vocab
)
SELECT doc_id,
       COUNT(*) AS n_words,
       {sql_dround('CAST(SUM(freq) AS BIGINT) * 1.0 / COUNT(*)', 4)}
           AS avg_word_freq,
       {sql_dround(
           'COUNT(*) FILTER (WHERE 2 * v * freq < tot) * 1.0 / COUNT(*)',
           4)} AS rare_word_ratio
FROM w JOIN vocab USING (word) CROSS JOIN g
GROUP BY doc_id
""",
)
def doc_unigram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    w = docs.select("doc_id", F.explode(T.words("text")).alias("word"))
    vocab = w.groupBy("word").agg(F.count("*").alias("freq"))
    g = vocab.agg(
        F.sum("freq").cast("bigint").alias("tot"),
        F.count("*").cast("bigint").alias("v"),
    )
    joined = w.join(vocab, "word").crossJoin(F.broadcast(g))
    # adaptive rare threshold (freq < half the mean corpus frequency,
    # as the integer cross-multiplication 2*v*freq < tot): the fixed
    # freq <= 2 never fired on the ~900-mean-frequency synthetic vocab
    # (round-8 degenerate-column audit)
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        dround(F.sum("freq") * 1.0 / F.count("*"), 4).alias("avg_word_freq"),
        dround(
            F.count_if(2 * F.col("v") * F.col("freq") < F.col("tot"))
            * 1.0
            / F.count("*"),
            4,
        ).alias("rare_word_ratio"),
    )


# --------------------------------------------------------------------------
# Sub-document (segment-level) dedup stats — the C4/RefinedWeb-style
# line/paragraph dedup, over fixed 8-word segments (the synthetic corpus
# has no line structure; with real text the splitter is '\n' and the
# rest of the pipeline is unchanged). Corpus-wide segment counts flag
# boilerplate: a doc whose segments mostly appear elsewhere is template
# spam even when no WHOLE document duplicates it.
#
# Scale: segments explode in-row; the count shuffle carries sha256
# segment hashes (64 hex chars), never the text; the count table joins
# back on the same hash. Same posture as exact dedup — no quadratic
# stage, output is one row per document.
# --------------------------------------------------------------------------

_SEG_WORDS = 8


@query(
    "segment_dedup_stats",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
    FROM documents
),
segs AS (
    SELECT doc_id,
           unnest(list_transform(
               range(0, CAST(CEIL(len(w) / {_SEG_WORDS}.0) AS BIGINT)),
               i -> array_to_string(
                   list_slice(w, i * {_SEG_WORDS} + 1,
                              i * {_SEG_WORDS} + {_SEG_WORDS}), ' ')
           )) AS seg
    FROM toks
),
nonempty AS (SELECT doc_id, seg FROM segs WHERE seg <> ''),
counts AS (SELECT seg, COUNT(*) AS c FROM nonempty GROUP BY seg),
per_doc AS (
    SELECT doc_id,
           COUNT(*) AS n_segments,
           COUNT(*) FILTER (WHERE c > 1) AS n_dup_segments
    FROM nonempty JOIN counts USING (seg)
    GROUP BY doc_id
)
SELECT doc_id, n_segments, n_dup_segments,
       {sql_dround('n_dup_segments * 1.0 / n_segments', 4)} AS dup_fraction
FROM per_doc
""",
)
def segment_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    toks = docs.select(
        "doc_id",
        F.expr("split(lower(trim(text)), '\\\\s+')").alias("w"),
    )
    seg_expr = (
        f"transform(sequence(0, cast(ceil(size(w) / {_SEG_WORDS}.0) AS int) - 1),"
        f" i -> array_join(slice(w, i * {_SEG_WORDS} + 1, {_SEG_WORDS}), ' '))"
    )
    segs = (
        toks.select("doc_id", F.explode(F.expr(seg_expr)).alias("seg"))
        .filter(F.col("seg") != "")
        # shuffle the HASH, not the text (the segment string itself
        # never crosses an exchange at scale)
        .select("doc_id", F.sha2("seg", 256).alias("h"))
    )
    counts = segs.groupBy("h").agg(F.count("*").alias("c"))
    per_doc = (
        segs.join(counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.count_if(F.col("c") > 1).alias("n_dup_segments"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_segments",
        "n_dup_segments",
        dround(F.col("n_dup_segments") * 1.0 / F.col("n_segments"), 4).alias(
            "dup_fraction"
        ),
    )


# --------------------------------------------------------------------------
# Corpus-level source overlap: exact pairwise 3-gram Jaccard between
# SOURCES (not documents). This is the corpus-mixing diagnostic run
# before weighting sources in a training mixture — two crawls with 0.9
# overlap should not both get full weight. Implementation is an
# inverted index: distinct (source, gram) postings, pair-counted by
# gram. Per-gram pair fan-out is bounded by S² (S = #sources, a
# config-scale constant), so the join never explodes no matter how
# many documents there are; the gram postings themselves shuffle as
# (3-char key, small source id). At very large S, swap the exact
# postings for per-source MinHash sketches (operators/dedup.py) — same
# query shape, sketch-sized state.
# --------------------------------------------------------------------------


@query(
    "corpus_overlap_sources",
    oracle=f"""
WITH g AS (
    SELECT DISTINCT source, g
    FROM (
        SELECT source,
               unnest(list_transform(
                   range(1, GREATEST(len(string_split_regex(TRIM(text), '\\s+')) - 1, 0) + 1),
                   i -> list_aggregate(string_split_regex(TRIM(text), '\\s+')[i : i + 1], 'string_agg', ' ')
               )) AS g
        FROM documents WHERE text IS NOT NULL
    )
),
counts AS (SELECT source, COUNT(*) AS n FROM g GROUP BY 1),
pairs AS (
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS n_common
    FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
    GROUP BY 1, 2
)
SELECT p.source_a, p.source_b, ca.n AS n_a, cb.n AS n_b, p.n_common,
       {sql_dround('p.n_common * 1.0 / (ca.n + cb.n - p.n_common)', 6)}
           AS jaccard
FROM pairs p
JOIN counts ca ON ca.source = p.source_a
JOIN counts cb ON cb.source = p.source_b
""",
)
def corpus_overlap_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-level 3-gram Jaccard via an inverted index.

    Distinct (source, gram) postings → per-gram self-pairing (bounded
    S² fan-out) → source-pair counts joined to per-source gram counts.
    The source-count table is S rows — broadcast. Output is S·(S-1)/2
    rows regardless of corpus size.
    """
    # split=: the eager localCheckpoint below runs the explode +
    # partial-distinct first stage at BUILD time — single-task on a
    # single-row-group file without the split (interleaved A/B
    # 1.06 -> 0.81 s, plans/r13/ab_split.json)
    docs = load_tables(spark, sf_dir, "documents", split=("documents",))[
        "documents"
    ]
    # word BIGRAMS, not char trigrams: ~6x fewer posting rows through
    # the distinct shuffle for the same overlap signal. The token array
    # is materialized as a column FIRST — a split() inside the shingle
    # lambda would re-run the regex once per position (O(words²)).
    # textless docs contribute no grams; the explicit filter also keeps
    # the sequence() bound non-NULL under ANSI (size(NULL) is NULL)
    toks = docs.filter(F.col("text").isNotNull()).select(
        "source", F.split(F.trim("text"), r"\s+").alias("w")
    )
    # CASE, not greatest(): for a sub-bigram doc sequence(1, 0) is
    # DESCENDING in Spark ([1, 0]) and slice(w, 0, 2) throws
    bigrams = F.expr(
        "CASE WHEN size(w) < 2 THEN CAST(array() AS array<string>) "
        "ELSE transform(sequence(1, size(w) - 1),"
        " i -> concat_ws(' ', slice(w, i, 2))) END"
    )
    # materialize the posting table once: the per-source counts and
    # BOTH self-join sides would otherwise each re-run the bigram
    # explode + distinct shuffle (dedup_simhash precedent)
    g = (
        toks.select("source", F.explode(bigrams).alias("g"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    counts = g.groupBy("source").agg(F.count("*").alias("n"))
    a = g.alias("a")
    b = g.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    ca = F.broadcast(counts.withColumnRenamed("source", "source_a")
                     .withColumnRenamed("n", "n_a"))
    cb = F.broadcast(counts.withColumnRenamed("source", "source_b")
                     .withColumnRenamed("n", "n_b"))
    return (
        pairs.join(ca, "source_a")
        .join(cb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_common",
            dround(
                F.col("n_common")
                * 1.0
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Zipf slope per language — the corpus-health scalar. Natural text has
# rank-frequency slope ≈ −1; template/boilerplate-heavy or synthetic
# corpora drift toward flatter/steeper fits, so the slope is a cheap
# screen for "is this source real language". The OLS regression runs
# in FIXED-POINT: ln(rank) and ln(freq) are snapped to exact integers
# (×1e6, half-up) so every Σx, Σy, Σxy, Σx² is exact integer
# arithmetic — associative, order-independent, identical on any
# engine — and the slope is a single final division. This is the
# numeric.py round-then-exact-sum rule taken to its logical end.
# --------------------------------------------------------------------------

_ZIPF_TOP = 200


@query(
    "zipf_slope_by_lang",
    oracle=f"""
WITH w AS (
    SELECT lang, unnest(string_split_regex(TRIM(text), '\\s+')) AS word
    FROM documents
),
vocab AS (
    SELECT lang, word, COUNT(*) AS freq FROM w GROUP BY 1, 2
),
ranked AS (
    SELECT lang, freq,
           row_number() OVER (
               PARTITION BY lang ORDER BY freq DESC, word
           ) AS rnk
    FROM vocab
),
fixed AS (
    SELECT lang,
           {sql_qround('ln(rnk)', 6)} AS xi,
           {sql_qround('ln(freq)', 6)} AS yi
    FROM ranked WHERE rnk <= {_ZIPF_TOP}
)
SELECT lang,
       COUNT(*) AS n_terms,
       CASE WHEN COUNT(*) * SUM(xi * xi) - SUM(xi) * SUM(xi) <> 0 THEN
       {sql_dround(
           "CAST(COUNT(*) * SUM(xi * yi) - SUM(xi) * SUM(yi) AS DOUBLE)"
           " / CAST(COUNT(*) * SUM(xi * xi) - SUM(xi) * SUM(xi) AS DOUBLE)",
           6)} END AS zipf_slope
FROM fixed
GROUP BY lang
""",
)
def zipf_slope_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS Zipf slope over each language's top-200 rank-frequency curve.

    Vocabulary counting map-combines; the per-lang ranking window sorts
    the VOCABULARY (≪ corpus) and is cut to 200 rows before the
    regression, whose moments are exact ×1e6 fixed-point integers. At
    100 TB the only full-scan stage is the (lang, word) count.
    """
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    w = docs.select("lang", F.explode(T.words("text")).alias("word"))
    vocab = w.groupBy("lang", "word").agg(F.count("*").alias("freq"))
    win = Window.partitionBy("lang").orderBy(
        F.col("freq").desc(), F.col("word")
    )
    ranked = vocab.select(
        "lang", "freq", F.row_number().over(win).alias("rnk")
    ).filter(F.col("rnk") <= _ZIPF_TOP)
    fixed = ranked.select(
        "lang",
        qround(F.log(F.col("rnk")), 6)
        .alias("xi"),
        qround(F.log(F.col("freq")), 6)
        .alias("yi"),
    )
    n = F.count("*")
    sx = F.sum("xi")
    sy = F.sum("yi")
    sxy = F.sum(F.col("xi") * F.col("yi"))
    sxx = F.sum(F.col("xi") * F.col("xi"))
    # degenerate guard (identical CASE in the oracle): a single-term
    # vocabulary has zero x-variance and ANSI x/0 throws
    return fixed.groupBy("lang").agg(
        n.alias("n_terms"),
        F.when(
            n * sxx - sx * sx != 0,
            dround(
                (n * sxy - sx * sy).cast("double")
                / (n * sxx - sx * sx).cast("double"),
                6,
            ),
        ).alias("zipf_slope"),
    )


# --------------------------------------------------------------------------
# Lang-ID confusion matrix — the eval view of the lang_id heuristic:
# labeled × predicted counts plus per-label accuracy. One map-side
# scoring pass (the same expressions as lang_id) into a ≤ k²-cell
# aggregate; this is the query that tells you WHICH languages the
# classifier confuses before you trust its routing at corpus scale.
# --------------------------------------------------------------------------


@query(
    "langid_confusion_matrix",
    oracle=f"""
WITH s AS (
    SELECT lang AS labeled_lang,
           {T.lang_scores_sql('text')['en']} AS score_en,
           {T.lang_scores_sql('text')['es']} AS score_es,
           {T.lang_scores_sql('text')['de']} AS score_de,
           {T.lang_scores_sql('text')['fr']} AS score_fr
    FROM documents
),
p AS (
    SELECT labeled_lang,
           {T.PREDICT_LANG_SQL.format(en='score_en', es='score_es',
                                      de='score_de', fr='score_fr')}
               AS predicted_lang
    FROM s
)
SELECT labeled_lang, predicted_lang,
       COUNT(*) AS n_docs,
       {sql_dround('COUNT(*) * 1.0 / SUM(COUNT(*)) OVER '
                   '(PARTITION BY labeled_lang)', 6)} AS row_share
FROM p
GROUP BY 1, 2
""",
)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    scores = T.lang_scores("text")
    s = docs.select(
        F.col("lang").alias("labeled_lang"),
        scores["en"],
        scores["es"],
        scores["de"],
        scores["fr"],
    )
    p = s.select(
        "labeled_lang",
        T.predict_lang(
            F.col("score_en"),
            F.col("score_es"),
            F.col("score_de"),
            F.col("score_fr"),
        ).alias("predicted_lang"),
    )
    cells = p.groupBy("labeled_lang", "predicted_lang").agg(
        F.count("*").alias("n_docs")
    )
    w = Window.partitionBy("labeled_lang")
    return cells.select(
        "labeled_lang",
        "predicted_lang",
        "n_docs",
        dround(
            F.col("n_docs") * 1.0 / F.sum("n_docs").over(w), 6
        ).alias("row_share"),
    )


# --------------------------------------------------------------------------
# Quality × duplication calibration — are low-quality docs also the
# duplicated ones? If yes, quality filtering and dedup are redundant
# passes and the pipeline can fuse them; if no, both must run. Joins
# the quality rating (same penalty chain as doc_quality_scores) to
# the exact-dup cluster size (same normalized hash as
# dedup_exact_content); only (doc_id, rating) and 32-byte hashes move
# through the shuffles, and the output is rating-cardinality.
# --------------------------------------------------------------------------


@query(
    "quality_dup_calibration",
    oracle=f"""
WITH q AS (
    SELECT doc_id,
           100
           - CASE WHEN len(string_split_regex(TRIM(text), '\\s+')) < 10
                  THEN 30 ELSE 0 END
           - CASE WHEN n_chars < 80 THEN 20 ELSE 0 END
           - CASE WHEN len(list_distinct(string_split_regex(TRIM(text), '\\s+')))
                       * 1.0 / len(string_split_regex(TRIM(text), '\\s+')) < 0.5
                  THEN 20 ELSE 0 END AS quality_score,
           sha256(substring(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), 1, 80))
               AS content_hash
    FROM documents
),
sizes AS (
    SELECT content_hash, COUNT(*) AS cluster_size FROM q GROUP BY 1
),
rated AS (
    SELECT CASE WHEN q.quality_score >= 90 THEN 'EXCELLENT'
                WHEN q.quality_score >= 70 THEN 'GOOD'
                WHEN q.quality_score >= 50 THEN 'FAIR'
                ELSE 'POOR' END AS quality_rating,
           s.cluster_size
    FROM q JOIN sizes s USING (content_hash)
)
SELECT quality_rating,
       COUNT(*) AS n_docs,
       COUNT(*) FILTER (WHERE cluster_size > 1) AS n_duplicated,
       {sql_dround('COUNT(*) FILTER (WHERE cluster_size > 1) * 1.0'
                   ' / COUNT(*)', 6)} AS dup_rate
FROM rated
GROUP BY 1
""",
)
def quality_dup_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    score = T.quality_score("text", "n_chars")
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    q = docs.select(
        T.quality_rating(score).alias("quality_rating"),
        F.sha2(F.substring(norm, 1, 80), 256).alias("content_hash"),
    )
    sizes = q.groupBy("content_hash").agg(
        F.count("*").alias("cluster_size")
    )
    rated = q.join(sizes, "content_hash")
    dup = F.count_if(F.col("cluster_size") > 1)
    return rated.groupBy("quality_rating").agg(
        F.count("*").alias("n_docs"),
        dup.alias("n_duplicated"),
        dround(dup * 1.0 / F.count("*"), 6).alias("dup_rate"),
    )


# --------------------------------------------------------------------------
# Distinctive vocabulary per language (chi-square keyness): which
# words are characteristically OVER-represented in each language's
# corpus vs the rest. The corpus-linguistics complement of
# tfidf_top_terms (which is per-document). All contingency inputs are
# exact integers; the chi2 value is computed with the IDENTICAL
# expression text on both engines (same IEEE op sequence), then
# dround(6)-snapped BEFORE ranking so near-ties break on the word,
# not on an engine ulp.
# --------------------------------------------------------------------------

_KEY_TOP = 10
_KEY_MIN_COUNT = 5


@query(
    "distinctive_terms_by_lang",
    oracle=f"""
WITH w AS (
    SELECT lang, unnest(string_split_regex(TRIM(text), '\\s+')) AS word
    FROM documents
),
cells AS (
    SELECT lang, word, COUNT(*) AS a FROM w GROUP BY 1, 2
),
word_tot AS (SELECT word, SUM(a) AS wt FROM cells GROUP BY 1),
lang_tot AS (SELECT lang, SUM(a) AS lt FROM cells GROUP BY 1),
n AS (SELECT SUM(a) AS n FROM cells),
scored AS (
    SELECT c.lang, c.word, c.a,
           {sql_dround(
               "(n.n * 1.0) * (c.a * 1.0 * (n.n - w.wt - l.lt + c.a)"
               " - (w.wt - c.a) * 1.0 * (l.lt - c.a))"
               " * ((c.a * 1.0 * (n.n - w.wt - l.lt + c.a)"
               " - (w.wt - c.a) * 1.0 * (l.lt - c.a)))"
               " / ((l.lt * 1.0) * (n.n - l.lt) * (w.wt * 1.0)"
               " * (n.n - w.wt))", 6)} AS chi2
    FROM cells c
    JOIN word_tot w USING (word)
    JOIN lang_tot l USING (lang)
    CROSS JOIN n
    WHERE c.a >= {_KEY_MIN_COUNT}
      AND c.a * 1.0 * n.n > l.lt * 1.0 * w.wt
),
ranked AS (
    SELECT lang, word, a, chi2,
           row_number() OVER (
               PARTITION BY lang ORDER BY chi2 DESC, word
           ) AS rnk
    FROM scored
)
SELECT lang, word, CAST(a AS BIGINT) AS n_occurrences, chi2, rnk
FROM ranked WHERE rnk <= {_KEY_TOP}
""",
)
def distinctive_terms_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 over-represented words per language by chi² keyness.

    The vocabulary count is the only full-scan stage; keyness and
    ranking run over the (lang, word) cell table with word/lang
    marginals joined back (the word marginal co-partitions on word;
    the lang marginal and grand total broadcast). The
    observed>expected guard keeps only OVER-represented words.
    """
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    w = docs.select("lang", F.explode(T.words("text")).alias("word"))
    cells = w.groupBy("lang", "word").agg(F.count("*").alias("a"))
    word_tot = cells.groupBy("word").agg(F.sum("a").alias("wt"))
    lang_tot = cells.groupBy("lang").agg(F.sum("a").alias("lt"))
    n = cells.agg(F.sum("a").alias("n"))
    j = (
        cells.join(word_tot, "word")
        .join(F.broadcast(lang_tot), "lang")
        .crossJoin(F.broadcast(n))
        .filter(F.col("a") >= _KEY_MIN_COUNT)
        .filter(F.col("a") * 1.0 * F.col("n") > F.col("lt") * 1.0 * F.col("wt"))
    )
    det = (
        F.col("a") * 1.0 * (F.col("n") - F.col("wt") - F.col("lt") + F.col("a"))
        - (F.col("wt") - F.col("a")) * 1.0 * (F.col("lt") - F.col("a"))
    )
    chi2 = dround(
        (F.col("n") * 1.0)
        * det
        * det
        / (
            (F.col("lt") * 1.0)
            * (F.col("n") - F.col("lt"))
            * (F.col("wt") * 1.0)
            * (F.col("n") - F.col("wt"))
        ),
        6,
    )
    scored = j.select("lang", "word", "a", chi2.alias("chi2"))
    win = Window.partitionBy("lang").orderBy(
        F.col("chi2").desc(), F.col("word")
    )
    return (
        scored.select(
            "lang",
            "word",
            F.col("a").alias("n_occurrences"),
            "chi2",
            F.row_number().over(win).alias("rnk"),
        )
        .filter(F.col("rnk") <= _KEY_TOP)
    )


# --------------------------------------------------------------------------
# Tokenizer fertility per language — tokens-per-word and tokens-per-
# char by lang. Fertility is the LLM-budget metric: a language whose
# text tokenizes at 2x the fertility costs 2x the compute per byte,
# and mixture weights (token_budget_allocation) should price that in.
# Same regex tokenizer as token_counts; exact integer sums, one
# division per ratio.
# --------------------------------------------------------------------------

_TOK_SQL = "SUM(len(regexp_extract_all(text, '" + T.TOKEN_PATTERN + "')))"
_WORDS_SQL = "SUM(len(string_split_regex(TRIM(text), '" + r"\s+" + "')))"


@query(
    "token_fertility_by_lang",
    oracle=f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST({_TOK_SQL} AS BIGINT) AS n_tokens,
       {sql_dround(_TOK_SQL + " * 1.0 / " + _WORDS_SQL, 6)}
           AS tokens_per_word,
       {sql_dround(_TOK_SQL + " * 1.0 / SUM(n_chars)", 6)}
           AS tokens_per_char
FROM documents
GROUP BY 1
""",
)
def token_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    n_tok = F.size(
        F.regexp_extract_all("text", F.lit(T.TOKEN_PATTERN), 0)
    )
    n_words = F.size(F.split(F.trim("text"), r"\s+"))
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(n_tok).cast("bigint").alias("n_tokens"),
        dround(F.sum(n_tok) * 1.0 / F.sum(n_words), 6).alias(
            "tokens_per_word"
        ),
        dround(F.sum(n_tok) * 1.0 / F.sum("n_chars"), 6).alias(
            "tokens_per_char"
        ),
    )


# --------------------------------------------------------------------------
# Unigram LM perplexity (the CCNet-style quality filter): score each
# document by the perplexity of a unigram language model fit on the
# corpus itself, then profile per language. Per-word log-probs are
# quantized to ×1e6 integers ONCE (vocab-cardinality work), so each
# document's surprisal is an exact integer dot product of its term
# counts with the quantized log-probs — order-independent — and the
# perplexity is a single identical exp per doc.
# --------------------------------------------------------------------------


@query(
    "unigram_lm_perplexity",
    oracle=f"""
WITH w AS (
    SELECT doc_id, lang, unnest(string_split_regex(TRIM(text), '\\s+')) AS word
    FROM documents
),
vocab AS (
    SELECT word, COUNT(*) AS cnt, SUM(COUNT(*)) OVER () AS total
    FROM w GROUP BY 1
),
lq AS (
    SELECT word,
           {sql_qround('ln(cnt * 1.0 / total)', 6)} AS lq
    FROM vocab
),
dw AS (SELECT doc_id, lang, word, COUNT(*) AS c FROM w GROUP BY 1, 2, 3),
surprisal AS (
    SELECT d.doc_id, d.lang,
           CAST(SUM(d.c) AS BIGINT) AS n_words,
           CAST(SUM(d.c * l.lq) AS BIGINT) AS s_micro
    FROM dw d JOIN lq l USING (word)
    GROUP BY 1, 2
),
ppl AS (
    SELECT doc_id, lang,
           {sql_qround('exp(-(CAST(s_micro AS DOUBLE) / 1000000.0) / n_words)', 4)} AS pq
    FROM surprisal
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(pq) AS BIGINT) * 1.0 / COUNT(*) / 10000.0 AS avg_perplexity,
       MIN(pq) / 10000.0 AS min_perplexity,
       MAX(pq) / 10000.0 AS max_perplexity
FROM ppl GROUP BY 1
""",
)
def unigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language perplexity profile under a corpus-fit unigram LM.

    Scale: two gram-keyed shuffles (vocab count, per-doc term counts)
    — the same inverted-index shape as tfidf_top_terms; the quantized
    log-prob table is vocab-sized and broadcast into the dot product.
    Perplexity filtering is THE standard LLM curation step; the
    per-doc score here is exactly reproducible across engines and
    partitionings because every cross-row sum is integer.
    """
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    w = docs.select(
        "doc_id", "lang", F.explode(T.words("text")).alias("word")
    )
    vocab = w.groupBy("word").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    lq = vocab.crossJoin(F.broadcast(total)).select(
        "word",
        qround(
            F.log(F.col("cnt") * 1.0 / F.col("total")), 6
        )
        .alias("lq"),
    )
    dw = w.groupBy("doc_id", "lang", "word").agg(F.count("*").alias("c"))
    surprisal = (
        dw.join(F.broadcast(lq), "word")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").alias("n_words"),
            F.sum(F.col("c") * F.col("lq")).alias("s_micro"),
        )
    )
    pq = qround(
        F.exp(
            -(F.col("s_micro").cast("double") / 1000000.0) / F.col("n_words")
        ),
        4,
    )
    return (
        surprisal.select("lang", pq.alias("pq"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            (F.sum("pq") * 1.0 / F.count("*") / 10000.0).alias(
                "avg_perplexity"
            ),
            (F.min("pq") / 10000.0).alias("min_perplexity"),
            (F.max("pq") / 10000.0).alias("max_perplexity"),
        )
    )


# --------------------------------------------------------------------------
# Pinned-weight logistic quality classifier: in-pipeline batch scoring
# (the fasttext-style quality-model pass every LLM curation stack
# runs) expressed as pure column math. The sigmoid is one identical
# IEEE expression per row; scores quantize to ×1e6 ints before the
# per-source aggregation so the distribution summary is exact.
# --------------------------------------------------------------------------

_QC_W0 = -2.0
_QC_W_WC = 0.01
_QC_W_AWL = 0.3
_QC_W_DWR = 1.5


@query(
    "quality_classifier_scores",
    oracle=f"""
WITH feats AS (
    SELECT source,
           len(string_split_regex(TRIM(text), '\\s+')) AS wc,
           LENGTH(REGEXP_REPLACE(text, '\\s', '', 'g')) * 1.0
               / len(string_split_regex(TRIM(text), '\\s+')) AS awl,
           len(list_distinct(string_split_regex(TRIM(text), '\\s+'))) * 1.0
               / len(string_split_regex(TRIM(text), '\\s+')) AS dwr
    FROM documents
),
scored AS (
    SELECT source,
           {sql_qround(f'1.0 / (1.0 + exp(-({_QC_W0} + {_QC_W_WC} * wc'
                       f' + {_QC_W_AWL} * awl + {_QC_W_DWR} * dwr)))', 6)} AS sq
    FROM feats
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(sq) AS BIGINT) * 1.0 / COUNT(*) / 1000000.0 AS avg_score,
       COUNT(*) FILTER (WHERE sq >= 500000) AS n_keep,
       {sql_dround('COUNT(*) FILTER (WHERE sq >= 500000) * 1.0 / COUNT(*)', 6)}
           AS keep_rate
FROM scored
GROUP BY 1
""",
)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source keep-rate under a pinned logistic quality model.

    Scale: map-only feature extraction + one source-grain aggregation
    — the shape of every batch-inference quality pass (swap the pinned
    weights for a broadcast model vector; with a real model the sigmoid
    becomes an Arrow-batched pandas UDF, same plan). Scores quantize
    before aggregation, so keep-rates reproduce exactly at any
    partitioning.
    """
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    ws = T.words("text")
    wc = F.size(ws)
    awl = F.length(F.regexp_replace(F.col("text"), r"\s", "")) * 1.0 / F.size(ws)
    dwr = F.size(F.array_distinct(ws)) * 1.0 / F.size(ws)
    z = (
        F.lit(_QC_W0)
        + F.lit(_QC_W_WC) * wc
        + F.lit(_QC_W_AWL) * awl
        + F.lit(_QC_W_DWR) * dwr
    )
    sq = qround(1.0 / (1.0 + F.exp(-z)), 6)
    scored = docs.select("source", sq.alias("sq"))
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        (F.sum("sq") * 1.0 / F.count("*") / 1000000.0).alias("avg_score"),
        F.count_if(F.col("sq") >= 500000).alias("n_keep"),
        dround(
            F.count_if(F.col("sq") >= 500000) * 1.0 / F.count("*"), 6
        ).alias("keep_rate"),
    )


# --------------------------------------------------------------------------
# Cohen's kappa over the lang-ID confusion matrix — chance-corrected
# agreement, composed from the registered langid_confusion_matrix
# oracle (lsh_recall_audit pattern). All probabilities are exact
# integer ratios; kappa is one fixed expression over them.
# --------------------------------------------------------------------------

from .registry import ORACLES as _TEXT_ORACLES  # noqa: E402
from .registry import QUERIES  # noqa: E402


@query(
    "langid_cohens_kappa",
    oracle=f"""
WITH cm AS ({_TEXT_ORACLES['langid_confusion_matrix']}),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM cm),
po AS (
    SELECT CAST(COALESCE(SUM(n_docs) FILTER (
        WHERE labeled_lang = predicted_lang), 0) AS BIGINT) AS agree
    FROM cm
),
marg AS (
    SELECT CAST(COALESCE(SUM(r.rn * c.cn), 0) AS HUGEINT) AS chance_num
    FROM (SELECT labeled_lang AS k, CAST(SUM(n_docs) AS BIGINT) AS rn
          FROM cm GROUP BY 1) r
    JOIN (SELECT predicted_lang AS k, CAST(SUM(n_docs) AS BIGINT) AS cn
          FROM cm GROUP BY 1) c USING (k)
)
SELECT t.n AS n_docs,
       {sql_dround('p.agree * 1.0 / t.n', 6)} AS observed_agreement,
       {sql_dround('CAST(m.chance_num AS DOUBLE) / t.n / t.n', 6)}
           AS chance_agreement,
       {sql_dround(
           '(p.agree * 1.0 / t.n - CAST(m.chance_num AS DOUBLE) / t.n / t.n)'
           ' / (1.0 - CAST(m.chance_num AS DOUBLE) / t.n / t.n)', 6)}
           AS cohens_kappa
FROM tot t CROSS JOIN po p CROSS JOIN marg m
""",
)
def langid_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-corrected lang-ID agreement in one audited row.

    Scale: composes the confusion matrix (lang²-bounded) — marginals,
    diagonal, and kappa are arithmetic over that bounded grid; the
    classifier-eval statistic that raw accuracy overstates whenever
    one language dominates.
    """
    cm = QUERIES["langid_confusion_matrix"](spark, sf_dir)
    tot = cm.agg(F.sum("n_docs").cast("bigint").alias("n"))
    po = cm.agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("labeled_lang") == F.col("predicted_lang"),
                    F.col("n_docs"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("agree")
    )
    r = cm.groupBy(F.col("labeled_lang").alias("k")).agg(
        F.sum("n_docs").cast("bigint").alias("rn")
    )
    c = cm.groupBy(F.col("predicted_lang").alias("k")).agg(
        F.sum("n_docs").cast("bigint").alias("cn")
    )
    marg = (
        r.join(c, "k")
        .agg(
            F.coalesce(
                F.sum(F.col("rn").cast("decimal(38,0)") * F.col("cn")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("chance_num")
        )
    )
    w = tot.crossJoin(po).crossJoin(marg)
    pobs = F.col("agree") * 1.0 / F.col("n")
    pchance = F.col("chance_num").cast("double") / F.col("n") / F.col("n")
    return w.select(
        F.col("n").alias("n_docs"),
        dround(pobs, 6).alias("observed_agreement"),
        dround(pchance, 6).alias("chance_agreement"),
        dround((pobs - pchance) / (1.0 - pchance), 6).alias("cohens_kappa"),
    )


# --------------------------------------------------------------------------
# Reliability diagram for the logistic quality classifier: bin the
# ×1e6-quantized scores into deciles and report each bin's observed
# duplicate rate (exact-dup membership as the ground-truth "low
# quality" label). Exact integers end to end — the calibration curve
# that says whether a 0.8 score MEANS 80%.
# --------------------------------------------------------------------------


@query(
    "classifier_reliability_bins",
    oracle=f"""
WITH feats AS (
    SELECT doc_id,
           sha256(substring(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), 1, 80))
               AS content_hash,
           len(string_split_regex(TRIM(text), '\\s+')) AS wc,
           LENGTH(REGEXP_REPLACE(text, '\\s', '', 'g')) * 1.0
               / len(string_split_regex(TRIM(text), '\\s+')) AS awl,
           len(list_distinct(string_split_regex(TRIM(text), '\\s+'))) * 1.0
               / len(string_split_regex(TRIM(text), '\\s+')) AS dwr
    FROM documents
    -- a NULL text has no quality score; a NULL score bin would order
    -- differently across engines (same guard as the AUC twin)
    WHERE text IS NOT NULL
),
scored AS (
    SELECT doc_id, content_hash,
           {sql_qround(f'1.0 / (1.0 + exp(-({_QC_W0} + {_QC_W_WC} * wc'
                       f' + {_QC_W_AWL} * awl + {_QC_W_DWR} * dwr)))', 6)} AS sq
    FROM feats
),
dupflag AS (
    SELECT s.doc_id, s.sq,
           (COUNT(*) OVER (PARTITION BY s.content_hash) >= 2) AS is_dup
    FROM scored s
)
SELECT LEAST(CAST(9 AS BIGINT), sq // 100000) AS score_decile,
       COUNT(*) AS n_docs,
       CAST(SUM(sq) AS BIGINT) * 1.0 / COUNT(*) / 1000000.0
           AS mean_score,
       COUNT(*) FILTER (WHERE is_dup) AS n_dups,
       {sql_dround('COUNT(*) FILTER (WHERE is_dup) * 1.0 / COUNT(*)', 6)}
           AS dup_rate
FROM dupflag
GROUP BY 1
""",
)
def classifier_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-decile calibration of the quality model against dup truth.

    Scale: map-only scoring + one content-hash window for the truth
    label + a 10-bin aggregation. Read with quality_dup_calibration:
    that query relates the penalty-chain rating to dup clusters, this
    one calibrates the LOGISTIC model's probabilities.
    """
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    ws = T.words("text")
    wc = F.size(ws)
    awl = F.length(F.regexp_replace(F.col("text"), r"\s", "")) * 1.0 / F.size(ws)
    dwr = F.size(F.array_distinct(ws)) * 1.0 / F.size(ws)
    z = (
        F.lit(_QC_W0)
        + F.lit(_QC_W_WC) * wc
        + F.lit(_QC_W_AWL) * awl
        + F.lit(_QC_W_DWR) * dwr
    )
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    scored = docs.filter(F.col("text").isNotNull()).select(
        F.sha2(F.substring(norm, 1, 80), 256).alias("content_hash"),
        qround(1.0 / (1.0 + F.exp(-z)), 6)
        .alias("sq"),
    )
    wdup = Window.partitionBy("content_hash")
    dupflag = scored.select(
        "sq", (F.count("*").over(wdup) >= 2).alias("is_dup")
    )
    return dupflag.groupBy(
        F.least(
            F.lit(9).cast("bigint"),
            (F.col("sq") / 100000).cast("bigint"),
        ).alias("score_decile")
    ).agg(
        F.count("*").alias("n_docs"),
        (F.sum("sq").cast("bigint") * 1.0 / F.count("*") / 1000000.0).alias(
            "mean_score"
        ),
        F.count_if(F.col("is_dup")).alias("n_dups"),
        dround(
            F.count_if(F.col("is_dup")) * 1.0 / F.count("*"), 6
        ).alias("dup_rate"),
    )


# --------------------------------------------------------------------------
# PMI word co-occurrence (window ≤2): the distributional-semantics
# statistic word2vec/GloVe implicitly factorize. Pair generation is
# IN-ROW (nested transforms over the materialized word array — the
# event_type_cooccurrence posture, no self-join); PMI's argument is an
# exact integer ratio, so the only float is one ln per surviving pair.
# --------------------------------------------------------------------------

_PMI_WINDOW = 2
_PMI_MIN_PAIRS = 10


@query(
    "word_pmi_cooccurrence",
    oracle=f"""
WITH d AS (
    SELECT string_split_regex(TRIM(text), '\\s+') AS ws FROM documents
),
pairs AS (
    SELECT unnest(flatten(list_transform(range(1, len(ws)),
        i -> list_transform(range(1, LEAST({_PMI_WINDOW}, len(ws) - i) + 1),
            k -> [LEAST(ws[i], ws[i + k]), GREATEST(ws[i], ws[i + k])]))))
        AS pr
    FROM d
),
pc AS (
    SELECT pr[1] AS w_a, pr[2] AS w_b, COUNT(*) AS c_ab
    FROM pairs GROUP BY 1, 2
),
uni AS (
    SELECT word, COUNT(*) AS c FROM (
        SELECT unnest(ws) AS word FROM d
    ) GROUP BY 1
),
tot AS (
    SELECT (SELECT CAST(SUM(c_ab) AS BIGINT) FROM pc) AS t,
           (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS w
)
SELECT p.w_a, p.w_b, p.c_ab,
       {sql_dround(
           'ln(p.c_ab * 1.0 * tot.w * tot.w / tot.t / ua.c / ub.c)', 6)}
           AS pmi
FROM pc p
JOIN uni ua ON ua.word = p.w_a
JOIN uni ub ON ub.word = p.w_b
CROSS JOIN tot
WHERE p.c_ab >= {_PMI_MIN_PAIRS}
""",
)
def word_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of word pairs within a ±2 window.

    Scale: pair generation is map-only in-row expansion (fan-out ≤
    2·len per doc) followed by one pair-keyed count that map-combines
    to vocab²-bounded rows; unigram counts broadcast into the PMI
    join. The statistic embedding trainers factorize — computed
    exactly, with min-support pruning before the join.
    """
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    d = docs.select(T.words("text").alias("ws"))
    pair_expr = F.expr(
        f"flatten(transform(sequence(1, size(ws) - 1), "
        f"i -> transform(sequence(1, least({_PMI_WINDOW}, size(ws) - i)), "
        f"k -> array(least(element_at(ws, i), element_at(ws, i + k)), "
        f"greatest(element_at(ws, i), element_at(ws, i + k))))))"
    )
    pairs = d.filter(F.size("ws") >= 2).select(
        F.explode(pair_expr).alias("pr")
    )
    pc = pairs.select(
        F.element_at("pr", 1).alias("w_a"),
        F.element_at("pr", 2).alias("w_b"),
    ).groupBy("w_a", "w_b").agg(F.count("*").alias("c_ab"))
    uni = d.select(F.explode("ws").alias("word")).groupBy("word").agg(
        F.count("*").alias("c")
    )
    tot = pc.agg(F.sum("c_ab").cast("bigint").alias("t")).crossJoin(
        uni.agg(F.sum("c").cast("bigint").alias("w"))
    )
    ua = uni.select(F.col("word").alias("w_a"), F.col("c").alias("ca"))
    ub = uni.select(F.col("word").alias("w_b"), F.col("c").alias("cb"))
    return (
        pc.filter(F.col("c_ab") >= _PMI_MIN_PAIRS)
        .join(F.broadcast(ua), "w_a")
        .join(F.broadcast(ub), "w_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "w_a",
            "w_b",
            "c_ab",
            dround(
                F.log(
                    F.col("c_ab")
                    * 1.0
                    * F.col("w")
                    * F.col("w")
                    / F.col("t")
                    / F.col("ca")
                    / F.col("cb")
                ),
                6,
            ).alias("pmi"),
        )
    )


# --------------------------------------------------------------------------
# Mann–Whitney AUC of the quality score against dup truth, with exact
# tie handling: doubled midranks (min_rank + max_rank per tied score
# group) keep everything integer; AUC = (Σ2R⁺ − n⁺(n⁺+1)) / (2 n⁺ n⁻)
# is one division. The threshold-free separability companion to the
# calibration bins.
# --------------------------------------------------------------------------


@query(
    "classifier_auc_dup_separation",
    oracle=f"""
WITH feats AS (
    SELECT sha256(substring(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), 1, 80))
               AS content_hash,
           len(string_split_regex(TRIM(text), '\\s+')) AS wc,
           LENGTH(REGEXP_REPLACE(text, '\\s', '', 'g')) * 1.0
               / len(string_split_regex(TRIM(text), '\\s+')) AS awl,
           len(list_distinct(string_split_regex(TRIM(text), '\\s+'))) * 1.0
               / len(string_split_regex(TRIM(text), '\\s+')) AS dwr
    FROM documents
    -- a NULL text has no quality score; unscored rows would form a
    -- NULL rank group whose window position differs across engines
    -- (Spark NULLS FIRST vs DuckDB NULLS LAST) — shared filter
    WHERE text IS NOT NULL
),
scored AS (
    SELECT content_hash,
           {sql_qround(f'1.0 / (1.0 + exp(-({_QC_W0} + {_QC_W_WC} * wc'
                       f' + {_QC_W_AWL} * awl + {_QC_W_DWR} * dwr)))', 6)} AS sq
    FROM feats
),
labeled AS (
    SELECT sq,
           CASE WHEN COUNT(*) OVER (PARTITION BY content_hash) >= 2
                THEN 1 ELSE 0 END AS pos
    FROM scored
),
grp AS (
    SELECT sq, COUNT(*) AS cnt, CAST(SUM(pos) AS BIGINT) AS npos
    FROM labeled GROUP BY 1
),
ranked AS (
    SELECT sq, cnt, npos,
           CAST(COALESCE(SUM(cnt) OVER (ORDER BY sq
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
    FROM grp
),
s AS (
    SELECT CAST(SUM(npos * (2 * cum_before + cnt + 1)) AS BIGINT) AS r2pos,
           CAST(SUM(npos) AS BIGINT) AS n1,
           CAST(SUM(cnt - npos) AS BIGINT) AS n0
    FROM ranked
)
SELECT n1 AS n_dups, n0 AS n_uniques,
       CASE WHEN n1 > 0 AND n0 > 0 THEN
       {sql_dround(
           '(r2pos - n1 * (n1 + 1.0)) / (2.0 * n1 * n0)', 6)} END AS auc
FROM s
""",
)
def classifier_auc_dup_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-exact AUC of the logistic score separating dups from uniques.

    Scale: after map-only scoring and one content-hash window for
    truth, everything runs on the DISTINCT-SCORE grain (bounded by the
    quantization) — doubled midranks via a cumulative window, one
    final division. AUC ≈ 0.5 says the quality model can't see
    duplication; far from 0.5 says the two filters overlap and one
    pass could be dropped.
    """
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    ws = T.words("text")
    wc = F.size(ws)
    awl = F.length(F.regexp_replace(F.col("text"), r"\s", "")) * 1.0 / F.size(ws)
    dwr = F.size(F.array_distinct(ws)) * 1.0 / F.size(ws)
    z = (
        F.lit(_QC_W0)
        + F.lit(_QC_W_WC) * wc
        + F.lit(_QC_W_AWL) * awl
        + F.lit(_QC_W_DWR) * dwr
    )
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    scored = docs.filter(F.col("text").isNotNull()).select(
        F.sha2(F.substring(norm, 1, 80), 256).alias("content_hash"),
        qround(1.0 / (1.0 + F.exp(-z)), 6)
        .alias("sq"),
    )
    wdup = Window.partitionBy("content_hash")
    labeled = scored.select(
        "sq",
        F.when(F.count("*").over(wdup) >= 2, 1).otherwise(0).alias("pos"),
    )
    grp = labeled.groupBy("sq").agg(
        F.count("*").alias("cnt"), F.sum("pos").cast("bigint").alias("npos")
    )
    wcum = Window.orderBy("sq").rowsBetween(Window.unboundedPreceding, -1)
    ranked = grp.select(
        "sq",
        "cnt",
        "npos",
        F.coalesce(F.sum("cnt").over(wcum), F.lit(0))
        .cast("bigint")
        .alias("cum_before"),
    )
    s = ranked.agg(
        F.sum(
            F.col("npos") * (2 * F.col("cum_before") + F.col("cnt") + 1)
        )
        .cast("bigint")
        .alias("r2pos"),
        F.sum("npos").cast("bigint").alias("n1"),
        F.sum(F.col("cnt") - F.col("npos")).cast("bigint").alias("n0"),
    )
    return s.select(
        F.col("n1").alias("n_dups"),
        F.col("n0").alias("n_uniques"),
        F.when(
            (F.col("n1") > 0) & (F.col("n0") > 0),
            dround(
                (F.col("r2pos") - F.col("n1") * (F.col("n1") + 1.0))
                / (2.0 * F.col("n1") * F.col("n0")),
                6,
            ),
        ).alias("auc"),
    )


# --------------------------------------------------------------------------
# Vocabulary coverage curve: what fraction of corpus TOKEN MASS the
# top-K word types cover, for a ladder of K — the curve a tokenizer /
# vocab-size decision reads (where it flattens, OOV handling takes
# over). One (word) count, one frequency-rank window over the
# VOCABULARY (≪ corpus), conditional exact sums per K. Ranks use the
# (freq DESC, word) total order so every K-cut is engine-identical.
# --------------------------------------------------------------------------

_VOCAB_KS = (100, 1000, 5000)


@query(
    "vocab_coverage_curve",
    oracle=f"""
WITH w AS (
    SELECT unnest(string_split_regex(TRIM(text), '\\s+')) AS word
    FROM documents WHERE text IS NOT NULL
),
vocab AS (SELECT word, COUNT(*) AS freq FROM w GROUP BY 1),
ranked AS (
    SELECT freq,
           ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS rk
    FROM vocab
),
tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total_tokens,
               COUNT(*) AS vocab_size
        FROM vocab)
SELECT t.vocab_size, t.total_tokens,
{', '.join(
    '       ' + sql_dround(f'CAST(SUM(CASE WHEN rk <= {k} THEN freq ELSE 0 END)'
                           ' AS BIGINT) * 1.0 / t.total_tokens', 6)
    + f' AS coverage_top_{k}'
    for k in _VOCAB_KS)}
FROM ranked CROSS JOIN tot t
GROUP BY t.vocab_size, t.total_tokens
""",
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass coverage of the top-K word types, K ∈ {100, 1k, 5k}."""
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    w = docs.filter(F.col("text").isNotNull()).select(
        F.explode(T.words("text")).alias("word")
    )
    vocab = w.groupBy("word").agg(F.count("*").alias("freq"))
    # vocabulary-cardinality window (<< corpus); the corpus never sorts
    wr = Window.orderBy(F.desc("freq"), F.asc("word"))
    ranked = vocab.select(
        "freq", F.row_number().over(wr).cast("bigint").alias("rk")
    )
    tot = vocab.agg(
        F.sum("freq").cast("bigint").alias("total_tokens"),
        F.count("*").alias("vocab_size"),
    )
    aggs = []
    for k in _VOCAB_KS:
        aggs.append(
            dround(
                F.sum(
                    F.when(F.col("rk") <= k, F.col("freq")).otherwise(
                        0
                    )
                ).cast("bigint")
                * 1.0
                / F.max("total_tokens"),
                6,
            ).alias(f"coverage_top_{k}")
        )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy("vocab_size", "total_tokens")
        .agg(*aggs)
        .select(
            "vocab_size",
            "total_tokens",
            *[f"coverage_top_{k}" for k in _VOCAB_KS],
        )
    )


# --------------------------------------------------------------------------
# Bigram LM perplexity on a held-out split — the next rung above
# unigram_lm_perplexity on the LLM-curation quality ladder: fit
# add-k-smoothed bigram conditionals p(w2|w1) on the sha256-80% train
# docs, score the held-out 20%. Gram strings come from the shared
# word_ngrams fragment (byte-identical across engines); ln terms are
# quantized to ×1e6 integers at TEST-BIGRAM-TYPE grain, so the
# per-language surprisal is an exact integer dot product with the test
# counts — order-independent under any partitioning.
#
# Scale: all joins run at bigram-TYPE grain (vocabulary-bounded, never
# occurrence-cardinality); the vocab size V is a 1-row broadcast.
# --------------------------------------------------------------------------

from ..operators.text import word_ngrams_sql_duckdb  # noqa: E402
from .training import sql_hash_bucket as _sql_hb_doc  # noqa: E402

_SQL_HB_DOC = _sql_hb_doc("doc_id")


@query(
    "bigram_lm_perplexity",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, lang, string_split_regex(TRIM(text), '\\s+') AS t,
           {_SQL_HB_DOC} AS hb
    FROM documents WHERE text IS NOT NULL
),
train_bg AS (
    SELECT bg, COUNT(*) AS c2
    FROM (SELECT unnest({word_ngrams_sql_duckdb('text', 2)}) AS bg
          FROM documents
          WHERE text IS NOT NULL AND {_SQL_HB_DOC} < 80)
    GROUP BY 1
),
ctx AS (
    SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(c2) AS BIGINT) AS c1
    FROM train_bg GROUP BY 1
),
vocab AS (
    SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
    FROM (SELECT unnest(t) AS w FROM toks WHERE hb < 80)
),
test_types AS (
    SELECT lang, bg, split_part(bg, ' ', 1) AS w1, COUNT(*) AS n
    FROM (SELECT lang, unnest({word_ngrams_sql_duckdb('text', 2)}) AS bg
          FROM documents
          WHERE text IS NOT NULL AND {_SQL_HB_DOC} >= 80)
    GROUP BY 1, 2, 3
),
scored AS (
    SELECT tt.lang, tt.n,
           COALESCE(tb.c2, 0) AS c2,
           {sql_qround('ln((CAST(COALESCE(tb.c2, 0) AS DOUBLE)'
                       ' + CAST(0.5 AS DOUBLE))'
                       ' / (CASE WHEN v > 0 THEN'
                       ' CAST(COALESCE(cx.c1, 0) AS DOUBLE)'
                       ' + CAST(0.5 AS DOUBLE) * v END))', 6)} AS lq
    FROM test_types tt
    LEFT JOIN train_bg tb ON tt.bg = tb.bg
    LEFT JOIN ctx cx ON tt.w1 = cx.w1
    CROSS JOIN vocab
)
SELECT lang,
       CAST(SUM(n) AS BIGINT) AS n_test_bigrams,
       {sql_dround('CAST(COALESCE(SUM(n) FILTER (WHERE c2 = 0), 0) AS BIGINT)'
                   ' * 1.0 / SUM(n)', 6)} AS unseen_rate,
       {sql_dround('-(CAST(SUM(CAST(n AS HUGEINT) * lq) AS DOUBLE) / 1000000.0)'
                   ' / SUM(n)', 6)} AS avg_nll,
       {sql_dround('exp(-(CAST(SUM(CAST(n AS HUGEINT) * lq) AS DOUBLE)'
                   ' / 1000000.0) / SUM(n))', 4)}
           AS perplexity
FROM scored
GROUP BY 1
""",
)
def bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram-LM perplexity per language (add-0.5 smoothing)."""
    from ..operators.text import word_ngrams
    from .training import hash_bucket

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    toks = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        "lang",
        T.words("text").alias("t"),
        hash_bucket("doc_id").alias("hb"),
    )
    bgs = toks.select(
        "lang", "hb", F.explode(word_ngrams("t", 2, presplit=True)).alias("bg")
    )
    train_bg = (
        bgs.filter(F.col("hb") < 80).groupBy("bg").agg(F.count("*").alias("c2"))
    )
    ctx = train_bg.groupBy(
        F.substring_index("bg", " ", 1).alias("w1")
    ).agg(F.sum("c2").cast("bigint").alias("c1"))
    vocab = (
        toks.filter(F.col("hb") < 80)
        .select(F.explode("t").alias("w"))
        .agg(F.countDistinct("w").cast("bigint").alias("v"))
    )
    test_types = (
        bgs.filter(F.col("hb") >= 80)
        .groupBy(
            "lang", "bg", F.substring_index("bg", " ", 1).alias("w1")
        )
        .agg(F.count("*").alias("n"))
    )
    # v = 0 (empty train split) would zero the smoothed denominator:
    # Spark 4 ANSI throws on the division where DuckDB yields inf. The
    # guard lives in the DENOMINATOR (round-6 lesson: a CASE cannot
    # protect a division inside its own condition) — NULL propagates to
    # lq, and both engines' SUM-over-all-NULL then yields NULL metrics.
    lq = (
        qround(
            F.log(
                (F.coalesce(F.col("c2"), F.lit(0)).cast("double") + 0.5)
                / F.when(
                    F.col("v") > 0,
                    F.coalesce(F.col("c1"), F.lit(0)).cast("double")
                    + 0.5 * F.col("v"),
                )
            ),
            6,
        )
        .alias("lq")
    )
    scored = (
        test_types.join(train_bg, "bg", "left")
        .join(ctx, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            "n",
            F.coalesce(F.col("c2"), F.lit(0)).alias("c2"),
            lq,
        )
    )
    s_micro = F.sum(F.col("n").cast("decimal(38,0)") * F.col("lq")).cast(
        "double"
    )
    nll = -(s_micro / 1000000.0) / F.sum("n")
    return scored.groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("n_test_bigrams"),
        dround(
            F.coalesce(
                F.sum(F.when(F.col("c2") == 0, F.col("n"))), F.lit(0)
            ).cast("bigint")
            * 1.0
            / F.sum("n"),
            6,
        ).alias("unseen_rate"),
        dround(nll, 6).alias("avg_nll"),
        dround(F.exp(nll), 4).alias("perplexity"),
    )


# --------------------------------------------------------------------------
# BPE merge-pair frequencies — the inner statistic of byte-pair-
# encoding tokenizer training (Sennrich et al. 2016): count adjacent
# character pairs across the corpus weighted by word frequency; the
# argmax pair is the next merge. One iteration is exactly what a
# tokenizer-training pipeline fans out per merge step, so this is the
# Spark-shaped kernel: corpus reduces to WORD-TYPE grain first (the
# classic BPE trick — a word's pairs are counted once and weighted by
# its count), then pair extraction runs over the tiny type table.
#
# Scale: the only corpus-sized exchange is the word-type groupBy
# (map-combined); pair explosion happens at word-TYPE grain
# (vocabulary-bounded), and the top-20 is a TakeOrdered over
# pair-type cardinality under the total (n DESC, pair) order.
# --------------------------------------------------------------------------

_BPE_TOP = 20


@query(
    "bpe_merge_pairs",
    oracle=f"""
WITH wc AS (
    SELECT w, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split_regex(TRIM(text), '\\s+')) AS w
          FROM documents WHERE text IS NOT NULL)
    GROUP BY 1
),
pairs AS (
    SELECT p, CAST(SUM(cnt) AS BIGINT) AS n_merges
    FROM (
        SELECT cnt,
               unnest(CASE WHEN LENGTH(w) < 2 THEN []
                      ELSE list_transform(range(1, LENGTH(w)),
                                          i -> w[i : i + 1]) END) AS p
        FROM wc
    )
    GROUP BY 1
)
SELECT p AS pair, n_merges FROM pairs
ORDER BY n_merges DESC, p
LIMIT {_BPE_TOP}
""",
)
def bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 BPE merge candidates (adjacent char pairs, word-weighted)."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    wc = (
        docs.filter(F.col("text").isNotNull())
        .select(F.explode(T.words("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    # Spark sequence(1, 0) is DESCENDING (round-6 pitfall) — the CASE
    # guard on sub-2-char words is load-bearing, not defensive.
    pair_expr = (
        "CASE WHEN length(w) < 2 THEN CAST(array() AS array<string>) "
        "ELSE transform(sequence(1, length(w) - 1), "
        "i -> substring(w, i, 2)) END"
    )
    pairs = (
        wc.select(F.col("cnt"), F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy("p")
        .agg(F.sum("cnt").cast("bigint").alias("n_merges"))
    )
    return (
        pairs.select(F.col("p").alias("pair"), "n_merges")
        .orderBy(F.desc("n_merges"), "pair")
        .limit(_BPE_TOP)
    )


# --------------------------------------------------------------------------
# Winnowing fingerprint census (Schleimer et al. 2003, the MOSS
# algorithm): hash every k-token shingle, slide a w-window over the
# hash sequence, keep each window's minimum — guaranteeing any match
# of length >= w+k-1 tokens shares a fingerprint, at an expected
# density of 2/(w+1). This is the position-robust sibling of
# doc_fingerprints (whole-doc hash): local edits only perturb nearby
# fingerprints. Hashes are the sha256-prefix bigint the split/bucket
# family already proves cross-engine-identical; selection is pure list
# lambdas over MATERIALIZED per-doc arrays (never a split inside a
# lambda), so the per-doc work is one map pass.
#
# Scale: fingerprint selection is per-row map work; the only shuffles
# are the (lang, fp)-grain reduce for sharing stats and a lang-grain
# rollup — fingerprint cardinality is ~2/(w+1) of token positions,
# never all-pairs.
# --------------------------------------------------------------------------

_WINNOW_K = 3  # shingle length (tokens)
_WINNOW_W = 4  # winnow window (shingles)


@query(
    "winnowing_fingerprint_census",
    oracle=f"""
WITH h AS (
    SELECT lang, doc_id,
           list_transform(
               {{grams}},
               g -> CAST(concat('0x', substring(sha256(g), 1, 8)) AS BIGINT)
           ) AS hs
    FROM documents WHERE text IS NOT NULL
),
sel AS (
    SELECT lang, doc_id, len(hs) AS n_pos,
           list_distinct(
               CASE WHEN len(hs) = 0 THEN []
                    WHEN len(hs) <= {_WINNOW_W}
                        THEN [list_aggregate(hs, 'min')]
                    ELSE list_transform(
                        range(1, len(hs) - {_WINNOW_W} + 2),
                        j -> list_aggregate(
                            list_slice(hs, j, j + {_WINNOW_W} - 1), 'min'))
               END) AS fps
    FROM h
),
per_lang AS (
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_pos) AS BIGINT) AS n_positions,
           CAST(SUM(len(fps)) AS BIGINT) AS n_selected
    FROM sel GROUP BY 1
),
fp AS (
    SELECT lang, f AS fp, COUNT(*) AS n_docs_fp
    FROM (SELECT lang, unnest(fps) AS f FROM sel)
    GROUP BY 1, 2
),
share AS (
    SELECT lang,
           COUNT(*) AS n_distinct_fp,
           COUNT(*) FILTER (WHERE n_docs_fp >= 2) AS n_shared_fp
    FROM fp GROUP BY 1
)
SELECT p.lang, p.n_docs, p.n_positions, p.n_selected,
       s.n_distinct_fp, s.n_shared_fp,
       {{density}} AS fp_density
FROM per_lang p JOIN share s ON p.lang IS NOT DISTINCT FROM s.lang
""".format(
        grams=(
            "CASE WHEN len(string_split_regex(TRIM(text), '\\s+')) < 3"
            " THEN [] ELSE list_transform("
            "range(1, len(string_split_regex(TRIM(text), '\\s+')) - 1),"
            " i -> array_to_string(list_slice("
            "string_split_regex(TRIM(text), '\\s+'), i, i + 2), ' ')) END"
        ),
        density=sql_dround(
            "p.n_selected * 1.0"
            " / (CASE WHEN p.n_positions > 0 THEN p.n_positions END)",
            6,
        ),
    ),
)
def winnowing_fingerprint_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language winnowing (MOSS) fingerprint selection census."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    w, k = _WINNOW_W, _WINNOW_K
    toks = docs.filter(F.col("text").isNotNull()).select(
        "lang", "doc_id", T.words("text").alias("t")
    )
    grams = toks.select(
        "lang", "doc_id", T.word_ngrams("t", k, presplit=True).alias("g")
    )
    # The hash array is LET-BOUND via a single-element aggregate(): a
    # plain hs column gets inlined by the optimizer into every one of
    # its ~6 references here — including INSIDE the per-window lambda,
    # re-hashing all grams once per window position (measured 21 s for
    # 500 docs). A lambda variable is a value, so the hash transform
    # runs exactly once per row. Spark sequence(1, 0) is DESCENDING —
    # the <= w branch keeps sequence() off sub-window docs entirely.
    winnow_expr = (
        "aggregate("
        " array(transform(g, x ->"
        "   cast(conv(substring(sha2(x, 256), 1, 8), 16, 10) as bigint))),"
        " named_struct('n_pos', 0,"
        "   'fps', CAST(array() AS array<bigint>)),"
        " (acc, hs) -> named_struct("
        "   'n_pos', size(hs),"
        "   'fps', CASE"
        "     WHEN size(hs) = 0 THEN CAST(array() AS array<bigint>)"
        f"    WHEN size(hs) <= {w} THEN array(array_min(hs))"
        f"    ELSE transform(sequence(1, size(hs) - {w} + 1),"
        f"      j -> array_min(slice(hs, j, {w}))) END))"
    )
    sel = grams.select(
        "lang", "doc_id", F.expr(winnow_expr).alias("s")
    ).select(
        "lang",
        "doc_id",
        F.col("s.n_pos").alias("n_pos"),
        F.array_distinct(F.col("s.fps")).alias("fps"),
    )
    per_lang = sel.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_pos").cast("bigint").alias("n_positions"),
        F.sum(F.size("fps")).cast("bigint").alias("n_selected"),
    )
    fp = (
        sel.select("lang", F.explode("fps").alias("fp"))
        .groupBy("lang", "fp")
        .agg(F.count("*").alias("n_docs_fp"))
    )
    share = fp.groupBy("lang").agg(
        F.count("*").alias("n_distinct_fp"),
        F.count_if(F.col("n_docs_fp") >= 2).alias("n_shared_fp"),
    )
    return (
        per_lang.alias("p")
        .join(
            F.broadcast(share.alias("s")),
            F.col("p.lang").eqNullSafe(F.col("s.lang")),
        )
        .select(
            F.col("p.lang").alias("lang"),
            "n_docs",
            "n_positions",
            "n_selected",
            "n_distinct_fp",
            "n_shared_fp",
            dround(
                F.col("n_selected")
                * 1.0
                / F.when(F.col("n_positions") > 0, F.col("n_positions")),
                6,
            ).alias("fp_density"),
        )
    )


# --------------------------------------------------------------------------
# Gopher-style quality rule ladder (Rae et al. 2021, adapted to the
# whitespace-token corpus): five named pass/fail rules per document,
# reported as per-SOURCE pass rates with per-rule attribution — the
# filter-debugging view a curation pipeline needs ("which rule is
# killing this crawl?") that a single composite score
# (doc_quality_scores) cannot give. Every ratio rule is an integer
# CROSS-MULTIPLICATION (3·wc <= chars, 10·fancy <= wc, 2·distinct2 >=
# total2) so no float compare can diverge; token arrays are
# materialized columns before any list lambda.
#
# Scale: one per-row map pass + one source-grain map-combined
# aggregate — zero joins, zero row-cardinality shuffles.
# --------------------------------------------------------------------------

_GOPHER_STOPWORDS = ("the", "a", "of", "to", "and", "in")


@query(
    "gopher_quality_rules",
    oracle=f"""
WITH t AS (
    SELECT source, string_split_regex(TRIM(text), '\\s+') AS w,
           LENGTH(REGEXP_REPLACE(text, '\\s', '', 'g')) AS chars
    FROM documents WHERE text IS NOT NULL
),
r AS (
    SELECT source,
           (len(w) BETWEEN 50 AND 100000) AS r1_word_count,
           (3 * len(w) <= chars AND chars <= 10 * len(w))
               AS r2_mean_word_len,
           (10 * len(list_filter(w,
                x -> regexp_matches(x, '[^a-zA-Z0-9]'))) <= len(w))
               AS r3_symbol_ratio,
           (len(w) >= 2 AND 2 * len(list_distinct(
                list_transform(range(1, len(w)),
                               i -> w[i] || ' ' || w[i+1])))
                >= len(w) - 1) AS r4_bigram_diversity,
           (len(list_intersect(list_distinct(w),
                {list(_GOPHER_STOPWORDS)})) >= 2) AS r5_stopwords
    FROM t
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(*) FILTER (WHERE r1_word_count) AS pass_word_count,
       COUNT(*) FILTER (WHERE r2_mean_word_len) AS pass_mean_word_len,
       COUNT(*) FILTER (WHERE r3_symbol_ratio) AS pass_symbol_ratio,
       COUNT(*) FILTER (WHERE r4_bigram_diversity) AS pass_bigram_diversity,
       COUNT(*) FILTER (WHERE r5_stopwords) AS pass_stopwords,
       COUNT(*) FILTER (WHERE r1_word_count AND r2_mean_word_len
                          AND r3_symbol_ratio AND r4_bigram_diversity
                          AND r5_stopwords) AS pass_all,
       {sql_dround('''COUNT(*) FILTER (WHERE r1_word_count
                          AND r2_mean_word_len AND r3_symbol_ratio
                          AND r4_bigram_diversity AND r5_stopwords)
                      * 1.0 / COUNT(*)''', 6)} AS pass_all_rate
FROM r
GROUP BY 1
""",
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source pass rates of five Gopher-style quality rules."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    t = docs.filter(F.col("text").isNotNull()).select(
        "source",
        T.words("text").alias("w"),
        F.length(F.regexp_replace(F.col("text"), r"\s", "")).alias("chars"),
    )
    stop = ", ".join(f"'{s}'" for s in _GOPHER_STOPWORDS)
    r = t.select(
        "source",
        F.expr("size(w) BETWEEN 50 AND 100000").alias("r1"),
        F.expr("3 * size(w) <= chars AND chars <= 10 * size(w)").alias("r2"),
        F.expr(
            "10 * size(filter(w, x -> x rlike '[^a-zA-Z0-9]')) <= size(w)"
        ).alias("r3"),
        # sub-2-token docs short-circuit before sequence() (Spark
        # sequence(1, 0) is DESCENDING)
        F.expr(
            "size(w) >= 2 AND 2 * size(array_distinct("
            "transform(sequence(1, size(w) - 1),"
            " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))))"
            " >= size(w) - 1"
        ).alias("r4"),
        F.expr(
            f"size(array_intersect(array_distinct(w), array({stop}))) >= 2"
        ).alias("r5"),
    )
    all_pass = (
        F.col("r1") & F.col("r2") & F.col("r3") & F.col("r4") & F.col("r5")
    )
    return r.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_if(F.col("r1")).alias("pass_word_count"),
        F.count_if(F.col("r2")).alias("pass_mean_word_len"),
        F.count_if(F.col("r3")).alias("pass_symbol_ratio"),
        F.count_if(F.col("r4")).alias("pass_bigram_diversity"),
        F.count_if(F.col("r5")).alias("pass_stopwords"),
        F.count_if(all_pass).alias("pass_all"),
        dround(F.count_if(all_pass) * 1.0 / F.count("*"), 6).alias(
            "pass_all_rate"
        ),
    )


# --------------------------------------------------------------------------
# Heaps'-law vocabulary growth fit — V = K·N^beta estimated by log-log
# OLS over per-SOURCE (token count, vocab size) points: the corpus
# statistic that answers "how fast does my vocabulary (and therefore
# tokenizer OOV / embedding table pressure) grow as I add data?" —
# the growth-side complement to zipf_slope_by_lang's frequency decay.
# Same determinism recipe: ln terms quantized ×1e6 per point, exact
# wide-integer OLS moments, one dround-pinned slope/intercept division.
#
# Scale: one (source, word)-grain map-combined count, reduced to one
# (N, V) point per source — the regression runs on ~|sources| rows.
# --------------------------------------------------------------------------


@query(
    "heaps_law_fit",
    oracle=f"""
WITH w AS (
    SELECT source, unnest(string_split_regex(TRIM(text), '\\s+')) AS word
    FROM documents WHERE text IS NOT NULL
),
pts AS (
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS v_types
    FROM (SELECT source, word, COUNT(*) AS c FROM w GROUP BY 1, 2)
    GROUP BY 1
),
fixed AS (
    SELECT {sql_qround('ln(n_tokens)', 6)} AS xi,
           {sql_qround('ln(v_types)', 6)} AS yi
    FROM pts WHERE n_tokens > 0 AND v_types > 0
),
mom AS (
    SELECT COUNT(*) AS n,
           CAST(SUM(xi) AS HUGEINT) AS sx, CAST(SUM(yi) AS HUGEINT) AS sy,
           CAST(SUM(CAST(xi AS HUGEINT) * yi) AS HUGEINT) AS sxy,
           CAST(SUM(CAST(xi AS HUGEINT) * xi) AS HUGEINT) AS sxx
    FROM fixed
)
SELECT CAST(n AS BIGINT) AS n_sources,
       {sql_dround('''(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        / (CASE WHEN n * sxx - sx * sx <> 0
           THEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx END)''', 6)}
           AS heaps_beta,
       {sql_dround('''(CAST(sy AS DOUBLE)
        - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CASE WHEN n * sxx - sx * sx <> 0
              THEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx END))
          * sx) / n / 1000000.0''', 6)} AS heaps_ln_k
FROM mom
""",
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law (vocab-growth) exponent from per-source (N, V) points."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    w = docs.filter(F.col("text").isNotNull()).select(
        "source", F.explode(T.words("text")).alias("word")
    )
    pts = (
        w.groupBy("source", "word")
        .agg(F.count("*").alias("c"))
        .groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("v_types"),
        )
    )
    fixed = pts.filter(
        (F.col("n_tokens") > 0) & (F.col("v_types") > 0)
    ).select(
        qround(F.log("n_tokens"), 6)
        .alias("xi"),
        qround(F.log("v_types"), 6)
        .alias("yi"),
    )
    d38 = "decimal(38,0)"
    mom = fixed.agg(
        F.count("*").alias("n"),
        F.sum("xi").cast(d38).alias("sx"),
        F.sum("yi").cast(d38).alias("sy"),
        F.sum(F.col("xi").cast(d38) * F.col("yi")).alias("sxy"),
        F.sum(F.col("xi").cast(d38) * F.col("xi")).alias("sxx"),
    )
    n = F.col("n")
    sx, sy = F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    det = n * sxx - sx * sx
    slope = (n.cast("double") * sxy.cast("double") - sx.cast("double") * sy.cast("double")) / F.when(
        det != 0, n.cast("double") * sxx.cast("double") - sx.cast("double") * sx.cast("double")
    )
    return mom.select(
        n.cast("bigint").alias("n_sources"),
        dround(slope, 6).alias("heaps_beta"),
        dround(
            (sy.cast("double") - slope * sx.cast("double")) / n / 1000000.0,
            6,
        ).alias("heaps_ln_k"),
    )


# --------------------------------------------------------------------------
# Lexical-diversity data card per source — the compact per-slice
# quality row a mixture designer reads before weighting sources:
# token count, vocab size, type-token ratio, Simpson repeat rate
# (the probability two random tokens are the same type — an EXACT
# rational Σc·(c−1) / (N·(N−1)), no transcendental anywhere), and the
# top word's mass share. Everything reduces at (source, word)-type
# grain with wide-integer sums; two divisions total, dround-pinned.
# --------------------------------------------------------------------------


@query(
    "lexical_diversity_by_source",
    oracle=f"""
WITH w AS (
    SELECT source, unnest(string_split_regex(TRIM(text), '\\s+')) AS word
    FROM documents WHERE text IS NOT NULL
),
vocab AS (SELECT source, word, COUNT(*) AS c FROM w GROUP BY 1, 2)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS v_types,
       {sql_dround('COUNT(*) * 1.0 / SUM(c)', 6)} AS type_token_ratio,
       {sql_dround('''CAST(SUM(CAST(c AS HUGEINT) * (c - 1)) AS DOUBLE)
        / (CASE WHEN SUM(c) > 1
           THEN CAST(SUM(c) AS DOUBLE) * (SUM(c) - 1) END)''', 6)}
           AS simpson_repeat_rate,
       {sql_dround('MAX(c) * 1.0 / SUM(c)', 6)} AS top_word_share
FROM vocab
GROUP BY 1
""",
)
def lexical_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens, vocab, TTR, Simpson repeat rate, top-word share per source."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    vocab = (
        docs.filter(F.col("text").isNotNull())
        .select("source", F.explode(T.words("text")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("c"))
    )
    n = F.sum("c")
    rep_num = F.sum(F.col("c").cast("decimal(38,0)") * (F.col("c") - 1))
    return vocab.groupBy("source").agg(
        n.cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("v_types"),
        dround(F.count("*") * 1.0 / n, 6).alias("type_token_ratio"),
        dround(
            rep_num.cast("double")
            / F.when(n > 1, n.cast("double") * (n - 1)),
            6,
        ).alias("simpson_repeat_rate"),
        dround(F.max("c") * 1.0 / n, 6).alias("top_word_share"),
    )


# --------------------------------------------------------------------------
# Perplexity-band pruning (Marion et al. 2023, "When Less is More":
# pruning to the MIDDLE perplexity band beats keeping the lowest-ppl
# docs). Reuses the corpus-fit unigram LM of unigram_lm_perplexity —
# per-doc perplexity is an exact integer dot product of term counts
# with x1e6-quantized log-probs, so the per-source rank (pq asc,
# doc_id asc) is engine-independent; the kept band is the middle half
# selected by integer cross-multiplication (4r > n AND 4r <= 3n), no
# float percentile anywhere.
#
# Scale: two gram-keyed shuffles (vocab fit + per-doc term counts,
# the tfidf_top_terms shape) and one source-partitioned rank window.
# At 100 TB the per-source sort would switch to the histogram-CDF
# band selection proven by quantile_length_trim_approx; the exact
# rank form here is the semantic oracle for that rewrite.
# --------------------------------------------------------------------------


@query(
    "perplexity_band_prune",
    oracle=f"""
WITH w AS (
    SELECT doc_id, source,
           unnest(string_split_regex(TRIM(text), '\\s+')) AS word
    FROM documents
),
vocab AS (
    SELECT word, COUNT(*) AS cnt, SUM(COUNT(*)) OVER () AS total
    FROM w GROUP BY 1
),
lq AS (
    SELECT word,
           {sql_qround('ln(cnt * 1.0 / total)', 6)} AS lq
    FROM vocab
),
dw AS (SELECT doc_id, source, word, COUNT(*) AS c FROM w GROUP BY 1, 2, 3),
surprisal AS (
    SELECT d.doc_id, d.source,
           CAST(SUM(d.c) AS BIGINT) AS n_words,
           CAST(SUM(d.c * l.lq) AS BIGINT) AS s_micro
    FROM dw d JOIN lq l USING (word)
    GROUP BY 1, 2
),
ppl AS (
    SELECT doc_id, source, n_words,
           {sql_qround('exp(-(CAST(s_micro AS DOUBLE) / 1000000.0) / n_words)', 4)} AS pq
    FROM surprisal
),
ranked AS (
    SELECT source, n_words,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY pq, doc_id) AS r,
           COUNT(*) OVER (PARTITION BY source) AS n
    FROM ppl
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN 4 * r > n AND 4 * r <= 3 * n
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(n_words) AS BIGINT) AS total_words,
       CAST(SUM(CASE WHEN 4 * r > n AND 4 * r <= 3 * n
                     THEN n_words ELSE 0 END) AS BIGINT) AS kept_words,
       {sql_dround(
           "SUM(CASE WHEN 4 * r > n AND 4 * r <= 3 * n THEN n_words ELSE 0 END)"
           " * 1.0 / SUM(n_words)", 6)} AS kept_word_share
FROM ranked GROUP BY source
""",
)
def perplexity_band_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source middle-perplexity-band pruning report.

    The reference has no analog (closest: its quality-score gating,
    scripts/silver/transform_silver.py:319-336); this is the standard
    LLM-curation pruning step scored by the same unigram LM as
    unigram_lm_perplexity.
    """
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    w = docs.select(
        "doc_id", "source", F.explode(T.words("text")).alias("word")
    )
    vocab = w.groupBy("word").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    lq = vocab.crossJoin(F.broadcast(total)).select(
        "word",
        qround(
            F.log(F.col("cnt") * 1.0 / F.col("total")), 6
        )
        .alias("lq"),
    )
    dw = w.groupBy("doc_id", "source", "word").agg(F.count("*").alias("c"))
    surprisal = (
        dw.join(F.broadcast(lq), "word")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("c").alias("n_words"),
            F.sum(F.col("c") * F.col("lq")).alias("s_micro"),
        )
    )
    pq = qround(
        F.exp(
            -(F.col("s_micro").cast("double") / 1000000.0) / F.col("n_words")
        ),
        4,
    )
    ppl = surprisal.select(
        "doc_id", "source", "n_words", pq.alias("pq")
    )
    wr = Window.partitionBy("source").orderBy("pq", "doc_id")
    wn = Window.partitionBy("source")
    ranked = ppl.withColumn("r", F.row_number().over(wr)).withColumn(
        "n", F.count("*").over(wn)
    )
    kept = (4 * F.col("r") > F.col("n")) & (4 * F.col("r") <= 3 * F.col("n"))
    kept_words = F.sum(F.when(kept, F.col("n_words")).otherwise(F.lit(0)))
    return ranked.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum("n_words").alias("total_words"),
        kept_words.alias("kept_words"),
        dround(kept_words * 1.0 / F.sum("n_words"), 6).alias(
            "kept_word_share"
        ),
    )


# --------------------------------------------------------------------------
# Corpus datasheet: the one-row-per-metric data card a dataset release
# ships with (docs/sources/langs, token+char mass, empty docs, exact
# normalized-text duplicates, dup rate, mean doc tokens) — ALL from
# ONE wide scan-aggregate (plus the distinct-hash reduction inside
# it), unpivoted with stack(). Every count is exact integer; the two
# ratios are single dround-pinned divisions; integer values emit as
# exactly-representable doubles so the (metric, value) frame has one
# uniform type.
# --------------------------------------------------------------------------

_DS_TOK = "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))"
_DS_HASH = "sha256(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))))"


@query(
    "corpus_datasheet",
    oracle=f"""
WITH wide AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM({_DS_TOK}) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN text IS NULL OR LENGTH(TRIM(text)) = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_docs,
           CAST(COUNT({_DS_HASH}) AS BIGINT) AS n_hashed,
           CAST(COUNT(DISTINCT {_DS_HASH}) AS BIGINT) AS n_distinct
    FROM documents
)
SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM wide
UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM wide
UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM wide
UNION ALL SELECT 'total_tokens', CAST(total_tokens AS DOUBLE) FROM wide
UNION ALL SELECT 'total_chars', CAST(total_chars AS DOUBLE) FROM wide
UNION ALL SELECT 'n_empty_docs', CAST(n_empty_docs AS DOUBLE) FROM wide
UNION ALL SELECT 'n_dup_docs', CAST(n_hashed - n_distinct AS DOUBLE)
    FROM wide
UNION ALL SELECT 'dup_doc_rate',
    CASE WHEN n_hashed > 0 THEN
        {sql_dround("(n_hashed - n_distinct) * 1.0 / n_hashed", 6)}
    END FROM wide
UNION ALL SELECT 'mean_doc_tokens',
    CASE WHEN n_docs > 0 THEN
        {sql_dround("total_tokens * 1.0 / n_docs", 4)}
    END FROM wide
""",
)
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset data card: 9 (metric, value) rows from one wide agg.

    Scale: one scan with map-side partial aggregation; the two
    COUNT(DISTINCT) legs expand to the standard two-phase plan over
    source/lang (tiny) and the content-hash space (key-grain). No
    per-metric rescans (the medallion stack() discipline).
    """
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    norm = F.sha2(
        F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), 256
    )
    empty = F.when(
        F.col("text").isNull() | (F.length(F.trim("text")) == 0), 1
    ).otherwise(0)
    wide = docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(T.token_count("text")).cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(empty).cast("bigint").alias("n_empty_docs"),
        F.count(norm).alias("n_hashed"),
        F.countDistinct(norm).alias("n_distinct"),
    )
    dup_rate = F.when(
        F.col("n_hashed") > 0,
        dround(
            (F.col("n_hashed") - F.col("n_distinct"))
            * 1.0
            / F.col("n_hashed"),
            6,
        ),
    )
    mean_tok = F.when(
        F.col("n_docs") > 0,
        dround(F.col("total_tokens") * 1.0 / F.col("n_docs"), 4),
    )
    enriched = wide.select(
        "*",
        (F.col("n_hashed") - F.col("n_distinct")).alias("n_dup_docs"),
        dup_rate.alias("dup_doc_rate"),
        mean_tok.alias("mean_doc_tokens"),
    )
    return enriched.selectExpr(
        """stack(9,
            'n_docs', CAST(n_docs AS DOUBLE),
            'n_sources', CAST(n_sources AS DOUBLE),
            'n_langs', CAST(n_langs AS DOUBLE),
            'total_tokens', CAST(total_tokens AS DOUBLE),
            'total_chars', CAST(total_chars AS DOUBLE),
            'n_empty_docs', CAST(n_empty_docs AS DOUBLE),
            'n_dup_docs', CAST(n_dup_docs AS DOUBLE),
            'dup_doc_rate', dup_doc_rate,
            'mean_doc_tokens', mean_doc_tokens
        ) AS (metric, value)"""
    )


# --------------------------------------------------------------------------
# Gains / lift table for the logistic quality classifier against the
# prefix-cluster dup truth: rank docs by score DESC, cut rank deciles,
# and report each decile's cumulative dup capture (gains) and lift vs
# random — the campaign-targeting view beside the reliability bins
# (calibration) and AUC (separability). Works on the DISTINCT-SCORE
# grain (an aggregate, so the single cumulative window is lint-legal
# and bounded by the x1e6 quantization); a tied-score group belongs
# wholly to the decile of its first-ranked member (documented, exact:
# decile = FLOOR(cum_before * 10 / n)).
# --------------------------------------------------------------------------


@query(
    "classifier_gains_lift_table",
    oracle=f"""
WITH feats AS (
    SELECT sha256(substring(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), 1, 80))
               AS content_hash,
           len(string_split_regex(TRIM(text), '\\s+')) AS wc,
           LENGTH(REGEXP_REPLACE(text, '\\s', '', 'g')) * 1.0
               / len(string_split_regex(TRIM(text), '\\s+')) AS awl,
           len(list_distinct(string_split_regex(TRIM(text), '\\s+'))) * 1.0
               / len(string_split_regex(TRIM(text), '\\s+')) AS dwr
    FROM documents
    WHERE text IS NOT NULL
),
scored AS (
    SELECT content_hash,
           {sql_qround(f'1.0 / (1.0 + exp(-({_QC_W0} + {_QC_W_WC} * wc'
                       f' + {_QC_W_AWL} * awl + {_QC_W_DWR} * dwr)))', 6)} AS sq
    FROM feats
),
labeled AS (
    SELECT sq,
           CASE WHEN COUNT(*) OVER (PARTITION BY content_hash) >= 2
                THEN 1 ELSE 0 END AS pos
    FROM scored
),
grp AS (
    SELECT sq, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(pos) AS BIGINT) AS npos
    FROM labeled GROUP BY 1
),
ranked AS (
    SELECT sq, cnt, npos,
           CAST(COALESCE(SUM(cnt) OVER (ORDER BY sq DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before,
           CAST(SUM(cnt) OVER () AS BIGINT) AS n,
           CAST(SUM(npos) OVER () AS BIGINT) AS total_pos
    FROM grp
),
dec AS (
    SELECT CAST(FLOOR(cum_before * 10.0 / n) AS BIGINT) AS decile,
           cnt, npos, n, total_pos
    FROM ranked
),
agg AS (
    SELECT decile,
           CAST(SUM(cnt) AS BIGINT) AS n_docs,
           CAST(SUM(npos) AS BIGINT) AS n_dups,
           MAX(n) AS n, MAX(total_pos) AS total_pos
    FROM dec GROUP BY 1
),
cum AS (
    SELECT decile, n_docs, n_dups, n, total_pos,
           CAST(SUM(n_docs) OVER w AS BIGINT) AS cum_docs,
           CAST(SUM(n_dups) OVER w AS BIGINT) AS cum_dups
    FROM agg
    WINDOW w AS (ORDER BY decile)
)
SELECT CAST(decile AS INTEGER) AS decile, n_docs, n_dups,
       CASE WHEN total_pos > 0 THEN
           {sql_dround("cum_dups * 1.0 / total_pos", 6)}
       END AS cum_gain,
       CASE WHEN total_pos > 0 AND cum_docs > 0 THEN
           {sql_dround(
               "cum_dups * 1.0 * n / (cum_docs * 1.0 * total_pos)", 6)}
       END AS cum_lift
FROM cum
""",
)
def classifier_gains_lift_table(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    ws = T.words("text")
    wc = F.size(ws)
    awl = (
        F.length(F.regexp_replace(F.col("text"), r"\s", "")) * 1.0 / F.size(ws)
    )
    dwr = F.size(F.array_distinct(ws)) * 1.0 / F.size(ws)
    z = (
        F.lit(_QC_W0)
        + F.lit(_QC_W_WC) * wc
        + F.lit(_QC_W_AWL) * awl
        + F.lit(_QC_W_DWR) * dwr
    )
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    scored = docs.filter(F.col("text").isNotNull()).select(
        F.sha2(F.substring(norm, 1, 80), 256).alias("content_hash"),
        qround(1.0 / (1.0 + F.exp(-z)), 6)
        .alias("sq"),
    )
    wdup = Window.partitionBy("content_hash")
    labeled = scored.select(
        "sq",
        F.when(F.count("*").over(wdup) >= 2, 1).otherwise(0).alias("pos"),
    )
    grp = labeled.groupBy("sq").agg(
        F.count("*").alias("cnt"),
        F.sum("pos").cast("bigint").alias("npos"),
    )
    wr = (
        Window.partitionBy(F.lit(0))
        .orderBy(F.desc("sq"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wall = Window.partitionBy(F.lit(0))
    ranked = grp.select(
        "sq",
        "cnt",
        "npos",
        F.coalesce(F.sum("cnt").over(wr), F.lit(0))
        .cast("bigint")
        .alias("cum_before"),
        F.sum("cnt").over(wall).cast("bigint").alias("n"),
        F.sum("npos").over(wall).cast("bigint").alias("total_pos"),
    )
    dec = ranked.select(
        F.floor(F.col("cum_before") * 10.0 / F.col("n"))
        .cast("bigint")
        .alias("decile"),
        "cnt",
        "npos",
        "n",
        "total_pos",
    )
    agg = dec.groupBy("decile").agg(
        F.sum("cnt").cast("bigint").alias("n_docs"),
        F.sum("npos").cast("bigint").alias("n_dups"),
        F.max("n").alias("n"),
        F.max("total_pos").alias("total_pos"),
    )
    wc2 = Window.partitionBy(F.lit(0)).orderBy("decile")
    cum = agg.select(
        "*",
        F.sum("n_docs").over(wc2).cast("bigint").alias("cum_docs"),
        F.sum("n_dups").over(wc2).cast("bigint").alias("cum_dups"),
    )
    return cum.select(
        F.col("decile").cast("int").alias("decile"),
        "n_docs",
        "n_dups",
        F.when(
            F.col("total_pos") > 0,
            dround(F.col("cum_dups") * 1.0 / F.col("total_pos"), 6),
        ).alias("cum_gain"),
        F.when(
            (F.col("total_pos") > 0) & (F.col("cum_docs") > 0),
            dround(
                F.col("cum_dups")
                * 1.0
                * F.col("n")
                / (F.col("cum_docs") * 1.0 * F.col("total_pos")),
                6,
            ),
        ).alias("cum_lift"),
    )


# --------------------------------------------------------------------------
# Average precision (area under the precision-recall curve, exact
# step form) of the quality score against dup truth — the
# rare-positive companion to classifier_auc_dup_separation: AUC is
# prevalence-blind, AP is what a triage queue actually experiences.
# Tie-exact: blocks are DISTINCT score groups descending; after block
# g with npos_g positives, AP = Σ_g (npos_g / n⁺) · P_g where
# P_g = cumTP_g / cumAll_g (sklearn's step definition, no
# interpolation). Each block term quantizes to an integer micro
# BEFORE the global sum, so the reduce is an exact bigint sum —
# order-independent on any cluster. Random-classifier baseline =
# prevalence, reported alongside.
# Same scale posture as the AUC/gains queries: map-only scoring, one
# content-hash window for truth, then everything on the
# distinct-score grain (bounded by the x1e6 quantization).
# --------------------------------------------------------------------------


@query(
    "classifier_average_precision",
    oracle=f"""
WITH feats AS (
    SELECT sha256(substring(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), 1, 80))
               AS content_hash,
           len(string_split_regex(TRIM(text), '\\s+')) AS wc,
           LENGTH(REGEXP_REPLACE(text, '\\s', '', 'g')) * 1.0
               / len(string_split_regex(TRIM(text), '\\s+')) AS awl,
           len(list_distinct(string_split_regex(TRIM(text), '\\s+'))) * 1.0
               / len(string_split_regex(TRIM(text), '\\s+')) AS dwr
    FROM documents
    WHERE text IS NOT NULL
),
scored AS (
    SELECT content_hash,
           {sql_qround(f'1.0 / (1.0 + exp(-({_QC_W0} + {_QC_W_WC} * wc'
                       f' + {_QC_W_AWL} * awl + {_QC_W_DWR} * dwr)))', 6)} AS sq
    FROM feats
),
labeled AS (
    SELECT sq,
           CASE WHEN COUNT(*) OVER (PARTITION BY content_hash) >= 2
                THEN 1 ELSE 0 END AS pos
    FROM scored
),
grp AS (
    SELECT sq, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(pos) AS BIGINT) AS npos
    FROM labeled GROUP BY 1
),
cum AS (
    SELECT sq, cnt, npos,
           CAST(SUM(cnt) OVER (ORDER BY sq DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_all,
           CAST(SUM(npos) OVER (ORDER BY sq DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_tp
    FROM grp
),
s AS (
    SELECT CAST(SUM(CAST(FLOOR(
               npos * cum_tp * 1000000.0 / cum_all + 0.5) AS BIGINT))
               AS BIGINT) AS ap_num,
           CAST(SUM(npos) AS BIGINT) AS n1,
           CAST(SUM(cnt - npos) AS BIGINT) AS n0
    FROM cum
)
SELECT n1 AS n_dups, n0 AS n_uniques,
       CASE WHEN n1 > 0 THEN
           {sql_dround("ap_num * 1.0 / n1 / 1000000.0", 6)}
       END AS average_precision,
       CASE WHEN n1 + n0 > 0 THEN
           {sql_dround("n1 * 1.0 / (n1 + n0)", 6)}
       END AS random_baseline
FROM s
""",
)
def classifier_average_precision(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tie-exact step-form AP of the logistic score vs dup truth."""
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    ws = T.words("text")
    wc = F.size(ws)
    awl = (
        F.length(F.regexp_replace(F.col("text"), r"\s", ""))
        * 1.0
        / F.size(ws)
    )
    dwr = F.size(F.array_distinct(ws)) * 1.0 / F.size(ws)
    z = (
        F.lit(_QC_W0)
        + F.lit(_QC_W_WC) * wc
        + F.lit(_QC_W_AWL) * awl
        + F.lit(_QC_W_DWR) * dwr
    )
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    scored = docs.filter(F.col("text").isNotNull()).select(
        F.sha2(F.substring(norm, 1, 80), 256).alias("content_hash"),
        qround(1.0 / (1.0 + F.exp(-z)), 6)
        .alias("sq"),
    )
    wdup = Window.partitionBy("content_hash")
    labeled = scored.select(
        "sq",
        F.when(F.count("*").over(wdup) >= 2, 1).otherwise(0).alias("pos"),
    )
    grp = labeled.groupBy("sq").agg(
        F.count("*").alias("cnt"),
        F.sum("pos").cast("bigint").alias("npos"),
    )
    wcum = Window.orderBy(F.desc("sq")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = grp.select(
        "cnt",
        "npos",
        F.sum("cnt").over(wcum).cast("bigint").alias("cum_all"),
        F.sum("npos").over(wcum).cast("bigint").alias("cum_tp"),
    )
    s = cum.agg(
        F.sum(
            F.floor(
                F.col("npos")
                * F.col("cum_tp")
                * 1000000.0
                / F.col("cum_all")
                + 0.5
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("ap_num"),
        F.sum("npos").cast("bigint").alias("n1"),
        F.sum(F.col("cnt") - F.col("npos")).cast("bigint").alias("n0"),
    )
    return s.select(
        F.col("n1").alias("n_dups"),
        F.col("n0").alias("n_uniques"),
        F.when(
            F.col("n1") > 0,
            dround(
                F.col("ap_num") * 1.0 / F.col("n1") / 1000000.0, 6
            ),
        ).alias("average_precision"),
        F.when(
            (F.col("n1") + F.col("n0")) > 0,
            dround(
                F.col("n1") * 1.0 / (F.col("n1") + F.col("n0")), 6
            ),
        ).alias("random_baseline"),
    )


# --------------------------------------------------------------------------
# Operating-point sweep (precision / recall / F1 by threshold) of the
# logistic quality score against dup truth — the deployment-side
# companion to classifier_average_precision: AP summarizes the whole
# curve, this table is what picking an actual filter cutoff needs.
# 19 fixed thresholds spanning the score's observed support
# (0.55..0.73; the logistic with the pinned weights concentrates
# there). TP/PP/n⁺ are exact integer sums on the distinct-score grain;
# P/R/F1 are final-division-only, dround-pinned. The Spark side is ONE
# wide aggregate (38 conditional sums) unpivoted with stack() — the
# plan-construction discipline from CLAUDE.md r4 (no 19-way union) —
# while the oracle cross-joins a VALUES spine; the hash match proves
# the wide-agg+stack rewrite.
#
# Scale: map-only scoring + one content-hash window for truth + one
# aggregate; threshold fan-out touches only the single agg row.
# --------------------------------------------------------------------------

_TS_TAUS = list(range(550, 740, 10))  # 0.55 .. 0.73 in 0.01 steps


@query(
    "classifier_threshold_sweep",
    oracle=f"""
WITH feats AS (
    SELECT sha256(substring(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), 1, 80))
               AS content_hash,
           len(string_split_regex(TRIM(text), '\\s+')) AS wc,
           LENGTH(REGEXP_REPLACE(text, '\\s', '', 'g')) * 1.0
               / len(string_split_regex(TRIM(text), '\\s+')) AS awl,
           len(list_distinct(string_split_regex(TRIM(text), '\\s+'))) * 1.0
               / len(string_split_regex(TRIM(text), '\\s+')) AS dwr
    FROM documents
    WHERE text IS NOT NULL
),
scored AS (
    SELECT content_hash,
           {sql_qround(f'1.0 / (1.0 + exp(-({_QC_W0} + {_QC_W_WC} * wc'
                       f' + {_QC_W_AWL} * awl + {_QC_W_DWR} * dwr)))', 6)} AS sq
    FROM feats
),
labeled AS (
    SELECT sq,
           CASE WHEN COUNT(*) OVER (PARTITION BY content_hash) >= 2
                THEN 1 ELSE 0 END AS pos
    FROM scored
),
grp AS (
    SELECT sq, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(pos) AS BIGINT) AS npos
    FROM labeled GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(npos) AS BIGINT) AS n1, CAST(SUM(cnt) AS BIGINT) AS n
    FROM grp
),
taus(tau_milli) AS (VALUES {", ".join(f"({t})" for t in _TS_TAUS)}),
sweep AS (
    SELECT t.tau_milli,
           CAST(COALESCE(SUM(g.npos) FILTER (
               WHERE g.sq >= t.tau_milli * 1000), 0) AS BIGINT) AS tp,
           CAST(COALESCE(SUM(g.cnt) FILTER (
               WHERE g.sq >= t.tau_milli * 1000), 0) AS BIGINT) AS pp
    FROM taus t CROSS JOIN grp g
    GROUP BY 1
)
SELECT CAST(s.tau_milli AS BIGINT) AS tau_milli, s.pp AS n_pred_pos,
       s.tp,
       CASE WHEN s.pp > 0 THEN
           {sql_dround('s.tp * 1.0 / s.pp', 6)} END AS precision,
       CASE WHEN t.n1 > 0 THEN
           {sql_dround('s.tp * 1.0 / t.n1', 6)} END AS recall,
       CASE WHEN s.pp + t.n1 > 0 THEN
           {sql_dround('2.0 * s.tp / (s.pp + t.n1)', 6)} END AS f1
FROM sweep s CROSS JOIN tot t
""",
)
def classifier_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """P/R/F1 at 19 fixed cutoffs via one wide agg + stack unpivot."""
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    ws = T.words("text")
    wc = F.size(ws)
    awl = (
        F.length(F.regexp_replace(F.col("text"), r"\s", ""))
        * 1.0
        / F.size(ws)
    )
    dwr = F.size(F.array_distinct(ws)) * 1.0 / F.size(ws)
    z = (
        F.lit(_QC_W0)
        + F.lit(_QC_W_WC) * wc
        + F.lit(_QC_W_AWL) * awl
        + F.lit(_QC_W_DWR) * dwr
    )
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    scored = docs.filter(F.col("text").isNotNull()).select(
        F.sha2(F.substring(norm, 1, 80), 256).alias("content_hash"),
        qround(1.0 / (1.0 + F.exp(-z)), 6)
        .alias("sq"),
    )
    wdup = Window.partitionBy("content_hash")
    labeled = scored.select(
        "sq",
        F.when(F.count("*").over(wdup) >= 2, 1).otherwise(0).alias("pos"),
    )
    grp = labeled.groupBy("sq").agg(
        F.count("*").alias("cnt"),
        F.sum("pos").cast("bigint").alias("npos"),
    )
    aggs = [
        F.sum("npos").cast("bigint").alias("n1"),
        F.sum("cnt").cast("bigint").alias("n"),
    ]
    for t in _TS_TAUS:
        hit = F.col("sq") >= t * 1000
        aggs.append(
            F.coalesce(F.sum(F.when(hit, F.col("npos"))), F.lit(0))
            .cast("bigint")
            .alias(f"tp{t}")
        )
        aggs.append(
            F.coalesce(F.sum(F.when(hit, F.col("cnt"))), F.lit(0))
            .cast("bigint")
            .alias(f"pp{t}")
        )
    wide = grp.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({t} AS BIGINT), tp{t}, pp{t}" for t in _TS_TAUS
    )
    rows = wide.selectExpr(
        "n1",
        f"stack({len(_TS_TAUS)}, {stack_args}) AS (tau_milli, tp, pp)",
    )
    return rows.select(
        "tau_milli",
        F.col("pp").alias("n_pred_pos"),
        "tp",
        F.when(
            F.col("pp") > 0,
            dround(F.col("tp") * 1.0 / F.col("pp"), 6),
        ).alias("precision"),
        F.when(
            F.col("n1") > 0,
            dround(F.col("tp") * 1.0 / F.col("n1"), 6),
        ).alias("recall"),
        F.when(
            F.col("pp") + F.col("n1") > 0,
            dround(2.0 * F.col("tp") / (F.col("pp") + F.col("n1")), 6),
        ).alias("f1"),
    )


# --------------------------------------------------------------------------
# RAKE keyword extraction (Rose et al. 2010) — corpus-level rapid
# automatic keyword extraction: candidate phrases are maximal runs of
# non-stopword tokens (boundaries at the Gopher stopword set), word
# scores are degree/frequency over all candidate occurrences, and a
# phrase scores the sum of its member words. Segment ids come from a
# per-doc prefix count of stopword positions (parallel per-doc
# windows, no global sort); phrases assemble order-exactly on both
# engines (Spark array_sort(collect_list(struct(pos,tok))) vs DuckDB
# string_agg ORDER BY pos). deg/freq stay exact ints and the word
# score quantizes to ×1e6 BEFORE the phrase sum, so phrase scores are
# exact integer sums; top-50 is fully tie-broken (score DESC, phrase).
#
# Scale: token-grain explode → (doc,seg) and word-grain groupBys —
# linear shuffles; the RAKE phrase cap (≤4 tokens) bounds phrase
# length, and scoring joins are word-grain (vocabulary-sized).
# --------------------------------------------------------------------------


@query(
    "rake_keyword_extraction",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(TRIM(text), ' ')) AS tok,
           unnest(range(1, len(string_split(TRIM(text), ' ')) + 1))
               AS pos
    FROM documents WHERE text IS NOT NULL AND LENGTH(text) >= 3
),
seg AS (
    SELECT doc_id, pos, tok,
           tok IN ({", ".join(f"'{s}'" for s in _GOPHER_STOPWORDS)})
               AS is_stop,
           SUM(CASE WHEN tok IN ({", ".join(f"'{s}'" for s in _GOPHER_STOPWORDS)})
               THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS sid
    FROM toks
),
cand AS (
    SELECT doc_id, sid, pos, tok,
           CAST(COUNT(*) OVER (PARTITION BY doc_id, sid) AS BIGINT)
               AS plen
    FROM seg WHERE NOT is_stop
),
kept AS (SELECT * FROM cand WHERE plen <= 4),
wscore AS (
    SELECT tok,
           CAST(FLOOR(CAST(SUM(plen) AS BIGINT) * 1000000.0 / COUNT(*)
               + 0.5) AS BIGINT) AS ws
    FROM kept GROUP BY 1
),
phr AS (
    SELECT k.doc_id, k.sid,
           string_agg(k.tok, ' ' ORDER BY k.pos) AS phrase,
           CAST(MAX(k.plen) AS BIGINT) AS n_words,
           CAST(SUM(w.ws) AS BIGINT) AS score_micro
    FROM kept k JOIN wscore w ON w.tok = k.tok
    GROUP BY 1, 2
),
ptype AS (
    SELECT phrase, MAX(n_words) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           MAX(score_micro) AS score_micro
    FROM phr GROUP BY 1
)
SELECT phrase, n_words, n_occurrences,
       {sql_dround('score_micro / 1000000.0', 6)} AS rake_score
FROM ptype
ORDER BY score_micro DESC, phrase
LIMIT 50
""",
)
def rake_keyword_extraction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-50 RAKE phrases (deg/freq word scores, ≤4-token runs)."""
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    stop = [F.lit(s) for s in _GOPHER_STOPWORDS]
    toks = (
        docs.filter(
            F.col("text").isNotNull() & (F.length("text") >= 3)
        )
        .select(
            "doc_id",
            F.posexplode(F.split(F.trim(F.col("text")), " ")).alias(
                "pos0", "tok"
            ),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    )
    is_stop = F.col("tok").isin([s for s in _GOPHER_STOPWORDS])
    wdoc = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seg = toks.select(
        "doc_id",
        "pos",
        "tok",
        is_stop.alias("is_stop"),
        F.sum(F.when(is_stop, 1).otherwise(0)).over(wdoc).alias("sid"),
    )
    wseg = Window.partitionBy("doc_id", "sid")
    cand = seg.filter(~F.col("is_stop")).select(
        "doc_id",
        "sid",
        "pos",
        "tok",
        F.count("*").over(wseg).cast("bigint").alias("plen"),
    )
    kept = cand.filter(F.col("plen") <= 4)
    wscore = kept.groupBy("tok").agg(
        F.floor(
            F.sum("plen").cast("bigint") * 1000000.0 / F.count("*") + 0.5
        )
        .cast("bigint")
        .alias("ws")
    )
    phr = (
        kept.join(wscore, "tok")
        .groupBy("doc_id", "sid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "tok"))
                    ),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("phrase"),
            F.max("plen").cast("bigint").alias("n_words"),
            F.sum("ws").cast("bigint").alias("score_micro"),
        )
    )
    ptype = phr.groupBy("phrase").agg(
        F.max("n_words").alias("n_words"),
        F.count("*").cast("bigint").alias("n_occurrences"),
        F.max("score_micro").alias("score_micro"),
    )
    top = ptype.orderBy(
        F.desc("score_micro"), "phrase"
    ).limit(50)
    return top.select(
        "phrase",
        "n_words",
        "n_occurrences",
        dround(F.col("score_micro") / 1000000.0, 6).alias("rake_score"),
    )


# --------------------------------------------------------------------------
# Brier score decomposition (Murphy 1973) of the logistic quality
# score against dup truth — Brier = REL − RES + UNC, the proper-score
# companion to classifier_reliability_bins (which eyeballs calibration)
# and AUC/AP (which ignore it). The EXACT Brier comes from pure
# integer moments (Σsq², Σsq·pos, Σpos — sq is the ×1e6 score), so it
# needs no binning at all; the decomposition uses 0.1-wide bins with
# bin-mean forecasts, and the reported residual (= within-bin forecast
# variance) closes the identity Brier = REL − RES + UNC + residual —
# a built-in self-check that also quantifies what the binning itself
# blurs. Per-bin REL/RES terms quantize to ×1e9 ints before the
# cross-bin sum, so every reduce is exact.
#
# Scale: map-only scoring + one content-hash window + an 11-row bin
# grain; the global moments ride the same single aggregate.
# --------------------------------------------------------------------------


@query(
    "brier_score_decomposition",
    oracle=f"""
WITH feats AS (
    SELECT sha256(substring(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), 1, 80))
               AS content_hash,
           len(string_split_regex(TRIM(text), '\\s+')) AS wc,
           LENGTH(REGEXP_REPLACE(text, '\\s', '', 'g')) * 1.0
               / len(string_split_regex(TRIM(text), '\\s+')) AS awl,
           len(list_distinct(string_split_regex(TRIM(text), '\\s+'))) * 1.0
               / len(string_split_regex(TRIM(text), '\\s+')) AS dwr
    FROM documents
    WHERE text IS NOT NULL
),
scored AS (
    SELECT content_hash,
           {sql_qround(f'1.0 / (1.0 + exp(-({_QC_W0} + {_QC_W_WC} * wc'
                       f' + {_QC_W_AWL} * awl + {_QC_W_DWR} * dwr)))', 6)} AS sq
    FROM feats
),
labeled AS (
    SELECT sq,
           CASE WHEN COUNT(*) OVER (PARTITION BY content_hash) >= 2
                THEN 1 ELSE 0 END AS pos
    FROM scored
),
bins AS (
    SELECT CAST(FLOOR(sq / 100000.0) AS BIGINT) AS b,
           CAST(COUNT(*) AS BIGINT) AS nk,
           CAST(SUM(pos) AS BIGINT) AS pk,
           CAST(SUM(sq) AS BIGINT) AS sk,
           CAST(SUM(CAST(sq AS HUGEINT) * sq) AS HUGEINT) AS sqq,
           CAST(SUM(CAST(sq AS HUGEINT) * pos) AS HUGEINT) AS sqp
    FROM labeled GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(nk) AS BIGINT) AS n, CAST(SUM(pk) AS BIGINT) AS p,
           CAST(SUM(sqq) AS HUGEINT) AS sqq,
           CAST(SUM(sqp) AS HUGEINT) AS sqp
    FROM bins
),
terms AS (
    SELECT b.nk, b.pk,
           {sql_qround('b.nk * (b.sk * 1.0 / b.nk / 1000000.0'
                       ' - b.pk * 1.0 / b.nk)'
                       ' * (b.sk * 1.0 / b.nk / 1000000.0'
                       ' - b.pk * 1.0 / b.nk)', 9)} AS rel9,
           {sql_qround('b.nk * (b.pk * 1.0 / b.nk - t.p * 1.0 / t.n)'
                       ' * (b.pk * 1.0 / b.nk - t.p * 1.0 / t.n)', 9)} AS res9,
           t.n, t.p, t.sqq, t.sqp
    FROM bins b CROSS JOIN tot t
),
agg AS (
    SELECT MAX(n) AS n, MAX(p) AS p,
           CAST(SUM(rel9) AS BIGINT) AS rel_s,
           CAST(SUM(res9) AS BIGINT) AS res_s,
           MAX(sqq) AS sqq, MAX(sqp) AS sqp,
           CAST(COUNT(*) AS BIGINT) AS n_bins
    FROM terms
)
SELECT n AS n_docs, p AS n_pos, n_bins,
       {sql_dround('''(CAST(sqq AS DOUBLE) - 2000000.0 * CAST(sqp AS DOUBLE)
        + 1000000000000.0 * p) / n / 1000000000000.0''', 6)} AS brier,
       {sql_dround('rel_s * 1.0 / n / 1000000000.0', 6)} AS reliability,
       {sql_dround('res_s * 1.0 / n / 1000000000.0', 6)} AS resolution,
       {sql_dround('''(p * 1.0 / n) * (1.0 - p * 1.0 / n)''', 6)}
           AS uncertainty,
       {sql_dround('''(CAST(sqq AS DOUBLE) - 2000000.0 * CAST(sqp AS DOUBLE)
        + 1000000000000.0 * p) / n / 1000000000000.0
        - (rel_s * 1.0 / n / 1000000000.0
           - res_s * 1.0 / n / 1000000000.0
           + (p * 1.0 / n) * (1.0 - p * 1.0 / n))''', 6)}
           AS within_bin_residual
FROM agg
""",
)
def brier_score_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Murphy decomposition with exact integer moments + closure check."""
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    ws = T.words("text")
    wc = F.size(ws)
    awl = (
        F.length(F.regexp_replace(F.col("text"), r"\s", ""))
        * 1.0
        / F.size(ws)
    )
    dwr = F.size(F.array_distinct(ws)) * 1.0 / F.size(ws)
    z = (
        F.lit(_QC_W0)
        + F.lit(_QC_W_WC) * wc
        + F.lit(_QC_W_AWL) * awl
        + F.lit(_QC_W_DWR) * dwr
    )
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    scored = docs.filter(F.col("text").isNotNull()).select(
        F.sha2(F.substring(norm, 1, 80), 256).alias("content_hash"),
        qround(1.0 / (1.0 + F.exp(-z)), 6)
        .alias("sq"),
    )
    wdup = Window.partitionBy("content_hash")
    labeled = scored.select(
        "sq",
        F.when(F.count("*").over(wdup) >= 2, 1).otherwise(0).alias("pos"),
    )
    bins = labeled.groupBy(
        F.floor(F.col("sq") / 100000.0).cast("bigint").alias("b")
    ).agg(
        F.count("*").cast("bigint").alias("nk"),
        F.sum("pos").cast("bigint").alias("pk"),
        F.sum("sq").cast("bigint").alias("sk"),
        F.sum(F.col("sq").cast("decimal(38,0)") * F.col("sq")).alias(
            "sqq"
        ),
        F.sum(F.col("sq").cast("decimal(38,0)") * F.col("pos")).alias(
            "sqp"
        ),
    )
    tot = bins.agg(
        F.sum("nk").cast("bigint").alias("n"),
        F.sum("pk").cast("bigint").alias("p"),
        F.sum("sqq").alias("t_sqq"),
        F.sum("sqp").alias("t_sqp"),
    )
    fbar = F.col("sk") * 1.0 / F.col("nk") / 1000000.0
    obar_k = F.col("pk") * 1.0 / F.col("nk")
    obar = F.col("p") * 1.0 / F.col("n")
    terms = bins.join(F.broadcast(tot)).select(
        qround(
            F.col("nk") * (fbar - obar_k) * (fbar - obar_k), 9
        )
        .alias("rel9"),
        qround(
            F.col("nk") * (obar_k - obar) * (obar_k - obar), 9
        )
        .alias("res9"),
        "n",
        "p",
        "t_sqq",
        "t_sqp",
    )
    agg = terms.agg(
        F.max("n").alias("n"),
        F.max("p").alias("p"),
        F.sum("rel9").cast("bigint").alias("rel_s"),
        F.sum("res9").cast("bigint").alias("res_s"),
        F.max("t_sqq").alias("sqq"),
        F.max("t_sqp").alias("sqp"),
        F.count("*").cast("bigint").alias("n_bins"),
    )
    brier = (
        F.col("sqq").cast("double")
        - 2000000.0 * F.col("sqp").cast("double")
        + 1000000000000.0 * F.col("p")
    ) / F.col("n") / 1000000000000.0
    rel = F.col("rel_s") * 1.0 / F.col("n") / 1000000000.0
    res = F.col("res_s") * 1.0 / F.col("n") / 1000000000.0
    unc = (F.col("p") * 1.0 / F.col("n")) * (
        1.0 - F.col("p") * 1.0 / F.col("n")
    )
    return agg.select(
        F.col("n").alias("n_docs"),
        F.col("p").alias("n_pos"),
        "n_bins",
        dround(brier, 6).alias("brier"),
        dround(rel, 6).alias("reliability"),
        dround(res, 6).alias("resolution"),
        dround(unc, 6).alias("uncertainty"),
        dround(brier - (rel - res + unc), 6).alias(
            "within_bin_residual"
        ),
    )


# --------------------------------------------------------------------------
# Isotonic calibration of the quality classifier via PAV — the minimax
# (max-min) characterization of the pool-adjacent-violators fit, computed
# on a BOUNDED score-bin grain so the B^2 grid is O(1) w.r.t. corpus size.
# --------------------------------------------------------------------------


@query(
    "isotonic_calibration_pav",
    oracle=f"""
WITH feats AS (
    SELECT sha256(substring(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), 1, 80))
               AS content_hash,
           len(string_split_regex(TRIM(text), '\\s+')) AS wc,
           LENGTH(REGEXP_REPLACE(text, '\\s', '', 'g')) * 1.0
               / len(string_split_regex(TRIM(text), '\\s+')) AS awl,
           len(list_distinct(string_split_regex(TRIM(text), '\\s+'))) * 1.0
               / len(string_split_regex(TRIM(text), '\\s+')) AS dwr
    FROM documents
    WHERE text IS NOT NULL
),
scored AS (
    SELECT content_hash,
           {sql_qround(f'1.0 / (1.0 + exp(-({_QC_W0} + {_QC_W_WC} * wc'
                       f' + {_QC_W_AWL} * awl + {_QC_W_DWR} * dwr)))', 6)} AS sq
    FROM feats
),
labeled AS (
    SELECT sq,
           CASE WHEN COUNT(*) OVER (PARTITION BY content_hash) >= 2
                THEN 1 ELSE 0 END AS pos
    FROM scored
),
bins AS (
    SELECT CAST(FLOOR(sq / 1000.0) AS BIGINT) AS b,
           CAST(COUNT(*) AS BIGINT) AS nk,
           CAST(SUM(pos) AS BIGINT) AS pk,
           CAST(SUM(sq) AS BIGINT) AS sk
    FROM labeled GROUP BY 1
),
pre AS (
    SELECT b, nk, pk, sk,
           CAST(SUM(nk) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn,
           CAST(SUM(pk) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp
    FROM bins
),
grid AS (
    SELECT j.b AS jb, j.nk AS jn, j.pk AS jp, j.sk AS js,
           k.b AS kb,
           (k.cp - j.cp + j.pk) * 1.0 / (k.cn - j.cn + j.nk) AS g
    FROM pre j JOIN pre k ON j.b <= k.b
),
smin AS (
    SELECT jb, jn, jp, js, kb,
           MIN(g) OVER (PARTITION BY jb ORDER BY kb DESC
                        ROWS UNBOUNDED PRECEDING) AS s
    FROM grid
),
fmax AS (
    SELECT jb, jn, jp, js, kb,
           MAX(s) OVER (PARTITION BY kb ORDER BY jb
                        ROWS UNBOUNDED PRECEDING) AS f
    FROM smin
),
fit AS (
    SELECT jb AS b, jn AS nk, jp AS pk, js AS sk, f
    FROM fmax WHERE jb = kb
),
terms AS (
    SELECT b, nk, pk, sk, f,
           {sql_qround('ABS(sk * 1.0 / nk / 1000000.0 - pk * 1.0 / nk) * nk', 9)} AS raw9,
           {sql_qround('ABS(f - pk * 1.0 / nk) * nk', 9)} AS iso9,
           {sql_qround('f * nk', 9)} AS fm9
    FROM fit
)
SELECT b, nk, pk,
       {sql_dround('pk * 1.0 / nk', 6)} AS emp_rate,
       {sql_dround('sk * 1.0 / nk / 1000000.0', 6)} AS avg_score,
       {sql_dround('f', 6)} AS iso_rate,
       {sql_dround('CAST(SUM(raw9) OVER () AS DOUBLE) * 1.0 '
                   '/ CAST(SUM(nk) OVER () AS DOUBLE) / 1000000000.0', 6)}
           AS ece_raw,
       {sql_dround('CAST(SUM(iso9) OVER () AS DOUBLE) * 1.0 '
                   '/ CAST(SUM(nk) OVER () AS DOUBLE) / 1000000000.0', 6)}
           AS ece_iso,
       CAST(SUM(fm9) OVER () - SUM(pk) OVER () * 1000000000 AS BIGINT)
           AS mass_gap9
FROM terms
""",
)
def isotonic_calibration_pav(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Isotonic (PAV) calibration of the logistic quality score against
    dup truth, via the minimax identity fit(i) = max_{j<=i} min_{k>=i}
    mean(pos over bins j..k).

    Scale: scores quantize onto a FIXED 1e-3 grid, so the bin grain is
    bounded at 1001 rows regardless of corpus size — the B^2 pair grid
    (<=1e6 rows) and the two windows over it are O(1) in the data; the
    only data-sized work is the map-side scoring + one groupBy(bin).
    The two-window decomposition (suffix-min per start-bin, then
    prefix-max per end-bin) replaces the stack-based sequential PAVA
    sweep with shuffle-friendly grid passes. Self-checks: mass_gap9
    pins the PAVA mass-conservation property (sum nk*fit == sum pk, up
    to per-bin 1e-9 rounding); ece_iso <= ece_raw by construction.
    The reference has no calibration op (closest: quality scoring,
    transform.py:1); this extends the classifier family
    (classifier_reliability_bins / brier_score_decomposition).
    """
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    ws = T.words("text")
    wc = F.size(ws)
    awl = (
        F.length(F.regexp_replace(F.col("text"), r"\s", ""))
        * 1.0
        / F.size(ws)
    )
    dwr = F.size(F.array_distinct(ws)) * 1.0 / F.size(ws)
    z = (
        F.lit(_QC_W0)
        + F.lit(_QC_W_WC) * wc
        + F.lit(_QC_W_AWL) * awl
        + F.lit(_QC_W_DWR) * dwr
    )
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    scored = docs.filter(F.col("text").isNotNull()).select(
        F.sha2(F.substring(norm, 1, 80), 256).alias("content_hash"),
        qround(1.0 / (1.0 + F.exp(-z)), 6)
        .alias("sq"),
    )
    wdup = Window.partitionBy("content_hash")
    labeled = scored.select(
        "sq",
        F.when(F.count("*").over(wdup) >= 2, 1).otherwise(0).alias("pos"),
    )
    bins = labeled.groupBy(
        F.floor(F.col("sq") / 1000.0).cast("bigint").alias("b")
    ).agg(
        F.count("*").cast("bigint").alias("nk"),
        F.sum("pos").cast("bigint").alias("pk"),
        F.sum("sq").cast("bigint").alias("sk"),
    )
    # bounded grain (<=1001 rows): a single-task window here is O(1)
    # in the data, not a scale trap
    wpre = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = bins.select(
        "b",
        "nk",
        "pk",
        "sk",
        F.sum("nk").over(wpre).cast("bigint").alias("cn"),
        F.sum("pk").over(wpre).cast("bigint").alias("cp"),
    )
    j = pre.select(
        F.col("b").alias("jb"),
        F.col("nk").alias("jn"),
        F.col("pk").alias("jp"),
        F.col("sk").alias("js"),
        F.col("cn").alias("jcn"),
        F.col("cp").alias("jcp"),
    )
    k = pre.select(
        F.col("b").alias("kb"),
        F.col("cn").alias("kcn"),
        F.col("cp").alias("kcp"),
    )
    grid = j.join(F.broadcast(k), F.col("jb") <= F.col("kb")).select(
        "jb",
        "jn",
        "jp",
        "js",
        "kb",
        (
            (F.col("kcp") - F.col("jcp") + F.col("jp"))
            * 1.0
            / (F.col("kcn") - F.col("jcn") + F.col("jn"))
        ).alias("g"),
    )
    wmin = Window.partitionBy("jb").orderBy(F.col("kb").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    smin = grid.select(
        "jb", "jn", "jp", "js", "kb", F.min("g").over(wmin).alias("s")
    )
    wmax = Window.partitionBy("kb").orderBy("jb").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    fmax = smin.select(
        "jb", "jn", "jp", "js", "kb", F.max("s").over(wmax).alias("f")
    )
    fit = fmax.filter(F.col("jb") == F.col("kb")).select(
        F.col("jb").alias("b"),
        F.col("jn").alias("nk"),
        F.col("jp").alias("pk"),
        F.col("js").alias("sk"),
        "f",
    )
    terms = fit.select(
        "b",
        "nk",
        "pk",
        "sk",
        "f",
        qround(
            F.abs(
                F.col("sk") * 1.0 / F.col("nk") / 1000000.0
                - F.col("pk") * 1.0 / F.col("nk")
            )
            * F.col("nk"),
            9,
        )
        .alias("raw9"),
        qround(
            F.abs(F.col("f") - F.col("pk") * 1.0 / F.col("nk"))
            * F.col("nk"),
            9,
        )
        .alias("iso9"),
        qround(F.col("f") * F.col("nk"), 9)
        .alias("fm9"),
    )
    wall = Window.partitionBy()
    return terms.select(
        "b",
        "nk",
        "pk",
        dround(F.col("pk") * 1.0 / F.col("nk"), 6).alias("emp_rate"),
        dround(F.col("sk") * 1.0 / F.col("nk") / 1000000.0, 6).alias(
            "avg_score"
        ),
        dround(F.col("f"), 6).alias("iso_rate"),
        dround(
            F.sum("raw9").over(wall).cast("double")
            * 1.0
            / F.sum("nk").over(wall).cast("double")
            / 1000000000.0,
            6,
        ).alias("ece_raw"),
        dround(
            F.sum("iso9").over(wall).cast("double")
            * 1.0
            / F.sum("nk").over(wall).cast("double")
            / 1000000000.0,
            6,
        ).alias("ece_iso"),
        (
            F.sum("fm9").over(wall)
            - F.sum("pk").over(wall) * F.lit(1000000000)
        )
        .cast("bigint")
        .alias("mass_gap9"),
    )


# --------------------------------------------------------------------------
# Confident-learning noise matrix (Northcutt et al. 2021) — label-noise
# estimation from predicted probabilities with EXACT integer threshold
# tests (class thresholds are rational means; every comparison is a
# cross-multiplied bigint test, so the confusion counts reproduce at
# any partitioning).
# --------------------------------------------------------------------------


@query(
    "confident_learning_noise",
    oracle=f"""
WITH feats AS (
    SELECT sha256(substring(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), 1, 80))
               AS content_hash,
           len(string_split_regex(TRIM(text), '\\s+')) AS wc,
           LENGTH(REGEXP_REPLACE(text, '\\s', '', 'g')) * 1.0
               / len(string_split_regex(TRIM(text), '\\s+')) AS awl,
           len(list_distinct(string_split_regex(TRIM(text), '\\s+'))) * 1.0
               / len(string_split_regex(TRIM(text), '\\s+')) AS dwr
    FROM documents
    WHERE text IS NOT NULL
),
scored AS (
    SELECT content_hash,
           {sql_qround(f'1.0 / (1.0 + exp(-({_QC_W0} + {_QC_W_WC} * wc'
                       f' + {_QC_W_AWL} * awl + {_QC_W_DWR} * dwr)))', 6)} AS sq
    FROM feats
),
labeled AS (
    SELECT sq,
           CASE WHEN COUNT(*) OVER (PARTITION BY content_hash) >= 2
                THEN 1 ELSE 0 END AS y
    FROM scored
),
cls AS (
    SELECT CAST(COUNT(*) FILTER (WHERE y = 1) AS BIGINT) AS n1,
           CAST(COUNT(*) FILTER (WHERE y = 0) AS BIGINT) AS n0,
           CAST(COALESCE(SUM(sq) FILTER (WHERE y = 1), 0) AS BIGINT) AS s1,
           CAST(COALESCE(SUM(sq) FILTER (WHERE y = 0), 0) AS BIGINT) AS s0,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM labeled
),
conf AS (
    SELECT l.y, l.sq, c.n, c.n0, c.n1,
           (c.n1 > 0 AND l.sq * c.n1 >= c.s1) AS in1,
           (c.n0 > 0 AND c.s0 >= l.sq * c.n0) AS in0
    FROM labeled l CROSS JOIN cls c
),
pred AS (
    SELECT y, n, n0, n1,
           CASE
               WHEN in1 AND in0 THEN CASE WHEN sq >= 500000 THEN 1 ELSE 0 END
               WHEN in1 THEN 1
               WHEN in0 THEN 0
               ELSE -1
           END AS yp
    FROM conf
),
cm AS (
    SELECT y AS y_given, yp AS y_pred,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           MAX(n) AS n, MAX(n0) AS n0, MAX(n1) AS n1
    FROM pred WHERE yp >= 0 GROUP BY 1, 2
),
rowt AS (
    SELECT y_given, y_pred, cnt, n, n0, n1,
           CAST(SUM(cnt) OVER (PARTITION BY y_given) AS BIGINT) AS row_cnt
    FROM cm
)
SELECT y_given, y_pred, cnt,
       {sql_dround('cnt * 1.0 / row_cnt', 6)} AS row_rate,
       {sql_dround('''(cnt * 1.0 / row_cnt)
            * (CASE WHEN y_given = 1 THEN n1 ELSE n0 END * 1.0 / n)''', 6)}
           AS q_joint,
       CAST(n - SUM(cnt) OVER () AS BIGINT) AS n_unconfident,
       {sql_dround('''SUM(CASE WHEN y_given <> y_pred THEN
            (cnt * 1.0 / row_cnt)
            * (CASE WHEN y_given = 1 THEN n1 ELSE n0 END * 1.0 / n)
            ELSE 0.0 END) OVER ()''', 6)} AS est_noise_frac
FROM rowt
""",
)
def confident_learning_noise(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Confident-learning 2x2 noise matrix: dup truth as the noisy label,
    the pinned logistic score as the model, per-class confident
    thresholds t_j = mean p_j over class j.

    Every threshold test is cross-multiplied into bigint space
    (p_1 >= t_1 <=> sq*n1 >= S1), so the confident counts C[i][j] are
    exact at any partitioning; only the final calibrated joint
    Q[i][j] = (C[i][j]/row) * prior divides. Scale: one class-stats agg
    broadcast to a map-side predicate pass + one 4-cell groupBy — no
    data-sized shuffle beyond the score scan. Ties (p_1 == p_0 at
    sq == 500000) break to class 1 on both engines. Extends the
    classifier family (brier/threshold-sweep); the reference has no
    label-noise op (closest: quality flags, transform.py:1).
    """
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    from pyspark.sql.window import Window

    ws = T.words("text")
    wc = F.size(ws)
    awl = (
        F.length(F.regexp_replace(F.col("text"), r"\s", ""))
        * 1.0
        / F.size(ws)
    )
    dwr = F.size(F.array_distinct(ws)) * 1.0 / F.size(ws)
    z = (
        F.lit(_QC_W0)
        + F.lit(_QC_W_WC) * wc
        + F.lit(_QC_W_AWL) * awl
        + F.lit(_QC_W_DWR) * dwr
    )
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    scored = docs.filter(F.col("text").isNotNull()).select(
        F.sha2(F.substring(norm, 1, 80), 256).alias("content_hash"),
        qround(1.0 / (1.0 + F.exp(-z)), 6)
        .alias("sq"),
    )
    wdup = Window.partitionBy("content_hash")
    labeled = scored.select(
        "sq",
        F.when(F.count("*").over(wdup) >= 2, 1).otherwise(0).alias("y"),
    )
    cls = labeled.agg(
        F.count(F.when(F.col("y") == 1, 1)).cast("bigint").alias("n1"),
        F.count(F.when(F.col("y") == 0, 1)).cast("bigint").alias("n0"),
        F.coalesce(F.sum(F.when(F.col("y") == 1, F.col("sq"))), F.lit(0))
        .cast("bigint")
        .alias("s1"),
        F.coalesce(F.sum(F.when(F.col("y") == 0, F.col("sq"))), F.lit(0))
        .cast("bigint")
        .alias("s0"),
        F.count("*").cast("bigint").alias("n"),
    )
    conf = labeled.join(F.broadcast(cls)).select(
        "y",
        "sq",
        "n",
        "n0",
        "n1",
        (
            (F.col("n1") > 0)
            & (F.col("sq") * F.col("n1") >= F.col("s1"))
        ).alias("in1"),
        (
            (F.col("n0") > 0)
            & (F.col("s0") >= F.col("sq") * F.col("n0"))
        ).alias("in0"),
    )
    pred = conf.select(
        "y",
        "n",
        "n0",
        "n1",
        F.when(
            F.col("in1") & F.col("in0"),
            F.when(F.col("sq") >= 500000, 1).otherwise(0),
        )
        .when(F.col("in1"), 1)
        .when(F.col("in0"), 0)
        .otherwise(-1)
        .alias("yp"),
    )
    cm = (
        pred.filter(F.col("yp") >= 0)
        .groupBy(F.col("y").alias("y_given"), F.col("yp").alias("y_pred"))
        .agg(
            F.count("*").cast("bigint").alias("cnt"),
            F.max("n").alias("n"),
            F.max("n0").alias("n0"),
            F.max("n1").alias("n1"),
        )
    )
    wrow = Window.partitionBy("y_given")
    wall = Window.partitionBy()
    rowt = cm.select(
        "y_given",
        "y_pred",
        "cnt",
        "n",
        "n0",
        "n1",
        F.sum("cnt").over(wrow).cast("bigint").alias("row_cnt"),
    )
    prior = (
        F.when(F.col("y_given") == 1, F.col("n1")).otherwise(F.col("n0"))
        * 1.0
        / F.col("n")
    )
    qj = (F.col("cnt") * 1.0 / F.col("row_cnt")) * prior
    return rowt.select(
        "y_given",
        "y_pred",
        "cnt",
        dround(F.col("cnt") * 1.0 / F.col("row_cnt"), 6).alias("row_rate"),
        dround(qj, 6).alias("q_joint"),
        (F.col("n") - F.sum("cnt").over(wall))
        .cast("bigint")
        .alias("n_unconfident"),
        dround(
            F.sum(
                F.when(F.col("y_given") != F.col("y_pred"), qj).otherwise(
                    0.0
                )
            ).over(wall),
            6,
        ).alias("est_noise_frac"),
    )


# --------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram perplexity — the modern-smoothing
# sibling of bigram_lm_perplexity (add-0.5 Lidstone). KN discounts
# every seen bigram by a fixed d=0.75 and redistributes the mass via
# the CONTINUATION distribution (how many contexts a word follows),
# which is what makes it the default n-gram smoother (Chen & Goodman
# 1999). All model quantities are integer count ratios, so both
# engines compute bit-identical probabilities; each log is ×1e6
# quantized before the weighted integer sum (the bigram_lm pattern).
# --------------------------------------------------------------------------

_KN_D = 0.75


@query(
    "kn_bigram_perplexity",
    oracle=f"""
WITH train_bg AS (
    SELECT bg, COUNT(*) AS c2
    FROM (SELECT unnest({word_ngrams_sql_duckdb('text', 2)}) AS bg
          FROM documents
          WHERE text IS NOT NULL AND {_SQL_HB_DOC} < 80)
    GROUP BY 1
),
kctx AS (
    SELECT split_part(bg, ' ', 1) AS w1,
           CAST(SUM(c2) AS BIGINT) AS c1,
           COUNT(*) AS nf
    FROM train_bg GROUP BY 1
),
kcont AS (
    SELECT split_part(bg, ' ', 2) AS w2, COUNT(*) AS np
    FROM train_bg GROUP BY 1
),
ktot AS (SELECT COUNT(*) AS d FROM train_bg),
test_types AS (
    SELECT lang, bg, split_part(bg, ' ', 1) AS w1,
           split_part(bg, ' ', 2) AS w2, COUNT(*) AS n
    FROM (SELECT lang, unnest({word_ngrams_sql_duckdb('text', 2)}) AS bg
          FROM documents
          WHERE text IS NOT NULL AND {_SQL_HB_DOC} >= 80)
    GROUP BY 1, 2, 3, 4
),
scored AS (
    SELECT tt.lang, tt.n,
           COALESCE(tb.c2, 0) AS c2,
           GREATEST(
               CASE WHEN COALESCE(cx.c1, 0) > 0
                    THEN GREATEST(COALESCE(tb.c2, 0)
                                  - CAST({_KN_D} AS DOUBLE), 0.0)
                         / (CASE WHEN COALESCE(cx.c1, 0) > 0
                                 THEN COALESCE(cx.c1, 0) END)
                         + (CAST({_KN_D} AS DOUBLE) * COALESCE(cx.nf, 0)
                            / (CASE WHEN COALESCE(cx.c1, 0) > 0
                                    THEN COALESCE(cx.c1, 0) END))
                           * (COALESCE(co.np, 0) * 1.0
                              / (CASE WHEN t.d > 0 THEN t.d END))
                    ELSE COALESCE(co.np, 0) * 1.0
                         / (CASE WHEN t.d > 0 THEN t.d END)
               END,
               1e-9) AS p
    FROM test_types tt
    LEFT JOIN train_bg tb ON tt.bg = tb.bg
    LEFT JOIN kctx cx ON tt.w1 = cx.w1
    LEFT JOIN kcont co ON tt.w2 = co.w2
    CROSS JOIN ktot t
),
lqd AS (
    SELECT lang, n, c2,
           {sql_qround('ln(p)', 6)} AS lq
    FROM scored
)
SELECT lang,
       CAST(SUM(n) AS BIGINT) AS n_test_bigrams,
       CAST(COALESCE(SUM(CASE WHEN c2 = 0 THEN n END), 0) AS BIGINT)
           AS n_unseen_bigrams,
       {sql_dround('exp(-(CAST(SUM(CAST(n AS HUGEINT) * lq) AS DOUBLE)'
                   ' / 1000000.0) / SUM(n))', 4)} AS ppl_kn
FROM lqd GROUP BY 1
""",
)
def kn_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out interpolated-KN bigram perplexity per language.

    Scale: the model is three count tables (bigram types, context
    totals+follower counts, continuation counts) — all map-side-
    combinable aggregates over the train split's bigram stream; scoring
    joins the test TYPE table (types, not tokens) against them. The
    continuation distribution is the piece add-k smoothing lacks, and
    it falls out of the same GROUP BYs. Reference analog: none (LM
    family extension).
    """
    from ..operators.text import word_ngrams
    from .training import hash_bucket

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    toks = docs.filter(F.col("text").isNotNull()).select(
        "lang",
        T.words("text").alias("t"),
        hash_bucket("doc_id").alias("hb"),
    )
    bgs = toks.select(
        "lang", "hb", F.explode(word_ngrams("t", 2, presplit=True)).alias("bg")
    )
    train_bg = (
        bgs.filter(F.col("hb") < 80).groupBy("bg").agg(F.count("*").alias("c2"))
    )
    kctx = train_bg.groupBy(
        F.substring_index("bg", " ", 1).alias("w1")
    ).agg(
        F.sum("c2").cast("bigint").alias("c1"), F.count("*").alias("nf")
    )
    kcont = train_bg.groupBy(
        F.substring_index("bg", " ", -1).alias("w2")
    ).agg(F.count("*").alias("np"))
    ktot = train_bg.agg(F.count("*").alias("d"))
    test_types = (
        bgs.filter(F.col("hb") >= 80)
        .groupBy(
            "lang",
            "bg",
            F.substring_index("bg", " ", 1).alias("w1"),
            F.substring_index("bg", " ", -1).alias("w2"),
        )
        .agg(F.count("*").alias("n"))
    )
    c2 = F.coalesce(F.col("c2"), F.lit(0))
    c1 = F.coalesce(F.col("c1"), F.lit(0))
    nf = F.coalesce(F.col("nf"), F.lit(0))
    np_ = F.coalesce(F.col("np"), F.lit(0))
    c1_safe = F.when(c1 > 0, c1)  # NULL when 0: guard lives in denominator
    d_safe = F.when(F.col("d") > 0, F.col("d"))
    pcont = np_ * 1.0 / d_safe
    p = F.greatest(
        F.when(
            c1 > 0,
            F.greatest(c2 - _KN_D, F.lit(0.0)) / c1_safe
            + (F.lit(_KN_D) * nf / c1_safe) * pcont,
        ).otherwise(pcont),
        F.lit(1e-9),
    )
    scored = (
        test_types.join(train_bg, "bg", "left")
        .join(kctx, "w1", "left")
        .join(kcont, "w2", "left")
        .crossJoin(F.broadcast(ktot))
        .select(
            "lang",
            "n",
            c2.alias("c2k"),
            qround(F.log(p), 6).alias("lq"),
        )
    )
    s_micro = F.sum(F.col("n").cast("decimal(38,0)") * F.col("lq")).cast(
        "double"
    )
    return scored.groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("n_test_bigrams"),
        F.coalesce(
            F.sum(F.when(F.col("c2k") == 0, F.col("n"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_unseen_bigrams"),
        dround(F.exp(-(s_micro / 1000000.0) / F.sum("n")), 4).alias("ppl_kn"),
    )


# --------------------------------------------------------------------------
# Per-source unigram Jensen-Shannon divergence — the TEXT drift metric
# beside the numeric ones (jensen_shannon_drift / psi / KS over
# values): how far each source's word distribution sits from the
# corpus mixture, plus its most over-represented word. JS is bounded
# [0, ln 2] and symmetric, the standard corpus-datasheet citation.
# Every p·ln(p/m) term is ×1e12-quantized before the per-source sum;
# p, q, m are ratios of exact counts with the division order written
# identically on both engines.
# --------------------------------------------------------------------------


@query(
    "unigram_js_by_source",
    oracle=f"""
WITH words AS (
    SELECT source, unnest(string_split_regex(TRIM(text), '\\s+')) AS w
    FROM documents WHERE text IS NOT NULL AND TRIM(text) <> ''
),
swc AS (SELECT source, w, COUNT(*) AS c FROM words GROUP BY 1, 2),
stot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM swc GROUP BY 1),
cwc AS (SELECT w, CAST(SUM(c) AS BIGINT) AS cw FROM swc GROUP BY 1),
ctot AS (SELECT CAST(SUM(cw) AS BIGINT) AS nt FROM cwc),
grid AS (
    SELECT s.source, s.ns, v.w, v.cw, t.nt, COALESCE(sw.c, 0) AS c
    FROM stot s
    CROSS JOIN cwc v
    CROSS JOIN ctot t
    LEFT JOIN swc sw ON sw.source = s.source AND sw.w = v.w
),
terms AS (
    SELECT source, ns, c,
           {sql_qround('(0.5 * (CASE WHEN c > 0'
                       ' THEN (c * 1.0 / ns)'
                       ' * ln((c * 1.0 / ns)'
                       ' / ((c * 1.0 / ns + cw * 1.0 / nt) / 2))'
                       ' ELSE 0.0 END)'
                       ' + 0.5 * ((cw * 1.0 / nt)'
                       ' * ln((cw * 1.0 / nt)'
                       ' / ((c * 1.0 / ns + cw * 1.0 / nt) / 2))))', 12)} AS jq,
           CASE WHEN c > 0
                THEN {sql_qround('(c * 1.0 / ns) / (cw * 1.0 / nt)', 6)}
                ELSE 0 END AS ratio_fp,
           w
    FROM grid
),
agg AS (
    SELECT source,
           MAX(ns) AS n_tokens,
           COUNT(*) FILTER (WHERE c > 0) AS n_vocab_present,
           CAST(SUM(jq) AS BIGINT) AS jsq
    FROM terms GROUP BY 1
),
top AS (
    SELECT source, w AS top_word, ratio_fp FROM (
        SELECT source, w, ratio_fp,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY ratio_fp DESC, w) AS rn
        FROM terms
    ) WHERE rn = 1
)
SELECT a.source,
       CAST(a.n_tokens AS BIGINT) AS n_tokens,
       CAST(a.n_vocab_present AS BIGINT) AS n_vocab_present,
       {sql_dround('a.jsq / 1000000000000.0', 6)} AS js_divergence,
       t.top_word,
       {sql_dround('t.ratio_fp / 1000000.0', 4)} AS top_word_lift
FROM agg a JOIN top t USING (source)
""",
)
def unigram_js_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram JS divergence of each source vs the corpus mixture.

    Scale: two map-side-combinable count aggregates build the model
    ((source, word) and corpus word totals — vocabulary-bounded); the
    scoring grid is |sources| × |vocab| rows with the corpus side
    broadcast. No document text survives past the first explode.
    """
    from pyspark.sql.window import Window as _W

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    nonempty = F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    words = docs.filter(nonempty).select(
        "source", F.explode(T.words("text")).alias("w")
    )
    swc = words.groupBy("source", "w").agg(F.count("*").alias("c"))
    stot = swc.groupBy("source").agg(F.sum("c").cast("bigint").alias("ns"))
    cwc = swc.groupBy("w").agg(F.sum("c").cast("bigint").alias("cw"))
    ctot = cwc.agg(F.sum("cw").cast("bigint").alias("nt"))
    grid = (
        stot.crossJoin(F.broadcast(cwc))
        .crossJoin(F.broadcast(ctot))
        .join(swc, ["source", "w"], "left")
        .select(
            "source", "ns", "w", "cw", "nt",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    p = F.col("c") * 1.0 / F.col("ns")
    q = F.col("cw") * 1.0 / F.col("nt")
    m = (p + q) / 2
    jq = qround(
        (
            F.lit(0.5)
            * F.when(F.col("c") > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
            + F.lit(0.5) * (q * F.log(q / m))
        ),
        12,
    )
    ratio_fp = (
        F.when(
            F.col("c") > 0,
            qround(p / q, 6),
        ).otherwise(F.lit(0))
    )
    terms = grid.select(
        "source", "ns", "c", "w", jq.alias("jq"), ratio_fp.alias("ratio_fp")
    )
    agg = terms.groupBy("source").agg(
        F.max("ns").cast("bigint").alias("n_tokens"),
        F.count_if(F.col("c") > 0).alias("n_vocab_present"),
        F.sum("jq").cast("bigint").alias("jsq"),
    )
    top = (
        terms.withColumn(
            "rn",
            F.row_number().over(
                _W.partitionBy("source").orderBy(F.desc("ratio_fp"), "w")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("source", F.col("w").alias("top_word"), "ratio_fp")
    )
    return agg.join(top, "source").select(
        "source",
        "n_tokens",
        "n_vocab_present",
        dround(F.col("jsq") / 1000000000000.0, 6).alias("js_divergence"),
        "top_word",
        dround(F.col("ratio_fp") / 1000000.0, 4).alias("top_word_lift"),
    )


# --------------------------------------------------------------------------
# Multinomial Naive Bayes language classifier, trained on the 80%
# hash split and evaluated held-out — the TRAINED sibling of the
# heuristic lang_id (langid_confusion_matrix grades that heuristic;
# this one learns add-1 word likelihoods + doc priors from data).
# Every log term is ×1e9-quantized so per-doc scores are exact
# integer sums; argmax ties break lexicographically on lang. The
# corpus's langs share one vocabulary, so near-prior accuracy is the
# EXPECTED honest outcome — the confusion column shows where the
# probability mass actually goes.
# --------------------------------------------------------------------------


@query(
    "naive_bayes_langid_eval",
    oracle=f"""
WITH nbtok AS (
    SELECT doc_id, lang, {_SQL_HB_DOC} AS hb,
           unnest(string_split_regex(TRIM(text), '\\s+')) AS w
    FROM documents
    WHERE text IS NOT NULL AND TRIM(text) <> '' AND lang IS NOT NULL
),
tr_wc AS (
    SELECT lang, w, COUNT(*) AS c FROM nbtok WHERE hb < 80 GROUP BY 1, 2
),
tr_lang AS (
    SELECT lang, CAST(SUM(c) AS BIGINT) AS nl FROM tr_wc GROUP BY 1
),
tr_prior AS (
    SELECT lang, COUNT(DISTINCT doc_id) AS docs
    FROM nbtok WHERE hb < 80 GROUP BY 1
),
tr_v AS (SELECT COUNT(DISTINCT w) AS v FROM tr_wc),
te_wc AS (
    SELECT doc_id, lang AS actual, w, COUNT(*) AS cnt
    FROM nbtok WHERE hb >= 80 GROUP BY 1, 2, 3
),
grid AS (
    SELECT t.doc_id, t.actual, t.w, t.cnt, l.lang, l.nl, v.v,
           COALESCE(m.c, 0) AS c
    FROM te_wc t
    CROSS JOIN tr_lang l
    CROSS JOIN tr_v v
    LEFT JOIN tr_wc m ON m.lang = l.lang AND m.w = t.w
),
scoredg AS (
    SELECT doc_id, actual, lang,
           CAST(SUM(cnt * {sql_qround('ln((c + 1.0) / (nl + v))', 9)})
                AS BIGINT) AS like_q
    FROM grid GROUP BY 1, 2, 3
),
withprior AS (
    SELECT s.doc_id, s.actual, s.lang,
           s.like_q + {sql_qround('ln(p.docs * 1.0 / (SELECT SUM(docs) FROM tr_prior))', 9)} AS score_q
    FROM scoredg s JOIN tr_prior p ON p.lang = s.lang
),
pred AS (
    SELECT doc_id, actual, lang AS predicted FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY score_q DESC, lang) AS rn
        FROM withprior
    ) WHERE rn = 1
),
conf AS (
    SELECT actual, predicted, COUNT(*) AS n FROM pred GROUP BY 1, 2
)
SELECT a.actual AS lang,
       CAST(a.n_docs AS BIGINT) AS n_test_docs,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_correct,
       {sql_dround('COALESCE(c.n, 0) * 1.0 / a.n_docs', 4)} AS accuracy,
       t.top_pred AS top_predicted
FROM (SELECT actual, SUM(n) AS n_docs FROM conf GROUP BY 1) a
LEFT JOIN conf c ON c.actual = a.actual AND c.predicted = a.actual
JOIN (
    SELECT actual, predicted AS top_pred FROM (
        SELECT actual, predicted,
               ROW_NUMBER() OVER (PARTITION BY actual
                                  ORDER BY n DESC, predicted) AS rn
        FROM conf
    ) WHERE rn = 1
) t ON t.actual = a.actual
""",
)
def naive_bayes_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out accuracy of a trained multinomial-NB language classifier.

    Scale: the model is (lang, word) counts + lang totals + priors —
    all vocabulary-bounded, broadcast; scoring explodes held-out docs
    once and reduces per (doc, lang). The |langs|-way fan-out is a
    broadcast nested-loop over a 5-row table, not a shuffle. The
    classic MapReduce NB dataflow.
    """
    from pyspark.sql.window import Window as _W

    from .training import hash_bucket

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    ok = (
        F.col("text").isNotNull()
        & (F.trim(F.col("text")) != "")
        & F.col("lang").isNotNull()
    )
    nbtok = docs.filter(ok).select(
        "doc_id",
        "lang",
        hash_bucket("doc_id").alias("hb"),
        F.explode(T.words("text")).alias("w"),
    )
    tr = nbtok.filter(F.col("hb") < 80)
    tr_wc = tr.groupBy(F.col("lang").alias("mlang"), "w").agg(
        F.count("*").alias("c")
    )
    tr_lang = tr_wc.groupBy(F.col("mlang").alias("lang")).agg(
        F.sum("c").cast("bigint").alias("nl")
    )
    tr_prior = tr.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("docs")
    )
    tr_v = tr_wc.agg(F.countDistinct("w").alias("v"))
    prior_tot = tr_prior.agg(F.sum("docs").alias("tot"))
    te_wc = (
        nbtok.filter(F.col("hb") >= 80)
        .groupBy("doc_id", F.col("lang").alias("actual"), "w")
        .agg(F.count("*").alias("cnt"))
    )
    grid = (
        te_wc.crossJoin(F.broadcast(tr_lang))
        .crossJoin(F.broadcast(tr_v))
        .join(
            F.broadcast(tr_wc),
            (F.col("mlang") == F.col("lang")) & (tr_wc["w"] == te_wc["w"]),
            "left",
        )
        .select(
            "doc_id",
            "actual",
            "lang",
            "cnt",
            "nl",
            "v",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    lq = qround(
        F.log((F.col("c") + 1.0) / (F.col("nl") + F.col("v"))), 9
    )
    scoredg = grid.groupBy("doc_id", "actual", "lang").agg(
        F.sum(F.col("cnt") * lq).cast("bigint").alias("like_q")
    )
    prior_q = qround(
        F.log(F.col("docs") * 1.0 / F.col("tot")), 9
    )
    withprior = (
        scoredg.join(F.broadcast(tr_prior), "lang")
        .crossJoin(F.broadcast(prior_tot))
        .select(
            "doc_id",
            "actual",
            "lang",
            (F.col("like_q") + prior_q).alias("score_q"),
        )
    )
    pred = (
        withprior.withColumn(
            "rn",
            F.row_number().over(
                _W.partitionBy("doc_id").orderBy(F.desc("score_q"), "lang")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", "actual", F.col("lang").alias("predicted"))
    )
    conf = pred.groupBy("actual", "predicted").agg(F.count("*").alias("n"))
    totals = conf.groupBy("actual").agg(
        F.sum("n").cast("bigint").alias("n_docs")
    )
    correct = conf.filter(F.col("actual") == F.col("predicted")).select(
        "actual", F.col("n").alias("n_corr")
    )
    top = (
        conf.withColumn(
            "rn",
            F.row_number().over(
                _W.partitionBy("actual").orderBy(F.desc("n"), "predicted")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("actual", F.col("predicted").alias("top_predicted"))
    )
    return (
        totals.join(correct, "actual", "left")
        .join(top, "actual")
        .select(
            F.col("actual").alias("lang"),
            F.col("n_docs").cast("bigint").alias("n_test_docs"),
            F.coalesce(F.col("n_corr"), F.lit(0))
            .cast("bigint")
            .alias("n_correct"),
            dround(
                F.coalesce(F.col("n_corr"), F.lit(0)) * 1.0 / F.col("n_docs"),
                4,
            ).alias("accuracy"),
            "top_predicted",
        )
    )


# --------------------------------------------------------------------------
# Collocation strength via Dunning's log-likelihood ratio (G², Dunning
# 1993) — the statistically sound alternative to word_pmi_cooccurrence
# for sparse counts (PMI explodes for rare pairs; G² is a proper
# 2×2-contingency likelihood test). Computed with the xlogx identity
# G² = 2(ΣS(k) + S(N) − ΣS(margins)), S(x)=x·ln x, S(0)=0 — every
# argument an exact integer count, every S identical IEEE, the final
# G² ×1e6-quantized before ranking.
# --------------------------------------------------------------------------

_G2_TOPK = 15


def _sql_xlogx(x: str) -> str:
    return f"(CASE WHEN ({x}) > 0 THEN ({x}) * ln(CAST(({x}) AS DOUBLE)) ELSE 0.0 END)"


@query(
    "bigram_llr_collocations",
    oracle=f"""
WITH bg AS (
    SELECT bgr, COUNT(*) AS k11
    FROM (SELECT unnest({word_ngrams_sql_duckdb('text', 2)}) AS bgr
          FROM documents WHERE text IS NOT NULL)
    GROUP BY 1
),
m1 AS (
    SELECT split_part(bgr, ' ', 1) AS w1, CAST(SUM(k11) AS BIGINT) AS r1
    FROM bg GROUP BY 1
),
m2 AS (
    SELECT split_part(bgr, ' ', 2) AS w2, CAST(SUM(k11) AS BIGINT) AS c1
    FROM bg GROUP BY 1
),
tot AS (SELECT CAST(SUM(k11) AS BIGINT) AS n FROM bg),
cells AS (
    SELECT b.bgr, b.k11,
           m1.r1 - b.k11 AS k12,
           m2.c1 - b.k11 AS k21,
           t.n - m1.r1 - m2.c1 + b.k11 AS k22,
           m1.r1, m2.c1, t.n
    FROM bg b
    JOIN m1 ON m1.w1 = split_part(b.bgr, ' ', 1)
    JOIN m2 ON m2.w2 = split_part(b.bgr, ' ', 2)
    CROSS JOIN tot t
),
g AS (
    SELECT bgr, k11, r1, c1, n,
           {sql_qround(f"2.0 * ({_sql_xlogx('k11')} + {_sql_xlogx('k12')}"
                       f" + {_sql_xlogx('k21')} + {_sql_xlogx('k22')}"
                       f" + {_sql_xlogx('n')}"
                       f" - {_sql_xlogx('r1')} - {_sql_xlogx('n - r1')}"
                       f" - {_sql_xlogx('c1')} - {_sql_xlogx('n - c1')})", 6)}
               AS g2q
    FROM cells
)
SELECT bgr AS bigram,
       CAST(k11 AS BIGINT) AS n_obs,
       {sql_dround('r1 * 1.0 * c1 / n', 4)} AS n_expected,
       {sql_dround('g2q / 1000000.0', 4)} AS g2
FROM g
ORDER BY g2q DESC, bgr
LIMIT {_G2_TOPK}
""",
)
def bigram_llr_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 collocations by Dunning G² (2×2 likelihood-ratio test).

    Scale: one bigram-type aggregate + two margin aggregates (all
    map-side combinable, vocabulary-bounded); the scoring join is
    type-grain with broadcast margins; finisher TakeOrdered. The
    xlogx identity avoids materializing expectation tables.
    """
    from ..operators.text import word_ngrams

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    bg = (
        docs.filter(F.col("text").isNotNull())
        .select(
            F.explode(word_ngrams("text", 2)).alias("bgr")
        )
        .groupBy("bgr")
        .agg(F.count("*").alias("k11"))
    )
    m1 = bg.groupBy(F.substring_index("bgr", " ", 1).alias("w1")).agg(
        F.sum("k11").cast("bigint").alias("r1")
    )
    m2 = bg.groupBy(F.substring_index("bgr", " ", -1).alias("w2")).agg(
        F.sum("k11").cast("bigint").alias("c1")
    )
    tot = bg.agg(F.sum("k11").cast("bigint").alias("n"))

    def xlogx(c):
        return F.when(c > 0, c * F.log(c.cast("double"))).otherwise(F.lit(0.0))

    cells = (
        bg.join(
            F.broadcast(m1), F.substring_index("bgr", " ", 1) == F.col("w1")
        )
        .join(
            F.broadcast(m2), F.substring_index("bgr", " ", -1) == F.col("w2")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "bgr",
            "k11",
            (F.col("r1") - F.col("k11")).alias("k12"),
            (F.col("c1") - F.col("k11")).alias("k21"),
            (F.col("n") - F.col("r1") - F.col("c1") + F.col("k11")).alias(
                "k22"
            ),
            "r1",
            "c1",
            "n",
        )
    )
    g2q = qround(
        2.0
        * (
            xlogx(F.col("k11"))
            + xlogx(F.col("k12"))
            + xlogx(F.col("k21"))
            + xlogx(F.col("k22"))
            + xlogx(F.col("n"))
            - xlogx(F.col("r1"))
            - xlogx(F.col("n") - F.col("r1"))
            - xlogx(F.col("c1"))
            - xlogx(F.col("n") - F.col("c1"))
        ),
        6,
    )
    return (
        cells.select("bgr", "k11", "r1", "c1", "n", g2q.alias("g2q"))
        .orderBy(F.desc("g2q"), "bgr")
        .limit(_G2_TOPK)
        .select(
            F.col("bgr").alias("bigram"),
            F.col("k11").cast("bigint").alias("n_obs"),
            dround(F.col("r1") * 1.0 * F.col("c1") / F.col("n"), 4).alias(
                "n_expected"
            ),
            dround(F.col("g2q") / 1000000.0, 4).alias("g2"),
        )
    )


# --------------------------------------------------------------------------
# Word burstiness (Church & Gale 1995): variance-to-mean ratio of
# per-document counts. A Poisson word has VMR ≈ 1; content-bearing
# words are BURSTY (VMR >> 1 — they pile into few documents), and
# burstiness is the classic signal separating topical terms from
# function words when IDF cannot (both kinds can have similar df).
# VMR = (Q − S²/N)/S from exact integer moments — identical IEEE ops.
# --------------------------------------------------------------------------

_BURST_TOPK = 15
_BURST_MIN_COUNT = 20


@query(
    "word_burstiness_topk",
    oracle=f"""
WITH bwc AS (
    SELECT doc_id, w, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(string_split_regex(TRIM(text), '\\s+')) AS w
          FROM documents WHERE text IS NOT NULL AND TRIM(text) <> '')
    GROUP BY 1, 2
),
bn AS (
    SELECT COUNT(DISTINCT doc_id) AS n
    FROM documents WHERE text IS NOT NULL AND TRIM(text) <> ''
),
bm AS (
    SELECT w,
           CAST(SUM(c) AS BIGINT) AS s,
           CAST(SUM(c * c) AS BIGINT) AS q,
           COUNT(*) AS df
    FROM bwc GROUP BY 1
)
SELECT w AS word,
       s AS total_count,
       CAST(df AS BIGINT) AS doc_freq,
       {sql_dround('s * 1.0 / bn.n', 6)}
           AS mean_per_doc,
       {sql_dround('(q - CAST(s AS DOUBLE) * s / bn.n) / s', 4)} AS burstiness_vmr
FROM bm CROSS JOIN bn
WHERE s >= {_BURST_MIN_COUNT}
ORDER BY (q - CAST(s AS DOUBLE) * s / bn.n) / s DESC, w
LIMIT {_BURST_TOPK}
""",
)
def word_burstiness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 bursty words by variance-to-mean ratio of doc counts.

    Scale: one (doc, word) aggregate (map-side combinable), then
    vocabulary-grain moments — zeros never materialize (the S²/N term
    accounts for absent docs analytically). Finisher TakeOrdered.
    """
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    nonempty = F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    bwc = (
        docs.filter(nonempty)
        .select("doc_id", F.explode(T.words("text")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    bn = docs.filter(nonempty).agg(
        F.countDistinct("doc_id").alias("n")
    )
    bm = bwc.groupBy("w").agg(
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("q"),
        F.count("*").alias("df"),
    )
    vmr_raw = (
        F.col("q") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / F.col("s")
    return (
        bm.crossJoin(F.broadcast(bn))
        .filter(F.col("s") >= _BURST_MIN_COUNT)
        .orderBy(vmr_raw.desc(), "w")
        .limit(_BURST_TOPK)
        .select(
            F.col("w").alias("word"),
            F.col("s").alias("total_count"),
            F.col("df").cast("bigint").alias("doc_freq"),
            dround(F.col("s") * 1.0 / F.col("n"), 6).alias("mean_per_doc"),
            dround(vmr_raw, 4).alias("burstiness_vmr"),
        )
    )
