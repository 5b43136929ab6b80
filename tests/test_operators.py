"""Unit tests for operators with no SQL oracle (planted-duplicate
fixtures) and for semantics-sensitive operators (SURVEY §5.4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        # near-duplicate of 1 (one word changed)
        (2, "the quick brown fox jumps over the lazy cat near the river bank"),
        # exact duplicate of 1 modulo case/whitespace
        (3, "  The quick brown   fox jumps over the lazy dog near the river bank"),
        (4, "completely different text about database engines and query plans"),
        (5, "short text"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_exact_groups_normalized_copies(docs):
    from chai_data_pipeline_spark.operators.dedup import dedup_exact

    out = {r.keep_id: r.n_copies for r in dedup_exact(docs, "text", "doc_id").collect()}
    assert out[1] == 2  # docs 1 and 3 collapse
    assert out[2] == 1 and out[4] == 1 and out[5] == 1


def test_minhash_lsh_finds_planted_near_dup(docs):
    from chai_data_pipeline_spark.operators.dedup import (
        jaccard_verify,
        minhash_lsh_candidates,
    )

    cands = minhash_lsh_candidates(docs, "text", "doc_id", num_perm=32, bands=16)
    pairs = {(r.id_a, r.id_b) for r in cands.collect()}
    assert (1, 2) in pairs or (1, 3) in pairs  # near/exact dups bucket together
    verified = jaccard_verify(cands, docs, "text", "doc_id", threshold=0.6)
    vp = {(r.id_a, r.id_b): r.jaccard for r in verified.collect()}
    assert any(p in vp for p in [(1, 2), (1, 3), (2, 3)])
    assert all(j >= 0.6 for j in vp.values())
    # unrelated docs must not verify
    assert (1, 4) not in vp and (4, 5) not in vp


def test_simhash_near_dup_small_hamming(docs):
    from chai_data_pipeline_spark.operators.dedup import hamming64, simhash64

    sig = simhash64(docs, "text", "doc_id")
    a = sig.alias("a")
    b = sig.alias("b")
    d = (
        a.crossJoin(b)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("ia"),
            F.col("b.doc_id").alias("ib"),
            hamming64("a.simhash", "b.simhash").alias("h"),
        )
    )
    ham = {(r.ia, r.ib): r.h for r in d.collect()}
    assert ham[(1, 3)] == 0  # normalized-identical → same fingerprint
    assert ham[(1, 2)] <= 12  # near-dup → small distance
    assert ham[(1, 4)] > ham[(1, 2)]  # unrelated docs are farther


def test_simhash_deterministic_across_runs(docs):
    from chai_data_pipeline_spark.operators.dedup import simhash64

    s1 = {r.doc_id: r.simhash for r in simhash64(docs, "text", "doc_id").collect()}
    s2 = {r.doc_id: r.simhash for r in simhash64(docs, "text", "doc_id").collect()}
    assert s1 == s2


def test_ann_lsh_agrees_with_brute_force_on_top1(spark, sf_dir):
    from chai_data_pipeline_spark.operators.similarity import (
        ann_topk_lsh,
        brute_force_topk,
    )
    from chai_data_pipeline_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    exact = brute_force_topk(emb, q, k=1).collect()[0]
    # top-1 is vec 0 itself (cosine 1.0) — LSH must recover it (identical
    # vector lands in identical buckets by construction)
    approx = ann_topk_lsh(emb, q, k=1).collect()[0]
    assert exact.vec_id == 0 and approx.vec_id == 0
    assert abs(exact.cosine - 1.0) < 1e-9


def test_upsert_source_wins(spark):
    from chai_data_pipeline_spark.operators.merge import delete_then_append, upsert

    target = spark.createDataFrame(
        [("a", 1), ("b", 2)], ["k", "v"]
    )
    source = spark.createDataFrame(
        [("b", 20), ("c", 30)], ["k", "v"]
    )
    merged = {r.k: r.v for r in upsert(target, source, ["k"]).collect()}
    assert merged == {"a": 1, "b": 20, "c": 30}
    dta = {r.k: r.v for r in delete_then_append(target, source, ["k"]).collect()}
    assert dta == merged


def test_sessionize_gap_splits(spark):
    from chai_data_pipeline_spark.operators.windows import sessionize

    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:10:00"),  # same session (gap 10m < 30m)
        (1, "2024-01-01 01:00:00"),  # new session (gap 50m)
        (2, "2024-01-01 00:00:00"),  # separate user
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts_str"]).withColumn(
        "ts", F.col("ts_str").cast("timestamp")
    )
    out = sessionize(df, "user_id", "ts", gap_seconds=1800)
    got = {(r.user_id, r.ts_str): r.session_id for r in out.collect()}
    assert got[(1, "2024-01-01 00:00:00")] == 1
    assert got[(1, "2024-01-01 00:10:00")] == 1
    assert got[(1, "2024-01-01 01:00:00")] == 2
    assert got[(2, "2024-01-01 00:00:00")] == 1


def test_grouped_diff_and_rolling(spark):
    from chai_data_pipeline_spark.operators.windows import grouped_diff, rolling_mean

    rows = [("a", 1, 10.0), ("a", 2, 15.0), ("a", 3, 12.0), ("b", 1, 5.0)]
    df = spark.createDataFrame(rows, ["g", "i", "v"])
    out = grouped_diff(df, ["g"], ["i"], "v", "d")
    got = {(r.g, r.i): r.d for r in out.collect()}
    assert got[("a", 1)] == 0 and got[("a", 2)] == 5.0 and got[("a", 3)] == -3.0
    assert got[("b", 1)] == 0
    roll = rolling_mean(df, ["g"], ["i"], "v", "m", window_rows=2)
    got_m = {(r.g, r.i): r.m for r in roll.collect()}
    assert got_m[("a", 1)] == 10.0 and got_m[("a", 2)] == 12.5
    assert got_m[("a", 3)] == 13.5


def test_salted_join_matches_plain_join(spark, sf_dir):
    from chai_data_pipeline_spark.operators.skew import salted_count, salted_join
    from chai_data_pipeline_spark.session import load_tables

    t = load_tables(spark, sf_dir, "orders", "customer")
    plain = (
        t["orders"].join(
            t["customer"].withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"
        )
        .groupBy("c_mktsegment")
        .count()
    )
    salted = (
        salted_join(
            t["orders"],
            t["customer"].withColumnRenamed("c_custkey", "o_custkey"),
            "o_custkey",
        )
        .groupBy("c_mktsegment")
        .count()
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    plain_counts = {
        r.o_orderpriority: r[1]
        for r in t["orders"].groupBy("o_orderpriority").count().collect()
    }
    salted_counts = {
        r.o_orderpriority: r.n
        for r in salted_count(t["orders"], "o_orderpriority").collect()
    }
    assert plain_counts == salted_counts


def test_foreach_batch_upsert_matches_batch_agg(spark, sf_dir, tmp_path_factory):
    """The foreachBatch incremental sink (modern replacement for the
    reference's validation_status flag pattern) converges to the batch
    aggregate, and re-running it is idempotent (keyed upsert)."""
    import os

    from chai_data_pipeline_spark.session import load_tables
    from chai_data_pipeline_spark.streaming.stateful import run_foreach_batch_upsert

    target = str(tmp_path_factory.mktemp("sink")) + "/daily"
    run_foreach_batch_upsert(spark, sf_dir, target)
    got = {
        (str(r.d), r.event_type): r.n
        for r in spark.read.parquet(target).collect()
    }
    events = load_tables(spark, sf_dir, "events")["events"]
    want = {
        (str(r.d), r.event_type): r.n
        for r in events.groupBy(
            F.to_date("ts").alias("d"), "event_type"
        ).agg(F.count("*").alias("n")).collect()
    }
    assert got == want
    # idempotency: running again (same data re-delivered) upserts, not appends
    run_foreach_batch_upsert(spark, sf_dir, target)
    again = {
        (str(r.d), r.event_type): r.n
        for r in spark.read.parquet(target).collect()
    }
    assert again == want


def test_ann_ivf_recovers_query_vector(spark, sf_dir):
    from chai_data_pipeline_spark.operators.similarity import (
        ann_topk_ivf,
        brute_force_topk,
        ivf_assign,
    )
    from chai_data_pipeline_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    # every vector gets exactly one centroid
    assigned = ivf_assign(emb, n_centroids=8)
    assert assigned.count() == emb.count()
    assert assigned.select("centroid_id").distinct().count() <= 8
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    approx = ann_topk_ivf(emb, q, k=1, n_centroids=8, n_probe=2).collect()[0]
    # vec 0 IS a centroid, so its list is always probed → exact recovery
    assert approx.vec_id == 0 and abs(approx.cosine - 1.0) < 1e-9
    # probing more lists converges toward brute force top-10 overlap
    exact_ids = {r.vec_id for r in brute_force_topk(emb, q, k=10).collect()}
    ivf_ids = {
        r.vec_id
        for r in ann_topk_ivf(emb, q, k=10, n_centroids=8, n_probe=8).collect()
    }
    assert ivf_ids == exact_ids  # n_probe = all lists → exhaustive


def test_ivf_arrow_auto_switch_and_identity(spark):
    """The rows-only IVF path switches to Arrow/numpy assignment only
    above the measured volume crossover (fold wins at 2k vectors,
    matmul at 20k — plans/r14/ab_ivf_arrow.json), and both forms are
    row-identical (same codebook, same lowest-id tiebreak, dround-6
    cosine)."""
    from chai_data_pipeline_spark.operators.similarity import (
        ann_topk_ivf,
    )
    from chai_data_pipeline_spark.plans.similarity import _ivf_arrow_auto
    from chai_data_pipeline_spark.session import load_tables

    sf = "/root/testdata/sf0.001"  # 500 vectors
    assert _ivf_arrow_auto(sf) is False  # below the crossover
    assert _ivf_arrow_auto(sf, threshold=100) is True  # volume rule
    assert _ivf_arrow_auto("/nonexistent") is False  # fail-safe: fold

    emb = load_tables(spark, sf, "embeddings")["embeddings"]
    qdf = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    fold = sorted(
        map(tuple, ann_topk_ivf(emb, qdf, k=10, arrow=False).collect())
    )
    arrow = sorted(
        map(tuple, ann_topk_ivf(emb, qdf, k=10, arrow=True).collect())
    )
    assert fold == arrow and len(fold) == 10

    # an empty query returns an empty top-k on both paths, same schema
    none = qdf.limit(0)
    fold_empty = ann_topk_ivf(emb, none, k=10, arrow=False)
    arrow_empty = ann_topk_ivf(emb, none, k=10, arrow=True)
    assert arrow_empty.schema == fold_empty.schema
    assert arrow_empty.collect() == [] == fold_empty.collect()


def test_compact_preserves_rows(spark, sf_dir, tmp_path_factory):
    from chai_data_pipeline_spark.session import load_tables
    from chai_data_pipeline_spark.sources.writers import compact

    path = str(tmp_path_factory.mktemp("compact")) + "/t"
    ev = load_tables(spark, sf_dir, "events")["events"]
    ev.repartition(16).write.parquet(path)  # 16 small files
    import glob

    before = len(glob.glob(path + "/*.parquet"))
    assert before >= 16
    compact(spark, path, target_files=2)
    after = len(glob.glob(path + "/*.parquet"))
    assert after <= 2
    assert spark.read.parquet(path).count() == ev.count()


def test_schema_evolution_merge(spark, tmp_path_factory):
    from chai_data_pipeline_spark.sources.readers import read_parquet_evolving

    path = str(tmp_path_factory.mktemp("evolve")) + "/t"
    spark.createDataFrame([(1, "a")], ["id", "name"]).write.parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], ["id", "name", "score"]
    ).write.mode("append").parquet(path)
    df = read_parquet_evolving(spark, path)
    assert set(df.columns) == {"id", "name", "score"}
    rows = {r.id: r for r in df.collect()}
    assert rows[1].score is None and rows[2].score == 9.5


def test_connected_components_path_and_blobs(spark):
    from chai_data_pipeline_spark.operators.graph import connected_components

    # a 10-node path (worst diameter), a triangle, and a disjoint pair
    path = [(i, i + 1) for i in range(100, 109)]
    tri = [(1, 2), (2, 3), (1, 3)]
    pair = [(7, 8)]
    edges = spark.createDataFrame(path + tri + pair, ["src", "dst"])
    got = {
        r.node: r.cluster_id for r in connected_components(edges).collect()
    }
    assert all(got[n] == 100 for n in range(100, 110))  # full path collapses
    assert got[1] == got[2] == got[3] == 1
    assert got[7] == got[8] == 7
    assert len(got) == 15

    # with a node universe: edge-less nodes come back as singletons,
    # edge-bearing labels unchanged
    universe = spark.createDataFrame(
        [(n,) for n in list(range(100, 110)) + [1, 2, 3, 7, 8, 500, 501]],
        ["node"],
    )
    got_u = {
        r.node: r.cluster_id
        for r in connected_components(edges, nodes=universe).collect()
    }
    assert got_u[500] == 500 and got_u[501] == 501
    assert {k: v for k, v in got_u.items() if k not in (500, 501)} == got


def test_group_quantiles_approx_close_to_exact(spark, sf_dir):
    """The scale-path sketch quantiles must agree with the exact plan
    within 1% relative error at test SF (accuracy=10000)."""
    from chai_data_pipeline_spark import plans

    exact = {
        r.l_returnflag: r
        for r in plans.QUERIES["group_quantiles"](spark, sf_dir).collect()
    }
    approx = {
        r.l_returnflag: r
        for r in plans.QUERIES["group_quantiles_approx"](spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for k, e in exact.items():
        a = approx[k]
        assert abs(e.median_qty - a.median_qty) <= max(1e-6, 0.01 * abs(e.median_qty))
        assert abs(e.p90_price - a.p90_price) <= max(1e-6, 0.01 * abs(e.p90_price))


def test_ngram_jaccard_block_cap_drops_oversized_blocks(spark, sf_dir, tmp_path):
    """A block with more docs than MAX_BLOCK must be dropped entirely
    (its pairs belong to the LSH path) — bounding any block's pair
    count at MAX_BLOCK^2/2."""
    import chai_data_pipeline_spark.plans.dedup as D
    from chai_data_pipeline_spark.session import load_tables

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    n = D.MAX_BLOCK + 10
    sch = {f.name: f.dataType for f in docs.schema.fields}
    from pyspark.sql import functions as F

    oversized = (
        docs.limit(n)
        .withColumn("lang", F.lit("xx").cast(sch["lang"]))
        .withColumn("n_chars", F.lit(100).cast(sch["n_chars"]))
        .withColumn(
            "text", F.lit("identical near duplicate text").cast(sch["text"])
        )
    )
    assert oversized.count() == n
    out_dir = str(tmp_path)
    oversized.write.mode("overwrite").parquet(out_dir + "/documents.parquet")
    # every doc identical => uncapped would emit n*(n-1)/2 pairs
    assert D.dedup_ngram_jaccard(spark, out_dir).count() == 0


def test_sessionize_exact_gap_boundary_matches_session_window(spark):
    """An event EXACTLY gap_seconds after the previous one MERGES into
    the previous session — Spark's session_window convention (touching
    sessions merge; only a strictly-greater gap splits). Asserted both
    against sessionize() and directly against F.session_window."""
    from chai_data_pipeline_spark.operators.windows import sessionize

    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:30:00"),  # exactly 1800s later -> MERGED
        (1, "2024-01-01 01:00:01"),  # 1801s later -> NEW session
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts_str"]).withColumn(
        "ts", F.col("ts_str").cast("timestamp")
    )
    out = sessionize(df, "user_id", "ts", gap_seconds=1800)
    got = {r.ts_str: r.session_id for r in out.collect()}
    assert got["2024-01-01 00:00:00"] == 1
    assert got["2024-01-01 00:30:00"] == 1
    assert got["2024-01-01 01:00:01"] == 2

    # Ground truth: native session_window groups the same way.
    native = sorted(
        r["count"]
        for r in df.groupBy(
            "user_id", F.session_window("ts", "30 minutes")
        ).count().collect()
    )
    mine = sorted(
        r["count"]
        for r in out.groupBy("user_id", "session_id").count().collect()
    )
    assert native == mine == [1, 2]


def test_salted_join_rejects_outer_joins(spark):
    """Right/full outer joins would emit each unmatched small-side row
    once per salt (the small side is replicated) — must be refused."""
    import pytest as _pytest

    from chai_data_pipeline_spark.operators.skew import salted_join

    a = spark.createDataFrame([(1, "x")], ["k", "va"])
    b = spark.createDataFrame([(2, "y")], ["k", "vb"])
    for bad in ("right", "full", "outer", "full_outer", "right_outer"):
        with _pytest.raises(ValueError):
            salted_join(a, b, "k", how=bad)


def test_asof_join_carries_whole_row_including_nulls(spark):
    """The most recent right row must be attached ATOMICALLY: a
    legitimate NULL in it must come through as NULL (not the previous
    non-null value), and values must never mix across right rows."""
    from chai_data_pipeline_spark.operators.asof import asof_join

    right = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 10.0, "old"),
            (1, "2024-01-01 01:00:00", None, "new"),
        ],
        ["k", "ts_str", "v", "tag"],
    ).select("k", F.col("ts_str").cast("timestamp").alias("rts"), "v", "tag")
    left = spark.createDataFrame(
        [(1, "2024-01-01 02:00:00")], ["k", "ts_str"]
    ).select("k", F.col("ts_str").cast("timestamp").alias("lts"))
    out = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts",
        value_cols=["v", "tag"],
    ).collect()[0]
    assert out.tag == "new"
    assert out.v is None  # NOT 10.0 from the older row


def test_kmeans_recovers_planted_blobs(spark):
    """Three well-separated blobs -> three clusters with the right
    membership; and the fit is bit-deterministic across runs."""
    import random

    from chai_data_pipeline_spark.operators.kmeans import (
        kmeans_assign,
        kmeans_fit,
    )

    rng = random.Random(7)
    centers = [[5.0, 0.0, 0.0], [0.0, 5.0, 0.0], [0.0, 0.0, 5.0]]
    rows = []
    for i in range(90):
        c = centers[i % 3]
        rows.append(
            (i, [x + rng.uniform(-0.3, 0.3) for x in c])
        )
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    book1 = kmeans_fit(df, k=3, iters=5)
    book2 = kmeans_fit(df, k=3, iters=5)
    assert book1 == book2  # bit-deterministic (fixed-point sums)
    assigned = kmeans_assign(df, book1).collect()
    # every blob maps to exactly one cluster id
    by_blob = {}
    for r in assigned:
        by_blob.setdefault(r.vec_id % 3, set()).add(r.cluster_id)
    assert all(len(s) == 1 for s in by_blob.values())
    assert len({next(iter(s)) for s in by_blob.values()}) == 3


def test_kmeans_summary_counts(spark, sf_dir):
    from chai_data_pipeline_spark import plans

    out = plans.QUERIES["embedding_kmeans"](spark, sf_dir)
    rows = out.collect()
    from chai_data_pipeline_spark.session import load_tables

    total = load_tables(spark, sf_dir, "embeddings")["embeddings"].count()
    assert sum(r.n_members for r in rows) == total
    assert all(-1.0 <= r.mean_sim <= 1.0 for r in rows)


def test_streaming_upsert_is_multi_batch_and_idempotent(spark, sf_dir):
    """The foreachBatch upsert sink must actually see MULTIPLE
    micro-batches (the duplicate-delivery staging + maxFilesPerTrigger=1
    = a full redelivery in a second batch), and the final state must
    equal the batch latest-event-per-user regardless — the
    exactly-once-from-at-least-once claim."""
    from chai_data_pipeline_spark.session import load_tables
    from chai_data_pipeline_spark.streaming.upsert import (
        streaming_upsert_latest,
    )

    from pyspark.sql.window import Window

    seen: list[int] = []
    out = streaming_upsert_latest(spark, sf_dir, on_batch=seen.append)
    rows = {r.user_id: r.event_id for r in out.collect()}
    assert len(seen) >= 2, seen  # redelivery happened in its own batch

    events = load_tables(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    expect = {
        r.user_id: r.event_id
        for r in events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert rows == expect


def test_pq_query_vector_is_always_rank_one(spark, sf_dir):
    """ADC(v) = Σ_m d(q_m, centroid(v_m)); for v = q each term picks
    q's own nearest sub-centroid, which MINIMIZES that term over the
    codebook — so the query vector's ADC is the global minimum and (id
    tiebreak) it must rank 1. A broken encode/LUT alignment breaks this
    immediately."""
    from chai_data_pipeline_spark.operators.similarity import (
        pq_codebooks,
        pq_topk,
    )
    from chai_data_pipeline_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    books = pq_codebooks(emb)
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select("embedding").collect()[0][0]
    ]
    top = pq_topk(emb, books, qv, k=3).collect()
    assert top[0].vec_id == 0 and top[0].rank == 1


def test_pq_trained_codebooks_deterministic_and_compatible(spark, sf_dir):
    """kmeans-trained sub-codebooks: identical across runs (fixed-point
    trainer) and drop-in compatible with the shared encode/score path."""
    from chai_data_pipeline_spark.operators.similarity import (
        pq_codebooks_trained,
        pq_topk,
    )
    from chai_data_pipeline_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    b1 = pq_codebooks_trained(emb, iters=2)
    b2 = pq_codebooks_trained(emb, iters=2)
    assert b1 == b2
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select("embedding").collect()[0][0]
    ]
    top = pq_topk(emb, b1, qv, k=3).collect()
    assert top[0].vec_id == 0  # self is still the ADC minimum


def test_interpolate_daily_planted_gaps(spark):
    """Interior gaps get exact linear interpolation; edge gaps keep the
    single available neighbor. (The registered query's events data is
    calendar-dense at sf0.01, so this pins the interp branch.)"""
    from chai_data_pipeline_spark.operators.windows import interpolate_daily

    rows = [
        ("a", "2024-01-02", 10.0),
        # 2024-01-03 .. 04 missing -> 1/3 and 2/3 of the way to 16
        ("a", "2024-01-05", 16.0),
        ("b", "2024-01-01", 5.0),
        ("b", "2024-01-03", 9.0),  # 01-02 missing -> midpoint 7
    ]
    df = spark.createDataFrame(rows, ["s", "d_str", "v"]).select(
        "s", F.col("d_str").cast("date").alias("d"), "v"
    )
    out = {
        (r.s, str(r.d)): (r.v_filled, r.was_gap)
        for r in interpolate_daily(df, "s", "d", "v").collect()
    }
    assert out[("a", "2024-01-02")] == (10.0, False)
    assert out[("a", "2024-01-03")] == (12.0, True)
    assert out[("a", "2024-01-04")] == (14.0, True)
    assert out[("a", "2024-01-05")] == (16.0, False)
    assert out[("b", "2024-01-02")] == (7.0, True)
    # calendar spans only [min, max] per series: no edge extrapolation
    assert ("a", "2024-01-01") not in out and ("b", "2024-01-04") not in out


def test_asof_forward_tolerance_and_ties(spark):
    """Forward asof: earliest future right row wins; matches beyond the
    tolerance are nulled out ATOMICALLY; right ties on (key, ts) reduce
    to min(tiebreak); a right row at exactly left_ts is eligible."""
    from chai_data_pipeline_spark.operators.asof import asof_join_forward

    right = spark.createDataFrame(
        [
            # two rows at the same ts -> min(eid) must win
            (1, "2024-01-01 01:00:00", 7, "dup_hi"),
            (1, "2024-01-01 01:00:00", 3, "dup_lo"),
            (1, "2024-01-02 12:00:00", 9, "far"),
            (2, "2024-01-01 00:00:00", 5, "exact"),
        ],
        ["k", "ts_str", "eid", "tag"],
    ).select(
        "k", F.col("ts_str").cast("timestamp").alias("rts"), "eid", "tag"
    )
    left = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"),  # next = dup_lo (min eid)
            (1, "2024-01-02 00:00:00"),  # next = far, 12h away > 11h tol
            (2, "2024-01-01 00:00:00"),  # exact-ts right row eligible
            (3, "2024-01-01 00:00:00"),  # no right rows at all
        ],
        ["k", "ts_str"],
    ).select("k", F.col("ts_str").cast("timestamp").alias("lts"))

    out = {
        (r.k, str(r.lts)): (r.eid, r.tag)
        for r in asof_join_forward(
            left,
            right,
            on="k",
            left_ts="lts",
            right_ts="rts",
            value_cols=["eid", "tag"],
            tolerance_seconds=11 * 3600,
            tiebreak="eid",
        ).collect()
    }
    assert out[(1, "2024-01-01 00:00:00")] == (3, "dup_lo")
    assert out[(1, "2024-01-02 00:00:00")] == (None, None)  # past tolerance
    assert out[(2, "2024-01-01 00:00:00")] == (5, "exact")
    assert out[(3, "2024-01-01 00:00:00")] == (None, None)


def test_bloom_decontaminate_superset_of_exact(spark, sf_dir, tmp_path):
    """Bloom flags must be a superset of exact hits (no false
    negatives), with a planted cross-source duplicate to make the
    property non-vacuous, and a bounded false-positive rate."""
    import pyarrow.parquet as pq

    from chai_data_pipeline_spark import plans

    tbl = pq.read_table(f"{sf_dir}/documents.parquet")
    d = tbl.to_pydict()
    # plant: copy a src0 doc's text onto the first non-src0 doc
    src0_i = next(i for i, s in enumerate(d["source"]) if s == "src0")
    cand_i = next(i for i, s in enumerate(d["source"]) if s != "src0")
    d["text"][cand_i] = d["text"][src0_i]
    planted_id = d["doc_id"][cand_i]
    import pyarrow as pa

    pq.write_table(pa.table(d), str(tmp_path / "documents.parquet"))

    bloom = {
        r.doc_id: r.in_benchmark
        for r in plans.QUERIES["decontaminate_bloom"](
            spark, str(tmp_path)
        ).collect()
    }
    exact = {
        r.doc_id: r.in_benchmark
        for r in plans.QUERIES["decontaminate_exact"](
            spark, str(tmp_path)
        ).collect()
    }
    assert exact[planted_id] is True
    assert bloom[planted_id] is True
    false_neg = [i for i, hit in exact.items() if hit and not bloom[i]]
    assert false_neg == []
    n_clean = sum(1 for hit in exact.values() if not hit)
    n_fp = sum(
        1 for i, hit in exact.items() if not hit and bloom[i]
    )
    assert n_fp <= max(2, 0.05 * n_clean), (n_fp, n_clean)


def test_cdc_chunks_reassemble_to_original(spark, sf_dir):
    """Content-defined chunking must be a PARTITION of the text: the
    chunks of each document, concatenated in order, are exactly the
    original string (no gaps, no overlaps) — the invariant that makes
    chunk-level dedup lossless."""
    from pyspark.sql import functions as F

    from chai_data_pipeline_spark.plans.dedup import (
        _CDC_W,
        _cdc_poly,
        _ELEM_SPARK,
    )
    from chai_data_pipeline_spark.session import load_tables

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    cs = docs.select(
        "doc_id",
        "text",
        F.expr(
            "transform(sequence(1, length(text)),"
            " i -> ascii(substring(text, i, 1)))"
        ).alias("codes"),
    )
    poly = _cdc_poly("codes", "i", _ELEM_SPARK)
    bounds = F.expr(
        f"concat(array(0), filter(sequence(1, greatest(1, length(text) - "
        f"{_CDC_W - 1})), i -> {poly} = 0), array(length(text)))"
    )
    # localCheckpoint = hard lineage cut: stops the optimizer from
    # inlining the O(len) bounds/codes expressions into every
    # element_at reference below (the product query is protected by
    # its explode Generate node; this concat_ws probe is not — and a
    # mere repartition gets projected through)
    withb = cs.select(
        "doc_id", "text", bounds.alias("bounds")
    ).localCheckpoint()
    rejoined = withb.select(
        "doc_id",
        "text",
        F.expr(
            "concat_ws('', transform(sequence(2, size(bounds)), j -> "
            "substring(text, element_at(bounds, j - 1) + 1, "
            "element_at(bounds, j) - element_at(bounds, j - 1))))"
        ).alias("rejoined"),
    )
    bad = rejoined.filter(F.col("rejoined") != F.col("text")).count()
    assert bad == 0


def test_poisson_bootstrap_weight_mass(spark, sf_dir):
    """Deterministic Poisson(1) draws must average ≈1 weight per row
    (the property that makes each replica ≈ a full-size resample)."""
    from chai_data_pipeline_spark import plans

    rows = plans.QUERIES["poisson_bootstrap_means"](spark, sf_dir).collect()
    assert len(rows) == 16
    from chai_data_pipeline_spark.session import load_tables

    n_users = (
        load_tables(spark, sf_dir, "events")["events"]
        .select("user_id")
        .distinct()
        .count()
    )
    # per-replica n_eff ~ Poisson(n): allow 5-sigma; the MEAN across
    # replicas must sit tight around n (weights average 1)
    import math

    slack = 5 * math.sqrt(n_users)
    for r in rows:
        assert abs(r.n_eff - n_users) <= slack, (r.replica, r.n_eff)
    mean_eff = sum(r.n_eff for r in rows) / len(rows)
    assert abs(mean_eff - n_users) <= 2 * math.sqrt(n_users / 16) + 2


# --------------------------------------------------------------------------
# Conservation, monotonicity and live-leg invariants of the curation,
# similarity, privacy and graph queries. Parity proves Spark == oracle;
# these pin what a hash match cannot express: every predicate actually
# fires on the current corpus, since a dead leg stays green while
# proving nothing and can mask latent bugs.
# --------------------------------------------------------------------------


def _rows(spark, sf_dir, name):
    from chai_data_pipeline_spark import plans

    return plans.QUERIES[name](spark, sf_dir).collect()


def test_near_dup_end_to_end_conservation_and_live(spark, sf_dir):
    rows = _rows(spark, sf_dir, "curation_near_dup_end_to_end")
    assert rows
    for r in rows:
        # token conservation is structural — kept + dropped == total
        assert r["tokens_kept"] + r["tokens_dropped"] == r["tokens_total"]
        assert r["n_kept"] + r["n_dropped"] == r["n_docs"]
        # canonical-per-cluster: a source can keep at most one doc per
        # cluster it touches
        assert r["n_kept"] <= r["n_clusters_touched"]
    # live leg: the LSH dedup actually drops documents somewhere
    assert any(r["n_dropped"] > 0 for r in rows)


def test_memorization_risk_live_and_bounds(spark, sf_dir):
    rows = _rows(spark, sf_dir, "memorization_risk_ranking")
    assert rows
    for r in rows:
        assert r["duplicated_risk"] <= r["total_risk"]
        assert r["n_duplicated"] <= r["n_docs"]
    assert any(r["n_duplicated"] > 0 for r in rows)


def test_multimodal_dedup_live_and_conservation(spark, sf_dir):
    rows = _rows(spark, sf_dir, "multimodal_dedup_storage")
    assert {r["modality"] for r in rows} == {"image", "audio", "video"}
    for r in rows:
        assert r["bytes_kept"] + r["bytes_dropped"] == r["bytes_total"]
        assert r["n_keys"] <= r["n_assets"]
    assert any(r["bytes_dropped"] > 0 for r in rows)


def test_facility_location_submodular_gains(spark, sf_dir):
    rows = sorted(
        _rows(spark, sf_dir, "facility_location_prototypes"),
        key=lambda r: r["rank"],
    )
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
    gains = [r["marginal_gain"] for r in rows]
    # submodularity: greedy marginal gains are non-increasing
    assert all(a >= b for a, b in zip(gains, gains[1:]))
    # objective telescopes exactly
    assert rows[-1]["objective"] == sum(gains)
    assert all(g > 0 for g in gains)


def test_mahalanobis_outliers_positive_and_full(spark, sf_dir):
    rows = _rows(spark, sf_dir, "embedding_mahalanobis_outliers")
    assert len(rows) == 20
    scores = [r["md2_9"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)


def test_dp_mechanisms_noise_live(spark, sf_dir):
    rows = _rows(spark, sf_dir, "dp_laplace_histogram")
    assert rows
    # hash-derived Laplace noise is never exactly zero
    assert all(r["noise"] != 0.0 for r in rows)
    assert all(r["released_count"] >= 0 for r in rows)
    topk = _rows(spark, sf_dir, "dp_topk_noisy_max")
    assert [r["noisy_rank"] for r in topk] == list(range(1, len(topk) + 1))


def test_trade_modularity_identity(spark, sf_dir):
    rows = _rows(spark, sf_dir, "trade_modularity_regions")
    assert len(rows) == 5
    q_totals = {r["q_total"] for r in rows}
    assert len(q_totals) == 1  # the global Q is one number on every row
    assert any(r["intra_weight"] > 0 for r in rows)
    # strengths partition the total weight: sum of per-region q_contrib
    # approximates q_total (quantization-rounded per row)
    approx = sum(r["q_contrib"] for r in rows)
    assert abs(approx - rows[0]["q_total"]) < 1e-4


def test_cluster_nmi_bounds(spark, sf_dir):
    (r,) = _rows(spark, sf_dir, "embedding_cluster_purity_nmi")
    assert r["n_clusters"] >= 2 and r["n_labels"] >= 2
    assert 0.0 < r["purity"] <= 1.0
    assert r["nmi"] is not None and 0.0 <= r["nmi"] <= 1.0
    assert r["mi"] >= 0.0


def test_curation_filters_actually_fire(spark, sf_dir):
    """The quality cutoff (90) must DROP documents on the current
    corpus — if a regeneration shifts the score distribution so the
    filter keeps or kills everything, this fails loudly instead of
    riding a vacuous hash match (curation_end_to_end round-10 lesson)."""
    from chai_data_pipeline_spark import plans

    docs_total = (
        plans.QUERIES["curation_mixture_end_to_end"](spark, sf_dir)
        .agg(F.sum("n_docs_kept"))
        .collect()[0][0]
    )
    from chai_data_pipeline_spark.session import load_tables

    corpus = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .filter(F.col("text").isNotNull())
        .count()
    )
    assert 0 < docs_total < corpus
    rows = _rows(spark, sf_dir, "curation_mixture_end_to_end")
    assert any(r["repeated_tokens"] > 0 for r in rows)
    assert all(r["epochs"] >= 1 for r in rows if r["epochs"] is not None)
