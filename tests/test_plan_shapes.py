"""Physical-plan shape assertions: the scale properties (pushdown,
column pruning, broadcast joins, map-side partial aggregation) are
load-bearing design decisions — these tests pin them so a refactor
can't silently trade them away."""

from __future__ import annotations

import pytest

from chai_data_pipeline_spark import plans


def _plan(spark, name, sf_dir) -> str:
    df = plans.QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, "proj_filter_pushdown", sf_dir)
    assert "PushedFilters: [" in plan
    assert "LessThan(l_shipdate" in plan
    assert "GreaterThan(l_discount" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = _plan(spark, "proj_filter_pushdown", sf_dir)
    # only the 6 needed columns of lineitem's 11 are read
    read = [l for l in plan.split("\n") if "ReadSchema" in l][0]
    assert "l_extendedprice" in read
    assert "l_returnflag" not in read and "l_tax" not in read


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(spark, "star_join_revenue", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 3  # nation/region/customer side
    # the fact table never shuffles for the joins: no shuffle exchange
    # below the join tree except the final aggregation's
    assert "SortMergeJoin" not in plan


def test_agg_is_partial_then_final(spark, sf_dir):
    plan = _plan(spark, "daily_summary", sf_dir)
    assert "partial_" in plan  # map-side combine present


def test_windows_avoid_global_partition_for_series(spark, sf_dir):
    plan = _plan(spark, "lag_dod_wow", sf_dir)
    # series windows are partitioned (no single-partition window)
    assert "windowspecdefinition(event_type" in plan


def test_anti_join_is_join_not_filterscan(spark, sf_dir):
    plan = _plan(spark, "anti_join_orphans", sf_dir)
    assert "LeftAnti" in plan


@pytest.mark.parametrize(
    "name", ["dedup_exact_content", "text_stats", "lang_id", "token_counts"]
)
def test_text_ops_have_no_python_udf(spark, sf_dir, name):
    """Text analysis must stay JVM-side (no BatchEvalPython/ArrowEval
    in the plan) — UDFs are reserved for genuinely non-expressible ops
    (SimHash bit fold, multimodal decode)."""
    plan = _plan(spark, name, sf_dir)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_bucketed_join_skips_shuffle(spark, sf_dir, tmp_path_factory):
    """Two tables bucketed on the join key co-locate: the sort-merge
    join runs with NO exchange on either side."""
    from chai_data_pipeline_spark.session import load_tables
    from chai_data_pipeline_spark.sources.writers import write_bucketed_table

    loc = tmp_path_factory.mktemp("bucketdb")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '{loc}'")
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    write_bucketed_table(t["orders"], "bucketdb.orders_b", 8, ["o_orderkey"])
    write_bucketed_table(
        t["lineitem"], "bucketdb.lineitem_b", 8, ["l_orderkey"]
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bucketdb.lineitem_b").join(
            spark.table("bucketdb.orders_b"),
            spark.table("bucketdb.lineitem_b").l_orderkey
            == spark.table("bucketdb.orders_b").o_orderkey,
        )
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        # and the result is right
        assert joined.count() == t["lineitem"].count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bucketdb.orders_b")
        spark.sql("DROP TABLE IF EXISTS bucketdb.lineitem_b")
        spark.sql("DROP DATABASE IF EXISTS bucketdb")


def test_hash_sample_is_map_only(spark, sf_dir):
    """Deterministic sampling must be scan+filter — zero exchanges;
    at 100 TB any shuffle here would be a pure waste."""
    plan = _plan(spark, "sample_hash_deterministic", sf_dir)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pii_redaction_is_map_only_jvm(spark, sf_dir):
    plan = _plan(spark, "pii_redaction", sf_dir)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_heavy_hitters_partial_agg_before_shuffle(spark, sf_dir):
    """Token counting must combine map-side so the shuffle moves
    vocabulary-sized partials, not corpus-sized token rows."""
    plan = _plan(spark, "heavy_hitters", sf_dir)
    assert "partial_" in plan


def test_ivf_assign_is_map_only(spark, sf_dir):
    """Centroid assignment must never shuffle the vector table: the
    codebook folds to one broadcast row and the argmax happens in-row.
    The old shape (crossJoin + per-id window) moved 16x the embedding
    volume through an Exchange hashpartitioning(vec_id)."""
    from chai_data_pipeline_spark.operators.similarity import ivf_assign
    from chai_data_pipeline_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    assigned = ivf_assign(emb)
    plan = assigned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "hashpartitioning(vec_id" not in plan
    assert "Window" not in plan


@pytest.mark.parametrize(
    "name", ["similarity_cosine_topk", "tpch_q3_shipping_priority"]
)
def test_topk_is_sort_limit_not_global_window(spark, sf_dir, name):
    """Top-k finishers must compile to TakeOrderedAndProject (local
    top-k per partition, driver merge of k*P rows), not a global
    unpartitioned row_number() window over every scored row."""
    plan = _plan(spark, name, sf_dir)
    assert "TakeOrderedAndProject" in plan
    # the only window left ranks the bounded k-row result and carries a
    # non-empty (constant) partition spec
    assert "windowspecdefinition(0," in plan or "windowspecdefinition(Window" not in plan


def test_sequence_packing_partitions_by_lang(spark, sf_dir):
    """The packing window must be per-language (no single-partition
    global sort over the corpus)."""
    plan = _plan(spark, "sequence_packing", sf_dir)
    assert "windowspecdefinition(lang" in plan


@pytest.mark.parametrize(
    "name",
    ["tpch_q10_returned_items", "tpch_q21_waiting_supplier",
     "tpch_q2_min_cost_supplier"],
)
def test_tpch_topk_finishers_take_ordered(spark, sf_dir, name):
    """TPC-H top-k reports must compile to TakeOrderedAndProject, never
    a global row_number() window over the full aggregate."""
    plan = _plan(spark, name, sf_dir)
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize(
    "name",
    ["tpch_q7_volume_shipping", "tpch_q9_product_profit",
     "tpch_q5_local_supplier_volume"],
)
def test_tpch_fixed_dims_broadcast(spark, sf_dir, name):
    """Fixed-cardinality dimensions (nation/region; filtered part sets)
    must broadcast — the fact table never shuffles for those joins."""
    plan = _plan(spark, name, sf_dir)
    assert "BroadcastHashJoin" in plan


def test_tpch_q14_single_pass_no_exchange_before_agg(spark, sf_dir):
    """Q14's promo percentage is ONE scan + broadcast join + one global
    agg — exactly one exchange (the single-partition final agg)."""
    plan = _plan(spark, name="tpch_q14_promo_effect", sf_dir=sf_dir)
    assert plan.count("Exchange hashpartitioning") == 0


def test_tpch_q18_having_aggregate_is_the_result(spark, sf_dir):
    """r14 shape: the output group is per o_orderkey (the orders PK),
    and total_qty IS the per-order dsum the HAVING filter computed —
    so the plan must contain NO semi-join back to lineitem, NO second
    lineitem scan, and NO detail-grain re-aggregation: one order-grain
    aggregate joined to orders/customer. (Supersedes the r3-pinned
    broadcast-semi-join shape, which scanned lineitem twice; r14 A/B
    0.646 -> 0.567 s, plans/r14/ab_twolevel.json.)"""
    plan = _plan(spark, "tpch_q18_large_volume_customers", sf_dir)
    assert "LeftSemi" not in plan
    assert plan.count("lineitem.parquet") == 1
    assert "SortMergeJoin" not in plan
    # the one remaining hash-aggregate pair is the per-order dsum
    # (plus the split repartitions); no final group-by re-aggregation
    assert plan.count("Exchange hashpartitioning") <= 3


def test_pq_encode_and_score_map_only(spark, sf_dir):
    """PQ ANN hot path must be shuffle-free: encode is an in-row argmin
    against literal codebooks, scoring is a literal-LUT sum, and the
    finisher is TakeOrdered — no hash exchange anywhere."""
    plan = _plan(spark, "similarity_ann_pq_checked", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_cooccurrence_has_no_usertable_self_join(spark, sf_dir):
    """Pairs must generate in-row from each user's type array — a
    self-join of the user-type table would shuffle every user twice
    and is the shape this plan exists to avoid. One distinct agg, one
    pair count, broadcast marginals."""
    plan = _plan(spark, "event_type_cooccurrence", sf_dir)
    assert "SortMergeJoin" not in plan
    assert "Generate explode" in plan or "Generate" in plan


def test_anomaly_stats_broadcast_back(spark, sf_dir):
    """Per-series stats are group-bounded — they must broadcast over
    the daily rollup, never shuffle it."""
    plan = _plan(spark, "anomaly_days_zscore", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rolling_distinct_calendar_is_broadcast_semi(spark, sf_dir):
    plan = _plan(spark, "rolling_distinct_users_7d", sf_dir)
    # the observed-days clip must be a broadcast semi-join (calendar is
    # bounded), never a shuffled join of the fanned-out pair table
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_minmax_normalize_stats_broadcast_back(spark, sf_dir):
    plan = _plan(spark, "minmax_normalize_lengths", sf_dir)
    # lang-cardinality stats broadcast over the doc table: map-only
    # second pass, no sort-merge join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_table_diff_joins_on_key_without_broadcast(spark, sf_dir):
    # both snapshots are table-sized: nothing in the query may FORCE a
    # broadcast — with size-based broadcast off (emulating 100-TB size
    # stats) the planner must fall back to a co-partitioned join. (At
    # test SF the auto-broadcast it picks instead is also correct.)
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "table_diff_reconcile", sf_dir)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_out_of_order_window_partitions_by_user(spark, sf_dir):
    plan = _plan(spark, "out_of_order_profile", sf_dir)
    assert "windowspecdefinition(user_id" in plan


def test_rfm_cutoffs_broadcast_back(spark, sf_dir):
    # the 12-number quintile row must broadcast (nested-loop on a
    # 1-row side), never shuffle customers against it
    plan = _plan(spark, "rfm_segmentation", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # and no ntile: scoring is comparisons, not a global sort rank
    # (\b keeps "percentile(" from matching)
    import re

    assert not re.search(r"\bntile\(", plan)


def test_bloom_bitmap_is_broadcast(spark, sf_dir):
    plan = _plan(spark, "decontaminate_bloom", sf_dir)
    assert "BroadcastHashJoin" in plan
    # probe side stays map-only up to the final per-doc aggregate:
    # exactly the bitmap build's shuffle + the final group's
    # ("Exchange" alone would also count BroadcastExchange nodes)
    assert plan.count("hashpartitioning(") <= 2


def test_scd2_pit_join_is_keyed_not_cartesian(spark, sf_dir):
    plan = _plan(spark, "scd2_point_in_time_join", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_corpus_overlap_counts_broadcast(spark, sf_dir):
    plan = _plan(spark, "corpus_overlap_sources", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2  # the two S-row count sides


def test_zorder_audit_partial_aggregates(spark, sf_dir):
    plan = _plan(spark, "zorder_layout_audit", sf_dir)
    assert "partial_" in plan
    assert "CartesianProduct" not in plan


def test_eval_set_rank_partitions_by_lang(spark, sf_dir):
    plan = _plan(spark, "eval_set_fixed_k", sf_dir)
    assert "windowspecdefinition(lang" in plan


def test_sink_roundtrip_partition_pruning(spark, sf_dir):
    # the read-back scan must prune by partition directory, not filter
    # rows post-scan: PartitionFilters carries the status predicate
    plan = _plan(spark, "sink_partitioned_roundtrip", sf_dir)
    pf = [l for l in plan.split("\n") if "PartitionFilters" in l]
    assert pf and "o_orderstatus" in pf[0]


def test_no_query_compiles_to_cartesian_or_row_udf(spark, sf_dir):
    """Registry-wide invariant: NO query may plan a CartesianProduct, a
    row-at-a-time Python UDF, or a SinglePartition exchange over a
    non-aggregated subtree (a global funnel of row-cardinality data —
    the sorted-neighborhood class of scale trap). Global ordering of an
    already-reduced frame is fine and not flagged.
    (tools/plan_lint.py is the reporting form of this.)"""
    from chai_data_pipeline_spark.tools.plan_lint import lint_query

    # sample-bounded by design: ntile over a hash-sample whose fraction
    # is the documented knob (plans/layout.py range_partition_planner)
    raw_sp_allowed = {"range_partition_planner"}
    # the ONLY queries allowed Arrow/Pandas evaluation — each a
    # documented non-column-expressible kernel (64-bit bit folds,
    # binary decode, the applyInPandas demonstration twin). Anything
    # else growing an ArrowEvalPython node is an accidental slow path.
    arrow_allowed = {
        "dedup_simhash",
        "dtw_event_type_daily",  # grouped exact-DP kernel (docstring)
        "multimodal_decode_meta",
        "multimodal_features",
        "multimodal_frame_sample",
        "similarity_ann_lsh",
        "trend_applyinpandas",
    }
    offenders = []
    for name in sorted(plans.QUERIES):
        f = lint_query(spark, name, sf_dir)
        assert f.error is None, f"{name}: {f.error}"
        raw_sp = 0 if name in raw_sp_allowed else f.raw_single_partition
        arrow = 0 if name in arrow_allowed else f.python_arrow
        if f.cartesian or f.python_row or raw_sp or arrow:
            offenders.append(
                (name, f.cartesian, f.python_row, raw_sp, arrow)
            )
    assert offenders == []


def test_dynamic_partition_pruning_on_partitioned_lake(
    spark, sf_dir, tmp_path_factory
):
    """A date-partitioned fact joined to a filtered dim must plan
    dynamic partition pruning: the fact scan's partition filter is fed
    at RUNTIME from the dim side, so only matching date directories are
    read — the mechanism that turns a 100 TB scan into a 2-partition
    read when the dim filter is selective."""
    from pyspark.sql import functions as F

    from chai_data_pipeline_spark.session import load_tables
    from chai_data_pipeline_spark.sources.writers import write_table

    events = load_tables(spark, str(sf_dir), "events")["events"]
    lake = str(tmp_path_factory.mktemp("dpp") / "events_by_day")
    write_table(
        events.withColumn("d", F.col("ts").cast("date")),
        lake,
        partition_by=["d"],
    )
    fact = spark.read.parquet(lake)
    # the dim must be INDEPENDENT of the fact scan and carry a filter —
    # a dim derived from the fact itself does not qualify for DPP
    days = [r.d for r in fact.select("d").distinct().limit(4).collect()]
    dim = spark.createDataFrame(
        [(d, 1 if i < 2 else 0) for i, d in enumerate(days)],
        "d date, keep int",
    )
    joined = (
        fact.join(dim.filter(F.col("keep") == 1), "d").groupBy("d").count()
    )
    plan = joined._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_cms_topk_is_take_ordered(spark, sf_dir):
    """The exact candidate side of the CMS twin must finish with
    TakeOrdered (per-partition heaps), never a global sort."""
    plan = _plan(spark, "cms_heavy_hitters_checked", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_bm25_finisher_take_ordered_and_stats_broadcast(spark, sf_dir):
    plan = _plan(spark, "bm25_doc_retrieval", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan


def test_pagerank_iterations_broadcast_rank_vector(spark, sf_dir):
    """Every superstep joins the 25-row rank vector by broadcast; the
    dims in the edge build broadcast too — no shuffle grows with
    iteration count."""
    plan = _plan(spark, "pagerank_trade_graph", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # normalization + rank-update joins are all model-sized: no
    # superstep may shuffle the edge or node table
    assert "SortMergeJoin" not in plan


def test_grid_nn_candidates_are_equi_join(spark, sf_dir):
    """Cell-bucketed spatial NN must candidate-generate via an
    EQUI-join on cell ids — the whole point vs a cross join."""
    plan = _plan(spark, "grid_nearest_supplier", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_histogram_quantiles_partial_agg(spark, sf_dir):
    """The binned count must map-side combine (partial_count before
    the exchange) — the constant-state property of the histogram."""
    plan = _plan(spark, "histogram_quantiles_checked", sf_dir)
    assert "partial_count" in plan


def test_capture_recapture_single_distributed_pass(spark, sf_dir):
    """capture_recapture_users must be ONE distributed plan (per-user
    flag agg -> 1-row global agg) over a single events scan — not the
    r4 shape of 4 driver actions collected into a LocalTableScan."""
    plan = _plan(spark, "capture_recapture_users", sf_dir)
    # one data source (the single events scan), counted via its
    # Location line to avoid double-counting tree + detail sections
    assert plan.count("Location:") == 1
    assert "HashAggregate" in plan
    assert "LocalTableScan" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "bm25_doc_retrieval",
        "unigram_lm_perplexity",
        "hll_set_algebra_checked",
        "histogram_quantiles_checked",
    ],
)
def test_flagship_retrieval_sketch_plans_broadcast(spark, sf_dir, name):
    """The r4b retrieval/sketch flagships must keep their broadcast
    shapes: posting/statistics sides are broadcast (model-sized), never
    sort-merge — a SortMergeJoin here means a corpus-wide shuffle that
    the design specifically avoids."""
    plan = _plan(spark, name, sf_dir)
    assert "SortMergeJoin" not in plan


def test_bm25_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, "bm25_doc_retrieval", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_sorted_neighborhood_is_range_partitioned(spark, sf_dir):
    """SNM must range-partition the sort and window per partition with
    boundary borrowing — a single-partition global window over the raw
    table is the classic scale trap this formulation exists to avoid.
    (Exactness vs the global-window oracle is pinned by the parity
    suite; this pins the SHAPE.)"""
    plan = _plan(spark, "sorted_neighborhood_pairs", sf_dir)
    assert "rangepartitioning" in plan
    # no Exchange may collapse the raw table to one partition; the only
    # SinglePartition allowed is none at all here
    import re

    for seg in plan.split("\n\n"):
        if seg.startswith("(") and seg.split("\n")[0].endswith("Exchange"):
            assert "SinglePartition" not in seg


@pytest.mark.parametrize("name", ["per_source_cap", "eval_set_fixed_k"])
def test_per_group_topk_is_salted_two_phase(spark, sf_dir, name):
    """Per-group top-k must rank within (group, salt) first — a hot
    group never serializes through one window task; phase 2 re-ranks
    only the bounded survivors."""
    plan = _plan(spark, name, sf_dir)
    assert "salt" in plan
    # both phases present: a salted spec and the final per-group spec
    assert plan.count("windowspecdefinition") >= 2


def test_quantile_normalize_rank_is_range_partitioned(spark, sf_dir):
    """The within-source full ranking must be range-partitioned local
    row numbers + broadcast offsets, never one window task per source."""
    plan = _plan(spark, "quantile_normalize_lengths", sf_dir)
    assert "rangepartitioning" in plan


def test_hash_once_per_shingle_no_lambda_inline(spark, sf_dir):
    """The minhash/winnowing kernels hash each shingle ONCE: the base
    hash must not be inlined into the per-permutation / per-window
    lambdas (that re-evaluates the whole hash transform per position —
    the O(positions x grams) trap fixed in round 8). Pin the
    occurrence counts in the optimized plans."""
    from chai_data_pipeline_spark import plans

    def opt(name):
        df = plans.QUERIES[name](spark, sf_dir)
        return df._jdf.queryExecution().optimizedPlan().toString()

    # winnowing: 2 consumer branches x 2 struct-field refs = 4 max
    assert opt("winnowing_fingerprint_census").count("sha2") <= 4
    # checked LSH: one md5 transform for sig + one for the gram
    # re-join legs; 16-perm inlining would show ~16+
    assert opt("dedup_minhash_lsh_checked").count("md5") <= 4
    # production path: base xxhash64 transform + per-band sig hashing
    # (8 bands); 32-perm inlining would show ~32+
    assert opt("dedup_minhash_lsh").count("xxhash64") <= 12


def test_mahalanobis_finisher_and_broadcast(spark, sf_dir):
    """The Mahalanobis outlier query must finish with
    TakeOrderedAndProject (never a global window over all vectors) and
    join the 64-row moment stats by broadcast — the scoring pass must
    not shuffle the exploded (vec, dim) grid for the stats join."""
    plan = _plan(spark, "embedding_mahalanobis_outliers", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dp_mechanisms_are_histogram_grain_jvm(spark, sf_dir):
    """DP release mechanisms run their noise math AFTER the aggregate
    (histogram grain) with no Python in the plan; the event scan is the
    only data-sized stage."""
    for name in ("dp_laplace_histogram", "dp_topk_noisy_max"):
        plan = _plan(spark, name, sf_dir)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_multimodal_dedup_never_shuffles_payload_bytes(spark, sf_dir):
    """The perceptual-dedup accounting must group on digests: the
    payload column may appear only below the first aggregate, never in
    a shuffle above it."""
    plan = _plan(spark, "multimodal_dedup_storage", sf_dir)
    # the digest groupBy must partial-aggregate map-side
    assert "partial_" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_load_tables_memo_reuses_plan_objects(spark, sf_dir):
    """The per-session table memo returns the SAME DataFrame (a plan
    object, never a result) for repeat loads, keeps sf_dirs and split
    variants distinct, and repoints the temp view when the key
    changes."""
    import chai_data_pipeline_spark.session as S

    a = S.load_tables(spark, sf_dir, "events")["events"]
    b = S.load_tables(spark, sf_dir, "events")["events"]
    assert a is b  # memo hit: no second read.parquet plan build
    # the registered view resolves to the same relation
    assert spark.table("events").count() == a.count()

    # split variant is a distinct memo entry (different physical plan)
    c = S.load_tables(spark, sf_dir, "events", split=("events",))["events"]
    assert c is not a
    c2 = S.load_tables(spark, sf_dir, "events", split=("events",))["events"]
    assert c2 is c
    # ...and the view now points at the split variant, then back
    S.load_tables(spark, sf_dir, "events")
    assert spark.table("events").count() == a.count()


def test_split_key_override(spark, sf_dir, monkeypatch):
    """A "table:key" split entry hash-partitions on the override key,
    gets its own memo entry, and an unknown override column is a
    no-op (the guard that keeps the mechanism schema-safe)."""
    import chai_data_pipeline_spark.session as S

    # floor of 1 row so the split fires at sf0.001; fresh memos so no
    # plan built under the real floors is served (and none built here
    # outlives the test: the session's lineitem view re-registers)
    monkeypatch.setattr(
        S, "_SPLIT_KEYS", {t: (k, 1) for t, (k, _) in S._SPLIT_KEYS.items()}
    )
    monkeypatch.setattr(S, "_PLAN_MEMO", {})
    S._VIEW_STATE.pop((spark.sparkContext.applicationId, "lineitem"), None)
    monkeypatch.setattr(S, "_VIEW_STATE", {})
    over = S.load_tables(
        spark, sf_dir, "lineitem", split=("lineitem:l_suppkey",)
    )["lineitem"]
    plan = over._jdf.queryExecution().analyzed().toString()
    assert "l_suppkey" in plan and "RepartitionByExpression" in plan
    default = S.load_tables(
        spark, sf_dir, "lineitem", split=("lineitem",)
    )["lineitem"]
    assert default is not over  # distinct memo entries per key
    dplan = default._jdf.queryExecution().analyzed().toString()
    assert "l_orderkey" in dplan.split("RepartitionByExpression")[1]
    # unknown column -> untouched plan, not an error
    noop = S.load_tables(
        spark, sf_dir, "lineitem", split=("lineitem:no_such_col",)
    )["lineitem"]
    nplan = noop._jdf.queryExecution().analyzed().toString()
    assert "RepartitionByExpression" not in nplan


def _write_parquet(path, n_rows: int, row_group_size: int, key: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({key: list(range(n_rows))}), path, row_group_size=row_group_size
    )


def _is_split(df) -> bool:
    return "RepartitionByExpression" in (
        df._jdf.queryExecution().analyzed().toString()
    )


def test_split_rereads_a_footer_rewritten_in_place(spark, tmp_path, monkeypatch):
    """The split rule reads row groups per file version: a table file
    rewritten in place (new size, new row-group count) changes the
    load_tables decision on the next plan build."""
    import chai_data_pipeline_spark.session as S

    cores = spark.sparkContext.defaultParallelism
    if cores < 2:
        pytest.skip("one core: every file is well-packed")
    # a table name no other test loads, so its temp view harms nothing
    monkeypatch.setattr(S, "_SPLIT_KEYS", {"split_probe": ("k", 1)})
    sf, split = str(tmp_path), ("split_probe",)
    path = str(tmp_path / "split_probe.parquet")
    n = 4 * cores

    # one row group per row: well-packed, no split
    _write_parquet(path, n, 1, "k")
    monkeypatch.setattr(S, "_PLAN_MEMO", {})
    packed = S.load_tables(spark, sf, "split_probe", split=split)
    assert not _is_split(packed["split_probe"])

    # the same path rewritten as one row group: split
    _write_parquet(path, n, n, "k")
    monkeypatch.setattr(S, "_PLAN_MEMO", {})
    single = S.load_tables(spark, sf, "split_probe", split=split)
    assert _is_split(single["split_probe"])


def test_unreadable_footer_is_not_cached(spark, tmp_path):
    """A footer that cannot be read leaves the split rule and the IVF
    Arrow switch at their fail-safe answers for that call only: once
    the file is readable, both decide from its footer."""
    import chai_data_pipeline_spark.session as S
    from chai_data_pipeline_spark.plans.similarity import _ivf_arrow_auto

    cores = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "embeddings.parquet")
    with open(path, "wb") as fh:
        fh.write(b"not a parquet file")
    df = spark.range(1).withColumnRenamed("id", "vec_id")

    assert S._split_if_unsplittable(spark, "embeddings", path, df) is df
    assert _ivf_arrow_auto(str(tmp_path), threshold=1) is False
    assert not [k for k in S._FOOTERS if k[0] == path]

    _write_parquet(path, 1000, 1000, "vec_id")  # 1000 rows, one row group
    assert _ivf_arrow_auto(str(tmp_path), threshold=1) is True
    split = S._split_if_unsplittable(spark, "embeddings", path, df)
    assert _is_split(split) == (cores > 1)
