"""Streaming: the ephemeral-stream runner, the append-mode fence and
watermark finalization, the state-partition class rule, the source-stream
memo, and the near-dup guard.

Every ephemeral streaming runner (run_streaming_query, window_topk_run,
the upsert / HLL / near-dup foreachBatch sinks, run_foreach_batch_upsert)
takes its scratch paths from ``fresh_scratch`` and runs through
``drive_stream``, which pins ``minBatchesToRetain``, the shuffle width and
``noDataMicroBatches`` for the run and restores them afterwards.
"""

from __future__ import annotations

import ast
import glob
import importlib
import os

import pytest
from pyspark.sql import functions as F

import chai_data_pipeline_spark.plans.streaming as plans_streaming


# --------------------------------------------------------------------------
# The runner: fresh_scratch reaps every entry of earlier runs of a prefix
# (including atomic_replace's files); drive_stream pins and restores the
# session confs.
# --------------------------------------------------------------------------


def test_fresh_scratch_reaps_earlier_runs_only(tmp_path):
    """Run dirs, role suffixes and atomic_replace debris of earlier runs
    go, files included; another prefix that merely extends this one, and
    names without an exact 8-hex run id, stay."""
    from chai_data_pipeline_spark.streaming.windows import fresh_scratch

    prefix = str(tmp_path / "chai_stream_join")
    stale = [
        "chai_stream_join_0123abcd",
        "chai_stream_join_0123abcd_chk",
        "chai_stream_join_0123abcd_state",
        "chai_stream_join_0123abcd_state__old_ff00",
        "chai_stream_join_0123abcd__merge_12ab",
    ]
    stale_files = [
        "chai_stream_join_0123abcd__merge_marker",
        "chai_stream_join_0123abcd__generation",
        "chai_stream_join_0123abcd_state__generation.9f9f9f9f",
    ]
    kept = [
        "chai_stream_join_x_0123abcd",
        "chai_stream_join_x_0123abcd__generation",
        "chai_stream_join_0123abc",
        "chai_stream_join_0123abcde",
        "chai_stream_join_0123abcd_extra",
    ]
    for name in stale + kept:
        (tmp_path / name).mkdir()
    for name in stale_files:
        (tmp_path / name).write_text("1")

    path = fresh_scratch(prefix)
    assert os.path.dirname(path) == str(tmp_path)
    assert len(os.path.basename(path)) == len("chai_stream_join_") + 8
    assert sorted(os.listdir(tmp_path)) == sorted(kept)


def test_upsert_run_pins_and_restores_confs(spark, sf_dir):
    """Inside a foreachBatch sink's batches the ephemeral retain bound
    and the runner's shuffle width are in force; after return the
    session holds its own values again."""
    from chai_data_pipeline_spark.streaming.upsert import (
        streaming_upsert_latest,
    )

    retain = "spark.sql.streaming.minBatchesToRetain"
    parts = "spark.sql.shuffle.partitions"
    prev_parts = spark.conf.get(parts)
    # a session width distinct from the runner's 8, so the pin shows
    spark.conf.set(parts, "3")
    try:
        before = (spark.conf.get(retain, None), "3")
        seen: list[tuple] = []
        streaming_upsert_latest(
            spark,
            sf_dir,
            on_batch=lambda _: seen.append(
                (spark.conf.get(retain, None), spark.conf.get(parts))
            ),
        )
        assert seen and set(seen) == {("2", "8")}, seen
        assert (spark.conf.get(retain, None), spark.conf.get(parts)) == before
    finally:
        spark.conf.set(parts, prev_parts)


@pytest.mark.parametrize(
    "base, module, runner",
    [
        ("chai_stream_upsert", "upsert", "streaming_upsert_latest"),
        ("chai_stream_hll", "sketch", "streaming_hll_merge"),
    ],
)
def test_rerun_leaves_no_orphaned_generation_file(
    spark, sf_dir, base, module, runner
):
    """atomic_replace writes ``<target>__generation`` beside each table;
    a re-run must reap the earlier run's file with its table, leaving
    one run's entries."""
    from chai_data_pipeline_spark.streaming.windows import stream_scratch_dir

    run = getattr(
        importlib.import_module(f"chai_data_pipeline_spark.streaming.{module}"),
        runner,
    )
    for _ in range(2):
        run(spark, sf_dir).collect()
    gens = glob.glob(os.path.join(stream_scratch_dir(), f"{base}_*__generation"))
    assert gens
    for gen in gens:
        assert os.path.isdir(gen[: -len("__generation")]), gen
    run_ids = {
        os.path.basename(p)[len(base) + 1 :][:8]
        for p in glob.glob(os.path.join(stream_scratch_dir(), f"{base}_*"))
    }
    assert len(run_ids) == 1, run_ids


def test_ephemeral_retain_applied_and_restored(spark, sf_dir):
    """drive_stream bounds checkpoint-version retention for its
    throwaway checkpoints (r14: minBatchesToRetain=2, measured win
    across all seven streaming headline keys): 2 inside the run, the
    session's own value after it (still unset when it was unset)."""
    from chai_data_pipeline_spark.streaming.windows import (
        _events_stream,
        drive_stream,
        fresh_scratch,
    )

    key = "spark.sql.streaming.minBatchesToRetain"
    before = spark.conf.get(key, None)
    try:
        for own in (None, "7"):
            if own is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, own)
            seen: list = []
            drive_stream(
                _events_stream(spark, sf_dir)
                .writeStream.foreachBatch(
                    lambda _df, _id: seen.append(spark.conf.get(key, None))
                )
                .option("checkpointLocation", fresh_scratch("chai_stream_retain")),
                spark,
                2,
            )
            assert seen and set(seen) == {"2"}, seen
            assert spark.conf.get(key, None) == own
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


# --------------------------------------------------------------------------
# The append-mode fence and watermark finalization.
#
# run_streaming_query forces noDataMicroBatches off (r11 fixed-cost cut).
# That is safe for every registered topology, but an append-mode WINDOWED
# aggregate would silently never emit its trailing windows — the runner
# must refuse that topology loudly instead of truncating output, unless
# it opts into finalize_windows=True. Semantics pinned here, verified
# empirically against Spark 4.1:
# - a window ending EXACTLY at the watermark (max event time - delay) IS
#   finalized and emitted (boundary is <=, not <);
# - windows ending after the watermark are never emitted (the oracle
#   must carry the matching ``window_end <= max(ts) - delay`` cutoff);
# - the finalization happens in a zero-input no-data micro-batch that
#   the runner re-enables for finalize_windows=True runs — without it
#   the append sink would be EMPTY (watermark updates at end-of-batch,
#   and eviction only runs in a subsequent batch), which is what makes
#   the fence/finalize split loud rather than silently truncating.
# --------------------------------------------------------------------------


def test_append_windowed_aggregate_is_rejected(spark, sf_dir):
    from chai_data_pipeline_spark.streaming.windows import (
        _events_stream,
        run_streaming_query,
    )

    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"))
        .agg(F.count("*").alias("n"))
    )
    with pytest.raises(ValueError, match="noDataMicroBatches"):
        run_streaming_query(agg, "r12_trap_probe", output_mode="append")


def test_append_non_aggregate_still_allowed(spark, sf_dir):
    """The fence must not catch the registered append topologies
    (processing-time emitters: stream join, delivery dedup)."""
    from chai_data_pipeline_spark.streaming.windows import (
        _events_stream,
        run_streaming_query,
    )

    stream = _events_stream(spark, sf_dir).select("event_id", "user_id")
    out = run_streaming_query(
        stream, "r12_passthrough_probe", output_mode="append"
    )
    assert out.count() > 0


def _windowed_count(stream):
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("ws"), "n")
    )


def test_append_finalize_boundary(spark, tmp_path):
    """Window end == watermark emits; window end > watermark doesn't.

    Data: events at 00:30, 01:30, 02:30 and max ts exactly 03:00:00 →
    watermark = 01:00:00. Window [00,01) (end == watermark) must be
    the ONLY emitted window."""
    from chai_data_pipeline_spark.streaming.windows import (
        run_streaming_query,
    )

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        rows = [
            ("2024-01-01 00:30:00",),
            ("2024-01-01 01:30:00",),
            ("2024-01-01 02:30:00",),
            ("2024-01-01 03:00:00",),
        ]
        df = spark.createDataFrame(rows, "ts string").select(
            F.col("ts").cast("timestamp").alias("ts")
        )
        src = str(tmp_path / "src")
        df.coalesce(1).write.parquet(src)
        stream = (
            spark.readStream.schema(df.schema).format("parquet").load(src)
        )
        out = run_streaming_query(
            _windowed_count(stream),
            "r13_boundary_probe",
            output_mode="append",
            finalize_windows=True,
        )
        got = [(str(r.ws), r.n) for r in out.collect()]
        assert got == [("2024-01-01 00:00:00", 1)]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_append_finalize_matches_batch_cutoff(spark, sf_dir):
    """The registered topology over real testdata equals the batch
    aggregate restricted to watermark-closed windows."""
    from chai_data_pipeline_spark.session import load_tables
    from chai_data_pipeline_spark.streaming.windows import (
        append_window_counts_stream,
        run_streaming_query,
    )

    out = run_streaming_query(
        append_window_counts_stream(spark, sf_dir),
        "r13_cutoff_probe",
        output_mode="append",
        finalize_windows=True,
    )
    ev = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("ts").isNotNull()
        & (F.col("ts") >= F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"))
    )
    cutoff = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 2 HOURS")).alias("c")
    ).collect()[0].c
    batch = (
        ev.filter(
            F.date_trunc("hour", F.col("ts")) + F.expr("INTERVAL 1 HOUR")
            <= F.lit(cutoff)
        )
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"))
    )
    got = {
        (str(r.window_start), r.event_type): r.n_events
        for r in out.collect()
    }
    want = {
        (str(r.window_start), r.event_type): r.n_events
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_finalize_rejects_trailing_truncation(spark, sf_dir):
    """finalize_windows=False + append aggregate still trips the fence
    (the r12 guarantee is unchanged by the new opt-in path)."""
    from chai_data_pipeline_spark.streaming.windows import (
        append_window_counts_stream,
        run_streaming_query,
    )

    agg = append_window_counts_stream(spark, sf_dir)
    with pytest.raises(ValueError, match="noDataMicroBatches"):
        run_streaming_query(agg, "r13_fence_probe", output_mode="append")


def test_fence_fails_closed_on_uninspectable_plan(spark, sf_dir):
    """If the private-API plan probe breaks (Spark Connect, a _jdf
    rename), the fence must raise, not silently admit the truncation
    trap (r12 advice)."""
    from chai_data_pipeline_spark.streaming.windows import (
        _events_stream,
        run_streaming_query,
    )

    stream = _events_stream(spark, sf_dir).select("event_id", "user_id")
    stream._jdf = None  # simulate an uninspectable plan
    with pytest.raises(ValueError, match="cannot inspect"):
        run_streaming_query(
            stream, "r13_failclosed_probe", output_mode="append"
        )


# --------------------------------------------------------------------------
# The state-partition CLASS rule, pinned so a later change cannot "unify"
# the two topology classes onto one derivation without tripping a test:
#
# - ROW-KEYED state (stream-stream join buffers, dropDuplicates id sets,
#   per-key Arrow state) must derive its partition count from source
#   volume via ``adaptive_state_partitions`` — at sf1 the stream-stream
#   join measured 14.2 s with the fixed 2 partitions vs 6.0 s with 8
#   (plans/r13/ab_stream_parts_sf1.json).
# - Windowed/grouped AGGREGATES with bounded (group-cardinality) state
#   must KEEP the fixed local default — their stream shuffle is map-side
#   partial-aggregated, so extra partitions are pure commit overhead at
#   any volume: at sf1 tumbling measured 1.55 s at 2 partitions vs
#   2.87 s at 8, session windows 2.98 vs 4.07
#   (plans/r13/perfprobe_s1_sf1_afterparts.json).
#
# The tests read the AST of plans/streaming.py rather than running the
# streams: the invariant is WHICH derivation each query uses, and that
# is a property of the call site.
# --------------------------------------------------------------------------

# topology class -> query function names in plans/streaming.py
ROW_KEYED = {
    "streaming_stateful_totals",  # per-key Arrow state (12.5k rows/part)
    "streaming_stream_join",  # join buffers
    "streaming_dedup_delivery",  # dropDuplicates id sets
}
BOUNDED_AGG = {
    "streaming_tumbling_counts",
    "streaming_append_window",
    "streaming_sliding_counts",
    "streaming_session_window",
    "streaming_static_enrich",
}


def _call_sites():
    """Map each top-level query function to the set of state_partitions
    expressions (as source text) it passes to run_streaming_query, or
    None entries when the call relies on the fixed default."""
    src_path = plans_streaming.__file__
    with open(src_path) as f:
        tree = ast.parse(f.read(), filename=src_path)
    sites: dict[str, list[str | None]] = {}
    for node in tree.body:
        if not isinstance(node, ast.FunctionDef):
            continue
        exprs: list[str | None] = []
        for call in ast.walk(node):
            if not isinstance(call, ast.Call):
                continue
            fn = call.func
            fn_name = getattr(fn, "id", getattr(fn, "attr", ""))
            if fn_name != "run_streaming_query":
                continue
            kw = {k.arg: k.value for k in call.keywords}
            if "state_partitions" in kw:
                exprs.append(ast.unparse(kw["state_partitions"]))
            else:
                exprs.append(None)
        if exprs:
            sites[node.name] = exprs
    return sites


def test_row_keyed_state_uses_adaptive_partitions():
    sites = _call_sites()
    for name in ROW_KEYED:
        assert name in sites, f"{name} no longer calls run_streaming_query"
        for expr in sites[name]:
            assert expr is not None and "adaptive_state_partitions" in expr, (
                f"{name} has row-keyed state and must derive its "
                f"partition count from source volume "
                f"(adaptive_state_partitions); got {expr!r}"
            )


def test_bounded_aggregates_keep_fixed_default():
    sites = _call_sites()
    for name in BOUNDED_AGG:
        assert name in sites, f"{name} no longer calls run_streaming_query"
        for expr in sites[name]:
            assert expr is None or "adaptive" not in expr, (
                f"{name} is a bounded-state windowed aggregate: more "
                f"partitions were MEASURED as pure commit overhead at "
                f"sf1 (tumbling 1.55s@2 vs 2.87s@8) — do not unify it "
                f"onto the adaptive rule without re-measuring both "
                f"classes; got {expr!r}"
            )


def test_every_runner_call_site_is_classified():
    """A NEW streaming query added to plans/streaming.py must be
    classified into one of the two state classes above (or use a
    dedicated runner) — an unclassified run_streaming_query call site
    means the class decision was never made."""
    sites = _call_sites()
    unclassified = set(sites) - ROW_KEYED - BOUNDED_AGG
    assert unclassified == set(), (
        f"unclassified run_streaming_query call sites: "
        f"{sorted(unclassified)} — add them to ROW_KEYED or BOUNDED_AGG "
        f"in {os.path.basename(__file__)} with a measured justification"
    )


# --------------------------------------------------------------------------
# The source-stream memo and the volume-scaled state partition count.
# --------------------------------------------------------------------------


def test_events_stream_memo_reuses_plan_objects(spark, sf_dir):
    """The per-session source-stream memo returns the SAME streaming
    DataFrame (a plan object, never a result) for repeat builds, keeps
    delivery/trigger variants distinct. Every started query still
    reads the staged files — nothing here caches data."""
    from chai_data_pipeline_spark.streaming.windows import _events_stream

    a = _events_stream(spark, sf_dir)
    b = _events_stream(spark, sf_dir)
    assert a is b  # memo hit: no second batch-schema read / plan build
    assert a.isStreaming

    # the duplicate-delivery staging is a different source dir → its
    # own memo entry, as is a bounded-trigger variant
    c = _events_stream(spark, sf_dir, duplicate_delivery=True)
    assert c is not a
    d = _events_stream(spark, sf_dir, max_files_per_trigger=1)
    assert d is not a and d is not c
    assert _events_stream(spark, sf_dir, duplicate_delivery=True) is c


def test_adaptive_state_partitions_scales_with_volume(
    spark, sf_dir, tmp_path
):
    """The streaming state-partition count follows SOURCE VOLUME: at
    the local test scales it lands exactly on the r12-measured optimum
    (2), and at 10x/100x volumes it grows one partition per
    ``rows_per_partition`` rows (~125k by default, 12,500 for the
    Arrow-stateful topology), capped at the session's core count —
    the sf1 measurement showed 2 partitions is 2.4x slower than 8 at
    1M events (plans/r13/ab_stream_parts_sf1). Assertions compare
    against the derivation formula, not host-dependent constants
    (ADVICE r13)."""
    import chai_data_pipeline_spark.session as S
    from chai_data_pipeline_spark.streaming import windows as W

    # real testdata dirs: small scales keep the local floor
    assert W.adaptive_state_partitions(spark, sf_dir) == 2
    assert W.adaptive_state_partitions(spark, sf_dir, replicas=2) == 2

    # larger volumes via the session footer cache (no giant file
    # needed); the cache is keyed on (path, mtime_ns, size) so a
    # regenerated file invalidates naturally — use a real (empty) file
    # for a statable key
    cores = spark.sparkContext.defaultParallelism
    src = str(tmp_path / "events.parquet")
    with open(src, "w"):
        pass
    st = os.stat(src)
    key = (src, st.st_mtime_ns, st.st_size)
    try:
        S._FOOTERS[key] = (1_000_000, 1)
        assert W.adaptive_state_partitions(spark, str(tmp_path)) == max(
            2, min(cores, 1_000_000 // 125_000)
        )
        S._FOOTERS[key] = (1_000_000_000, 1)
        assert W.adaptive_state_partitions(spark, str(tmp_path)) == max(
            2, cores
        )
        # 100k events keep the r13 choice of 8 on hosts with 8+ cores
        S._FOOTERS[key] = (100_000, 1)
        assert W.adaptive_state_partitions(
            spark, str(tmp_path), rows_per_partition=12_500
        ) == max(2, min(cores, 8))
        S._FOOTERS[key] = (1_000_000_000, 1)
        assert W.adaptive_state_partitions(
            spark, str(tmp_path), rows_per_partition=12_500
        ) == max(2, cores)
    finally:
        S._FOOTERS.pop(key, None)

    # an unreadable footer (the empty file) fails safe to the floor for
    # THIS call and is NOT cached (a transient failure must not pin the
    # count)
    assert W.adaptive_state_partitions(spark, str(tmp_path)) == 2
    assert key not in S._FOOTERS
    assert W.adaptive_state_partitions(spark, "/nonexistent/sfX") == 2


def test_arrow_stateful_rate_keeps_sf001_at_the_floor(spark, sf001_dir):
    """At the 12,500-row Arrow-stateful rate the 10k sf0.01 events stay
    at 2 state partitions (the real file, not the row-count cache)."""
    from chai_data_pipeline_spark.streaming import windows as W

    assert (
        W.adaptive_state_partitions(spark, sf001_dir, rows_per_partition=12_500)
        == 2
    )


def test_stateful_totals_rows_do_not_depend_on_state_width(
    spark, sf001_dir, monkeypatch
):
    """The Arrow-stateful width is a pure performance choice: at sf0.01
    the derived width and 8 forced state partitions emit the same rows
    (the trailing max_by(_, seq) and dround fold the per-batch updates
    into one total per user at any width)."""
    run = plans_streaming.streaming_stateful_totals
    derived = sorted(run(spark, sf001_dir).collect())
    monkeypatch.setattr(
        plans_streaming, "adaptive_state_partitions", lambda *a, **k: 8
    )
    forced = sorted(run(spark, sf001_dir).collect())
    assert derived and derived == forced


# --------------------------------------------------------------------------
# The streaming near-dup guard.
# --------------------------------------------------------------------------


def _rows(spark, sf_dir, name):
    from chai_data_pipeline_spark import plans

    return plans.QUERIES[name](spark, sf_dir).collect()


def test_neardup_guard_admits_deterministically(spark, sf_dir):
    rows = _rows(spark, sf_dir, "streaming_neardup_guard")
    admitted = {r.doc_id for r in rows}
    assert admitted, "guard admitted nothing"
    # re-run: state/output dirs are fresh per run; same admissions
    rows2 = _rows(spark, sf_dir, "streaming_neardup_guard")
    assert {r.doc_id for r in rows2} == admitted

    from chai_data_pipeline_spark.session import load_tables

    docs = load_tables(spark, sf_dir, "documents")["documents"].filter(
        F.col("text").isNotNull()
    )
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    # the lowest-id doc has no lower-id collision partner by definition
    assert min(ids) in admitted
    assert admitted <= set(ids)
    # guard must be LIVE: the corpus plants near-duplicates (exact dups
    # are Hamming-0), so some doc must be rejected — an all-admitted
    # result means the collision leg silently died (vacuous-green class)
    assert len(admitted) < len(ids)


def test_neardup_guard_matches_batch_rule(spark, sf_dir):
    """The streaming run (2 micro-batches, committed state between)
    must equal the batching-independent one-shot rule computed in
    batch Spark — the cross-batch state handoff is exactly what this
    pins (the DuckDB parity suite re-proves the same thing
    cross-engine)."""
    from chai_data_pipeline_spark import plans
    from chai_data_pipeline_spark.plans.dedup import (
        _SIMHASH_CHK_CHUNKS,
        _SIMHASH_CHK_HAM,
        _SIMHASH_SPARK,
    )
    from chai_data_pipeline_spark.session import load_tables

    streamed = {
        (r.doc_id, r.simhash)
        for r in plans.QUERIES["streaming_neardup_guard"](
            spark, sf_dir
        ).collect()
    }

    docs = load_tables(spark, sf_dir, "documents")["documents"].filter(
        F.col("text").isNotNull()
    )
    sig = docs.select("doc_id", F.expr(_SIMHASH_SPARK).alias("simhash"))
    chunks = sig.select(
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
    d = chunks.alias("d")
    e = chunks.alias("e")
    rejected = (
        d.join(
            e,
            (F.col("d.chunk_idx") == F.col("e.chunk_idx"))
            & (F.col("d.chunk_val") == F.col("e.chunk_val"))
            & (F.col("e.doc_id") < F.col("d.doc_id")),
        )
        .filter(
            F.expr("bit_count(d.simhash ^ e.simhash)")
            <= _SIMHASH_CHK_HAM
        )
        .select(F.col("d.doc_id").alias("doc_id"))
        .distinct()
    )
    expected = {
        (r.doc_id, r.simhash)
        for r in sig.join(rejected, "doc_id", "left_anti").collect()
    }
    assert streamed == expected
