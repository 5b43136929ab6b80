"""Round-13 invariants: the append-mode watermark-finalized windowed
aggregate (the canonical production streaming pattern, previously
fenced) and the fail-closed fence probe.

Semantics pinned here, verified empirically against Spark 4.1:
- a window ending EXACTLY at the watermark (max event time - delay) IS
  finalized and emitted (boundary is <=, not <);
- windows ending after the watermark are never emitted (the oracle must
  carry the matching ``window_end <= max(ts) - delay`` cutoff);
- the finalization happens in a zero-input no-data micro-batch that the
  runner re-enables for finalize_windows=True runs — without it the
  append sink would be EMPTY (watermark updates at end-of-batch, and
  eviction only runs in a subsequent batch), which is what makes the
  fence/finalize split loud rather than silently truncating.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F


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
            f"r13_boundary_{uuid.uuid4().hex[:6]}",
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
        f"r13_cutoff_{uuid.uuid4().hex[:6]}",
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


def test_interleaved_merges_fail_loudly(spark, tmp_path):
    """Two merges computed from the same snapshot: the second commit
    must raise ConcurrentWriteError (lost update prevented), and the
    first writer's rows must survive (r12 verdict item: the reference's
    Postgres ON CONFLICT is atomic under concurrent writers; the
    write-then-swap must fail loudly, not silently win-last)."""
    from chai_data_pipeline_spark.operators.merge import upsert
    from chai_data_pipeline_spark.sources.writers import (
        ConcurrentWriteError,
        atomic_replace,
        merge_into,
        read_generation,
    )

    tgt = str(tmp_path / "tgt")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    merge_into(spark, tgt, base, ["id"])
    assert read_generation(tgt) == 1

    # Writer A samples the generation and MATERIALIZES its merge
    # output (localCheckpoint models "computed but not yet committed";
    # without it A's lazy plan would re-read the target during commit
    # and die on B's deleted files — also loud, but the generation
    # check is what guards the case where A finished reading first)
    gen_a = read_generation(tgt)
    merged_a = upsert(
        spark.read.parquet(tgt),
        spark.createDataFrame([(3, "c")], "id int, v string"),
        ["id"],
    ).localCheckpoint()
    # ...then writer B lands a full merge in between...
    merge_into(
        spark, tgt,
        spark.createDataFrame([(4, "d")], "id int, v string"),
        ["id"],
    )
    # ...so A's commit must refuse (its output lacks B's row 4)
    with pytest.raises(ConcurrentWriteError, match="generation"):
        atomic_replace(tgt, merged_a, expected_generation=gen_a)
    got = {r.id for r in spark.read.parquet(tgt).collect()}
    assert got == {1, 2, 4}  # B's write survived; A aborted loudly
    # the aborted commit released its lock: a fresh merge succeeds
    merge_into(
        spark, tgt,
        spark.createDataFrame([(3, "c")], "id int, v string"),
        ["id"],
    )
    assert {r.id for r in spark.read.parquet(tgt).collect()} == {1, 2, 3, 4}


def test_inflight_marker_blocks_second_writer(spark, tmp_path):
    """A present marker (in-flight or crashed merge) makes a second
    commit raise instead of interleaving renames; recover_merge clears
    it and merges flow again."""
    from chai_data_pipeline_spark.sources.writers import (
        ConcurrentWriteError,
        merge_into,
        recover_merge,
    )

    tgt = str(tmp_path / "tgt")
    df = spark.createDataFrame([(1, "a")], "id int, v string")
    merge_into(spark, tgt, df, ["id"])
    marker = f"{tgt}__merge_marker"
    with open(marker, "w") as fh:
        fh.write(f"in-flight merge_into swap\nold={tgt}__old_x\n"
                 f"tmp={tgt}__merge_x\ntarget={tgt}\n")
    with pytest.raises(ConcurrentWriteError, match="in-flight or crashed"):
        merge_into(
            spark, tgt,
            spark.createDataFrame([(2, "b")], "id int, v string"),
            ["id"],
        )
    assert recover_merge(tgt) == "kept target"
    merge_into(
        spark, tgt,
        spark.createDataFrame([(2, "b")], "id int, v string"),
        ["id"],
    )
    assert {r.id for r in spark.read.parquet(tgt).collect()} == {1, 2}


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
    monkeypatch.setattr(S, "_TABLE_MEMO", {})
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
    the local test scales it lands exactly on the r12-measured optima
    (2; floor 8 for the Arrow-stateful topology), and at 10x/100x
    volumes it grows one partition per ~125k rows, capped at the
    session's core count (floor wins over the cap on tiny hosts) —
    the sf1 measurement showed 2 partitions is 2.4x slower than 8 at
    1M events (plans/r13/ab_stream_parts_sf1). Assertions compare
    against the derivation formula, not host-dependent constants
    (ADVICE r13)."""
    from chai_data_pipeline_spark.streaming import windows as W

    # real testdata dirs: small scales keep the local floor
    assert W.adaptive_state_partitions(spark, sf_dir) == 2
    assert W.adaptive_state_partitions(spark, sf_dir, floor=8) == 8
    assert W.adaptive_state_partitions(spark, sf_dir, replicas=2) == 2

    # larger volumes via the row-count cache (no giant file needed);
    # the cache is keyed on (path, mtime_ns, size) so a regenerated
    # file invalidates naturally — use a real (empty) file for a
    # statable key
    cores = spark.sparkContext.defaultParallelism
    src = str(tmp_path / "events.parquet")
    with open(src, "w"):
        pass
    st = os.stat(src)
    key = (src, st.st_mtime_ns, st.st_size)
    try:
        W._EVENTS_ROWS[key] = 1_000_000
        assert W.adaptive_state_partitions(spark, str(tmp_path)) == max(
            2, min(cores, 1_000_000 // 125_000)
        )
        W._EVENTS_ROWS[key] = 1_000_000_000
        assert W.adaptive_state_partitions(spark, str(tmp_path)) == max(
            2, cores
        )
    finally:
        W._EVENTS_ROWS.pop(key, None)

    # unreadable metadata fails safe to the floor for THIS call and is
    # NOT cached (a transient failure must not pin the count)
    n0 = len(W._EVENTS_ROWS)
    assert W.adaptive_state_partitions(spark, "/nonexistent/sfX") == 2
    assert len(W._EVENTS_ROWS) == n0
