"""Round-13 invariants: the merge commit's concurrent-writer guard and
the per-session table memo (the streaming tests of this round live in
test_streaming.py)."""

from __future__ import annotations

import pytest


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


