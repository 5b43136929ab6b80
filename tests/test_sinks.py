"""Sink surface tests: JDBC round trip (Derby in-memory), object-store
conf application, and URI-scheme (non-bare-path) parquet writes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_write_jdbc_round_trip_derby(spark, sf_dir):
    """Real JDBC write + read-back against the in-JVM Derby database
    (ships with Spark). Pins the option plumbing (batchsize, isolation,
    numPartitions) actually reaches a working driver."""
    from chai_data_pipeline_spark.session import load_tables
    from chai_data_pipeline_spark.sources.writers import write_jdbc

    nation = load_tables(spark, sf_dir, "nation")["nation"].select(
        "n_nationkey", "n_name"
    )
    url = "jdbc:derby:memory:sinktest;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    write_jdbc(
        nation,
        url,
        "nation_out",
        mode="overwrite",
        batch_size=7,
        num_partitions=2,
        driver=driver,
    )
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation_out")
        .option("driver", driver)
        .load()
    )
    got = {(r[0], r[1]) for r in back.collect()}
    want = {(r[0], r[1]) for r in nation.collect()}
    assert got == want


def test_apply_object_store_conf_reaches_hadoop_conf(spark):
    """fs.s3a.* keys land on the live Hadoop configuration (the surface
    a MinIO/S3 deployment configures; per-bucket creds ride the same
    mechanism)."""
    from chai_data_pipeline_spark.session import apply_object_store_conf

    applied = apply_object_store_conf(
        spark,
        endpoint="http://localhost:9000",
        access_key="minio",
        secret_key="minio123",
    )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in applied.items():
        assert hconf.get(k) == v
    assert hconf.get("fs.s3a.endpoint") == "http://localhost:9000"
    assert hconf.get("fs.s3a.path.style.access") == "true"
    assert hconf.get("fs.s3a.committer.name") == "magic"


def test_write_table_through_uri_scheme(spark, sf_dir, tmp_path):
    """Writers must be path-scheme agnostic: a file:// URI (same Hadoop
    FileSystem resolution path an s3a:// URI takes) round-trips."""
    from chai_data_pipeline_spark.session import load_tables
    from chai_data_pipeline_spark.sources.writers import write_table

    region = load_tables(spark, sf_dir, "region")["region"]
    uri = f"file://{tmp_path}/region_uri_out"
    write_table(region, uri, partition_by=["r_regionkey"])
    back = spark.read.parquet(uri)
    assert back.count() == region.count()
    assert set(back.columns) == set(region.columns)


def test_merge_into_parquet_round_trips(spark, tmp_path):
    """Copy-on-write MERGE: updates win, inserts appear, untouched rows
    survive, and the directory stays readable after repeated merges."""
    from chai_data_pipeline_spark.sources.writers import merge_into

    tgt = str(tmp_path / "users")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["id", "name", "v"]
    )
    merge_into(spark, tgt, base, ["id"])
    delta = spark.createDataFrame(
        [(2, "b2", 25.0), (4, "d", 40.0)], ["id", "name", "v"]
    )
    merge_into(spark, tgt, delta, ["id"])
    got = {r.id: (r.name, r.v) for r in spark.read.parquet(tgt).collect()}
    assert got == {
        1: ("a", 10.0), 2: ("b2", 25.0), 3: ("c", 30.0), 4: ("d", 40.0)
    }
    # idempotent re-merge of the same delta
    merge_into(spark, tgt, delta, ["id"])
    assert spark.read.parquet(tgt).count() == 4
    # a successful merge leaves no swap debris: no recovery marker, no
    # stranded __old/__merge dirs (the __generation file is persistent
    # optimistic-concurrency state, not debris — r13 writer guard)
    import glob as _glob

    debris = [
        p for p in _glob.glob(tgt + "__*")
        if not p.endswith("__generation")
    ]
    assert not debris


def test_recover_merge_restores_crashed_swap(spark, tmp_path):
    """Simulated crash inside merge_into's two-rename window: target
    missing, marker + __old present. recover_merge must restore a
    readable target from the pre-merge copy; on a healthy dir it is a
    no-op; with target present it clears debris."""
    import os
    import shutil

    from chai_data_pipeline_spark.sources.writers import (
        merge_into,
        recover_merge,
    )

    tgt = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    merge_into(spark, tgt, df, ["id"])
    assert recover_merge(tgt) == "clean"

    # fabricate the crash window exactly as merge_into would leave it
    old = tgt + "__old_deadbeef"
    tmp = tgt + "__merge_deadbeef"
    shutil.copytree(tgt, tmp)
    shutil.move(tgt, old)
    with open(tgt + "__merge_marker", "w") as fh:
        fh.write(f"in-flight merge_into swap\nold={old}\ntmp={tmp}\ntarget={tgt}\n")
    assert recover_merge(tgt) == "restored old"
    assert spark.read.parquet(tgt).count() == 1
    assert not os.path.exists(tgt + "__merge_marker")

    # crash AFTER the swap (target present, old dir + marker left over)
    shutil.move(tmp, old)  # reuse the copy as fake debris
    with open(tgt + "__merge_marker", "w") as fh:
        fh.write(f"in-flight merge_into swap\nold={old}\ntmp={tmp}\ntarget={tgt}\n")
    assert recover_merge(tgt) == "kept target"
    assert not os.path.exists(old) and not os.path.exists(tmp)
    assert spark.read.parquet(tgt).count() == 1


def test_compact_commits_through_the_merge_lock(spark, tmp_path):
    """compact rewrites a 3-file dir into 1 file with the same rows, and
    a compaction started while a merge marker is present raises instead
    of swapping dirs under the other writer."""
    import glob

    import pytest

    from chai_data_pipeline_spark.sources.writers import (
        ConcurrentWriteError,
        compact,
    )

    tgt = str(tmp_path / "t")
    df = spark.range(30).selectExpr("id", "CAST(id % 3 AS STRING) AS v")
    df.repartition(3).write.parquet(tgt)
    assert len(glob.glob(tgt + "/*.parquet")) == 3
    want = sorted(map(tuple, df.collect()))

    compact(spark, tgt)
    assert len(glob.glob(tgt + "/*.parquet")) == 1
    assert sorted(map(tuple, spark.read.parquet(tgt).collect())) == want

    with open(tgt + "__merge_marker", "w") as fh:
        fh.write(f"in-flight merge_into swap\ntarget={tgt}\n")
    df.repartition(3).write.mode("append").parquet(tgt)
    with pytest.raises(ConcurrentWriteError, match="in-flight or crashed"):
        compact(spark, tgt)
    assert len(glob.glob(tgt + "/*.parquet")) == 4
    # the refused compaction removed its own tmp dir
    assert glob.glob(tgt + "__merge_*") == [tgt + "__merge_marker"]


def test_write_zordered_narrows_rowgroup_spans(spark, sf_dir, tmp_path):
    """Z-order layout must shrink per-file (x,y) bounding boxes vs an
    unclustered write — the parquet-footer statistic a scan planner
    prunes on."""
    import pyarrow.parquet as pq

    from chai_data_pipeline_spark.session import load_tables
    from chai_data_pipeline_spark.sources.writers import write_zordered

    events = load_tables(spark, str(sf_dir), "events")["events"]
    dims = events.select(
        F.col("user_id").bitwiseAND(F.lit(255)).alias("x"),
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        ).bitwiseAND(F.lit(255)).alias("y"),
    )

    zpath = str(tmp_path / "zordered")
    plain = str(tmp_path / "plain")
    write_zordered(dims, zpath, "x", "y", n_files=8)
    dims.repartition(8).write.mode("overwrite").parquet(plain)

    def avg_span_area(path: str) -> float:
        areas = []
        import pathlib

        for f in pathlib.Path(path).glob("*.parquet"):
            md = pq.ParquetFile(str(f)).metadata
            lo = {"x": None, "y": None}
            hi = {"x": None, "y": None}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    name = col.path_in_schema
                    st = col.statistics
                    if name in lo and st is not None:
                        lo[name] = (
                            st.min if lo[name] is None
                            else min(lo[name], st.min)
                        )
                        hi[name] = (
                            st.max if hi[name] is None
                            else max(hi[name], st.max)
                        )
            if lo["x"] is not None and lo["y"] is not None:
                areas.append(
                    (hi["x"] - lo["x"] + 1) * (hi["y"] - lo["y"] + 1)
                )
        assert areas
        return sum(areas) / len(areas)

    z_area = avg_span_area(zpath)
    p_area = avg_span_area(plain)
    # round-robin repartition leaves every file at (almost) full-span;
    # the curve layout must cut the average bounding box materially.
    assert z_area < p_area * 0.7, (z_area, p_area)


def test_orc_round_trip_and_bronze_routing(spark, sf_dir, tmp_path):
    """ORC is a first-class source/sink: write_table(fmt='orc') round
    trips, and a covid*.orc landing file routes through bronze next to
    its CSV siblings."""
    from chai_data_pipeline_spark.sources.readers import route_bronze_files
    from chai_data_pipeline_spark.sources.writers import write_table

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    p = str(tmp_path / "orders_orc")
    write_table(orders, p, fmt="orc")
    back = spark.read.orc(p)
    assert back.count() == orders.count()
    assert set(back.columns) == set(orders.columns)

    routed, unknown = route_bronze_files(
        ["/x/covid_2024.orc", "/x/covid_2024.csv", "/x/weird.bin"]
    )
    assert [(r.dataset, r.fmt) for r in routed] == [
        ("covid", "orc"),
        ("covid", "csv"),
    ]
    assert unknown == ["/x/weird.bin"]


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
