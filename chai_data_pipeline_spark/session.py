"""SparkSession factory.

One place to encode the execution posture the whole engine assumes:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast conversion) — this is what lets the same declarative plans
  survive a 100x scale-up without hand-tuning.
- UTC session timezone so timestamp semantics match the DuckDB oracle
  and are stable across machines.
- Arrow enabled for any pandas interchange (Pandas UDFs, toPandas).
- shuffle.partitions sized to the local core count for tests/bench;
  on a real cluster AQE's coalescing makes the initial number mostly
  a ceiling, so a larger default is safe there.

Replaces the reference's psycopg2/engine connection plumbing
(reference: scripts/bronze/load_bronze.py:65-86) — there is no external
warehouse; Spark is both the engine and the store.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, functions as F


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "chai_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    cluster, leave it unset and let spark-submit provide it.
    """
    cores = default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def object_store_conf(
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    path_style_access: bool = True,
) -> dict[str, str]:
    """Hadoop conf for ``s3a://`` URIs (S3 / MinIO object stores).

    The reference uploads every medallion layer to MinIO buckets
    (config/config.yaml:14-27; scripts/bronze/ingest_bronze.py:74-78,
    scripts/silver/transform_silver.py:416-441,
    scripts/gold/model_gold.py:212-234). Our writers are path-scheme
    agnostic — pass ``s3a://bronze/...`` instead of a local path and
    parquet IO goes through S3A with this conf:

    - ``endpoint`` + path-style access → MinIO/other S3-compatible
      stores (virtual-host-style addressing breaks on bare endpoints).
    - committer ``magic`` → commit without rename; on object stores
      rename is a full copy, so the default FileOutputCommitter v1/v2 is
      either O(data) on commit or non-atomic. Requires the
      ``spark-hadoop-cloud`` module on the cluster classpath.
    - Keys are ``fs.s3a.*`` (runtime-settable on hadoopConfiguration via
      :func:`apply_object_store_conf`) or pass prefixed with
      ``spark.hadoop.`` to ``get_spark(extra_conf=...)`` at build time.
    """
    conf = {
        "fs.s3a.committer.name": "magic",
        "fs.s3a.connection.maximum": "64",
        "fs.s3a.fast.upload": "true",
    }
    if endpoint:
        conf["fs.s3a.endpoint"] = endpoint
    if access_key:
        conf["fs.s3a.access.key"] = access_key
    if secret_key:
        conf["fs.s3a.secret.key"] = secret_key
    if path_style_access:
        conf["fs.s3a.path.style.access"] = "true"
    return conf


def apply_object_store_conf(spark: SparkSession, **kwargs) -> dict[str, str]:
    """Apply :func:`object_store_conf` to a LIVE session's Hadoop conf
    (fs.s3a.* keys are read per-filesystem-instance, so this works
    without session restart). Returns the applied dict."""
    conf = object_store_conf(**kwargs)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in conf.items():
        hconf.set(k, v)
    return conf


# ---------------------------------------------------------------------------
# Unsplittable-input splitting (optimization guide §2.5): parquet is only
# parallelizable at ROW-GROUP granularity, and a table shipped as one file
# with one row group runs every stage up to its first exchange as a SINGLE
# task no matter how many cores the session has. The guide's prescription
# for exactly this ("one huge unsplittable file... repartition immediately
# after the read") is implemented here — but HASH-partitioned
# on the table's dominant join/group key instead of round-robin, so the
# added exchange is frequently REUSED downstream (guide §2.4: a
# repartition("k") followed by a join/groupBy/window on "k" with the same
# partition count needs no further shuffle) and never pays round-robin's
# sort-before-repartition in the single scan task.
#
# Scale-adaptive by construction: fires ONLY when the file carries fewer
# row groups than the session has cores (row-group metadata read once per
# path, cached). Well-packed production tables (row groups >= cores) pass
# through untouched; a pathological single-row-group 100 GB file gets the
# same fix the guide prescribes. Keyed hash partitioning is deterministic
# by VALUE, so retries are safe (guide §2.5 rand() caveat) and results are
# partition-independent per the engine-wide dsum/dround discipline
# (functions/numeric.py).
#
# OPT-IN per query (r13 measurement): a blanket split helps first-stage-
# compute-bound plans (tpch_q1 1.15→0.86 s exec, doc_repetition
# 0.51→0.25) but costs a wasted stage on selective/broadcast-heavy plans
# (star_join +0.32, tpch_q21 +0.32, bm25 +0.22 — their exchange is never
# reused and the shuffled rows would have been filtered/broadcast
# anyway). Only the query author knows whether the first stage is the
# bottleneck, so ``load_tables(..., split=("lineitem",))`` names the
# tables to split; the default is untouched plans.
#
# Heavy-per-row tables (documents/embeddings: each row is a document or a
# 64-dim vector, orders of magnitude more work per row than a TPC-H tuple)
# use a lower floor so text/similarity operators parallelize too.
_SPLIT_KEYS: dict[str, tuple[str, int]] = {
    # table -> (partition key, min rows to bother). Keys are each table's
    # dominant equi-join/group column: lineitem⋈orders on orderkey reuse
    # the exchange pair; user-keyed event windows/groupings reuse theirs.
    "lineitem": ("l_orderkey", 10_000),
    "orders": ("o_orderkey", 10_000),
    "events": ("user_id", 10_000),
    "documents": ("doc_id", 400),
    "embeddings": ("vec_id", 400),
}
_SPLIT_META: dict[str, tuple[int, int]] = {}  # path -> (rows, row_groups)

# Per-session memo of load_tables DataFrames (r13, guide §7.3: "planning
# time itself can become the bottleneck"). Each spark.read.parquet call
# costs ~80 ms of driver time (Py4J round trip + file listing + footer
# schema read) — a 6-table TPC-H query pays ~0.5 s of pure plan
# construction in load_tables alone, on every build, every bench pass.
# DataFrames are immutable plan objects, so re-using one is the catalog
# pattern (a warehouse resolves a table reference once per session, not
# per query) — the same class as the medallion fixture memo (r12): no
# RESULT is cached, every action still computes from the parquet files.
# Keyed by applicationId + sf_dir + table + split variant so warm-up
# (sf0.001) and timed (sf0.1) builds, and split variants, never mix.
# Temp views re-register only when the name last pointed elsewhere.
_TABLE_MEMO: dict[tuple, object] = {}
_VIEW_STATE: dict[tuple, tuple] = {}


def _split_if_unsplittable(
    spark: SparkSession, name: str, path: str, df, key_override=None
):
    spec = _SPLIT_KEYS.get(name)
    if spec is None:
        return df
    key, min_rows = spec
    if key_override:
        # "table:key" split entry — the caller's plan shuffles on a
        # different column than the table's dominant key, so hash the
        # split there instead (same exchange-reuse rationale).
        key = key_override
    if key not in df.columns:
        return df
    meta = _SPLIT_META.get(path)
    if meta is None:
        try:
            import pyarrow.parquet as pq

            md = pq.ParquetFile(path).metadata
            meta = (md.num_rows, md.num_row_groups)
        except Exception:
            meta = (0, 1 << 30)  # unreadable -> treat as well-packed
        _SPLIT_META[path] = meta
    rows, row_groups = meta
    cores = spark.sparkContext.defaultParallelism
    if rows < min_rows or row_groups >= cores:
        return df
    return df.repartition(cores, F.col(key))


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    *names: str,
    split: tuple[str, ...] = (),
):
    """Read testdata parquet tables and register temp views.

    Returns a dict name -> DataFrame. Explicit schemas are unnecessary
    here (parquet is self-describing); production JSON/CSV paths use
    chai_data_pipeline_spark.schemas instead.

    The ``events`` table carries parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects; we read it as long nanos
    (``spark.sql.legacy.parquet.nanosAsLong`` — runtime-settable) and
    convert to a microsecond timestamp with exact integer division
    (``div``, not ``/`` — a double mantissa can't hold epoch-micros
    without rounding). DuckDB truncates ns→us the same way, so the
    oracle comparison stays exact.
    """
    # Pin the session zone at read time: the external driver's session
    # is VANILLA (host-default tz). events.ts becomes a timestamp
    # INSTANT via timestamp_micros, so to_date/window bucketing on it
    # follows the session zone — under a DST zone every date-grain
    # query would bucket (and range-frame) differently than the naive-
    # timestamp DuckDB oracle. UTC = the oracle's naive interpretation.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = {}
    app_id = spark.sparkContext.applicationId
    # split entries are "table" or "table:key" (per-query key override)
    split_spec = {
        s.split(":", 1)[0]: (s.split(":", 1)[1] if ":" in s else None)
        for s in split
    }
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        key_override = split_spec.get(name)
        split_eff = name in split_spec
        memo_key = (app_id, sf_dir, name, split_eff, key_override)
        cached = _TABLE_MEMO.get(memo_key)
        if cached is not None:
            view_key = (app_id, name)
            if _VIEW_STATE.get(view_key) != memo_key:
                cached.createOrReplaceTempView(name)
                _VIEW_STATE[view_key] = memo_key
            out[name] = cached
            continue
        if name == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
            ts_type = dict(df.dtypes).get("ts")
            if ts_type == "bigint":
                # → NTZ wall-clock (identity under the UTC pin above):
                # an instant-typed ts would make every downstream
                # to_date/window bucket session-tz-dependent AND
                # collect() converts instants via the OS zone — naive
                # timestamps match the DuckDB oracle on both counts
                df = df.withColumn(
                    "ts",
                    F.timestamp_micros(F.expr("ts div 1000")).cast(
                        "timestamp_ntz"
                    ),
                )
            elif ts_type == "timestamp":
                # µs-instant parquet (isAdjustedToUTC=true, or NTZ
                # inference disabled): same NTZ normalization — the
                # UTC pin makes the cast an identity on the wall clock
                df = df.withColumn(
                    "ts", F.col("ts").cast("timestamp_ntz")
                )
            # µs-NTZ parquet already reads as timestamp_ntz: no-op
        else:
            df = spark.read.parquet(path)
        if split_eff:
            df = _split_if_unsplittable(
                spark, name, path, df, key_override=key_override
            )
        df.createOrReplaceTempView(name)
        _TABLE_MEMO[memo_key] = df
        _VIEW_STATE[(app_id, name)] = memo_key
        out[name] = df
    return out
