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
from functools import partial

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
# The session catalog: the one memo of immutable plan objects and the one
# parquet-footer reader. A warehouse resolves a table reference once per
# session, not per query (guide §7.3: "planning time itself can become
# the bottleneck"); so does this engine.
#
# memo: each spark.read.parquet costs ~80 ms of driver time (Py4J round
# trip + file listing + footer schema read), a streaming source plan
# ~0.1-0.2 s, and the medallion fixture frames ~1.9 s. DataFrames are
# immutable plan objects, so a built one is re-used for the rest of the
# Spark application: no RESULT is cached here, every action still
# computes from the files. Keys are (applicationId, *key), so a new
# application never sees another's plans; each call site's keys have
# their own length (tables 4, streams 3, medallion fixtures 1), so sites
# never collide.
#
# parquet_footer: (rows, row_groups) read from a file's footer, for the
# volume rules (the load_tables split, streaming state width, the IVF
# Arrow switch). Cached per file version (path, mtime_ns, size), so a
# file rewritten in place is read again; a failed read is never cached,
# so a transient error cannot pin a decision for the session.
_PLAN_MEMO: dict[tuple, object] = {}
_FOOTERS: dict[tuple[str, int, int], tuple[int, int]] = {}
# temp-view registration per (applicationId, view name) -> the memo key
# the view last pointed at; not a cache
_VIEW_STATE: dict[tuple, tuple] = {}


def memo(spark: SparkSession, key: tuple, build):
    """The plan object memoized under ``(applicationId, *key)``; on a
    miss, ``build()`` makes it."""
    return _memo((spark.sparkContext.applicationId, *key), build)


def _memo(full_key: tuple, build):
    # full_key already holds the application id: load_tables reads it
    # once per call, not once per table
    out = _PLAN_MEMO.get(full_key)
    if out is None:
        out = _PLAN_MEMO[full_key] = build()
    return out


def parquet_footer(path: str) -> tuple[int, int] | None:
    """``(rows, row_groups)`` from the parquet footer of ``path``, or
    None when the file cannot be stated or its footer read."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    key = (path, st.st_mtime_ns, st.st_size)
    meta = _FOOTERS.get(key)
    if meta is None:
        try:
            import pyarrow.parquet as pq

            md = pq.ParquetFile(path).metadata
        except Exception:
            return None
        meta = _FOOTERS[key] = (md.num_rows, md.num_row_groups)
    return meta


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
# row groups than the session has cores (parquet_footer). Well-packed
# production tables (row groups >= cores) pass through untouched; a
# pathological single-row-group 100 GB file gets the same fix the guide
# prescribes. Keyed hash partitioning is deterministic by VALUE, so
# retries are safe (guide §2.5 rand() caveat) and results are
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
    # unreadable footer -> treat as well-packed
    rows, row_groups = parquet_footer(path) or (0, 1 << 30)
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
        # sf_dir and split variant are in the key, so warm-up (sf0.001)
        # and timed (sf0.1) builds, and split variants, never mix
        key_override = split_spec.get(name)
        memo_key = (app_id, sf_dir, name, name in split_spec, key_override)
        df = _memo(memo_key, partial(_read_table, spark, sf_dir, name, split_spec))
        view_key = (app_id, name)
        if _VIEW_STATE.get(view_key) != memo_key:
            df.createOrReplaceTempView(name)
            _VIEW_STATE[view_key] = memo_key
        out[name] = df
    return out


def _read_table(spark: SparkSession, sf_dir: str, name: str, split_spec: dict):
    path = os.path.join(sf_dir, f"{name}.parquet")
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
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        # µs-NTZ parquet already reads as timestamp_ntz: no-op
    else:
        df = spark.read.parquet(path)
    if name in split_spec:
        df = _split_if_unsplittable(
            spark, name, path, df, key_override=split_spec[name]
        )
    return df
