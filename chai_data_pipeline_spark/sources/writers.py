"""Lake writers: overwrite / append / partition-upsert semantics.

The reference's sinks are Postgres COPY + to_sql + TRUNCATE-reload +
ON CONFLICT upserts (reference: scripts/bronze/load_bronze.py:179-221,
scripts/silver/transform_silver.py:242-249,
scripts/gold/model_gold.py:354-378). On a parquet lake:

- truncate-reload      → ``mode("overwrite")``              (S9)
- chunked append       → ``mode("append")`` (per-partition) (S7)
- upsert by key        → dynamic partition overwrite on the key
                         partitions (M1), exact row-level merge via
                         operators/merge.upsert when keys aren't the
                         partition column

Partitioning is the index replacement (M5): gold tables partition by
their query key (date), so readers prune instead of scanning.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    fmt: str = "parquet",
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.format(fmt).save(path)


def overwrite_table(
    df: DataFrame, path: str, partition_by: Sequence[str] | None = None
) -> None:
    write_table(df, path, "overwrite", partition_by)


def upsert_partitions(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
) -> None:
    """Upsert by overwriting ONLY the partitions present in ``df``
    (dynamic partition overwrite). The scalable merge: a one-day refresh
    against years of history rewrites one partition, not the table."""
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batch_size: int = 10_000,
    isolation_level: str = "READ_COMMITTED",
    num_partitions: int | None = None,
    driver: str | None = None,
    options: dict[str, str] | None = None,
) -> None:
    """Warehouse (JDBC) sink — the relational-output completion of
    SURVEY §2.1 S6 for users migrating off the reference who still need
    a Postgres/warehouse table (the reference's primary store is
    Postgres via COPY/to_sql: scripts/bronze/load_bronze.py:179-221,
    config/config.yaml:29-34).

    - ``batch_size`` → JDBC ``batchsize``: rows per INSERT round trip
      (the COPY-throughput analog; default 10k keeps round trips rare
      without megabyte-scale statements).
    - ``num_partitions`` caps parallel connections — every write task
      opens one; a 1000-executor cluster writing unthrottled is a
      connection storm, so SET THIS when the cluster is bigger than the
      database. Repartitions down only (coalesce) — never shuffles up.
    - ``isolation_level`` → per-connection transaction isolation
      (``NONE`` disables transactions for bulk-load speed).
    """
    w = (
        df.write.format("jdbc")
        .mode(mode)
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .option("isolationLevel", isolation_level)
    )
    if num_partitions is not None:
        w = w.option("numPartitions", str(num_partitions))
    if driver:
        w = w.option("driver", driver)
    for k, v in (options or {}).items():
        w = w.option(k, v)
    w.save()


def write_bucketed_table(
    df: DataFrame,
    table: str,
    buckets: int,
    bucket_cols: Sequence[str],
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: pre-hash-partitioned files so later joins
    and aggregations on the bucket key need NO shuffle — the lake-native
    replacement for co-located warehouse tables. At 100 TB, bucketing
    the fact tables on their join key once at write time removes the
    dominant exchange from every downstream join."""
    w = df.write.mode(mode).bucketBy(buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


class ConcurrentWriteError(RuntimeError):
    """Two writers raced on the same merge target.

    The copy-on-write swap has no transaction log (the reference's
    ``INSERT ... ON CONFLICT`` is atomic under concurrent writers via
    Postgres — reference: scripts/gold/model_gold.py:354-378); the
    contract here is SINGLE-WRITER, and this error is the loud
    enforcement of it: a second in-flight merge, or a commit whose
    read snapshot is stale (another merge landed since this one read
    the target), raises instead of silently winning-last and dropping
    the other writer's rows. Retry the merge from the top (re-read the
    target) or escalate to a table format (Delta/Iceberg MERGE) for
    true multi-writer semantics — the SCALING.md escalation path."""


def read_generation(target_dir: str) -> int:
    """Current generation of a merge target (0 for a fresh/legacy
    table). Advanced by every successful :func:`atomic_replace`; used
    as the optimistic-concurrency fencing token by :func:`merge_into`.
    """
    import os

    gen_file = f"{target_dir}__generation"
    if not os.path.exists(gen_file):
        return 0
    with open(gen_file) as fh:
        return int(fh.read().strip() or 0)


def merge_into(
    spark: SparkSession,
    target_dir: str,
    source: DataFrame,
    keys: Sequence[str],
    partition_by: Sequence[str] | None = None,
) -> None:
    """Row-level copy-on-write MERGE into a parquet directory — the
    storage-level realization of SURVEY §2.9 M1/M2 when the merge key
    is NOT the partition column (where dynamic partition overwrite
    can't help) and no table format (Delta/Iceberg) is on the
    classpath.

    Read target (if present) → in-plan upsert (source wins) →
    materialize → write-then-swap (never deletes the old data before
    the replacement is fully durable; same discipline as
    :func:`compact`). On an object store the swap step becomes a
    manifest/pointer flip or a table format's atomic commit — this is
    exactly the copy-on-write MERGE those formats run, minus the
    transaction log.

    CONCURRENCY CONTRACT: single writer per target. Unlike the
    reference's Postgres ``ON CONFLICT`` (atomic under concurrent
    writers), a write-then-swap cannot serialize two simultaneous
    merges — so it FAILS LOUDLY instead of losing one silently: the
    target's generation is sampled before the target is read and
    re-checked under an exclusive commit lock just before the swap; a
    concurrent merge that landed in between (or is still in flight)
    raises :class:`ConcurrentWriteError`, never a silent lost update.
    True multi-writer needs a table format's transaction log (the
    SCALING.md escalation).

    Scale: cost is one full-outer shuffle on the key plus a rewrite of
    the table — which is what row-level merge without a table format
    costs, period; for partition-aligned keys use
    :func:`upsert_partitions` (rewrites only touched partitions).
    """
    import os

    from ..operators.merge import upsert

    # Sample the generation BEFORE reading the target: if another merge
    # commits between this sample and our commit, the commit-time check
    # fails closed (sampling after the read would let a racing commit
    # slip between read and sample — the exact silent-lost-update
    # window this guard exists to close).
    expected_gen = read_generation(target_dir)
    if os.path.exists(target_dir):
        merged = upsert(spark.read.parquet(target_dir), source, keys)
    else:
        merged = source
    atomic_replace(
        target_dir, merged, partition_by=partition_by,
        expected_generation=expected_gen,
    )


def remove_path(path: str) -> None:
    """Best-effort removal of a scratch entry that may be a DIRECTORY
    (parquet dir, checkpoint) or a FILE (a crashed run's
    ``__merge_marker``). ``shutil.rmtree(ignore_errors=True)`` silently
    no-ops on files, so marker files would otherwise accumulate in the
    scratch dir across crashed runs."""
    import os
    import shutil

    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    else:
        try:
            os.remove(path)
        except OSError:
            pass


def atomic_replace(
    target_dir: str,
    df: DataFrame,
    partition_by: Sequence[str] | None = None,
    expected_generation: int | None = None,
) -> None:
    """Write ``df`` then atomically swap it in as ``target_dir`` —
    the commit half of :func:`merge_into`, exposed for sinks that have
    ALREADY resolved the complete new table state in-plan (e.g. a
    foreachBatch that unions target ∪ batch and keeps
    latest-by-event-time: routing that through merge_into would pay a
    second, redundant key-upsert shuffle against the same target).
    Same marker-file crash protocol as merge_into; recoverable via
    :func:`recover_merge`.

    Concurrent-writer guard (r13): the marker file doubles as an
    EXCLUSIVE commit lock (``O_CREAT|O_EXCL`` — a second in-flight
    commit, or a crashed one awaiting :func:`recover_merge`, raises
    :class:`ConcurrentWriteError` instead of interleaving renames).
    With ``expected_generation`` set (merge_into passes its read-time
    sample), the target's generation is re-checked under the lock: a
    mismatch means another merge committed since this one read the
    target — its output would silently erase that commit, so it raises
    instead. Every successful swap advances the generation."""
    import os
    import shutil
    import uuid

    tmp = f"{target_dir}__merge_{uuid.uuid4().hex[:8]}"
    # No localCheckpoint needed (r11): the write goes to a SEPARATE tmp
    # dir and fully executes — reading the live target — before any
    # rename touches the target, so the read-overwrite hazard of a
    # direct `mode("overwrite")` onto the dir just read cannot occur
    # here; an eager checkpoint would be one full extra
    # materialization per commit.
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(tmp)

    marker = f"{target_dir}__merge_marker"
    old = f"{target_dir}__old_{uuid.uuid4().hex[:8]}"
    # Exclusive commit lock: O_EXCL creation is atomic on POSIX and
    # (unlike a bare exists-check) cannot race another creator.
    try:
        fd = os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        shutil.rmtree(tmp, ignore_errors=True)
        raise ConcurrentWriteError(
            f"merge target {target_dir!r} has an in-flight or crashed "
            "merge (marker file present). If no other writer is "
            "running, call recover_merge() to repair and clear it."
        ) from None
    committed = False
    try:
        with os.fdopen(fd, "w") as fh:
            fh.write(
                "in-flight merge_into swap\n"
                f"old={old}\ntmp={tmp}\ntarget={target_dir}\n"
                "recovery: if target is missing, move old back to "
                "target (tmp holds the merged copy)\n"
            )
        if (
            expected_generation is not None
            and read_generation(target_dir) != expected_generation
        ):
            shutil.rmtree(tmp, ignore_errors=True)
            raise ConcurrentWriteError(
                f"merge target {target_dir!r} advanced from generation "
                f"{expected_generation} to "
                f"{read_generation(target_dir)} since this merge read "
                "it — committing would silently erase the interleaved "
                "merge. Retry from the top (re-read the target)."
            )
        if os.path.exists(target_dir):
            # Two local-fs renames can't be one atomic op, so (a) keep
            # the no-target window as small as possible (two
            # back-to-back renames, no work between), and (b) the
            # marker written above names both dirs so a crash inside
            # the window is recoverable: if `target_dir` is missing,
            # rename the `old` path in the marker back (data was never
            # deleted before the new copy was durable). The marker is
            # removed only after the swap and cleanup fully succeed.
            shutil.move(target_dir, old)
            shutil.move(tmp, target_dir)
            shutil.rmtree(old)
        else:
            shutil.move(tmp, target_dir)
        # Advance the generation before releasing the lock (crash
        # between swap and bump leaves a stale generation, which is
        # SAFE: the next merge reads the already-swapped data, so its
        # stale-sample check still guards exactly the lost-update case)
        gen_file = f"{target_dir}__generation"
        gen_tmp = f"{gen_file}.{uuid.uuid4().hex[:8]}"
        with open(gen_tmp, "w") as fh:
            fh.write(str(read_generation(target_dir) + 1))
        os.replace(gen_tmp, gen_file)
        committed = True
    finally:
        if committed:
            os.remove(marker)
        elif os.path.exists(target_dir) and not os.path.exists(old):
            # failed BEFORE the swap began (generation-check abort, a
            # pre-rename error): target intact, no half-swap debris —
            # release our own lock so the caller can retry
            if os.path.exists(marker):
                os.remove(marker)
        # otherwise: died mid-swap — KEEP the marker so recover_merge
        # can repair from its old=/tmp= fields


def recover_merge(target_dir: str) -> str:  # noqa: C901
    """Apply a crashed merge_into's marker file: restore a readable
    target and clear debris. Returns what was done ('clean' | 'kept
    target' | 'restored old'). Safe to call unconditionally before
    reading a merge target — a no-op when the last merge completed.

    Policy: if the target EXISTS, the swap either finished (old dir is
    debris) or never started (tmp is debris) — keep the target, drop
    debris. If the target is MISSING, the crash hit the two-rename
    window — move the pre-merge ``old`` copy back (never lost: the new
    copy was durable in tmp before the first rename, but ``old`` is the
    state we can PROVE complete) and leave ``tmp`` for inspection.
    """
    import os
    import shutil

    marker = f"{target_dir}__merge_marker"
    if not os.path.exists(marker):
        return "clean"
    with open(marker) as fh:
        fields = dict(
            line.split("=", 1)
            for line in fh.read().splitlines()
            if "=" in line
        )
    old, tmp = fields["old"], fields["tmp"]
    if os.path.exists(target_dir):
        for d in (old, tmp):
            if os.path.exists(d):
                shutil.rmtree(d)
        os.remove(marker)
        return "kept target"
    shutil.move(old, target_dir)
    os.remove(marker)
    return "restored old"


def compact(
    spark: SparkSession,
    path: str,
    target_files: int = 1,
    partition_by: Sequence[str] | None = None,
) -> None:
    """Small-file compaction: rewrite a table directory into
    ``target_files`` files (per partition if partitioned). Streaming
    sinks and incremental upserts accrete small files; periodic
    compaction keeps scan task counts sane (a 100 TB table of 1 MB
    files is 10^8 scheduler tasks — compaction is operationally
    mandatory at scale)."""
    # write-then-swap through atomic_replace: never deletes the source
    # before the replacement is fully durable, and its marker lock makes
    # a compaction racing a merge raise ConcurrentWriteError instead of
    # interleaving renames. On an object store the same pattern is
    # write-to-prefix + manifest/pointer flip (or a table format's
    # atomic commit).
    atomic_replace(
        path,
        spark.read.parquet(path).repartition(target_files),
        partition_by=partition_by,
    )


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int = 16,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Z-order (Morton-curve) clustered parquet layout for two columns.

    Computes a ``2*bits``-wide interleaved Z-value over the two
    (bucketed, non-negative) dimensions and lays files out along the
    curve: ``repartitionByRange`` on the Z-value gives each output file
    a contiguous curve segment, and ``sortWithinPartitions`` orders
    rows inside it so row-group min/max footer stats narrow too. A scan
    with a predicate on EITHER column can then prune most files from
    footer stats alone — the lake-native replacement for the
    reference's multi-column B-tree indexes (database.py:40-58). The
    Z-column is dropped before write; plans/layout.zorder_layout_audit
    is the read-side audit of the resulting spans.
    """
    from ..plans.layout import zvalue
    from pyspark.sql import functions as F

    mask = (1 << bits) - 1
    z = zvalue(
        F.col(x_col).bitwiseAND(F.lit(mask)),
        F.col(y_col).bitwiseAND(F.lit(mask)),
        bits,
    )
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
