"""Streaming foreachBatch upsert — the production CDC-apply sink.

The pattern every streaming lakehouse pipeline runs: each micro-batch
reduces to one row per key, then MERGEs into the target table. Because
the merge is idempotent (latest-by-event-time wins, not
latest-by-arrival), an at-least-once source redelivering records yields
EXACTLY-ONCE state — the delivery guarantee is recovered at the sink,
not assumed from the transport. The test harness stages the same events
file twice with maxFilesPerTrigger=1, so the merge genuinely runs
across multiple micro-batches including a full redelivery.

Scale posture: per batch, one (key)-shuffle to pick the batch-latest
row and one copy-on-write merge (at 100 TB: a table-format MERGE whose
rewrite cost is bounded by touched files — see writers.merge_into's
docstring). State lives in the TARGET TABLE, not the state store, so
the streaming query itself is stateless and restarts are cheap.

No reference analog (the reference's closest is the pending-flag
micro-batch pattern, scripts/silver/transform_silver.py:251-257 —
re-validated rows overwrite by key); this is that idea made a real
streaming sink.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def streaming_upsert_latest(
    spark: SparkSession,
    sf_dir: str,
    keys: tuple[str, ...] = ("user_id",),
    on_batch=None,
) -> DataFrame:
    """Run an events stream through a foreachBatch idempotent upsert;
    return the final target state (latest event per key) as a batch
    DataFrame. Scratch dirs come from fresh_scratch (one live result per
    process, earlier runs' dirs and swap debris reaped)."""
    from ..sources.writers import atomic_replace
    from .windows import _events_stream, drive_stream, fresh_scratch

    target = fresh_scratch("chai_stream_upsert")

    ev = _events_stream(
        spark, sf_dir, duplicate_delivery=True, max_files_per_trigger=1
    )

    key_list = list(keys)

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        if on_batch is not None:
            on_batch(batch_id)
        # latest per key by EVENT TIME (ts, event_id tiebreak) across
        # target ∪ batch — arrival order never decides, so a redelivered
        # or out-of-order batch can only re-derive the same state, never
        # regress it. (A plain source-wins merge would let a late batch
        # clobber newer state.)
        sp = bdf.sparkSession
        cand = bdf
        if os.path.exists(target):
            cand = sp.read.parquet(target).unionByName(bdf)
        w = Window.partitionBy(*key_list).orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        latest = (
            cand.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        # `latest` IS the complete new table state (it derives from
        # target ∪ batch, so it covers every existing key) — commit it
        # directly; merge_into here would re-read the target and pay a
        # second, redundant key-upsert shuffle before the same swap.
        atomic_replace(target, latest)

    # Per-batch shuffle width 8 (same rationale as run_streaming_query's
    # state_partitions): the window and checkpoint shuffles are keyed on
    # user_id at table grain, and a vanilla session's 200 partitions are
    # pure task-launch overhead at this state volume. Production sizes
    # this to target-table volume.
    drive_stream(
        ev.writeStream.foreachBatch(apply_batch).option(
            "checkpointLocation", target + "_chk"
        ),
        spark,
        8,
    )

    from ..functions import dround

    final = spark.read.parquet(target)
    # project the driver-facing shape: no instant-typed ts in the
    # output (collect would convert via the host OS zone)
    return final.select(
        "user_id",
        "event_id",
        "event_type",
        dround("value", 4).alias("value"),
    )
