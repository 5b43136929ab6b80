"""Custom stateful streaming operators.

- :func:`running_user_totals_stream` — applyInPandasWithState: per-user
  cumulative (count, sum) state carried across micro-batches, emitting
  updated totals each batch. This is the engine's template for custom
  state machines (fraud counters, session enrichment, rate limiting)
  that windowed aggregation can't express.
- :func:`run_foreach_batch_upsert` — exactly-once-style incremental
  sink: each micro-batch's aggregates merge into a parquet target via
  delete-then-append keyed upsert, committed by writers.atomic_replace.
  This is the modern replacement for the reference's
  ``validation_status='pending'`` flag-update pattern (reference:
  scripts/silver/transform_silver.py:251-257) — state lives in the
  checkpoint + target table, not in a mutable flag column.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .windows import _events_stream, drive_stream

OUTPUT_SCHEMA = "user_id long, n_events long, total_value double, seq long"
STATE_SCHEMA = "n long, total double, nvals long, seq long"


def running_user_totals_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NB: defined as a closure so cloudpickle ships it BY VALUE — a
    # module-level function is pickled by reference, which breaks when
    # workers don't have this package on their import path (the external
    # driver imports the repo via sys.path, not an installed package)
    def update_totals(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, total, nvals, seq = (
            state.get if state.exists else (0, 0.0, 0, 0)
        )
        for pdf in pdfs:
            n += len(pdf)
            # cents-exact accumulation: state survives across batches, so
            # float drift would compound — accumulate scaled integers.
            # Half-up floor(x*1e4 + 0.5) matches the engine-wide dround
            # formula (pandas .round() is banker's half-even and would
            # diverge on exact .5 scaled values).
            total += float(np.floor(pdf["value"].mul(10000) + 0.5).sum()) / 10000.0
            # NULL values contribute nothing (pandas sum skips NaN),
            # but SQL's SUM over an all-NULL group is NULL, not 0 —
            # count the non-null contributions so emission can match.
            nvals += int(pdf["value"].notna().sum())
        # seq = per-key emission counter: downstream reducers pick the
        # LAST emission via max_by(_, seq) — max of the totals themselves
        # is only correct while totals are monotone (a negative value
        # would silently select a non-final row)
        seq += 1
        state.update((n, total, nvals, seq))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total if nvals > 0 else None],
                "seq": [seq],
            }
        )

    ev = _events_stream(spark, sf_dir).select("user_id", "ts", "value")
    return (
        ev.groupBy("user_id")
        .applyInPandasWithState(
            update_totals,
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def run_foreach_batch_upsert(
    spark: SparkSession, sf_dir: str, target_dir: str
) -> None:
    """Drive the stream; each micro-batch's per-day/type counts upsert
    into ``target_dir`` by (d, event_type)."""
    import os

    from pyspark.sql import functions as F

    from ..operators.merge import delete_then_append
    from ..sources.writers import atomic_replace

    ev = _events_stream(spark, sf_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        agg = batch_df.groupBy(
            F.to_date("ts").alias("d"), "event_type"
        ).agg(F.count("*").alias("n"))
        if os.path.exists(target_dir):
            target = spark.read.parquet(target_dir)
            merged = delete_then_append(target, agg, ["d", "event_type"])
        else:
            merged = agg
        # atomic_replace writes to a tmp dir before any rename, so the
        # files just read are never overwritten in place
        atomic_replace(target_dir, merged)

    # no pin of its own: runs at the session's shuffle width
    drive_stream(
        ev.writeStream.outputMode("append").foreachBatch(sink),
        spark,
        spark.conf.get("spark.sql.shuffle.partitions"),
    )
