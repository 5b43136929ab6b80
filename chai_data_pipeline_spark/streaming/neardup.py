"""Streaming near-duplicate guard: the streaming sibling of
dedup_simhash_checked (plans/dedup.py:886), completing the
batch↔streaming symmetry of the dedup family.

An ingest stream of documents is admitted through a SimHash guard:
each micro-batch's docs are fingerprinted (the md5-derived 32-bit
sign-fold — bit-identical in Spark and DuckDB, shared with
dedup_simhash_checked), blocked by 8-bit fingerprint chunks, and a doc
is REJECTED iff some lower-id document already seen (earlier batch OR
earlier in this batch) shares a chunk and sits within Hamming ≤ 6.
Rejection compares against ALL previously seen docs, not just admitted
ones — the greedy any-lower-collision rule — which keeps the guard's
decision independent of survivor chains and therefore expressible as
one batch SQL oracle regardless of how the stream was batched.

State is the seen-chunk table (doc_id, simhash, chunk_idx, chunk_val)
— O(4 rows/doc), persisted via the same atomic_replace swap protocol
as the upsert sink. Per micro-batch: one fingerprint map pass over the
batch, one chunk equi-join (batch × (state ∪ batch-lower)) bounded by
collision density, never all-pairs. At 100 TB/day the same topology
runs with the xxhash64 fast-path fingerprint (operators/dedup.simhash64)
and a hot-chunk cap (dedup_simhash's skew guard); the checked 32-bit
fingerprint here is the differential-oracle harness, uncapped because
the planted corpus has no hot chunks.

The local harness stages the corpus as TWO files split at the doc_id
midpoint (lower half first, mtimes pinned so the file source orders
them) and streams with maxFilesPerTrigger=1 — so admission decisions
genuinely cross a micro-batch boundary: upper-half docs are vetted
against lower-half state committed by the previous batch.

No reference analog (the reference has no streaming and no dedup);
this is the engine's north-star extension family.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def streaming_neardup_guard(
    spark: SparkSession,
    sf_dir: str,
    hamming_max: int = 6,
) -> DataFrame:
    """Drive the documents stream through the SimHash guard; return the
    admitted (doc_id, simhash) set as a batch DataFrame."""
    from ..session import load_tables
    from ..sources.writers import atomic_replace
    from .windows import drive_stream, fresh_scratch

    # expression machinery shared with the batch checked twin
    from ..plans.dedup import _SIMHASH_CHK_CHUNKS, _SIMHASH_SPARK

    root = fresh_scratch("chai_stream_neardup")
    src = root + "_src"
    out = root + "_out"
    state = root + "_state"

    docs = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .filter(F.col("text").isNotNull())  # NULL text folds to NULL
        .select("doc_id", "text")
    )
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    if lo is None:
        return spark.createDataFrame([], "doc_id long, simhash long")
    mid = (int(lo) + int(hi)) // 2

    # Stage the two micro-batch files. coalesce(1) is HARNESS staging
    # (like _events_stream's symlink dir), not a data path — production
    # ingests from the landing bucket/Kafka in natural file grain.
    os.makedirs(src, exist_ok=True)
    for i, pred in enumerate(
        (F.col("doc_id") <= mid, F.col("doc_id") > mid)
    ):
        part_dir = os.path.join(root + "_stage", f"half{i}")
        docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(
            part_dir
        )
        part = next(
            p
            for p in glob.glob(os.path.join(part_dir, "part-*.parquet"))
        )
        dest = os.path.join(src, f"half{i}.parquet")
        shutil.move(part, dest)
        # pin mtimes so the file source's oldest-first ordering matches
        # the doc_id ordering regardless of write-timestamp granularity
        os.utime(dest, (1_000_000_000 + i * 100, 1_000_000_000 + i * 100))
    shutil.rmtree(root + "_stage", ignore_errors=True)

    stream = (
        spark.readStream.schema(docs.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )

    chunk_expr = (
        f"transform(sequence(0, {_SIMHASH_CHK_CHUNKS - 1}),"
        " c -> struct(c AS chunk_idx,"
        " shiftright(simhash, c * 8) & 255 AS chunk_val))"
    )

    def guard_batch(bdf: DataFrame, batch_id: int) -> None:
        sp = bdf.sparkSession
        sig = bdf.select(
            "doc_id", F.expr(_SIMHASH_SPARK).alias("simhash")
        )
        chunks = (
            sig.select("doc_id", "simhash", F.explode(F.expr(chunk_expr)).alias("ch"))
            .select("doc_id", "simhash", "ch.chunk_idx", "ch.chunk_val")
            .localCheckpoint(eager=True)  # sig is reused 3× below; the
            # fingerprint fold is the expensive map pass — do it once
        )
        seen = chunks
        if os.path.exists(state):
            seen = sp.read.parquet(state).unionByName(chunks)
        d = chunks.alias("d")
        e = seen.alias("e")
        rejected = (
            d.join(
                e,
                (F.col("d.chunk_idx") == F.col("e.chunk_idx"))
                & (F.col("d.chunk_val") == F.col("e.chunk_val"))
                & (F.col("e.doc_id") < F.col("d.doc_id")),
            )
            .filter(
                F.expr("bit_count(d.simhash ^ e.simhash)") <= hamming_max
            )
            .select(F.col("d.doc_id").alias("doc_id"))
            .distinct()
        )
        admitted = (
            chunks.filter(F.col("chunk_idx") == 0)
            .join(rejected, "doc_id", "left_anti")
            .select("doc_id", "simhash")
        )
        # Output lands per-batch in a batch_id-named subdir so a
        # foreachBatch REPLAY after a mid-batch failure overwrites its
        # own output instead of double-appending (the state swap below
        # is already idempotent; a bare append sink would not be).
        admitted.write.mode("overwrite").parquet(
            os.path.join(out, f"batch={batch_id}")
        )
        # commit the new seen-state AFTER the batch's output: the
        # union covers every prior row, so this is a complete-state
        # swap, not an upsert (same rationale as the HLL sink)
        atomic_replace(state, seen)

    drive_stream(
        stream.writeStream.foreachBatch(guard_batch).option(
            "checkpointLocation", root + "_chk"
        ),
        spark,
        8,
    )
    # select() drops the batch=N partition-discovery column
    return spark.read.parquet(out).select("doc_id", "simhash")
