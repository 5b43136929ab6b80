"""Streaming queries for the driver contract.

Each runs a real Structured Streaming query (file source → watermarked
window agg → memory sink, driven to completion synchronously) and
returns the result as a batch DataFrame; the oracle is the equivalent
batch SQL, so these are full-strength hash-checked operators, not
rows-only smoke tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..streaming.windows import (
    adaptive_state_partitions,
    append_window_counts_stream,
    run_streaming_query,
    sessionized_stream,
    sliding_counts_stream,
    tumbling_counts_stream,
)
from ..functions.numeric import dround, sql_dround
from .registry import query

# --------------------------------------------------------------------------
# Tumbling 1h windows per event_type (epoch-aligned = date_trunc hour)
# --------------------------------------------------------------------------


@query(
    "streaming_tumbling_counts",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events
FROM events WHERE ts IS NOT NULL AND ts >= TIMESTAMP '1970-01-01 00:00:00'
GROUP BY 1, 2
""",
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # windowed-AGGREGATE state is window-cardinality (bounded) and the
    # stream's shuffle is map-side partial-aggregated, so more state
    # partitions are pure commit overhead at ANY volume — the r13 sf1
    # measurement confirmed it (2 parts 1.55 s vs 8 parts 2.87 s at 1M
    # events); adaptive_state_partitions is for ROW-KEYED state only
    return run_streaming_query(
        tumbling_counts_stream(spark, sf_dir), "t_tumbling"
    )


# --------------------------------------------------------------------------
# APPEND-mode watermark-finalized tumbling windows — the canonical
# production streaming pattern: each window emitted exactly once to an
# append-only file sink after the watermark (max event time - delay)
# passes its end. Only windows with window_end <= max(ts) - delay are
# ever finalized (the watermark cannot advance past that), and the
# boundary is inclusive (a window ending exactly at the watermark IS
# emitted — verified empirically); the oracle carries the identical
# cutoff. Window ends are whole-hour, so Spark's internal
# millisecond-truncated watermark cannot diverge from the oracle's
# full-microsecond MAX(ts) arithmetic (a whole-ms window end can never
# fall strictly between the truncated and untruncated watermark).
# --------------------------------------------------------------------------


@query(
    "streaming_append_window",
    oracle=f"""
WITH dom AS (
    SELECT ts, event_type, value FROM events
    WHERE ts IS NOT NULL AND ts >= TIMESTAMP '1970-01-01 00:00:00'
)
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {sql_dround(
           "CAST(CAST(SUM(CAST(value AS DECIMAL(27,4))) AS VARCHAR) AS DOUBLE)", 4
       )} AS total_value
FROM dom
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
      <= (SELECT MAX(ts) - INTERVAL 2 HOUR FROM dom)
GROUP BY 1, 2
""",
)
def streaming_append_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bounded windowed-aggregate state: fixed partitions (see
    # streaming_tumbling_counts note)
    return run_streaming_query(
        append_window_counts_stream(spark, sf_dir),
        "t_append_window",
        output_mode="append",
        finalize_windows=True,
    )


# --------------------------------------------------------------------------
# Sliding 2h windows, 1h slide: each event lands in 2 windows — the
# batch oracle expresses that as a 2-bucket union
# --------------------------------------------------------------------------


@query(
    "streaming_sliding_counts",
    oracle=f"""
WITH buckets AS (
    SELECT date_trunc('hour', ts) AS window_start, value FROM events
    WHERE ts IS NOT NULL AND ts >= TIMESTAMP '1970-01-01 00:00:00'
    UNION ALL
    SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, value FROM events
    WHERE ts IS NOT NULL AND ts >= TIMESTAMP '1970-01-01 00:00:00'
)
SELECT window_start,
       COUNT(*) AS n_events,
       {sql_dround(
           "CAST(CAST(SUM(CAST(value AS DECIMAL(27,4))) AS VARCHAR) AS DOUBLE)", 4
       )} AS total_value
FROM buckets
GROUP BY 1
""",
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bounded windowed-aggregate state: fixed partitions (see
    # streaming_tumbling_counts note)
    return run_streaming_query(
        sliding_counts_stream(spark, sf_dir), "t_sliding"
    )


# --------------------------------------------------------------------------
# Session windows (30 min gap) per user — oracle is the batch lag-gap
# sessionization. Boundary matches Spark's session_window exactly: a gap
# of EXACTLY 1800s MERGES into the previous session (verified
# empirically in batch and streaming); only a STRICTLY greater gap (>)
# starts a new session.
# --------------------------------------------------------------------------


@query(
    "streaming_session_window",
    oracle="""
WITH e AS (
    SELECT user_id, ts,
           CASE WHEN LAG(ts) OVER w IS NULL
                     OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
                THEN 1 ELSE 0 END AS is_new
    FROM events WHERE ts IS NOT NULL AND ts >= TIMESTAMP '1970-01-01 00:00:00'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
    SELECT *, SUM(is_new) OVER (
        PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
    ) AS session_id
    FROM e
)
SELECT user_id, COUNT(*) AS n_events
FROM s GROUP BY user_id, session_id
""",
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # session-window state is bounded by (users x open sessions), not
    # rows: fixed partitions (see streaming_tumbling_counts note;
    # measured 2.98 s at 2 parts vs 4.07 s at 8 parts, sf1)
    return run_streaming_query(
        sessionized_stream(spark, sf_dir), "t_session"
    )


# --------------------------------------------------------------------------
# Custom stateful operator (applyInPandasWithState): per-user running
# totals carried in group state. With the file source delivering one
# batch, the emitted updates equal the batch aggregate — so even the
# custom-state path is oracle-checked.
# --------------------------------------------------------------------------


@query(
    "streaming_stateful_totals",
    oracle=f"""
SELECT user_id,
       COUNT(*) AS n_events,
       {sql_dround(
           "CAST(CAST(SUM(CAST(value AS DECIMAL(27,4))) AS VARCHAR) AS DOUBLE)", 4
       )} AS total_value
FROM events WHERE ts IS NOT NULL AND ts >= TIMESTAMP '1970-01-01 00:00:00'
GROUP BY user_id
""",
)
def streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..streaming.stateful import running_user_totals_stream

    out = run_streaming_query(
        running_user_totals_stream(spark, sf_dir),
        "t_stateful",
        output_mode="update",
        # applyInPandasWithState runs one Python task per state
        # partition, and each task in a warm worker costs ~0.29 s of
        # fixed CPU, so the width follows the volume at a finer rate
        # than the JVM-state default: one partition per 12,500 events
        # (100k events -> 8 on 32 cores, the r13 choice), floor 2,
        # capped at the core count. On 4 vCPUs that is 2 at 10k events
        # (0.9-1.3 s wall vs 1.5-1.8 s at 8) and 4 at 100k (2.2-2.5 s
        # vs 2.8-3.2 s at 8 and 3.3-4.0 s at 2): the fastest width at
        # each scale (table in the adaptive_state_partitions docstring);
        # widths above 8 (more events on more cores) are unmeasured.
        state_partitions=adaptive_state_partitions(
            spark, sf_dir, rows_per_partition=12_500
        ),
    )
    # one update row per user per batch; the LAST emission (highest seq,
    # stamped by the state function) is the final total — max of the
    # totals themselves would only be correct while totals are monotone
    return out.groupBy("user_id").agg(
        F.max_by("n_events", "seq").alias("n_events"),
        # dround, not a bare floor: saturation guard (r12 2e17 probe)
        dround(F.max_by("total_value", "seq"), 4).alias("total_value"),
    )


# --------------------------------------------------------------------------
# Stream-stream time-range join (funnel attribution): purchases matched
# to same-user clicks in the preceding hour; oracle is the batch range
# join. Watermarks on both sides + two-sided time bound = evictable
# join state (the only formulation that survives unbounded streams).
# --------------------------------------------------------------------------


@query(
    "streaming_stream_join",
    oracle="""
SELECT p.event_id AS purchase_id, c.event_id AS click_id
FROM events p JOIN events c
  ON p.user_id = c.user_id
WHERE p.event_type = 'purchase'
  AND c.event_type = 'click'
  AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
  -- event-time domain [1970, ∞): matches _events_stream (pre-epoch
  -- events are out of domain — see the r12 --xts note there)
  AND p.ts >= TIMESTAMP '1970-01-01 00:00:00'
  AND c.ts >= TIMESTAMP '1970-01-01 00:00:00'
""",
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import purchase_click_join_stream

    return run_streaming_query(
        purchase_click_join_stream(spark, sf_dir),
        "t_stream_join",
        output_mode="append",
        state_partitions=adaptive_state_partitions(spark, sf_dir),
    )


# --------------------------------------------------------------------------
# Streaming dedup over an at-least-once source: every record delivered
# twice, dropDuplicatesWithinWatermark emits each exactly once; oracle
# is simply the table itself (each event once).
# --------------------------------------------------------------------------


@query(
    "streaming_dedup_delivery",
    oracle="""
SELECT event_id, user_id, event_type FROM events WHERE ts IS NOT NULL AND ts >= TIMESTAMP '1970-01-01 00:00:00'
""",
)
def streaming_dedup_delivery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import dedup_delivery_stream

    return run_streaming_query(
        dedup_delivery_stream(spark, sf_dir),
        "t_stream_dedup",
        output_mode="append",
        # replicas=2: the at-least-once source stages the file twice
        state_partitions=adaptive_state_partitions(
            spark, sf_dir, replicas=2
        ),
    )


# --------------------------------------------------------------------------
# foreachBatch idempotent upsert (CDC-apply sink): the stream stages the
# SAME events file twice with maxFilesPerTrigger=1 — an at-least-once
# source redelivering everything across two micro-batches — and the
# sink's latest-by-event-time merge recovers exactly-once state. The
# oracle is the batch latest-event-per-user, which the final target
# must equal REGARDLESS of batch split or redelivery.
# --------------------------------------------------------------------------


@query(
    "streaming_upsert_latest",
    oracle=f"""
SELECT user_id, event_id, event_type,
       {sql_dround('value', 4)} AS value
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC
    ) AS rn
    FROM events WHERE ts IS NOT NULL AND ts >= TIMESTAMP '1970-01-01 00:00:00'
)
WHERE rn = 1
""",
)
def streaming_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.upsert import streaming_upsert_latest as run

    return run(spark, sf_dir)


# --------------------------------------------------------------------------
# Streaming mergeable-sketch state: foreachBatch HLL register merge
# under FULL REDELIVERY. The oracle builds registers from the single
# batch copy — max-merge idempotence is exactly why the twice-delivered
# stream must land on the identical registers (and thus the identical
# estimate and digest). See streaming/sketch.py.
# --------------------------------------------------------------------------

from .sketches import _sql_est, _sql_regs  # noqa: E402


@query(
    "streaming_hll_distinct",
    oracle=f"""
WITH {_sql_regs(
    "x",
    "ts IS NOT NULL AND ts >= TIMESTAMP '1970-01-01 00:00:00'",
).lstrip()},
{_sql_est('x', 'regs_x').lstrip()}
SELECT {sql_dround('e', 4)} AS hll_estimate,
       d.reg_sum, d.nonzero_regs
FROM e_x CROSS JOIN (
    SELECT CAST(SUM(reg) AS BIGINT) AS reg_sum,
           COUNT(*) FILTER (WHERE reg > 0) AS nonzero_regs
    FROM regs_x
) d
""",
)
def streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sketch import streaming_hll_merge

    return streaming_hll_merge(spark, sf_dir)


# --------------------------------------------------------------------------
# Stream–static enrichment — the one streaming primitive the family
# didn't yet cover: joining the event stream to a static dimension
# (customer→nation) before the windowed aggregate. The static side is
# re-planned per micro-batch and broadcast (dimension-sized), so the
# stream never shuffles for the join — the canonical enrich-on-ingest
# topology (reference analog: none; the reference enriches in batch
# pandas merges).
# --------------------------------------------------------------------------


@query(
    "streaming_static_enrich",
    oracle=f"""
SELECT date_trunc('hour', ts) AS window_start,
       n_name AS nation,
       COUNT(*) AS n_events,
       {sql_dround(
           "CAST(CAST(SUM(CAST(value AS DECIMAL(27,4))) AS VARCHAR) AS DOUBLE)", 4
       )} AS total_value
FROM events
JOIN customer ON user_id = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE ts IS NOT NULL AND ts >= TIMESTAMP '1970-01-01 00:00:00' AND user_id IS NOT NULL
GROUP BY 1, 2
""",
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import static_enrich_stream

    # bounded windowed-aggregate state: fixed partitions (see
    # streaming_tumbling_counts note)
    return run_streaming_query(
        static_enrich_stream(spark, sf_dir), "t_static_enrich"
    )


# --------------------------------------------------------------------------
# Streaming per-window top-k leaderboard: complete-mode tumbling
# counts ranked in foreachBatch, overwriting the serving sink each
# micro-batch — the one aggregation+ranking topology the family
# didn't cover (window functions can't run inside a streaming
# aggregate; foreachBatch on the aggregate state is the production
# pattern). Full-replay determinism: the final overwrite equals the
# batch rank over the complete aggregate.
# --------------------------------------------------------------------------


@query(
    "streaming_window_topk",
    oracle="""
WITH agg AS (
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events
    FROM events WHERE ts IS NOT NULL AND ts >= TIMESTAMP '1970-01-01 00:00:00'
    GROUP BY 1, 2
),
ranked AS (
    SELECT window_start, event_type, n_events,
           ROW_NUMBER() OVER (
               PARTITION BY window_start
               ORDER BY n_events DESC, event_type
           ) AS rank
    FROM agg
)
SELECT window_start, event_type, n_events, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 3
""",
)
def streaming_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import window_topk_run

    return window_topk_run(spark, sf_dir, k=3)


# --------------------------------------------------------------------------
# Streaming near-dup guard (r11): an ingest stream admitted through the
# SimHash chunk-blocking + Hamming filter — the streaming sibling of
# dedup_simhash_checked, completing the batch↔streaming symmetry of the
# dedup family. A doc is rejected iff ANY lower-id doc already seen
# (previous micro-batch's committed state OR earlier in this batch)
# shares an 8-bit fingerprint chunk within Hamming ≤ 6. The greedy
# any-lower-collision rule makes the decision batching-independent, so
# the two-micro-batch streaming run must land on exactly this one-shot
# batch SQL. Fingerprint CTEs shared verbatim with the batch twin
# (plans/dedup._SIMHASH_SIG_SQL_DUCKDB).
# --------------------------------------------------------------------------

from .dedup import _SIMHASH_CHK_CHUNKS as _ND_CHUNKS  # noqa: E402
from .dedup import _SIMHASH_CHK_HAM as _ND_HAM  # noqa: E402
from .dedup import _SIMHASH_SIG_SQL_DUCKDB as _ND_SIG  # noqa: E402
from ..functions import sql_dround


@query(
    "streaming_neardup_guard",
    oracle=f"""
WITH {_ND_SIG},
chunks AS (
    SELECT doc_id, simhash, c.c AS chunk_idx,
           (simhash >> (c.c * 8)) & 255 AS chunk_val
    FROM sig, (SELECT unnest(range(0, {_ND_CHUNKS})) AS c) c
),
rejected AS (
    SELECT DISTINCT d.doc_id
    FROM chunks d JOIN chunks e
      ON d.chunk_idx = e.chunk_idx AND d.chunk_val = e.chunk_val
         AND e.doc_id < d.doc_id
    WHERE bit_count(xor(d.simhash, e.simhash)) <= {_ND_HAM}
)
SELECT s.doc_id, s.simhash
FROM sig s LEFT JOIN rejected r ON s.doc_id = r.doc_id
WHERE r.doc_id IS NULL
""",
)
def streaming_neardup_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.neardup import streaming_neardup_guard as run

    # hamming_max passed explicitly so the impl and the oracle above
    # derive from the SAME constant — editing dedup._SIMHASH_CHK_HAM
    # can't silently desync the two sides.
    return run(spark, sf_dir, hamming_max=_ND_HAM)
