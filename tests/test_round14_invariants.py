"""Round-14 invariants.

Pins the streaming state-partition CLASS rule so a future round cannot
"unify" the two topology classes onto one derivation without tripping a
test (VERDICT r13 item 7):

- ROW-KEYED state (stream-stream join buffers, dropDuplicates id sets,
  per-key Arrow state) must derive its partition count from source
  volume via ``adaptive_state_partitions`` — at sf1 the stream-stream
  join measured 14.2 s with the fixed 2 partitions vs 6.0 s with 8
  (plans/r13/ab_stream_parts_sf1.json).
- Windowed/grouped AGGREGATES with bounded (group-cardinality) state
  must KEEP the fixed local default — their stream shuffle is map-side
  partial-aggregated, so extra partitions are pure commit overhead at
  any volume: at sf1 tumbling measured 1.55 s at 2 partitions vs
  2.87 s at 8, session windows 2.98 vs 4.07
  (plans/r13/perfprobe_s1_sf1_afterparts.json).

The test reads the AST of plans/streaming.py rather than running the
streams: the invariant is WHICH derivation each query uses, and that is
a property of the call site.
"""

from __future__ import annotations

import ast
import os

import pytest

import chai_data_pipeline_spark.plans.streaming as plans_streaming

# topology class -> query function names in plans/streaming.py
ROW_KEYED = {
    "streaming_stateful_totals",  # per-key Arrow state (floor 8)
    "streaming_stream_join",  # join buffers
    "streaming_dedup_delivery",  # dropDuplicates id sets
}
BOUNDED_AGG = {
    "streaming_tumbling_counts",
    "streaming_append_window",
    "streaming_sliding_counts",
    "streaming_session_window",
    "streaming_static_enrich",
}


def _call_sites():
    """Map each top-level query function to the set of state_partitions
    expressions (as source text) it passes to run_streaming_query, or
    None entries when the call relies on the fixed default."""
    src_path = plans_streaming.__file__
    with open(src_path) as f:
        tree = ast.parse(f.read(), filename=src_path)
    sites: dict[str, list[str | None]] = {}
    for node in tree.body:
        if not isinstance(node, ast.FunctionDef):
            continue
        exprs: list[str | None] = []
        for call in ast.walk(node):
            if not isinstance(call, ast.Call):
                continue
            fn = call.func
            fn_name = getattr(fn, "id", getattr(fn, "attr", ""))
            if fn_name != "run_streaming_query":
                continue
            kw = {k.arg: k.value for k in call.keywords}
            if "state_partitions" in kw:
                exprs.append(ast.unparse(kw["state_partitions"]))
            else:
                exprs.append(None)
        if exprs:
            sites[node.name] = exprs
    return sites


def test_row_keyed_state_uses_adaptive_partitions():
    sites = _call_sites()
    for name in ROW_KEYED:
        assert name in sites, f"{name} no longer calls run_streaming_query"
        for expr in sites[name]:
            assert expr is not None and "adaptive_state_partitions" in expr, (
                f"{name} has row-keyed state and must derive its "
                f"partition count from source volume "
                f"(adaptive_state_partitions); got {expr!r}"
            )


def test_bounded_aggregates_keep_fixed_default():
    sites = _call_sites()
    for name in BOUNDED_AGG:
        assert name in sites, f"{name} no longer calls run_streaming_query"
        for expr in sites[name]:
            assert expr is None or "adaptive" not in expr, (
                f"{name} is a bounded-state windowed aggregate: more "
                f"partitions were MEASURED as pure commit overhead at "
                f"sf1 (tumbling 1.55s@2 vs 2.87s@8) — do not unify it "
                f"onto the adaptive rule without re-measuring both "
                f"classes; got {expr!r}"
            )


def test_every_runner_call_site_is_classified():
    """A NEW streaming query added to plans/streaming.py must be
    classified into one of the two state classes above (or use a
    dedicated runner) — an unclassified run_streaming_query call site
    means the class decision was never made."""
    sites = _call_sites()
    unclassified = set(sites) - ROW_KEYED - BOUNDED_AGG
    assert unclassified == set(), (
        f"unclassified run_streaming_query call sites: "
        f"{sorted(unclassified)} — add them to ROW_KEYED or BOUNDED_AGG "
        f"in {os.path.basename(__file__)} with a measured justification"
    )


def test_ephemeral_retain_applied_and_restored(spark, monkeypatch):
    """run_streaming_query bounds checkpoint-version retention for its
    throwaway checkpoints (r14: minBatchesToRetain=2, measured win
    across all seven streaming headline keys) and restores the session
    conf afterwards; SPARK_GRAFT_STREAM_RETAIN='' disables the bound."""
    from chai_data_pipeline_spark.streaming.windows import (
        _set_ephemeral_retain,
    )

    key = "spark.sql.streaming.minBatchesToRetain"
    before = spark.conf.get(key, None)

    monkeypatch.setenv("SPARK_GRAFT_STREAM_RETAIN", "7")
    restore = _set_ephemeral_retain(spark)
    assert spark.conf.get(key) == "7"
    restore()
    assert spark.conf.get(key, None) == before

    # kill switch: empty string leaves the session default untouched
    monkeypatch.setenv("SPARK_GRAFT_STREAM_RETAIN", "")
    restore = _set_ephemeral_retain(spark)
    assert spark.conf.get(key, None) == before
    restore()
    assert spark.conf.get(key, None) == before

    # default (env unset): the ephemeral bound of 2
    monkeypatch.delenv("SPARK_GRAFT_STREAM_RETAIN", raising=False)
    restore = _set_ephemeral_retain(spark)
    assert spark.conf.get(key) == "2"
    restore()
    assert spark.conf.get(key, None) == before

    # a value Spark would only reject at stream start (or with an error
    # that does not name the setting) fails here, conf untouched
    for bad in ("abc", "0", "-3"):
        monkeypatch.setenv("SPARK_GRAFT_STREAM_RETAIN", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_STREAM_RETAIN"):
            _set_ephemeral_retain(spark)
        assert spark.conf.get(key, None) == before


def test_ivf_arrow_auto_switch_and_identity(spark):
    """The rows-only IVF path switches to Arrow/numpy assignment only
    above the measured volume crossover (fold wins at 2k vectors,
    matmul at 20k — plans/r14/ab_ivf_arrow.json), and both forms are
    row-identical (same codebook, same lowest-id tiebreak, dround-6
    cosine)."""
    from pyspark.sql import functions as F

    from chai_data_pipeline_spark.operators.similarity import (
        ann_topk_ivf,
    )
    from chai_data_pipeline_spark.plans.similarity import _ivf_arrow_auto
    from chai_data_pipeline_spark.session import load_tables

    sf = "/root/testdata/sf0.001"  # 500 vectors
    assert _ivf_arrow_auto(sf) is False  # below the crossover
    assert _ivf_arrow_auto(sf, threshold=100) is True  # volume rule
    assert _ivf_arrow_auto("/nonexistent") is False  # fail-safe: fold

    emb = load_tables(spark, sf, "embeddings")["embeddings"]
    qdf = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    fold = sorted(
        map(tuple, ann_topk_ivf(emb, qdf, k=10, arrow=False).collect())
    )
    arrow = sorted(
        map(tuple, ann_topk_ivf(emb, qdf, k=10, arrow=True).collect())
    )
    assert fold == arrow and len(fold) == 10

    # an empty query returns an empty top-k on both paths, same schema
    none = qdf.limit(0)
    fold_empty = ann_topk_ivf(emb, none, k=10, arrow=False)
    arrow_empty = ann_topk_ivf(emb, none, k=10, arrow=True)
    assert arrow_empty.schema == fold_empty.schema
    assert arrow_empty.collect() == [] == fold_empty.collect()
