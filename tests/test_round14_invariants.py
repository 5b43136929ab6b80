"""Round-14 invariants: the IVF Arrow auto-switch (the streaming
state-class and retain tests of this round live in test_streaming.py)."""

from __future__ import annotations


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
