"""Reusable sha256-derived HyperLogLog register construction.

Same algorithm as the hash-checked batch twin
(plans/advanced.py::approx_distinct_hll_checked): bucket = first 8
hash bits (m=256), rank = leading-zero count of the next 56 bits + 1.
Factored here so STREAMING consumers can build per-micro-batch
registers and merge them (bucket-wise max) into persistent state —
merge-idempotence is what turns an at-least-once source into an
exactly-once distinct count with no dedup operator at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import dround

HLL_M = 256
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)


def hll_registers(df: DataFrame, key) -> DataFrame:
    """(bucket, reg) table for the keys in ``df`` — complete over all
    HLL_M buckets (absent buckets hold reg 0), map-side combinable."""
    key_col = F.col(key) if isinstance(key, str) else key
    hexh = F.sha2(key_col.cast("string"), 256)
    h = df.select(
        F.substring(hexh, 1, 2).alias("bhex"),
        F.substring(hexh, 3, 14).alias("rest"),
    )
    zeros = F.length(F.regexp_extract("rest", "^0*", 0))
    first = F.conv(
        F.substring(F.col("rest"), zeros + 1, 1), 16, 10
    ).cast("bigint")
    extra = (
        F.when(zeros >= 14, F.lit(0))
        .when(first >= 8, 0)
        .when(first >= 4, 1)
        .when(first >= 2, 2)
        .otherwise(3)
    )
    ranked = h.select(
        F.conv(F.col("bhex"), 16, 10).cast("bigint").alias("bucket"),
        F.least(
            F.lit(57).cast("bigint"), (4 * zeros + extra + 1).cast("bigint")
        ).alias("rank"),
    )
    buckets = df.sparkSession.range(0, HLL_M).select(
        F.col("id").alias("bucket")
    )
    return (
        buckets.join(ranked, "bucket", "left")
        .groupBy("bucket")
        .agg(F.coalesce(F.max("rank"), F.lit(0)).alias("reg"))
    )


def hll_estimate(regs: DataFrame) -> DataFrame:
    """One-row (hll_estimate, reg_sum, nonzero_regs) from a register
    table — exact dyadic harmonic sum, small-range linear counting."""
    s = regs.agg(
        (
            F.sum(
                F.expr(
                    "CAST(shiftleft(CAST(1 AS BIGINT),"
                    " CAST(60 - reg AS INT)) AS DECIMAL(38,0))"
                )
            ).cast("double")
            / F.lit(float(1 << 60))
        ).alias("harm"),
        F.count_if(F.col("reg") == 0).alias("v"),
        F.sum("reg").alias("reg_sum"),
        F.count_if(F.col("reg") > 0).alias("nonzero_regs"),
    )
    e_raw = F.lit(HLL_ALPHA) * HLL_M * HLL_M / F.col("harm")
    e: Column = F.when(
        (e_raw <= 2.5 * HLL_M) & (F.col("v") > 0),
        HLL_M * F.log(HLL_M * 1.0 / F.col("v")),
    ).otherwise(e_raw)
    return s.select(
        dround(e, 4).alias("hll_estimate"),
        F.col("reg_sum").cast("bigint").alias("reg_sum"),
        F.col("nonzero_regs").cast("bigint").alias("nonzero_regs"),
    )
