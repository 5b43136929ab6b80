"""Driver-checkable sink round-trips: the write path exercised inside
a query, then verified by reading the files back.

The S-row sinks (bulk overwrite S6/S9, chunked append S7, partition
layout M5) were previously covered only by unit tests; these queries
run the REAL writers against a temp lake dir and return aggregates of
the read-back, so the driver's DuckDB oracle (which never sees the
temp files) pins the round-trip: if the write dropped, duplicated, or
mistyped rows, the counts/sums diverge.

Temp-dir hygiene is streaming/windows.fresh_scratch's: one live dir
per query name under the system temp dir, previous runs' dirs removed
up front, names anchored so a prefix name can never delete another
query's dirs.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_tables
from ..sources.writers import write_table
from ..streaming.windows import fresh_scratch
from .registry import query


@query(
    "sink_partitioned_roundtrip",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)) * 100) AS BIGINT)
           AS total_cents
FROM orders
WHERE o_orderstatus IN ('O', 'F')
GROUP BY 1
""",
)
def sink_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/S9 overwrite + M5 partition layout, verified by read-back.

    Writes orders partitioned by o_orderstatus (truncate-reload
    semantics: mode=overwrite), then reads the lake back WITH a
    partition predicate — the filter prunes to the two matching
    partition directories before any file is opened (PartitionFilters,
    pinned in tests/test_plan_shapes.py). The aggregate must match the
    oracle computed from the ORIGINAL table: bit-exact decimal cents
    prove no row was lost, duplicated, or re-typed through the
    parquet round-trip.
    """
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    path = fresh_scratch(
        os.path.join(tempfile.gettempdir(), "chai_sink_part")
    )
    write_table(
        orders.select("o_orderkey", "o_orderstatus", "o_totalprice"),
        path,
        mode="overwrite",
        partition_by=["o_orderstatus"],
    )
    back = spark.read.parquet(path).filter(
        F.col("o_orderstatus").isin("O", "F")
    )
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        (F.sum(F.col("o_totalprice").cast("decimal(27,2)") * 100))
        .cast("bigint")
        .alias("total_cents"),
    )


@query(
    "sink_append_roundtrip",
    oracle="""
SELECT o_orderstatus,
       2 * COUNT(*) AS n_rows,
       COUNT(DISTINCT o_orderkey) AS n_keys
FROM orders
GROUP BY 1
""",
)
def sink_append_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 chunked-append semantics, verified by read-back.

    Overwrite-writes the table, then appends the same rows (the
    reference's chunked to_sql(if_exists='append') pattern,
    load_bronze.py:179-221): the read-back must hold exactly 2× each
    partition's rows while the distinct key count is unchanged —
    append added, never replaced or deduped.
    """
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    chunk = orders.select("o_orderkey", "o_orderstatus")
    path = fresh_scratch(
        os.path.join(tempfile.gettempdir(), "chai_sink_append")
    )
    write_table(chunk, path, mode="overwrite")
    write_table(chunk, path, mode="append")
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("o_orderkey").alias("n_keys"),
    )
