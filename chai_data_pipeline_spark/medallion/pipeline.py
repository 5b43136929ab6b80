"""Medallion orchestrator: bronze → silver (+DQ) → gold with fail-fast
sequencing and a JSON execution journal.

Same contract as the reference driver
(reference: orchestration/medallion_pipeline.py:180-237 run_pipeline,
:50-61 metadata journal): per-layer status + duration + record counts,
stop on first layer failure, journal persisted as JSON. The execution
substrate is one SparkSession and a parquet lake instead of
pandas+Postgres+MinIO.

Usage:
    python -m chai_data_pipeline_spark.medallion.pipeline \
        --landing tests/fixtures --lake /tmp/lake
"""

from __future__ import annotations

import argparse
import json
import os
import time
from collections.abc import Callable
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from datetime import datetime, timezone
from functools import partial

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..sources.writers import overwrite_table
from . import bronze as bronze_mod
from . import gold as gold_mod
from . import quality as quality_mod
from . import silver as silver_mod


# The bronze ``_lineage`` table: one row per dataset.
LINEAGE_SCHEMA = (
    "dataset string, record_count bigint, file_count bigint,"
    " ingested_at timestamp"
)


def write_observed(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    *metrics: Column,
) -> dict:
    """Write ``df`` through ``overwrite_table`` and return the aggregate
    ``metrics`` observed on that one execution, plus ``count``, its row
    count."""
    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).alias("count"), *metrics)
    overwrite_table(observed, path, partition_by)
    return obs.get


def write_rows(spark: SparkSession, rows: list, schema: str, path: str) -> None:
    """Write the driver-built ``rows`` (tuples in ``schema`` order, or
    dicts by field name) through ``overwrite_table`` as a one-file table.

    The frame is built from an Arrow table, which the JVM decodes
    itself; a list of rows would go through a Python RDD and start a
    Python worker. Naive datetimes are local times, as ``collect`` and
    ``Observation`` return them, so they are made zone-aware here and
    the session time zone cannot shift them."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(schema)
    names = struct.fieldNames()
    records = [
        {
            name: v.astimezone(timezone.utc) if isinstance(v, datetime) else v
            for name, v in (
                row.items() if isinstance(row, dict) else zip(names, row)
            )
        }
        for row in rows
    ]
    table = pa.Table.from_pylist(records, schema=to_arrow_schema(struct))
    # one file, not one per local slice
    overwrite_table(spark.createDataFrame(table, struct).coalesce(1), path)


def _read_back(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Scan the table ``df`` was written to at ``path``. The frame's
    schema is given, which spares the footer-reading job of schema
    inference."""
    return spark.read.schema(df.schema).parquet(path)


def _run_all(spark: SparkSession, tasks: dict[str, Callable]) -> dict:
    """Run independent ``tasks`` from a driver thread pool of
    ``defaultParallelism`` threads; results come back in ``tasks`` order.

    The pool drains before this returns. On a failure the tasks not yet
    started are cancelled, the running ones finish, and the failure is
    raised (the first one in ``tasks`` order)."""
    if not tasks:
        return {}
    workers = min(len(tasks), spark.sparkContext.defaultParallelism)
    pool = ThreadPoolExecutor(workers, thread_name_prefix="medallion-write")
    try:
        futures = {name: pool.submit(fn) for name, fn in tasks.items()}
        wait(futures.values(), return_when=FIRST_EXCEPTION)
    finally:
        pool.shutdown(wait=True, cancel_futures=True)
    for fut in futures.values():
        if not fut.cancelled() and fut.exception() is not None:
            raise fut.exception()
    return {name: fut.result() for name, fut in futures.items()}


def run_pipeline(
    spark: SparkSession,
    landing_dir: str,
    lake_dir: str,
    asof: str | None = None,
) -> dict:
    """Run the full pipeline; returns the journal dict.

    Each table costs one Spark execution: its write. Record counts,
    lineage and the aggregate DQ rules are metrics observed on those
    writes, and each layer submits its independent tables concurrently."""
    asof = asof or datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
    journal: dict = {
        "pipeline": "chai_data_pipeline_spark",
        "started_at": datetime.now(timezone.utc).isoformat(),
        "asof": asof,
        "layers": {},
        "status": "RUNNING",
    }

    def fail(layer: str, exc: Exception) -> dict:
        journal["layers"][layer] = {"status": "FAILED", "error": str(exc)}
        journal["status"] = "FAILED"
        _write_journal(journal, lake_dir)
        return journal

    def table_path(layer: str, name: str) -> str:
        return os.path.join(lake_dir, layer, name)

    # ---- bronze ----------------------------------------------------------
    t0 = time.perf_counter()
    try:
        br = bronze_mod.load_bronze(spark, landing_dir)
        # lineage rides the writes; collect_set stands in for the
        # distinct count, which an observation cannot hold
        bronze_metrics = _run_all(spark, {
            name: partial(
                write_observed,
                df,
                table_path("bronze", name),
                ["date"] if name == "covid" else None,
                F.size(F.collect_set("source_filename")).alias("file_count"),
                F.max("ingestion_timestamp").alias("ingested_at"),
            )
            for name, df in br.tables.items()
        })
        write_rows(
            spark,
            [
                (name, m["count"], m["file_count"], m["ingested_at"])
                for name, m in bronze_metrics.items()
            ],
            LINEAGE_SCHEMA,
            table_path("bronze", "_lineage"),
        )
        journal["layers"]["bronze"] = {
            "status": "SUCCESS",
            "duration_seconds": round(time.perf_counter() - t0, 2),
            "records": {name: m["count"] for name, m in bronze_metrics.items()},
            "unknown_files": br.unknown_files,
        }
    except Exception as exc:  # noqa: BLE001 — fail-fast journal contract
        return fail("bronze", exc)

    # ---- silver (+ the aggregate DQ rules, observed on the writes) --------
    t0 = time.perf_counter()
    try:
        silver_tables = {
            name: transform(br.tables[source], asof)
            for name, source, transform in (
                ("clean_users", "users", silver_mod.transform_users),
                ("clean_posts", "posts", silver_mod.transform_posts),
                ("clean_covid", "covid", silver_mod.transform_covid),
                ("clean_telco", "telco", silver_mod.transform_telco),
            )
            if source in br.tables
        }
        rules = quality_mod.rules_from_config(quality_mod.REFERENCE_RULES)
        rules = [r for r in rules if r.table in silver_tables]

        def write_silver(name: str, df: DataFrame) -> tuple[dict, DataFrame]:
            path = table_path("silver", name)
            part = ["record_date"] if name == "clean_covid" else None
            dq = quality_mod.observed_checks(name, rules, asof)
            metrics = write_observed(df, path, part, *dq)
            # downstream plans scan the lake (pruned), not the full
            # bronze lineage again
            return metrics, _read_back(spark, df, path)

        written = _run_all(spark, {
            name: partial(write_silver, name, df)
            for name, df in silver_tables.items()
        })
        silver_tables = {name: df for name, (_, df) in written.items()}
        silver_metrics = {name: m for name, (m, _) in written.items()}
        journal["layers"]["silver"] = {
            "status": "SUCCESS",
            "duration_seconds": round(time.perf_counter() - t0, 2),
            "records": {name: m["count"] for name, m in silver_metrics.items()},
        }
    except Exception as exc:  # noqa: BLE001
        return fail("silver", exc)

    # ---- data quality ----------------------------------------------------
    t0 = time.perf_counter()
    try:
        # the aggregate rules were observed on the silver writes; only
        # the rules that join or group run here
        checks = quality_mod.run_checks(silver_tables, rules, asof, silver_metrics)
        score = quality_mod.quality_score(checks)
        write_rows(
            spark, checks, quality_mod.DQ_SCHEMA, table_path("silver", "_dq_logs")
        )
        journal["layers"]["quality"] = {
            "status": "SUCCESS",
            "duration_seconds": round(time.perf_counter() - t0, 2),
            "quality_score": score,
            "checks": checks,
        }
    except Exception as exc:  # noqa: BLE001
        return fail("quality", exc)

    # ---- gold ------------------------------------------------------------
    t0 = time.perf_counter()
    try:

        def write_gold(name: str, df: DataFrame) -> dict:
            return {name: write_observed(df, table_path("gold", name))["count"]}

        def write_global_summary(df: DataFrame) -> dict:
            # v_data_completeness reads the written one-row summary
            # rather than running the summary's plan a second time
            counts = write_gold("covid_global_summary", df)
            df = _read_back(spark, df, table_path("gold", "covid_global_summary"))
            counts.update(
                write_gold("v_data_completeness", gold_mod.v_data_completeness(df))
            )
            return counts

        frames = {}
        if "clean_covid" in silver_tables:
            cc = silver_tables["clean_covid"]
            frames["daily_covid_summary"] = gold_mod.daily_covid_summary(cc)
            frames["covid_country_trends"] = gold_mod.covid_country_trends(cc)
            frames["covid_global_summary"] = gold_mod.covid_global_summary(
                cc, data_quality_score=int(round(score))
            )
            frames["v_trend_analysis"] = gold_mod.v_trend_analysis(cc)
        if "clean_users" in silver_tables:
            cu = silver_tables["clean_users"]
            frames["user_company_analysis"] = gold_mod.user_company_analysis(cu)
            frames["user_analytics_summary"] = gold_mod.user_analytics_summary(
                cu, asof.split(" ")[0]
            )
            if "clean_posts" in silver_tables:
                frames["user_engagement_metrics"] = (
                    gold_mod.user_engagement_metrics(
                        cu, silver_tables["clean_posts"]
                    )
                )
        tasks = {name: partial(write_gold, name, df) for name, df in frames.items()}
        if "covid_global_summary" in frames:
            tasks["covid_global_summary"] = partial(
                write_global_summary, frames["covid_global_summary"]
            )
        g_counts: dict = {}
        for counts in _run_all(spark, tasks).values():
            g_counts.update(counts)
        journal["layers"]["gold"] = {
            "status": "SUCCESS",
            "duration_seconds": round(time.perf_counter() - t0, 2),
            "records": g_counts,
        }
        # daily_aggregates derives FROM the journal (per-layer counts,
        # quality score, durations) — built after the gold journal
        # entry so its own row is not self-counted.
        write_rows(
            spark,
            [gold_mod.daily_aggregates(journal, asof)],
            gold_mod.DAILY_AGGREGATES_SCHEMA,
            table_path("gold", "daily_aggregates"),
        )
    except Exception as exc:  # noqa: BLE001
        return fail("gold", exc)

    journal["status"] = "SUCCESS"
    journal["finished_at"] = datetime.now(timezone.utc).isoformat()
    _write_journal(journal, lake_dir)
    return journal


def _write_journal(journal: dict, lake_dir: str) -> None:
    os.makedirs(lake_dir, exist_ok=True)
    with open(os.path.join(lake_dir, "pipeline_metadata.json"), "w") as fh:
        json.dump(journal, fh, indent=2, default=str)


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--landing", required=True, help="landing files dir")
    parser.add_argument("--lake", required=True, help="output lake dir")
    parser.add_argument("--asof", default=None, help="pinned as-of timestamp")
    args = parser.parse_args()

    from ..session import get_spark

    spark = get_spark("chai-medallion")
    journal = run_pipeline(spark, args.landing, args.lake, args.asof)
    print(json.dumps(journal, indent=2, default=str))
    raise SystemExit(0 if journal["status"] == "SUCCESS" else 1)


if __name__ == "__main__":
    main()
