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
from datetime import datetime, timezone

from pyspark.sql import SparkSession

from ..sources.writers import overwrite_table
from . import bronze as bronze_mod
from . import gold as gold_mod
from . import quality as quality_mod
from . import silver as silver_mod


def run_pipeline(
    spark: SparkSession,
    landing_dir: str,
    lake_dir: str,
    asof: str | None = None,
    write: bool = True,
) -> dict:
    """Run the full pipeline; returns the journal dict."""
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

    # ---- bronze ----------------------------------------------------------
    t0 = time.perf_counter()
    try:
        br = bronze_mod.load_bronze(spark, landing_dir)
        counts = {name: df.count() for name, df in br.tables.items()}
        if write:
            for name, df in br.tables.items():
                part = ["date"] if name == "covid" else None
                overwrite_table(df, os.path.join(lake_dir, "bronze", name), part)
            if br.lineage is not None:
                overwrite_table(
                    br.lineage, os.path.join(lake_dir, "bronze", "_lineage")
                )
        journal["layers"]["bronze"] = {
            "status": "SUCCESS",
            "duration_seconds": round(time.perf_counter() - t0, 2),
            "records": counts,
            "unknown_files": br.unknown_files,
        }
    except Exception as exc:  # noqa: BLE001 — fail-fast journal contract
        return fail("bronze", exc)

    # ---- silver ----------------------------------------------------------
    t0 = time.perf_counter()
    try:
        silver_tables = {}
        if "users" in br.tables:
            silver_tables["clean_users"] = silver_mod.transform_users(
                br.tables["users"], asof
            )
        if "posts" in br.tables:
            silver_tables["clean_posts"] = silver_mod.transform_posts(
                br.tables["posts"], asof
            )
        if "covid" in br.tables:
            silver_tables["clean_covid"] = silver_mod.transform_covid(
                br.tables["covid"], asof
            )
        if "telco" in br.tables:
            silver_tables["clean_telco"] = silver_mod.transform_telco(
                br.tables["telco"], asof
            )
        if write:
            for name, df in silver_tables.items():
                part = ["record_date"] if name == "clean_covid" else None
                overwrite_table(df, os.path.join(lake_dir, "silver", name), part)
                # re-read so downstream plans scan the lake (pruned),
                # not the full bronze lineage again
                silver_tables[name] = spark.read.parquet(
                    os.path.join(lake_dir, "silver", name)
                )
        s_counts = {k: v.count() for k, v in silver_tables.items()}
        journal["layers"]["silver"] = {
            "status": "SUCCESS",
            "duration_seconds": round(time.perf_counter() - t0, 2),
            "records": s_counts,
        }
    except Exception as exc:  # noqa: BLE001
        return fail("silver", exc)

    # ---- data quality ----------------------------------------------------
    t0 = time.perf_counter()
    try:
        rules = quality_mod.rules_from_config(quality_mod.REFERENCE_RULES)
        rules = [r for r in rules if r.table in silver_tables]
        results = quality_mod.run_checks(spark, silver_tables, rules, asof)
        # one execution of the DQ plan: score, journal and _dq_logs all
        # come from the collected rows
        rows = results.collect()
        checks = [row.asDict() for row in rows]
        score = quality_mod.quality_score(checks)
        if write:
            overwrite_table(
                spark.createDataFrame(rows, results.schema),
                os.path.join(lake_dir, "silver", "_dq_logs"),
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
        gold_tables = {}
        if "clean_covid" in silver_tables:
            cc = silver_tables["clean_covid"]
            gold_tables["daily_covid_summary"] = gold_mod.daily_covid_summary(cc)
            gold_tables["covid_country_trends"] = gold_mod.covid_country_trends(cc)
            gold_tables["covid_global_summary"] = gold_mod.covid_global_summary(
                cc, data_quality_score=int(round(score))
            )
            gold_tables["v_data_completeness"] = gold_mod.v_data_completeness(
                gold_tables["covid_global_summary"]
            )
            gold_tables["v_trend_analysis"] = gold_mod.v_trend_analysis(cc)
        if "clean_users" in silver_tables:
            cu = silver_tables["clean_users"]
            gold_tables["user_company_analysis"] = gold_mod.user_company_analysis(cu)
            gold_tables["user_analytics_summary"] = gold_mod.user_analytics_summary(
                cu, asof.split(" ")[0]
            )
            if "clean_posts" in silver_tables:
                gold_tables["user_engagement_metrics"] = (
                    gold_mod.user_engagement_metrics(
                        cu, silver_tables["clean_posts"]
                    )
                )
        g_counts = {}
        for name, df in gold_tables.items():
            if write:
                overwrite_table(df, os.path.join(lake_dir, "gold", name))
            g_counts[name] = df.count()
        journal["layers"]["gold"] = {
            "status": "SUCCESS",
            "duration_seconds": round(time.perf_counter() - t0, 2),
            "records": g_counts,
        }
        # daily_aggregates derives FROM the journal (per-layer counts,
        # quality score, durations) — built after the gold journal
        # entry so its own row is not self-counted.
        da = gold_mod.daily_aggregates(spark, journal, asof)
        if write:
            overwrite_table(
                da, os.path.join(lake_dir, "gold", "daily_aggregates")
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
