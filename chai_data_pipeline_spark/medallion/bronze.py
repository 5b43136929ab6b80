"""Bronze layer: land multi-format files into typed, audited tables.

Replaces reference scripts/bronze/load_bronze.py (pandas parse + COPY
into Postgres). Each dataset is one explicit-schema Spark scan with
audit columns; the pipeline builds lineage from metrics observed on the
bronze writes, not from a side table in a warehouse.

The REST/CSV *fetch* step (reference: scripts/bronze/ingest_bronze.py)
is inherently driver-side I/O; :func:`land_url` isolates it so
everything downstream is source-agnostic. Tests and the default
pipeline operate on already-landed files.

Scale: bronze writes partition by dataset-appropriate keys (covid by
date) so silver reads prune; audit hashing is a row-local projection.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..sources.readers import (
    RoutedFile,
    blanks_to_null,
    read_csv,
    read_json,
    route_bronze_files,
    sanitize_identifier,
    with_audit_columns,
)


@dataclass
class BronzeResult:
    tables: dict[str, DataFrame]
    unknown_files: list[str] = field(default_factory=list)


def land_url(url: str, dest_dir: str, name: str) -> str:
    """Driver-side fetch of a REST/CSV source to the landing dir
    (reference: ingest_bronze.py:56-150). Network I/O is isolated here;
    gated so offline environments never touch it."""
    import urllib.request

    os.makedirs(dest_dir, exist_ok=True)
    dest = os.path.join(dest_dir, name)
    with urllib.request.urlopen(url, timeout=30) as resp:  # noqa: S310
        with open(dest, "wb") as fh:
            fh.write(resp.read())
    return dest


def _load_users(spark: SparkSession, paths: list[str]) -> DataFrame:
    df = read_json(spark, paths, schemas.USERS_RAW)
    # flatten-keep: top fields + nested struct + raw_data JSON blob
    # (reference: load_bronze.py:244-261 keeps raw_data JSONB)
    return with_audit_columns(
        df.withColumn("raw_data", F.to_json(F.struct(*df.columns))), "users"
    )


def _load_posts(spark: SparkSession, paths: list[str]) -> DataFrame:
    df = read_json(spark, paths, schemas.POSTS_RAW)
    return with_audit_columns(
        df.withColumnsRenamed({"userId": "user_id", "id": "post_id"}), "posts"
    )


def _normalize_covid(df: DataFrame) -> DataFrame:
    """Rename raw headers, blanks→NULL, numeric coercion with 0 default,
    date parse (reference: load_bronze.py:338-362)."""
    df = df.withColumnsRenamed({c: sanitize_identifier(c) for c in df.columns})
    df = df.withColumnsRenamed(
        {k: v for k, v in schemas.COVID_RENAME.items() if k in df.columns}
    )
    df = blanks_to_null(df, ["province", "country"])
    counts = {
        c: F.coalesce(F.col(c).try_cast("long"), F.lit(0))
        for c in ("confirmed", "recovered", "deaths")
    }
    return df.withColumns({**counts, "date": F.to_date("date")})


def _load_covid(spark: SparkSession, routed: list[RoutedFile]) -> DataFrame:
    """The CSV files through the encoding-probing CSV reader, the
    columnar (parquet, ORC) ones through one scan per format; every
    frame is normalized to the same columns before the union."""
    csvs = [r.path for r in routed if r.fmt == "csv"]
    frames = [read_csv(spark, csvs, schemas.COVID_RAW)] if csvs else []
    for fmt in ("parquet", "orc"):
        paths = [r.path for r in routed if r.fmt == fmt]
        if paths:
            frames.append(spark.read.format(fmt).load(paths))
    df = reduce(DataFrame.unionByName, map(_normalize_covid, frames))
    return with_audit_columns(df, "covid")


def _load_telco(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Schema-agnostic generic CSV path (SURVEY §2.12): all-string read,
    sanitized identifiers, typed coercion where declared."""
    df = read_csv(spark, paths, schemas.TELCO_RAW)
    df = blanks_to_null(df)
    df = df.withColumns(
        {
            c: F.col(c).try_cast(t)
            for c, t in (
                ("seniorcitizen", "int"),
                ("tenure", "int"),
                ("monthlycharges", "double"),
                ("totalcharges", "double"),
            )
        }
    )
    return with_audit_columns(df, "telco")


def load_bronze(
    spark: SparkSession,
    landing_dir: str,
    datasets: set[str] | None = None,
) -> BronzeResult:
    """Route every landed file and load each dataset (reference:
    load_bronze.py:381-423 run()).

    ``datasets`` restricts loading to the named subset (plan
    construction for unused datasets is pure overhead — a consumer
    that only needs covid+telco skips the users/posts JSON relations).
    """
    import glob

    paths = sorted(
        p
        for p in glob.glob(os.path.join(landing_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )
    routed, unknown = route_bronze_files(paths)
    by_ds: dict[str, list[RoutedFile]] = {}
    for r in routed:
        if datasets is None or r.dataset in datasets:
            by_ds.setdefault(r.dataset, []).append(r)

    tables: dict[str, DataFrame] = {}
    if "users" in by_ds:
        tables["users"] = _load_users(spark, [r.path for r in by_ds["users"]])
    if "posts" in by_ds:
        tables["posts"] = _load_posts(spark, [r.path for r in by_ds["posts"]])
    if "covid" in by_ds:
        tables["covid"] = _load_covid(spark, by_ds["covid"])
    if "telco" in by_ds:
        tables["telco"] = _load_telco(spark, [r.path for r in by_ds["telco"]])
    return BronzeResult(tables=tables, unknown_files=unknown)
