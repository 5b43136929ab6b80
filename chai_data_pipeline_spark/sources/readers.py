"""Bronze-layer readers: explicit-schema JSON/CSV scans with encoding
fallback, audit columns, and filename routing. Columnar landing files
(parquet, ORC) need none of that: bronze reads them with
``spark.read.format(fmt)``.

Replaces the reference's pandas-based loaders
(reference: scripts/bronze/load_bronze.py:223-293 JSON/Parquet,
:325-379 CSV with utf-8→latin-1 retry and blank→NULL normalization,
:392-414 filename routing). Everything is a Spark scan — no driver-side
row handling, so the same code reads 4 KB or 4 TB.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def sanitize_identifier(name: str) -> str:
    """Column-name sanitizer (reference: load_bronze.py:188-198):
    non-alphanumerics → ``_``, lowercase, guard leading digit."""
    out = re.sub(r"[^0-9a-zA-Z_]", "_", name).lower()
    if out and out[0].isdigit():
        out = f"c_{out}"
    return out


def with_audit_columns(df: DataFrame, source_name: str) -> DataFrame:
    """Append lineage/audit columns (reference: load_bronze.py:281-284,
    350-355 + ingest_bronze.py:52-54 content hash).

    ``data_hash`` is a row content hash over all source columns — used
    for idempotency checks and exact-dup detection downstream.
    """
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in df.columns]
    return df.withColumns(
        {
            "source_filename": F.input_file_name(),
            "source_name": F.lit(source_name),
            "ingestion_timestamp": F.current_timestamp(),
            "data_hash": F.substring(
                F.sha2(F.concat_ws("\x1f", *cols), 256), 1, 16
            ),
            "validation_status": F.lit("pending"),
        }
    )


def blanks_to_null(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Whitespace-only strings → NULL (reference: load_bronze.py:348)."""
    targets = columns or [c for c, t in df.dtypes if t == "string"]
    return df.withColumns(
        {c: F.when(F.trim(F.col(c)) == "", None).otherwise(F.col(c)) for c in targets}
    )


def read_json(
    spark: SparkSession,
    path: str | list[str],
    schema: T.StructType,
    multi_line: bool = True,
) -> DataFrame:
    """Explicit-schema JSON scan (list-or-object files → multiLine)."""
    return spark.read.schema(schema).json(path, multiLine=multi_line)


def read_csv(
    spark: SparkSession,
    path: str | list[str],
    schema: T.StructType | None = None,
    header: bool = True,
    encoding: str = "UTF-8",
) -> DataFrame:
    """CSV scan with declared schema and encoding fallback.

    The reference retries utf-8 → latin-1 on UnicodeDecodeError
    (load_bronze.py:329-333). Spark's reader doesn't throw on decode —
    it produces mojibake/corrupt rows — so the fallback is probed up
    front on a small byte sample, then one scan runs with the right
    encoding. PERMISSIVE mode + _corrupt_record capture malformed rows.
    """
    enc = encoding
    try:  # driver-side probe of the first file only — O(64KB), not O(data)
        import glob

        if isinstance(path, list):
            files = path
        elif any(ch in path for ch in "*?["):
            files = sorted(glob.glob(path))
        else:
            files = [path]
        if files and os.path.isfile(files[0]):
            with open(files[0], "rb") as fh:
                sample = fh.read(65536)
            try:
                sample.decode("utf-8")
            except UnicodeDecodeError:
                enc = "ISO-8859-1"
    except OSError:
        pass

    reader = (
        spark.read.option("header", header)
        .option("encoding", enc)
        .option("mode", "PERMISSIVE")
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        # schema-agnostic generic path (telco): read all-string, sanitize
        reader = reader.option("inferSchema", False)
    df = reader.csv(path)
    renames = {c: sanitize_identifier(c) for c in df.columns}
    if any(k != v for k, v in renames.items()):
        df = df.withColumnsRenamed(renames)
    return df


@dataclass
class RoutedFile:
    dataset: str
    path: str
    fmt: str


# filename routing table (reference: load_bronze.py:392-414 routes
# users*/posts*/covid* by name+extension and rejects unknowns; ours adds
# the telco generic-CSV path, SURVEY §2.12)
_ROUTES = [
    (re.compile(r"users.*\.json$", re.I), "users", "json"),
    (re.compile(r"posts.*\.json$", re.I), "posts", "json"),
    (re.compile(r"covid.*\.csv$", re.I), "covid", "csv"),
    (re.compile(r"covid.*\.parquet$", re.I), "covid", "parquet"),
    (re.compile(r"covid.*\.orc$", re.I), "covid", "orc"),
    (re.compile(r"telco.*\.csv$", re.I), "telco", "csv"),
]


def route_bronze_files(paths: list[str]) -> tuple[list[RoutedFile], list[str]]:
    """Route landing files to datasets by filename; return (routed,
    unknown)."""
    routed, unknown = [], []
    for p in paths:
        base = os.path.basename(p)
        for pat, dataset, fmt in _ROUTES:
            if pat.search(base):
                routed.append(RoutedFile(dataset, p, fmt))
                break
        else:
            unknown.append(p)
    return routed, unknown


def read_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read with schema evolution (mergeSchema): batches landed
    over time may add columns; the unified schema is the union, older
    files read the new columns as NULL. The bronze posture for
    append-only landing zones whose producers evolve."""
    return spark.read.option("mergeSchema", True).parquet(path)
