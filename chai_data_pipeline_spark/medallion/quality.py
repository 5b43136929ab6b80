"""Config-driven data-quality rule engine.

The reference declares rules in config (reference: config/config.yaml:1-5
— shape {name, columns, rule: not_null}) but never consults them; the
actual 12 checks are hard-coded one-SQL-query-each
(scripts/silver/validate_silver.py:62-270). This module makes the
config-driven design real AND batches execution:

- a rule spec (dataclass / plain dict) compiles to a Column predicate;
- ALL aggregate rules for a table (not_null, format, range, business,
  freshness via max(ts)) run in ONE aggregation over ONE scan
  (``count_if(pred)`` per rule) — the reference's 12 separate scans
  become one pass per table, which at 100 TB is the difference between
  one pass and twelve;
- the same aggregates run as observed metrics on a table's write
  (``observed_checks``), so a pipeline that writes the table evaluates
  them with no scan of their own;
- referential rules compile to left-anti joins and unique rules to a
  grouped count; all of them, across tables, run in one collect.

``run_checks`` is the one producer of check rows: dicts of
(check_name, check_type, table_name, failed_count, total_count,
passed), the ``DQ_SCHEMA`` of ``_dq_logs``, in per-table rule order.
``quality_score`` turns them into the same PASS/FAIL + percentage
contract as the reference (validate_silver.py:25-60), reproducible via
the injected ``asof``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class Rule:
    name: str
    rule_type: str  # not_null | format | range | business | referential |
    #               # freshness | unique
    table: str
    column: Optional[str] = None
    pattern: Optional[str] = None  # format
    min_value: Optional[str] = None  # range (SQL literal)
    max_value: Optional[str] = None
    predicate: Optional[str] = None  # business: SQL expr counting VIOLATIONS
    ref_table: Optional[str] = None  # referential
    keys: list[str] = field(default_factory=list)
    max_age_hours: Optional[float] = None  # freshness
    ts_column: Optional[str] = None


def rules_from_config(cfg: list[dict]) -> list[Rule]:
    """Accept the reference's config shape ({name, columns, rule}) and
    the extended shape; one Rule per (rule, column)."""
    out: list[Rule] = []
    for item in cfg:
        rtype = item.get("rule", item.get("rule_type", "not_null"))
        cols = item.get("columns") or [item.get("column")]
        for col in cols:
            out.append(
                Rule(
                    name=f"{item['name']}_{col}" if len(cols) > 1 else item["name"],
                    rule_type=rtype,
                    table=item.get("table", item["name"].split("_")[0]),
                    column=col,
                    pattern=item.get("pattern"),
                    min_value=item.get("min_value"),
                    max_value=item.get("max_value"),
                    predicate=item.get("predicate"),
                    ref_table=item.get("ref_table"),
                    keys=item.get("keys", []),
                    max_age_hours=item.get("max_age_hours"),
                    ts_column=item.get("ts_column"),
                )
            )
    return out


def _violation_predicate(rule: Rule) -> Column:
    c = F.col(rule.column) if rule.column else None
    if rule.rule_type == "not_null":
        return c.isNull()
    if rule.rule_type == "format":
        return c.isNotNull() & ~c.rlike(rule.pattern)
    if rule.rule_type == "range":
        pred = F.lit(False)
        if rule.min_value is not None:
            pred = pred | (c < F.expr(rule.min_value))
        if rule.max_value is not None:
            pred = pred | (c > F.expr(rule.max_value))
        return pred
    if rule.rule_type == "business":
        return F.expr(rule.predicate)
    raise ValueError(f"not a predicate rule: {rule.rule_type}")


# The results schema of every check row (the ``_dq_logs`` table).
DQ_SCHEMA = (
    "check_name string, check_type string, table_name string,"
    " failed_count bigint, total_count bigint, passed boolean"
)

# Rules that compile to one aggregate over their own table's rows.
AGGREGATE_RULES = ("not_null", "format", "range", "business", "freshness")


def _failed_metric(rule: Rule, asof: str) -> Column:
    """One rule's failed count as an aggregate expression: violating
    rows for a predicate rule, 0/1 for freshness (the newest
    ``ts_column`` is missing or older than ``max_age_hours`` at
    ``asof``)."""
    if rule.rule_type != "freshness":
        return F.count_if(_violation_predicate(rule))
    latest = F.max(F.col(rule.ts_column))
    age_h = (
        F.lit(asof).cast("timestamp").cast("double")
        - latest.cast("timestamp").cast("double")
    ) / 3600.0
    return F.when(latest.isNull() | (age_h > rule.max_age_hours), 1).otherwise(0)


def observed_checks(table: str, rules: list[Rule], asof: str) -> list[Column]:
    """Compile ``table``'s aggregate rules (not_null, format, range,
    business, freshness) into one set of metrics: a row count and one
    failed count per rule. Every rule is evaluated in the same single
    pass over the table; distinct aggregates are avoided so the metrics
    also run as ``DataFrame.observe`` expressions."""
    own = [r for r in rules if r.table == table and r.rule_type in AGGREGATE_RULES]
    if not own:
        return []
    return [F.count(F.lit(1)).alias("__dq_total")] + [
        _failed_metric(r, asof).cast("long").alias(f"__dq_{i}")
        for i, r in enumerate(own)
    ]


def _check_row(rule: Rule, failed: int, total: int | None) -> dict:
    """One ``DQ_SCHEMA`` row."""
    return {
        "check_name": rule.name,
        "check_type": rule.rule_type,
        "table_name": rule.table,
        "failed_count": failed,
        "total_count": total,
        "passed": failed == 0,
    }


def _keyed_failures(tables: dict[str, DataFrame], rules: list[Rule]) -> list[int]:
    """Failed counts of the referential and unique ``rules``, in rule
    order, from one collect: the orphans of a left-anti join, or the
    number of duplicated keys."""
    frames = []
    for i, r in enumerate(rules):
        df = tables[r.table]
        if r.rule_type == "referential":
            bad = df.join(tables[r.ref_table], on=r.keys, how="left_anti")
        elif r.rule_type == "unique":
            bad = df.groupBy(*r.keys).agg(F.count("*").alias("__n")).filter("__n > 1")
        else:
            raise ValueError(f"unknown rule type: {r.rule_type}")
        frames.append(bad.agg(F.lit(i).alias("i"), F.count("*").alias("failed")))
    if not frames:
        return []
    rows = reduce(DataFrame.unionByName, frames).collect()
    return [row.failed for row in sorted(rows, key=lambda row: row.i)]


def run_checks(
    tables: dict[str, DataFrame],
    rules: list[Rule],
    asof: str,
    observed: dict[str, dict] | None = None,
) -> list[dict]:
    """Evaluate ``rules``; return one ``DQ_SCHEMA`` row per rule, grouped
    by table in order of first appearance, in rule order within a table.

    ``observed`` maps a table to its ``observed_checks`` metrics as
    already evaluated, say on the table's write; a table with aggregate
    rules and no entry there evaluates them in one ``agg``. The
    referential and unique rules of all tables run in one collect."""
    order = {t: i for i, t in enumerate(dict.fromkeys(r.table for r in rules))}
    rules = sorted(rules, key=lambda r: order[r.table])
    keyed_failed = iter(
        _keyed_failures(tables, [r for r in rules if r.rule_type not in AGGREGATE_RULES])
    )
    observed = dict(observed or {})
    rows: list[dict] = []
    seen: dict[str, int] = {}
    for r in rules:
        if r.rule_type not in AGGREGATE_RULES:
            rows.append(_check_row(r, next(keyed_failed), None))
            continue
        if r.table not in observed:
            metrics = observed_checks(r.table, rules, asof)
            observed[r.table] = tables[r.table].agg(*metrics).first().asDict()
        i = seen[r.table] = seen.get(r.table, -1) + 1
        m = observed[r.table]
        rows.append(_check_row(r, m[f"__dq_{i}"], m["__dq_total"]))
    return rows


def quality_score(checks: list) -> float:
    """passed/total percentage over collected check rows (reference:
    validate_silver.py:48-53); a NULL ``passed`` counts as failed."""
    passed = sum(1 for c in checks if c["passed"])
    return round(100.0 * passed / len(checks), 2) if checks else 100.0


# The reference's 12 hard-coded checks, as config
# (reference: scripts/silver/validate_silver.py:62-270)
REFERENCE_RULES: list[dict] = [
    {"name": "users_id_not_null", "table": "clean_users",
     "rule": "not_null", "columns": ["user_id"]},
    {"name": "users_email_not_null", "table": "clean_users",
     "rule": "not_null", "columns": ["email"]},
    {"name": "covid_date_not_null", "table": "clean_covid",
     "rule": "not_null", "columns": ["record_date"]},
    {"name": "covid_country_not_null", "table": "clean_covid",
     "rule": "not_null", "columns": ["country"]},
    {"name": "users_email_format", "table": "clean_users", "rule": "format",
     "columns": ["email"],
     "pattern": r"(?i)^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$"},
    {"name": "covid_date_range", "table": "clean_covid", "rule": "range",
     "columns": ["record_date"], "min_value": "DATE '2019-12-01'",
     "max_value": "DATE '2024-03-02'"},
    {"name": "posts_user_fk", "table": "clean_posts", "rule": "referential",
     "columns": [None], "ref_table": "clean_users", "keys": ["user_id"]},
    {"name": "covid_no_negatives", "table": "clean_covid", "rule": "business",
     "columns": [None],
     "predicate": "confirmed < 0 OR recovered < 0 OR deaths < 0"},
    {"name": "covid_deaths_lte_confirmed", "table": "clean_covid",
     "rule": "business", "columns": [None],
     "predicate": "deaths > confirmed"},
    {"name": "covid_rate_bounds", "table": "clean_covid", "rule": "business",
     "columns": [None],
     "predicate": "mortality_rate > 100 OR recovery_rate > 100"},
    {"name": "users_freshness", "table": "clean_users", "rule": "freshness",
     "columns": [None], "ts_column": "processing_timestamp",
     "max_age_hours": 24.0},
    {"name": "covid_freshness", "table": "clean_covid", "rule": "freshness",
     "columns": [None], "ts_column": "processing_timestamp",
     "max_age_hours": 24.0},
]
