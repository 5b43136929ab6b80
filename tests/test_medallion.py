"""Golden pipeline tests: bronze→silver→gold over FIXTURES.md-shaped
miniature inputs (SURVEY §5.2/5.3), asserting layer contents and that
the DQ engine reports the planted violations."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")
ASOF = "2024-03-01 12:00:00"


@pytest.fixture(scope="module")
def journal_and_lake(spark, tmp_path_factory):
    from chai_data_pipeline_spark.medallion.pipeline import run_pipeline

    lake = str(tmp_path_factory.mktemp("lake"))
    journal = run_pipeline(spark, FIXTURES, lake, asof=ASOF)
    return journal, lake


def test_pipeline_succeeds_with_journal(journal_and_lake):
    journal, lake = journal_and_lake
    assert journal["status"] == "SUCCESS"
    assert set(journal["layers"]) == {"bronze", "silver", "quality", "gold"}
    assert os.path.exists(os.path.join(lake, "pipeline_metadata.json"))


def test_bronze_routing_and_counts(journal_and_lake):
    journal, _ = journal_and_lake
    rec = journal["layers"]["bronze"]["records"]
    assert rec["users"] == 11  # 10 distinct + 1 duplicate id
    assert rec["posts"] == 20
    assert rec["covid"] == 40  # 36 series rows + 4 quirk rows
    assert rec["telco"] == 5
    assert journal["layers"]["bronze"]["unknown_files"] == []


def test_bronze_routes_every_landed_file(spark, tmp_path):
    """Every landed file is routed, whatever its extension: covid
    parquet and ORC files load next to the covid CSV, and a file no
    route takes is reported in unknown_files."""
    import shutil

    import pyarrow as pa
    import pyarrow.orc
    import pyarrow.parquet

    from chai_data_pipeline_spark.medallion.bronze import load_bronze

    shutil.copy(os.path.join(FIXTURES, "covid_20240301120000.csv"), tmp_path)
    row = pa.table(
        {
            "Date": ["2020-03-20"],
            "Country/Region": ["CountryC"],
            "Province/State": pa.array([None], pa.string()),
            "Confirmed": [7],
            "Recovered": [1],
            "Deaths": [0],
        }
    )
    pyarrow.parquet.write_table(row, str(tmp_path / "covid_extra.parquet"))
    pyarrow.orc.write_table(row, str(tmp_path / "covid_extra.orc"))
    notes = tmp_path / "notes.txt"
    notes.write_text("not a dataset")

    br = load_bronze(spark, str(tmp_path))
    covid = br.tables["covid"]
    assert covid.count() == 42  # 40 CSV rows + one parquet + one ORC
    extra = covid.filter(F.col("country") == "CountryC").collect()
    assert sorted(os.path.basename(r.source_filename) for r in extra) == [
        "covid_extra.orc", "covid_extra.parquet",
    ]
    assert [(r.confirmed, str(r.date)) for r in extra] == [(7, "2020-03-20")] * 2
    assert br.unknown_files == [str(notes)]


def test_silver_users_cleaning(spark, journal_and_lake):
    _, lake = journal_and_lake
    users = spark.read.parquet(os.path.join(lake, "silver", "clean_users"))
    rows = {r.user_id: r for r in users.collect()}
    assert len(rows) == 10  # dup id=1 collapsed deterministically
    assert rows[1].email.startswith("user1@") or rows[1].email == "dup1@example.com"
    # email normalization + validation
    assert rows[2].email == "user2@example.com" and rows[2].email_valid
    assert rows[9].email_valid is False  # no dot in domain
    assert rows[9].phone_valid is False  # no digits
    assert rows[2].email_domain == "example.com"
    # nested geo cast with 0.0 default for missing address
    assert rows[10].latitude == 0.0 and rows[10].longitude == 0.0
    # quality scoring penalizes the bad rows
    assert rows[9].data_quality_score <= 50
    assert rows[2].data_quality_score == 100


def test_silver_posts_realized_spec(spark, journal_and_lake):
    _, lake = journal_and_lake
    posts = spark.read.parquet(os.path.join(lake, "silver", "clean_posts"))
    rows = {r.post_id: r for r in posts.collect()}
    assert rows[5].has_links is True
    assert all(not rows[i].has_links for i in rows if i != 5)
    assert rows[1].word_count > 0
    assert rows[1].avg_word_length > 0


def test_silver_covid_windows_per_series(spark, journal_and_lake):
    _, lake = journal_and_lake
    covid = spark.read.parquet(os.path.join(lake, "silver", "clean_covid"))
    a_p1 = (
        covid.filter((F.col("country") == "CountryA") & (F.col("province") == "P1"))
        .orderBy("record_date")
        .collect()
    )
    # diffs are per (country, province) series — first row 0, then the
    # planted +10/+20/+30 cycle
    assert a_p1[0].daily_new_cases == 0
    assert [r.daily_new_cases for r in a_p1[1:4]] == [20, 30, 10]
    # rolling mean over partial leading frame
    assert a_p1[1].weekly_avg_cases == pytest.approx((0 + 20) / 2, abs=0.01)
    # province interleaving must NOT leak across series (SURVEY §7.4.2)
    b = {
        str(r.record_date): r
        for r in covid.filter(
            (F.col("country") == "CountryB") & F.col("province").isNull()
        ).collect()
    }
    # steady +20/day within the series (2018 quirk row precedes the run)
    assert b["2020-03-02"].daily_new_cases == 20
    assert b["2020-03-03"].daily_new_cases == 20


def test_quality_engine_catches_planted_violations(journal_and_lake):
    journal, _ = journal_and_lake
    checks = {c["check_name"]: c for c in journal["layers"]["quality"]["checks"]}
    assert checks["covid_deaths_lte_confirmed"]["failed_count"] == 3
    assert checks["covid_no_negatives"]["failed_count"] == 1
    assert checks["covid_date_range"]["failed_count"] == 1  # 2018 row
    assert checks["covid_rate_bounds"]["failed_count"] >= 1
    assert checks["posts_user_fk"]["failed_count"] == 1  # orphan userId=999
    assert checks["users_email_format"]["failed_count"] == 1
    assert checks["users_id_not_null"]["passed"] is True
    assert checks["users_freshness"]["passed"] is True
    score = journal["layers"]["quality"]["quality_score"]
    assert 0 < score < 100


def test_quality_suite_executes_once(spark, tmp_path, monkeypatch):
    """One pipeline run evaluates every DQ check once: the aggregate
    rules as metrics observed on the silver writes, the join and group
    rules in the one run_checks collect, which reads each table they
    name once and no other table. The journal's score and checks and
    the _dq_logs table all come from those rows."""
    from chai_data_pipeline_spark.medallion import pipeline, quality

    scanned = {}  # silver table -> accumulator of rows run_checks read
    built = []
    run_checks = quality.run_checks
    check_row = quality._check_row

    def counted(table, df):
        acc = scanned[table] = spark.sparkContext.accumulator(0)

        def tick():
            acc.add(1)
            return True

        return df.filter(F.udf(tick, "boolean").asNondeterministic()())

    def counted_checks(tables, rules, asof, observed=None):
        tables = {name: counted(name, df) for name, df in tables.items()}
        return run_checks(tables, rules, asof, observed)

    def counted_row(*args):
        row = check_row(*args)
        built.append(row)
        return row

    monkeypatch.setattr(quality, "run_checks", counted_checks)
    monkeypatch.setattr(quality, "_check_row", counted_row)
    lake = str(tmp_path)
    journal = pipeline.run_pipeline(spark, FIXTURES, lake, asof=ASOF)
    assert journal["status"] == "SUCCESS"
    checks = journal["layers"]["quality"]["checks"]
    names = [c["check_name"] for c in checks]
    assert len(set(names)) == len(names) > 0
    assert built == checks
    # posts_user_fk is the one keyed rule: it reads clean_posts and its
    # clean_users reference once; the aggregate rules read nothing here
    silver = journal["layers"]["silver"]["records"]
    assert {t: acc.value for t, acc in scanned.items()} == {
        "clean_users": silver["clean_users"],
        "clean_posts": silver["clean_posts"],
        "clean_covid": 0,
        "clean_telco": 0,
    }
    for c in checks:
        if c["check_type"] != "referential":
            assert c["total_count"] == silver[c["table_name"]]
    assert journal["layers"]["quality"]["quality_score"] == round(
        100.0 * sum(c["passed"] for c in checks) / len(checks), 2
    )
    logged = spark.read.parquet(os.path.join(lake, "silver", "_dq_logs"))
    assert sorted(repr(sorted(r.asDict().items())) for r in logged.collect()) == sorted(
        repr(sorted(c.items())) for c in checks
    )


def test_standalone_run_checks_matches_the_journal(spark, journal_and_lake):
    """run_checks over the written silver tables, with no observed
    metrics, evaluates the aggregate rules itself and gives the
    journal's check rows in the same order."""
    from chai_data_pipeline_spark.medallion import quality

    journal, lake = journal_and_lake
    tables = {
        name: spark.read.parquet(os.path.join(lake, "silver", name))
        for name in journal["layers"]["silver"]["records"]
    }
    rules = quality.rules_from_config(quality.REFERENCE_RULES)
    checks = quality.run_checks(tables, rules, ASOF)
    assert checks == journal["layers"]["quality"]["checks"]


def test_pipeline_executes_each_table_once(spark, tmp_path, monkeypatch):
    """Each medallion table's plan runs once per pipeline run: its own
    write. Record counts, lineage and the aggregate DQ rules are metrics
    observed on the writes, and v_data_completeness reads the written
    global summary, so no table's plan is run again. Every table's
    frame is wrapped in a pass-through filter that counts the rows it
    emits; the count must equal the table's journal records."""
    from chai_data_pipeline_spark.medallion import bronze, gold, pipeline, silver

    emitted = {}  # "layer/table" -> accumulator of rows the plan emitted
    plain = {}  # id(counted frame) -> (counted frame, the frame it wraps)

    def counted(table, df):
        acc = emitted[table] = spark.sparkContext.accumulator(0)

        def tick():
            acc.add(1)
            return True

        out = df.filter(F.udf(tick, "boolean").asNondeterministic()())
        plain[id(out)] = (out, df)
        return out

    load_bronze = bronze.load_bronze

    def counted_bronze(*args, **kwargs):
        br = load_bronze(*args, **kwargs)
        br.tables = {n: counted(f"bronze/{n}", df) for n, df in br.tables.items()}
        return br

    def counted_silver(name, fn):
        # a silver plan derives from the bronze plan; it is given the
        # uncounted bronze frame so only the bronze write counts there
        return lambda df, *a: counted(f"silver/{name}", fn(plain[id(df)][1], *a))

    def counted_gold(name, fn):
        return lambda *a, **k: counted(f"gold/{name}", fn(*a, **k))

    monkeypatch.setattr(bronze, "load_bronze", counted_bronze)
    for name, fn in (
        ("clean_users", "transform_users"),
        ("clean_posts", "transform_posts"),
        ("clean_covid", "transform_covid"),
        ("clean_telco", "transform_telco"),
    ):
        monkeypatch.setattr(silver, fn, counted_silver(name, getattr(silver, fn)))
    gold_models = (
        "daily_covid_summary", "covid_country_trends", "covid_global_summary",
        "v_data_completeness", "v_trend_analysis", "user_company_analysis",
        "user_analytics_summary", "user_engagement_metrics",
    )
    for name in gold_models:
        monkeypatch.setattr(gold, name, counted_gold(name, getattr(gold, name)))

    journal = pipeline.run_pipeline(spark, FIXTURES, str(tmp_path), asof=ASOF)
    assert journal["status"] == "SUCCESS"
    records = {
        f"{layer}/{table}": n
        for layer in ("bronze", "silver", "gold")
        for table, n in journal["layers"][layer]["records"].items()
    }
    assert len(records) == 4 + 4 + len(gold_models)
    assert {t: acc.value for t, acc in emitted.items()} == records


def test_pipeline_runs_no_count_actions():
    """Source lint: ``df.count()`` in the orchestrator would run a
    table's plan a second time; counts come from observed write metrics."""
    import re

    from chai_data_pipeline_spark.medallion import pipeline

    with open(pipeline.__file__) as fh:
        src = fh.read()
    assert not re.findall(r"\.count\(\s*\)", src)


def test_driver_built_tables_have_one_writer():
    """Source lint: ``pipeline.write_rows`` is the one writer of a
    driver-built table (``_lineage``, ``_dq_logs``, ``daily_aggregates``);
    a ``createDataFrame(`` or ``.coalesce(1)`` anywhere else under
    medallion/ would be another copy of it."""
    import ast
    import glob

    from chai_data_pipeline_spark import medallion

    found = []
    for path in glob.glob(os.path.join(os.path.dirname(medallion.__file__), "*.py")):
        with open(path) as fh:
            src = fh.read()
        lines = src.splitlines()
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.FunctionDef) and node.name == "write_rows":
                body = "\n".join(lines[node.lineno - 1 : node.end_lineno])
                assert "createDataFrame(" in body and ".coalesce(1)" in body
                found.append(path)
                lines[node.lineno - 1 : node.end_lineno] = []
        rest = "\n".join(lines)
        assert "createDataFrame(" not in rest, path
        assert ".coalesce(1)" not in rest, path
    assert [os.path.basename(p) for p in found] == ["pipeline.py"]


def test_lineage_matches_written_bronze_tables(spark, journal_and_lake):
    """_lineage describes the bronze rows as written: its ingested_at is
    the newest ingestion_timestamp of the same execution, not a later
    timestamp from a separate run of the plan."""
    journal, lake = journal_and_lake
    lineage = {
        r.dataset: r
        for r in spark.read.parquet(
            os.path.join(lake, "bronze", "_lineage")
        ).collect()
    }
    assert set(lineage) == set(journal["layers"]["bronze"]["records"])
    for name, row in lineage.items():
        written = (
            spark.read.parquet(os.path.join(lake, "bronze", name))
            .agg(
                F.count("*").alias("n"),
                F.countDistinct("source_filename").alias("files"),
                F.max("ingestion_timestamp").alias("newest"),
            )
            .first()
        )
        assert row.record_count == written.n
        assert row.file_count == written.files
        assert row.ingested_at == written.newest


def test_driver_built_rows_do_not_shift_off_utc(spark, tmp_path, monkeypatch):
    """With the driver in a zone other than the session's UTC, every
    driver-built table holds exactly the rows of a frame made from the
    row list itself (``createDataFrame`` of a list reads a naive
    datetime as a local time): no timestamp or date shifts, and
    ``_lineage.ingested_at`` is still the newest bronze row."""
    import time
    from datetime import date

    from chai_data_pipeline_spark.medallion import pipeline

    lake = str(tmp_path)
    built = {}
    write_rows = pipeline.write_rows

    def spy(spark, rows, schema, path):
        built[os.path.relpath(path, lake)] = (rows, schema)
        write_rows(spark, rows, schema, path)

    monkeypatch.setattr(pipeline, "write_rows", spy)
    monkeypatch.setenv("TZ", "America/Los_Angeles")
    time.tzset()
    try:
        journal = pipeline.run_pipeline(spark, FIXTURES, lake, asof=ASOF)
        assert journal["status"] == "SUCCESS"
        assert sorted(built) == [
            "bronze/_lineage", "gold/daily_aggregates", "silver/_dq_logs",
        ]
        for table, (rows, schema) in built.items():
            got = spark.read.parquet(os.path.join(lake, table)).collect()
            want = spark.createDataFrame(rows, schema).collect()
            assert sorted(got, key=str) == sorted(want, key=str), table
        for row in spark.read.parquet(os.path.join(lake, "bronze/_lineage")).collect():
            newest = spark.read.parquet(os.path.join(lake, "bronze", row.dataset))
            assert row.ingested_at == newest.agg(F.max("ingestion_timestamp")).first()[0]
        (daily,) = spark.read.parquet(os.path.join(lake, "gold/daily_aggregates")).collect()
        assert daily.aggregate_date == date(2024, 3, 1)
    finally:
        monkeypatch.undo()
        time.tzset()


def test_driver_built_tables_are_one_file(journal_and_lake):
    _, lake = journal_and_lake
    for table in ("bronze/_lineage", "silver/_dq_logs", "gold/daily_aggregates"):
        files = os.listdir(os.path.join(lake, table))
        assert len([f for f in files if f.endswith(".parquet")]) == 1, table


def test_gold_write_failure_fails_fast(spark, tmp_path, monkeypatch):
    """A failing gold write among the concurrent ones fails the gold
    layer and the run; the journal is persisted, and no write is still
    running when run_pipeline returns."""
    import json
    import threading

    from chai_data_pipeline_spark.medallion import gold, pipeline

    monkeypatch.setattr(
        gold,
        "v_trend_analysis",
        lambda cc: cc.select(F.raise_error(F.lit("planted gold failure")).alias("x")),
    )
    running = []
    finished = []
    overwrite_table = pipeline.overwrite_table

    def tracked(df, path, *args, **kwargs):
        running.append(path)
        try:
            return overwrite_table(df, path, *args, **kwargs)
        finally:
            finished.append(path)

    monkeypatch.setattr(pipeline, "overwrite_table", tracked)
    lake = str(tmp_path)
    journal = pipeline.run_pipeline(spark, FIXTURES, lake, asof=ASOF)
    assert sorted(running) == sorted(finished)
    assert not [t for t in threading.enumerate() if t.name.startswith("medallion-write")]
    assert journal["status"] == "FAILED"
    assert journal["layers"]["gold"]["status"] == "FAILED"
    assert "planted gold failure" in journal["layers"]["gold"]["error"]
    for layer in ("bronze", "silver", "quality"):
        assert journal["layers"][layer]["status"] == "SUCCESS"
    with open(os.path.join(lake, "pipeline_metadata.json")) as fh:
        persisted = json.load(fh)
    assert persisted["status"] == "FAILED"
    assert persisted["layers"]["gold"]["status"] == "FAILED"


def test_gold_models(spark, journal_and_lake):
    _, lake = journal_and_lake
    trends = {
        r.country: r
        for r in spark.read.parquet(
            os.path.join(lake, "gold", "covid_country_trends")
        ).collect()
    }
    assert set(trends) == {"CountryA", "CountryB"}
    assert trends["CountryA"].trend_direction in {
        "INCREASING", "DECREASING", "STABLE",
    }
    glob = spark.read.parquet(
        os.path.join(lake, "gold", "covid_global_summary")
    ).collect()
    assert len(glob) == 1
    assert glob[0].top_5_countries.startswith("[{")
    # reference-declared columns (model_gold.py:61-67): rates are
    # 0..100 percentages; score is the pipeline's real quality score
    assert 0.0 <= glob[0].global_mortality_rate <= 100.0
    assert 0.0 <= glob[0].global_recovery_rate <= 100.0
    assert 0 < glob[0].data_quality_score <= 100
    comp = spark.read.parquet(
        os.path.join(lake, "gold", "v_data_completeness")
    ).collect()
    assert len(comp) == 1
    assert 0.0 <= comp[0].survival_rate <= 100.0
    assert 0.0 <= comp[0].recovery_percentage <= 100.0
    assert comp[0].total_confirmed == glob[0].total_confirmed
    ta = spark.read.parquet(
        os.path.join(lake, "gold", "v_trend_analysis")
    )
    rows = {(r.country, str(r.trend_date)): r for r in ta.collect()}
    assert len(rows) > 0
    # lag-1 semantics: daily_increase == confirmed - prev_day where a
    # previous day exists; first day of each country has NULL prev
    for r in rows.values():
        if r.prev_day_cases is not None:
            assert r.daily_increase == r.confirmed_cases - r.prev_day_cases
        if r.prev_week_cases is None or r.prev_week_cases <= 0:
            assert r.weekly_growth_percent is None
    da = spark.read.parquet(
        os.path.join(lake, "gold", "daily_aggregates")
    ).collect()
    assert len(da) == 1
    assert da[0].total_records_processed == (
        da[0].bronze_records + da[0].silver_records + da[0].gold_records
    )
    assert da[0].data_sources_processed >= 3
    assert 0 < da[0].data_quality_score <= 100
    eng = spark.read.parquet(
        os.path.join(lake, "gold", "user_engagement_metrics")
    )
    assert eng.count() == 10
    assert set(eng.select("activity_level").distinct().toPandas()["activity_level"]) <= {
        "HIGH", "MEDIUM", "LOW",
    }


def test_telco_generic_path(spark, journal_and_lake):
    _, lake = journal_and_lake
    telco = spark.read.parquet(os.path.join(lake, "silver", "clean_telco"))
    rows = {r.customer_id: r for r in telco.collect()}
    assert len(rows) == 5
    assert rows["0004-D"].total_charges == 0.0  # blank coerced
    assert rows["0005-E"].gender == "Se\xf1or"  # latin-1 fallback decoded
    assert rows["0002-B"].tenure_bucket == "1-3y"


def test_rules_from_reference_config_shape(spark):
    """The reference's own config.yaml rule shape compiles and runs."""
    from chai_data_pipeline_spark.medallion.quality import (
        quality_score,
        rules_from_config,
        run_checks,
    )

    df = spark.createDataFrame(
        [(1, "a@b.co"), (None, "bad")], ["user_id", "email"]
    )
    rules = rules_from_config(
        [
            {"name": "users_not_null", "table": "users", "rule": "not_null",
             "columns": ["user_id", "email"]},
        ]
    )
    res = run_checks({"users": df}, rules, ASOF)
    rows = {r["check_name"]: r for r in res}
    assert rows["users_not_null_user_id"]["failed_count"] == 1
    assert rows["users_not_null_email"]["failed_count"] == 0
    assert quality_score(res) == 50.0


def test_partition_pruning_on_covid_lake(spark, journal_and_lake):
    """The covid silver table partitions by record_date (the index
    replacement, SURVEY §2.9 M5) — a date filter must prune partitions
    at the scan, not filter rows after reading everything."""
    import os

    _, lake = journal_and_lake
    covid = spark.read.parquet(os.path.join(lake, "silver", "clean_covid"))
    pruned = covid.filter(F.col("record_date") == "2020-03-05")
    plan = pruned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters: [" in plan
    assert "record_date" in plan.split("PartitionFilters:")[1].split("]")[0]
    assert pruned.count() == 3  # P1, P2, CountryB


def test_quality_rule_types_unique_range_format(spark):
    """Rule types not exercised by the reference's 12 checks: unique,
    range with both bounds, format."""
    from chai_data_pipeline_spark.medallion.quality import (
        rules_from_config,
        run_checks,
    )

    df = spark.createDataFrame(
        [(1, "a@b.co", 5), (1, "x", 500), (2, "c@d.io", -3)],
        ["id", "email", "amount"],
    )
    rules = rules_from_config(
        [
            {"name": "t_unique", "table": "t", "rule": "unique",
             "columns": [None], "keys": ["id"]},
            {"name": "t_amount_range", "table": "t", "rule": "range",
             "columns": ["amount"], "min_value": "0", "max_value": "100"},
            {"name": "t_email_format", "table": "t", "rule": "format",
             "columns": ["email"],
             "pattern": r"^[^@]+@[^@]+\.[a-z]+$"},
        ]
    )
    res = {r["check_name"]: r for r in run_checks({"t": df}, rules, ASOF)}
    assert res["t_unique"]["failed_count"] == 1      # id=1 duplicated
    assert res["t_amount_range"]["failed_count"] == 2  # 500 and -3
    assert res["t_email_format"]["failed_count"] == 1  # "x"


def test_land_url_file_scheme(tmp_path):
    """S1/S2 fetch step: land_url pulls a remote resource into the
    landing dir (file:// here; https in production — same code path)."""
    from chai_data_pipeline_spark.medallion.bronze import land_url

    src = tmp_path / "remote.json"
    src.write_text('[{"id": 1}]')
    dest_dir = tmp_path / "landing"
    out = land_url(src.as_uri(), str(dest_dir), "users_fetched.json")
    assert os.path.exists(out)
    with open(out) as fh:
        assert fh.read() == '[{"id": 1}]'
