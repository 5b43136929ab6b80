"""Property-based tests (SURVEY §5.4) for semantics-sensitive operators:
window rewrites vs naive models, and determinism under repartitioning /
input reordering — the properties that make cluster runs reproducible.
"""

from __future__ import annotations

import random

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

ROWS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),           # group
        st.integers(min_value=0, max_value=50),      # seq (may collide)
        st.integers(min_value=-100, max_value=100),  # value
    ),
    min_size=1,
    max_size=60,
)

_SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _mk_df(spark, rows):
    # unique row id makes orderings total → deterministic expectations
    data = [(g, s, v, i) for i, (g, s, v) in enumerate(rows)]
    return spark.createDataFrame(data, ["g", "s", "v", "rid"])


@given(rows=ROWS)
@_SETTINGS
def test_grouped_diff_matches_naive_model(spark, rows):
    from chai_data_pipeline_spark.operators.windows import grouped_diff

    df = _mk_df(spark, rows)
    out = {
        r.rid: r.d
        for r in grouped_diff(df, ["g"], ["s", "rid"], "v", "d").collect()
    }
    # naive python model
    data = [(g, s, v, i) for i, (g, s, v) in enumerate(rows)]
    by_group: dict = {}
    for g, s, v, i in sorted(data, key=lambda t: (t[0], t[1], t[3])):
        prev = by_group.get(g)
        expected = 0 if prev is None else v - prev
        assert out[i] == expected, (i, out[i], expected)
        by_group[g] = v


@given(rows=ROWS)
@_SETTINGS
def test_rolling_mean_matches_naive_model(spark, rows):
    from chai_data_pipeline_spark.operators.windows import rolling_mean

    df = _mk_df(spark, rows)
    out = {
        r.rid: r.m
        for r in rolling_mean(df, ["g"], ["s", "rid"], "v", "m", 3).collect()
    }
    data = [(g, s, v, i) for i, (g, s, v) in enumerate(rows)]
    series: dict = {}
    for g, s, v, i in sorted(data, key=lambda t: (t[0], t[1], t[3])):
        hist = series.setdefault(g, [])
        hist.append(v)
        window = hist[-3:]
        assert abs(out[i] - sum(window) / len(window)) < 1e-9


@given(rows=ROWS, seed=st.integers(min_value=0, max_value=10))
@_SETTINGS
def test_dedup_survivor_invariant_under_reordering(spark, rows, seed):
    """dedup_by_key must pick the SAME survivor regardless of input row
    order and partitioning (the determinism the reference lacks)."""
    from chai_data_pipeline_spark.operators.dedup import dedup_by_key

    shuffled = rows[:]
    random.Random(seed).shuffle(shuffled)
    a = _mk_df(spark, rows)
    b = _mk_df_preserving_rid(spark, rows, shuffled)
    da = {
        (r.g,): (r.s, r.rid)
        for r in dedup_by_key(a, ["g"], ["s", "rid"]).collect()
    }
    db = {
        (r.g,): (r.s, r.rid)
        for r in dedup_by_key(
            b.repartition(7), ["g"], ["s", "rid"]
        ).collect()
    }
    assert da == db


def _mk_df_preserving_rid(spark, original, shuffled):
    # rid assigned by ORIGINAL position so both frames hold identical rows
    index = {}
    data = []
    for i, row in enumerate(original):
        index.setdefault(row, []).append(i)
    for row in shuffled:
        data.append((row[0], row[1], row[2], index[row].pop(0)))
    return spark.createDataFrame(data, ["g", "s", "v", "rid"])


@given(rows=ROWS)
@_SETTINGS
def test_upsert_idempotent(spark, rows):
    """upsert(t, s) twice == once, and keys(result) == keys(t) ∪ keys(s)."""
    from chai_data_pipeline_spark.operators.merge import upsert

    half = max(1, len(rows) // 2)
    t = spark.createDataFrame(
        [(g, v) for g, s, v in rows[:half]], ["k", "v"]
    ).dropDuplicates(["k"])
    s = spark.createDataFrame(
        [(g, v * 10) for g, s, v in rows[half:]] or [("zz", 0)], ["k", "v"]
    ).dropDuplicates(["k"])
    once = upsert(t, s, ["k"])
    twice = upsert(once, s, ["k"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    keys = {r.k for r in once.collect()}
    assert keys == {r.k for r in t.collect()} | {r.k for r in s.collect()}


MONEY = st.lists(
    st.integers(min_value=-(10**9), max_value=10**9).map(lambda i: i / 10**4),
    min_size=1,
    max_size=40,
)


@given(vals=MONEY, parts=st.integers(min_value=1, max_value=8))
@_SETTINGS
def test_deterministic_numerics_bit_identical_cross_engine(spark, vals, parts):
    """The engine-wide numeric contract, property-tested: for inputs
    within the declared decimal scale, dsum/davg/dround produce the
    EXACT same double as the DuckDB formulation, for ANY partitioning —
    the invariant every oracle comparison in this repo rests on."""
    import duckdb

    from chai_data_pipeline_spark.functions import (
        davg,
        dround,
        dsum,
        sql_davg,
        sql_dround,
        sql_dsum,
    )

    df = spark.createDataFrame(
        [(v,) for v in vals], "v double"
    ).repartition(parts)
    row = df.agg(
        dround(dsum("v", 4), 4).alias("s"),
        dround(davg("v", 4), 4).alias("a"),
    ).collect()[0]

    con = duckdb.connect()
    con.execute("CREATE TABLE t(v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    ds, da = con.execute(
        f"SELECT {sql_dround(sql_dsum('v', 4), 4)},"
        f" {sql_dround(sql_davg('v', 4), 4)} FROM t"
    ).fetchone()
    assert row.s == ds, (vals, parts, row.s, ds)
    assert row.a == da, (vals, parts, row.a, da)


@given(
    ids=st.lists(
        st.integers(min_value=-(2**62), max_value=2**62),
        min_size=1,
        max_size=60,
        unique=True,
    ),
    parts=st.integers(min_value=1, max_value=8),
)
@_SETTINGS
def test_split_membership_stable_across_partitionings_and_engines(
    spark, ids, parts
):
    """The load-bearing guarantee of the curation stack
    (plans/training.py): sha256-bucket split assignment is a pure
    function of the KEY VALUE — identical for any repartitioning, and
    identical in DuckDB. Resharding a 100-TB corpus (or migrating
    engines) must never move a document between train/valid/test."""
    import duckdb

    from chai_data_pipeline_spark.plans.training import (
        hash_bucket,
        sql_hash_bucket,
    )

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    b = hash_bucket("doc_id")
    split = (
        F.when(b < 80, "train").when(b < 90, "valid").otherwise("test")
    ).alias("split")

    one = {r.doc_id: r.split for r in df.coalesce(1).select("doc_id", split).collect()}
    many = {
        r.doc_id: r.split
        for r in df.repartition(parts).select("doc_id", split).collect()
    }
    assert one == many, (parts,)

    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(i,) for i in ids])
    duck = dict(
        con.execute(
            f"""SELECT doc_id,
                CASE WHEN {sql_hash_bucket('doc_id')} < 80 THEN 'train'
                     WHEN {sql_hash_bucket('doc_id')} < 90 THEN 'valid'
                     ELSE 'test' END
                FROM t"""
        ).fetchall()
    )
    assert one == duck


def test_zvalue_is_a_bijection_on_the_grid(spark):
    """Morton interleave must be a bijection of the 8-bit × 8-bit grid
    — any collision would merge unrelated (x, y) cells into one
    curve position and silently break layout locality."""
    from pyspark.sql import functions as F

    from chai_data_pipeline_spark.plans.layout import zvalue

    grid = spark.range(256 * 256).select(
        (F.col("id") % 256).alias("x"),
        (F.col("id") / 256).cast("long").alias("y"),
    )
    n = (
        grid.select(zvalue(F.col("x"), F.col("y")).alias("z"))
        .distinct()
        .count()
    )
    assert n == 256 * 256


def test_eval_set_membership_stable_across_partitionings(spark, sf_dir):
    """The fixed-k eval set must be a pure function of doc_id: cutting
    it from a repartitioned/shuffled copy of the corpus yields the
    identical membership (the reshard-stability contract of the whole
    sampling family)."""
    import os
    import tempfile
    import shutil

    from chai_data_pipeline_spark import plans

    base = {
        (r.lang, r.doc_id)
        for r in plans.QUERIES["eval_set_fixed_k"](spark, sf_dir).collect()
    }
    tmp = tempfile.mkdtemp(prefix="chai_evalset_")
    try:
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        docs.repartition(13).write.mode("overwrite").parquet(
            os.path.join(tmp, "documents.parquet")
        )
        shuffled = {
            (r.lang, r.doc_id)
            for r in plans.QUERIES["eval_set_fixed_k"](spark, tmp).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert base == shuffled


def test_queries_survive_empty_tables(spark, sf_dir, tmp_path_factory):
    """A sample of queries across operator families must run (not
    crash) against ZERO-ROW tables with the production schema — the
    empty-partition / fresh-lake case every 100-TB pipeline hits on
    day one. Degenerate-group guards (MAD>0, NULLIF, COALESCE) are
    what this exercises."""
    import os

    from chai_data_pipeline_spark import plans

    empty_dir = str(tmp_path_factory.mktemp("empty_sf"))
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        df = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        df.limit(0).write.parquet(os.path.join(empty_dir, f"{t}.parquet"))

    sample = [
        "flagship_daily_event_trends",
        "tpch_q1_pricing_summary",
        "mad_robust_outliers",
        "psi_value_drift",
        "rfm_segmentation",
        "inventory_running_balance",
        "zipf_slope_by_lang",
        "dedup_survivor_bias_audit",
        "interval_coalesce_user_activity",
        "decontaminate_bloom",
        "sessionization",
        "gini_by_nation",
        "time_weighted_avg_value",
        "token_fertility_by_lang",
        # round-4b families
        "cms_heavy_hitters_checked",
        "pagerank_trade_graph",
        "bm25_doc_retrieval",
        "doc_containment_pairs",
        "survival_curve_km",
        "ewma_spike_days",
        # round-5 rewrites (salted two-phase, range-partition stitch,
        # borrow logic, cents skyline, single-pass capture-recapture)
        "sorted_neighborhood_pairs",
        "quantile_normalize_lengths",
        "per_source_cap",
        "eval_set_fixed_k",
        "skyline_cheapest_latest_per_nation",
        "pipeline_weekly_aggregates",
    ]
    for name in sample:
        rows = plans.QUERIES[name](spark, empty_dir).count()
        assert rows == 0, (name, rows)


def test_event_queries_correct_under_pathological_skew(
    spark, duck, sf_dir, tmp_path_factory
):
    """Hot-key robustness: with ~40% of all events collapsed onto ONE
    user, the windowed/sessionized/salted plans must still match the
    oracle exactly — skew may slow a plan, it must never change its
    answer (AQE skew handling and salting are rewrites, not
    approximations)."""
    import os

    import pyarrow.parquet as pq
    import pyarrow as pa

    from chai_data_pipeline_spark import plans
    from chai_data_pipeline_spark.testing import compare_query, duckdb_connect

    skew_dir = str(tmp_path_factory.mktemp("skew_sf"))
    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    d = tbl.to_pydict()
    n = len(d["user_id"])
    d["user_id"] = [
        0 if i % 5 in (0, 1) else u for i, u in enumerate(d["user_id"])
    ]
    pq.write_table(pa.table(d), os.path.join(skew_dir, "events.parquet"))
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings",
    ]:
        os.symlink(
            os.path.join(sf_dir, f"{t}.parquet"),
            os.path.join(skew_dir, f"{t}.parquet"),
        )

    con = duckdb_connect(skew_dir)
    try:
        for name in [
            "salted_event_counts",
            "sessionization",
            "interval_coalesce_user_activity",
            "inventory_running_balance",
            "key_frequency_histogram",
            # sketches must be layout- AND skew-indifferent: counters/
            # registers are pure functions of the multiset of keys
            "cms_heavy_hitters_checked",
            "hll_set_algebra_checked",
            "histogram_quantiles_checked",
        ]:
            res = compare_query(
                spark, con, name, plans.QUERIES[name],
                plans.ORACLES[name], skew_dir,
            )
            assert res.ok, f"{name}: {res.detail}"
    finally:
        con.close()


def test_bloom_flags_stable_across_partitionings(spark, sf_dir, tmp_path):
    """decontaminate_bloom's output — false positives included — must
    be a pure function of content, not of layout: a repartitioned
    corpus yields the identical flag set."""
    import os

    from chai_data_pipeline_spark import plans

    base = {
        (r.doc_id, r.in_benchmark)
        for r in plans.QUERIES["decontaminate_bloom"](
            spark, sf_dir
        ).collect()
    }
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    docs.repartition(17).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    shuffled = {
        (r.doc_id, r.in_benchmark)
        for r in plans.QUERIES["decontaminate_bloom"](
            spark, str(tmp_path)
        ).collect()
    }
    assert base == shuffled


def test_pca_component_stable_across_partitionings(spark, sf_dir):
    """The power-iteration component must be a pure function of the
    data, not its layout: every cross-row reduction in the protocol is
    integer, so a repartitioned copy of the embeddings yields the
    bit-identical ×1e6 component vector."""
    import os
    import shutil
    import tempfile

    from chai_data_pipeline_spark import plans

    q = plans.QUERIES["pca_power_iteration_checked"]
    base = sorted(
        (r.dim, r.component_micro) for r in q(spark, sf_dir).collect()
    )
    tmp = tempfile.mkdtemp(prefix="chai_pca_")
    try:
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        emb.repartition(13).write.mode("overwrite").parquet(
            os.path.join(tmp, "embeddings.parquet")
        )
        shuffled = sorted(
            (r.dim, r.component_micro) for r in q(spark, tmp).collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert base == shuffled
    # unit vector in the x1e6 quantization: |sum v^2 - 1e12| small
    nrm2 = sum(v * v for _, v in base)
    assert abs(nrm2 - 10**12) < 10**7


def test_pagerank_mass_and_reshard_stability(spark, sf_dir):
    """Rank mass stays within [teleport-only, full] bounds (dangling
    nations lose damped mass, never gain), and the fixed-point protocol
    reproduces identical ranks from a repartitioned lineitem copy."""
    import os
    import shutil
    import tempfile

    from chai_data_pipeline_spark import plans

    q = plans.QUERIES["pagerank_trade_graph"]
    rows = q(spark, sf_dir).collect()
    total = sum(r.rank_micro for r in rows)
    assert 0.15 * 10**12 - 10**6 <= total <= 10**12 + 10**6
    base = sorted((r.nation, r.rank_micro) for r in rows)

    tmp = tempfile.mkdtemp(prefix="chai_pr_")
    try:
        for t in ["lineitem", "orders", "customer", "supplier", "nation"]:
            df = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
            df.repartition(7).write.mode("overwrite").parquet(
                os.path.join(tmp, f"{t}.parquet")
            )
        shuffled = sorted(
            (r.nation, r.rank_micro) for r in q(spark, tmp).collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert base == shuffled


def test_cms_never_underestimates(spark, sf_dir):
    """The Count-Min guarantee: every point estimate >= the true count
    (hash collisions only ADD)."""
    from chai_data_pipeline_spark import plans

    rows = plans.QUERIES["cms_heavy_hitters_checked"](spark, sf_dir).collect()
    assert rows, "expected heavy hitters"
    assert all(r.overestimate >= 0 for r in rows)
    assert all(r.cms_estimate >= r.n_exact for r in rows)


def test_hll_set_algebra_error_bounds(spark, sf_dir):
    """Merged-register estimates stay within loose HLL error for the
    base sets and the union (m=256 => ~6.5% typical; assert 25%), and
    exact counts satisfy inclusion-exclusion."""
    from chai_data_pipeline_spark import plans

    rows = {
        r.set_name: r
        for r in plans.QUERIES["hll_set_algebra_checked"](
            spark, sf_dir
        ).collect()
    }
    x = {k: rows[k].n_exact for k in rows}
    assert x["intersection"] == x["view"] + x["click"] - x["union"]
    for k in ["view", "click", "union"]:
        if x[k] >= 50:
            rel = abs(rows[k].hll_estimate - x[k]) / x[k]
            assert rel < 0.25, (k, rows[k].hll_estimate, x[k])


def test_attribution_and_normalization_reshard_stable(spark, sf_dir):
    """markov_attribution_removal (driver-side fixed-point solve) and
    quantile_normalize_lengths (rank + histogram inverse-CDF) must be
    pure functions of table CONTENT: a repartitioned copy yields
    byte-identical outputs."""
    import os
    import shutil
    import tempfile

    from chai_data_pipeline_spark import plans

    names = ["markov_attribution_removal", "quantile_normalize_lengths"]
    base = {
        n: sorted(map(tuple, plans.QUERIES[n](spark, sf_dir).collect()))
        for n in names
    }
    tmp = tempfile.mkdtemp(prefix="chai_reshard_")
    try:
        for t in ["events", "documents"]:
            df = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
            df.repartition(11).write.mode("overwrite").parquet(
                os.path.join(tmp, f"{t}.parquet")
            )
        for n in names:
            shuffled = sorted(
                map(tuple, plans.QUERIES[n](spark, tmp).collect())
            )
            assert base[n] == shuffled, n
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_doc_ranking_correct_under_hot_source_skew(
    spark, duck, sf_dir, tmp_path_factory
):
    """The salted two-phase top-k and range-partition-stitched ranking
    exist FOR the hot-domain case — verify exactness when ~40% of all
    documents collapse onto ONE source (and one language)."""
    import os

    import pyarrow.parquet as pq
    import pyarrow as pa

    from chai_data_pipeline_spark import plans
    from chai_data_pipeline_spark.testing import compare_query, duckdb_connect

    skew_dir = str(tmp_path_factory.mktemp("docskew_sf"))
    tbl = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    d = tbl.to_pydict()
    d["source"] = [
        d["source"][0] if i % 5 in (0, 1) else s
        for i, s in enumerate(d["source"])
    ]
    d["lang"] = [
        d["lang"][0] if i % 5 in (0, 1) else s
        for i, s in enumerate(d["lang"])
    ]
    pq.write_table(pa.table(d), os.path.join(skew_dir, "documents.parquet"))
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "embeddings",
    ]:
        os.symlink(
            os.path.join(sf_dir, f"{t}.parquet"),
            os.path.join(skew_dir, f"{t}.parquet"),
        )

    con = duckdb_connect(skew_dir)
    try:
        for name in [
            "per_source_cap",
            "eval_set_fixed_k",
            "quantile_normalize_lengths",
            "sorted_neighborhood_pairs",
        ]:
            res = compare_query(
                spark, con, name, plans.QUERIES[name],
                plans.ORACLES[name], skew_dir,
            )
            assert res.ok, f"{name}: {res.detail}"
    finally:
        con.close()


def test_cuped_null_period_sum_counts_zero(spark, sf_dir, tmp_path_factory):
    """A user whose only rows in a period carry NULL value contributes
    0 cents to that period, on both engines — not the -1e11 lower clamp
    that LEAST/GREATEST turn a NULL sum into. Planted: one user with
    only NULL-valued pre-cutoff rows, one with only NULL-valued
    post-cutoff rows; the answer must equal the same corpus with those
    values planted as 0.0."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from chai_data_pipeline_spark import plans
    from chai_data_pipeline_spark.testing import compare_query, duckdb_connect

    name = "cuped_ab_analysis"
    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    base = tbl.to_pydict()
    uid = max(u for u in base["user_id"] if u is not None) + 1
    eid = max(base["event_id"]) + 1
    planted = [
        (uid, datetime.datetime(2024, 1, d, 12)) for d in (3, 7, 11)
    ] + [(uid + 1, datetime.datetime(2024, 1, d, 12)) for d in (18, 25)]

    def variant(value):
        d = {k: list(v) for k, v in base.items()}
        for i, (u, ts) in enumerate(planted):
            d["event_id"].append(eid + i)
            d["ts"].append(ts)
            d["user_id"].append(u)
            d["event_type"].append("view")
            d["value"].append(value)
            d["props"].append(None)
        out = str(tmp_path_factory.mktemp("cuped_null"))
        pq.write_table(
            pa.table(d, schema=tbl.schema),
            os.path.join(out, "events.parquet"),
        )
        con = duckdb_connect(out)
        try:
            res = compare_query(
                spark, con, name, plans.QUERIES[name],
                plans.ORACLES[name], out,
            )
            assert res.ok, (value, res.detail)
            return sorted(
                map(tuple, plans.QUERIES[name](spark, out).collect())
            )
        finally:
            con.close()

    assert variant(None) == variant(0.0)


EXTREME = st.lists(
    st.one_of(
        st.floats(
            min_value=-1e30,
            max_value=1e30,
            allow_nan=False,
            allow_infinity=False,
        ),
        # cluster around the guard threshold (2^53 / 10^k scaled)
        st.floats(min_value=8e8, max_value=1e12, allow_nan=False),
        st.floats(min_value=-1e12, max_value=-8e8, allow_nan=False),
    ),
    min_size=1,
    max_size=20,
)


@given(vals=EXTREME)
@_SETTINGS
def test_dround_total_over_double_range_cross_engine(spark, vals):
    """The r11 magnitude guard: dround must be TOTAL — no Spark
    FLOOR->LONG saturation (silently emits 2^63/10^k), no DuckDB
    Out-of-Range — and bit-identical cross-engine at ANY magnitude,
    including straddling the 2^53 guard threshold. This is the
    invariant the adversarial-values sweep (planted 1e12 event value)
    found broken in 8 queries."""
    import duckdb

    from chai_data_pipeline_spark.functions import dround, sql_dround

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [
        r.r
        for r in df.select(dround("v", 4).alias("r"))
        .orderBy("r")
        .collect()
    ]

    con = duckdb.connect()
    con.execute("CREATE TABLE t(v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    want = [
        r[0]
        for r in con.execute(
            f"SELECT {sql_dround('v', 4)} AS r FROM t ORDER BY r"
        ).fetchall()
    ]
    assert got == want, (vals, got, want)
    # saturation smoke: no result equals the long-max artifact
    assert all(abs(g) != 922337203685477.5807 for g in got)


_EDGE = st.sampled_from(
    [
        None, float("inf"), float("-inf"), float("nan"), 2e17, -2e17,
        0.0, -0.0, 10.0, -10.0, 600.0, -600.0, 600.005, -600.005,
        599.995, -599.995,
        # x.xxxx5 half-way points of the 10^k grids, and the 2^53 /
        # 2^62 magnitudes around the floor's exact and saturating range
        0.5, -0.5, 2.5, -2.5, 0.125, 2.675, -2.675, 1.00005, -1.00005,
        1234.56785, -1234.56785, 0.0000005, 1.0000000005,
        2.0**53, -(2.0**53), 2.0**62, -(2.0**62),
    ]
)
_GRID_KS = (0, 2, 4, 6, 9, 12)
CLAMP_ROWS = st.lists(
    st.tuples(
        st.one_of(_EDGE, st.floats(min_value=-1e20, max_value=1e20)),
        st.one_of(st.none(), st.sampled_from([-10.0, 0.0])),  # lo
        st.one_of(st.none(), st.sampled_from([10.0, 0.0])),  # hi
    ),
    min_size=1,
    max_size=20,
)


@given(rows=CLAMP_ROWS)
@_SETTINGS
def test_clamp_and_cents_bit_identical_cross_engine(spark, rows):
    """clamp/sql_clamp, the capped qround/sql_qround grids (cents =
    ``qround(x, 2, CENTS_CAP)``) and dround/sql_dround give the same
    bits on both engines for any double — NULL, NaN, ±inf, ±0, the
    bounds themselves, x.xxxx5 half-way points, 2e17 and ±2^62 (past
    the FLOOR->LONG saturation point) — and for NULL bounds. NULL in
    is NULL out; a NULL bound leaves that side open; NaN (greatest on
    both engines) lands on the upper bound. Wherever |x*10^k| < 2^63
    the uncapped qround and dround equal the hand-written
    ``FLOOR(x*10^k + 0.5)`` forms they replace, on both engines."""
    import math

    import duckdb

    from chai_data_pipeline_spark.functions import (
        CENTS_CAP,
        clamp,
        dround,
        qround,
        sql_clamp,
        sql_dround,
        sql_qround,
    )
    from chai_data_pipeline_spark.functions.numeric import _DR_MAX

    data = [(i, v, lo, hi) for i, (v, lo, hi) in enumerate(rows)]
    df = spark.createDataFrame(data, "i int, v double, lo double, hi double")
    v = F.col("v")
    got = [
        tuple(r)
        for r in df.select(
            "i",
            clamp("v", F.col("lo"), F.col("hi")),
            clamp("v", -10.0, 10.0),
            qround("v", 2, CENTS_CAP),
            *[qround("v", k, _DR_MAX) for k in _GRID_KS],
            *[dround("v", k) for k in _GRID_KS],
            *[qround("v", k) for k in _GRID_KS],
            *[F.floor(v * 10**k + 0.5).cast("bigint") for k in _GRID_KS],
            *[F.floor(v * 10**k + 0.5) / F.lit(10.0**k) for k in _GRID_KS],
        )
        .orderBy("i")
        .collect()
    ]

    con = duckdb.connect()
    con.execute("CREATE TABLE t(i INT, v DOUBLE, lo DOUBLE, hi DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", data)
    total = ", ".join(
        [
            sql_clamp("v", "lo", "hi"),
            sql_clamp("v", -10.0, 10.0),
            sql_qround("v", 2, CENTS_CAP),
            *[sql_qround("v", k, _DR_MAX) for k in _GRID_KS],
            *[sql_dround("v", k) for k in _GRID_KS],
        ]
    )
    want = con.execute(f"SELECT i, {total} FROM t ORDER BY i").fetchall()
    n_total = len(want[0])
    assert [tuple(map(repr, r[:n_total])) for r in got] == [
        tuple(map(repr, r)) for r in want
    ], (rows, got, want)

    def model(v, lo, hi):
        if v is None:
            return None
        if lo is not None and not math.isnan(v) and v < lo:
            return lo
        if hi is not None and (math.isnan(v) or v > hi):
            return hi
        return v

    def qmodel(v, k, cap):
        if v is None:
            return None
        return math.floor(model(v * 10**k + 0.5, -cap, cap))

    nk = len(_GRID_KS)
    for (i, v, lo, hi), r in zip(data, got):
        c_col, c_lit, c_cents = r[1:4]
        capped = r[4 : 4 + nk]
        unguarded = r[4 + 3 * nk : 4 + 4 * nk]
        assert repr(c_col) == repr(model(v, lo, hi)), (v, lo, hi, c_col)
        assert repr(c_lit) == repr(model(v, -10.0, 10.0)), (v, c_lit)
        assert c_cents == qmodel(v, 2, CENTS_CAP), (v, c_cents)
        for k, q in zip(_GRID_KS, capped):
            assert q == qmodel(v, k, _DR_MAX), (v, k, q)
        # the hand-written forms are the helpers' exact expression on
        # Spark, whatever the input
        assert r[4 + 2 * nk : 4 + 3 * nk] == unguarded, (v, r)

    # Below |x*10^k| = 2^63 (where DuckDB's BIGINT cast is defined and
    # Spark's floor does not saturate), the uncapped grid and dround
    # equal the hand-written unguarded forms on both engines.
    for j, k in enumerate(_GRID_KS):
        ok = [
            i for i, v, _, _ in data
            if v is None or (math.isfinite(v) and abs(v * 10**k) < 2.0**63)
        ]
        if not ok:
            continue
        duck = con.execute(
            f"SELECT i, {sql_qround('v', k)}, CAST(FLOOR(v * {10**k} + 0.5)"
            f" AS BIGINT), {sql_dround('v', k)}, FLOOR(v * {10**k} + 0.5)"
            f" / {float(10**k)} FROM t"
            f" WHERE i IN ({', '.join(map(str, ok))}) ORDER BY i"
        ).fetchall()
        for (i, d_q, d_hand, d_dr, d_bare) in duck:
            r = got[i]
            s_q, s_hand = r[4 + 2 * nk + j], r[4 + 3 * nk + j]
            s_dr, s_bare = r[4 + nk + j], r[4 + 4 * nk + j]
            assert s_q == s_hand == d_q == d_hand, (data[i], k, r, d_q)
            assert repr(s_dr) == repr(s_bare) == repr(d_dr) == repr(d_bare), (
                data[i], k, s_dr, s_bare, d_dr, d_bare
            )
