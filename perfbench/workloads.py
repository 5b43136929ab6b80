"""The benchmark's workloads: what one op is, how a cycle of ops is
ordered, how inputs are made and how outputs are checked.

An op is one thing a user waits for.  For ``query`` it is the registry
build call plus execution to the ``noop`` sink, the same boundary as the
repo's ``bench.py``.  For ``ingest`` it is one ``run_pipeline`` call.
"""

from __future__ import annotations

import os
import random
import shutil
import time
import traceback

import landing

# The query mix: registry keys from each family, each a distinct plan
# shape.  Every kind adds about 4 s of cold start to each run, which bounds
# the mix's size.  Fixture-memoized ``medallion_*`` keys and the quadratic
# verification queries are left out, as in ``bench.py``.
QUERY_MIX = [
    "tpch_q1_pricing_summary",  # TPC-H scan and aggregate
    "tpch_q3_shipping_priority",  # TPC-H joins
    "sessionization",  # windows
    "dedup_simhash",  # curation, pandas UDF
    "bm25_doc_retrieval",  # curation, text retrieval
    "streaming_stateful_totals",  # streaming, applyInPandasWithState
]

# Noop cycles the query warm-up runs after its check pass.  Per-cycle time
# stops falling by the third (less than 10% from the second); a fixed
# count keeps setup_s comparable between runs, and the halves self-check
# in each run's sidecar shows whether the timed phase was flat.
WARM_CYCLES = 3

INGEST_ASOF = "2024-03-01 12:00:00"


def _dir_files(path: str) -> list[str]:
    out = []
    for root, _, files in os.walk(path):
        out += [os.path.join(root, f) for f in files
                if not f.startswith((".", "_"))]
    return out


class QueryWorkload:
    """Registry queries over the fixed TPC-H-style test data."""

    name = "query"
    # At least three cycles, so the timed phase has 18 ops whatever the
    # host's speed.
    min_cycles = 3

    def __init__(self, spark, sf_dir: str, work: str):
        from chai_data_pipeline_spark import plans

        self.spark = spark
        self.sf_dir = sf_dir
        self.plans = plans
        self.kinds = list(QUERY_MIX)

    def prepare(self, seed: int) -> dict:
        files = _dir_files(self.sf_dir)
        return {"input_bytes": sum(os.path.getsize(f) for f in files),
                "kinds": len(self.kinds)}

    def cycle(self, rng: random.Random) -> list[str]:
        order = list(self.kinds)
        rng.shuffle(order)
        return order

    def run_op(self, kind: str, op: int, tracer=None) -> float:
        """Run one op; return its latency in seconds."""
        fn = self.plans.QUERIES[kind]
        if tracer is None:
            t0 = time.perf_counter()
            fn(self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        m0 = tracer.mark()
        tracer.begin_op(op)
        t0 = time.perf_counter()
        df = fn(self.spark, self.sf_dir)
        t1 = time.perf_counter()
        m1 = tracer.mark()
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        m2 = tracer.mark()
        tracer.span("op", op, t0, t3, kind=kind)
        tracer.span("plans.build", op, t0, t1, parent="op")
        tracer.span("spark.exec", op, t2, t3, parent="op")
        c = tracer.counters(op, m0, m2)
        c["build_jobs"] = m1.job - m0.job
        c["build_s"] = t1 - t0
        c["exec_s"] = t3 - t2
        c["op_s"] = t3 - t0
        c["self_s"] = t2 - t1
        return t3 - t0

    def warm_up(self, rng: random.Random) -> tuple[dict, float]:
        """One pass over the mix that is also the output check, then
        WARM_CYCLES noop cycles.  In the check pass each kind
        is built and collected once and compared with its oracle on the
        same data, or must return rows where it has none.

        Returns each kind's problem or ``None``, and the seconds the oracle
        took, which are check time, not warm-up.
        """
        from chai_data_pipeline_spark.testing import compare_query, duckdb_connect

        checks = {}
        con = _TimedOracle(duckdb_connect(self.sf_dir))
        try:
            for kind in self.cycle(rng):
                fn = self.plans.QUERIES[kind]
                oracle = self.plans.ORACLES.get(kind)
                try:
                    if oracle is None:
                        problem = None if fn(self.spark, self.sf_dir).count() > 0 else "no rows"
                    else:
                        res = compare_query(self.spark, con, kind, fn, oracle, self.sf_dir)
                        problem = None if res.ok else f"oracle mismatch: {res.detail[:200]}"
                except Exception:  # noqa: BLE001 - a failed check is reported
                    problem = traceback.format_exc(limit=3)[-400:]
                checks[kind] = problem
        finally:
            con.close()
        for _ in range(WARM_CYCLES):
            for kind in self.cycle(rng):
                if checks[kind] is None:
                    self.run_op(kind, -1)
        return checks, con.seconds

    def check(self) -> dict:
        """Checked during warm-up; nothing is left to check."""
        return {}


class _TimedOracle:
    """A DuckDB connection that times the oracle queries run through it and
    hands back their rows already fetched."""

    def __init__(self, con):
        self._con = con
        self.seconds = 0.0

    def execute(self, sql: str):
        t = time.perf_counter()
        rel = self._con.execute(sql)
        fetched = _Fetched(rel.description, rel.fetchall())
        self.seconds += time.perf_counter() - t
        return fetched

    def close(self) -> None:
        self._con.close()


class _Fetched:
    def __init__(self, description, rows):
        self.description = description
        self._rows = rows

    def fetchall(self):
        return self._rows


class IngestWorkload:
    """The medallion pipeline over seeded landing files."""

    name = "ingest"
    min_cycles = 1

    def __init__(self, spark, sf_dir: str, work: str):
        from chai_data_pipeline_spark.medallion import pipeline

        self.spark = spark
        self.pipeline = pipeline
        self.landing = os.path.join(work, "landing")
        self.lake = os.path.join(work, "lake")
        self.kinds = ["run_pipeline"]
        self.expected: dict = {}
        self.journals: list[dict] = []

    def prepare(self, seed: int) -> dict:
        self.expected = landing.generate(seed, self.landing)
        return {"input_bytes": self.expected["bytes"],
                "input_rows": self.expected["rows"]}

    def cycle(self, rng: random.Random) -> list[str]:
        return list(self.kinds)

    def run_op(self, kind: str, op: int, tracer=None) -> float:
        """Run one op into a fresh lake; return its latency in seconds."""
        shutil.rmtree(self.lake, ignore_errors=True)
        if tracer is None:
            t0 = time.perf_counter()
            journal = self.pipeline.run_pipeline(
                self.spark, self.landing, self.lake, INGEST_ASOF
            )
            t1 = time.perf_counter()
            self.journals.append(journal)
            return t1 - t0
        writes = []
        real_write = self.pipeline.overwrite_table

        def timed_write(df, path, *args, **kwargs):
            t = time.perf_counter()
            try:
                return real_write(df, path, *args, **kwargs)
            finally:
                writes.append((t, time.perf_counter(), path))

        m0 = tracer.mark()
        tracer.begin_op(op)
        self.pipeline.overwrite_table = timed_write
        try:
            t0 = time.perf_counter()
            journal = self.pipeline.run_pipeline(
                self.spark, self.landing, self.lake, INGEST_ASOF
            )
            t1 = time.perf_counter()
        finally:
            self.pipeline.overwrite_table = real_write
        m1 = tracer.mark()
        self.journals.append(journal)
        tracer.span("op", op, t0, t1, kind=kind)
        # Layer spans are placed end to end from the journal's durations,
        # which the pipeline rounds to 10 ms.
        t = t0
        layers = {}
        for layer in ("bronze", "silver", "quality", "gold"):
            d = journal["layers"].get(layer, {}).get("duration_seconds", 0.0)
            layers[f"{layer}_s"] = d
            tracer.span(f"medallion.{layer}", op, t, t + d, parent="op")
            t += d
        for start, end, path in writes:
            tracer.span("sources.write", op, start, end, parent="op",
                        table=os.path.relpath(path, self.lake))
        c = tracer.counters(op, m0, m1)
        files = _dir_files(self.lake)
        c.update(layers)
        c["op_s"] = t1 - t0
        # The pipeline interleaves plan building and execution, so the
        # whole op counts as Spark exec time and all its jobs as its own.
        c["exec_s"] = c["op_s"]
        c["medallion_jobs"] = c["jobs"]
        c["self_s"] = c["op_s"] - sum(layers.values())
        c["write_s"] = sum(e - s for s, e, _ in writes)
        c["files_written"] = sum(1 for f in files if f.endswith(".parquet"))
        c["lake_bytes"] = sum(os.path.getsize(f) for f in files)
        c["bytes_per_input_byte"] = c["lake_bytes"] / self.expected["bytes"]
        return t1 - t0

    def warm_up(self, rng: random.Random) -> tuple[dict, float]:
        """No warm-up: a batch is one pipeline run in a fresh Spark driver
        process, so the first run is the one its user waits for."""
        return {}, 0.0

    def check(self) -> dict:
        return {self.kinds[0]: self._problem()}

    def _problem(self) -> str | None:
        """Every journal succeeded and reported the planted counts, and the
        silver tables on disk hold the planted row counts."""
        exp = self.expected
        for i, j in enumerate(self.journals):
            if j["status"] != "SUCCESS":
                return f"op {i}: journal status {j['status']}"
            layers = j["layers"]
            for layer in ("bronze", "silver"):
                if layers[layer]["records"] != exp[layer]:
                    return f"op {i}: {layer} counts {layers[layer]['records']} != {exp[layer]}"
            failed = {c["check_name"]: c["failed_count"] for c in layers["quality"]["checks"]}
            for name, n in exp["checks"].items():
                if failed.get(name) != n:
                    return f"op {i}: {name} failed_count {failed.get(name)} != {n}"
        for table, n in exp["silver"].items():
            got = self.spark.read.parquet(os.path.join(self.lake, "silver", table)).count()
            if got != n:
                return f"lake silver/{table} has {got} rows, planted {n}"
        return None


WORKLOADS = {w.name: w for w in (QueryWorkload, IngestWorkload)}
