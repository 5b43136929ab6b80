"""Turn one run's raw results into the metrics BENCHMARK.json declares.

End-to-end metrics come from untraced runs.  Per-layer metrics come from
a traced run: counters are summed over one cycle of the mix (for
``ingest`` a cycle is one op) and the median over cycles is reported.
Layers a workload does not run read 0.
"""

from __future__ import annotations

import statistics

from stats import halves_ratio, tail
from workloads import QUERY_MIX

# Self time of a query op span not covered by its build and exec
# children, allowed per op before the run reports the spans as not
# covering it.
SELF_TOLERANCE_S = 0.005

# Gated end-to-end metrics.  Latencies (a cycle's wall time, op median
# and tail) are reported beside them, in the sidecar and as per-layer
# op.* metrics, but not gated: on a shared virtual machine they move by
# more than the largest allowed bound between runs of the same code,
# while CPU seconds per cycle move by about a third of that.
END_TO_END = {
    "setup_s": "s",
    "cycle_cpu_s": "s",
    "success_ratio": "ratio",
}

# metric -> (unit, counter key, scale); summed per traced cycle.
LAYER_SUMS = {
    "plans.build_s": ("s", "build_s", 1),
    "plans.build_jobs": ("count", "build_jobs", 1),
    "spark.exec_s": ("s", "exec_s", 1),
    "spark.jobs": ("count", "jobs", 1),
    "spark.stages": ("count", "stages", 1),
    "spark.tasks": ("count", "tasks", 1),
    "spark.task_run_s": ("s", "task_run_ms", 1e-3),
    "spark.task_cpu_s": ("s", "task_cpu_ns", 1e-9),
    "spark.gc_s": ("s", "gc_ms", 1e-3),
    "spark.scan_bytes": ("bytes", "scan_bytes", 1),
    "spark.scan_rows": ("count", "scan_rows", 1),
    "spark.shuffle_write_bytes": ("bytes", "shuffle_write_bytes", 1),
    "spark.shuffle_read_bytes": ("bytes", "shuffle_read_bytes", 1),
    "spark.shuffle_wait_s": ("s", "shuffle_wait_ms", 1e-3),
    "spark.spill_bytes": ("bytes", "spill_bytes", 1),
    "operators.py_rows": ("count", "py_rows", 1),
    "operators.py_bytes_sent": ("bytes", "py_bytes_sent", 1),
    "operators.py_bytes_received": ("bytes", "py_bytes_received", 1),
    "operators.py_run_s": ("s", "py_run_ms", 1e-3),
    "operators.py_boot_s": ("s", "py_boot_ms", 1e-3),
    "streaming.batches": ("count", "batches", 1),
    "streaming.trigger_s": ("s", "trigger_ms", 1e-3),
    "streaming.add_batch_s": ("s", "add_batch_ms", 1e-3),
    "streaming.planning_s": ("s", "planning_ms", 1e-3),
    "streaming.commit_s": ("s", "commit_ms", 1e-3),
    "streaming.state_commit_s": ("s", "state_commit_ms", 1e-3),
    "medallion.jobs": ("count", "medallion_jobs", 1),
    "medallion.bronze_s": ("s", "bronze_s", 1),
    "medallion.silver_s": ("s", "silver_s", 1),
    "medallion.quality_s": ("s", "quality_s", 1),
    "medallion.gold_s": ("s", "gold_s", 1),
    "sources.write_s": ("s", "write_s", 1),
    "sources.files_written": ("count", "files_written", 1),
    "sources.bytes_per_input_byte": ("ratio", "bytes_per_input_byte", 1),
    "trace.op_self_s": ("s", "self_s", 1),
}
LAYER_SETUP = {
    "session.start_s": "session_s",
    "setup.gen_s": "gen_s",
    "setup.warm_s": "warm_s",
}
OP_KINDS = QUERY_MIX + ["run_pipeline"]


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    names = {n: "s" for n in LAYER_SETUP}
    names.update({n: u for n, (u, _, _) in LAYER_SUMS.items()})
    names["spark.core_busy_share"] = "ratio"
    names["trace.overhead_ratio"] = "ratio"
    names.update({"op.cycle_wall_s": "s", "op.p50_s": "s", "op.tail_s": "s"})
    names.update({f"op.{k}_s": "s" for k in OP_KINDS})
    return names


def failed_kinds(raw: dict) -> dict[str, str]:
    """Op kinds whose output check failed or that raised, with why."""
    out = {k: v for k, v in raw["checks"].items() if v is not None}
    for k, v in raw["op_failures"].items():
        out.setdefault(k, v)
    return out


def _latencies(raw: dict) -> list[float]:
    return [op["s"] for op in raw["ops"]]


def latency(raw: dict) -> dict:
    """Wall-clock figures of the timed phase, with the tail's rank."""
    lat = _latencies(raw)
    t = tail(lat)
    return {
        "cycle_wall_s": statistics.median(c["wall_s"] for c in raw["cycles"]),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": t["value"],
        "tail_percentile": t["percentile"],
        "tail_samples": t["samples"],
        "tail_beyond": t["beyond"],
        "halves_ratio": halves_ratio(lat),
    }


def end_to_end(raw: dict) -> tuple[dict, int, int]:
    """(metrics, attempted, failed) over the timed phase."""
    bad = failed_kinds(raw)
    failed = sum(1 for op in raw["ops"] if op["raised"] or op["kind"] in bad)
    attempted = len(raw["ops"])
    metrics = {
        "setup_s": raw["setup"]["setup_s"],
        "cycle_cpu_s": raw["timed_cpu_s"] / len(raw["cycles"]),
        "success_ratio": 1 - failed / attempted,
    }
    return metrics, attempted, failed


def per_layer(raw: dict) -> dict:
    """Per-layer metrics from a traced run's counters."""
    counters = {c["op"]: c for c in raw["trace"]["op_counters"]}
    sums: dict[str, list[float]] = {n: [] for n in LAYER_SUMS}
    busy = []
    for cyc in raw["cycles"]:
        recs = [counters[i] for i in range(*cyc["ops"]) if i in counters]
        for name, (_, key, scale) in LAYER_SUMS.items():
            sums[name].append(scale * sum(r.get(key, 0) for r in recs))
        busy.append(
            sum(r["task_run_ms"] for r in recs) / 1e3
            / (raw["cores"] * sum(r["exec_s"] for r in recs))
        )
    out = {n: raw["setup"][k] for n, k in LAYER_SETUP.items()}
    out.update({n: statistics.median(v) for n, v in sums.items()})
    out["spark.core_busy_share"] = statistics.median(busy)
    # The tracer reads Spark's stores between ops; what it adds inside an
    # op is bounded by the op's self time (trace.op_self_s).
    out["trace.overhead_ratio"] = raw["timed_s"] / sum(_latencies(raw))
    lat = latency(raw)
    out["op.cycle_wall_s"] = lat["cycle_wall_s"]
    out["op.p50_s"] = lat["op_p50_s"]
    out["op.tail_s"] = lat["op_tail_s"]
    by_kind: dict[str, list[float]] = {}
    for op in raw["ops"]:
        by_kind.setdefault(op["kind"], []).append(op["s"])
    for k in OP_KINDS:
        out[f"op.{k}_s"] = statistics.median(by_kind[k]) if k in by_kind else 0
    return out
