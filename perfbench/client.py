"""One benchmark run inside its own process: start the program's Spark
session, make the inputs, warm up, run the timed phase, check outputs and
write the raw results as JSON.  ``run.py`` starts this process, samples
its memory and turns the raw results into metrics.

Usage: client.py --workload NAME --seed N --seconds S --trace 0|1
                 --sf DIR --work DIR --result FILE --marker FILE
                 --spawned MONOTONIC_TIME
"""

from __future__ import annotations

import argparse
import json
import os
import random
import time
import traceback

from procfs import session_stats


def _cycle(workload, order, ops, tracer, failures) -> float:
    """Run one cycle, append each op's record to ``ops`` and return the
    cycle's wall time: the sum of its op latencies."""
    wall = 0.0
    for kind in order:
        t = time.perf_counter()
        try:
            s = workload.run_op(kind, len(ops), tracer)
            raised = False
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            s = time.perf_counter() - t
            raised = True
            failures.setdefault(kind, traceback.format_exc(limit=3)[-400:])
        ops.append({"kind": kind, "s": s, "raised": raised})
        wall += s
    return wall


def _session_cpu_s() -> float:
    """CPU seconds used so far by this process's session: the client, the
    JVM and the Python workers, counting exited workers through the
    cumulative child times of the process that reaped them."""
    ticks = sum(
        int(f) for fields in session_stats(os.getsid(0)).values() for f in fields[11:15]
    )
    return ticks / os.sysconf("SC_CLK_TCK")


def _host_cpu() -> list[int]:
    """The host-wide CPU tick counters from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def main() -> None:
    ap = argparse.ArgumentParser()
    for name in ("workload", "sf", "work", "result", "marker"):
        ap.add_argument(f"--{name}", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--spawned", type=float, required=True)
    args = ap.parse_args()

    from chai_data_pipeline_spark.session import get_spark
    from workloads import WORKLOADS

    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.monotonic() - args.spawned
    workload = WORKLOADS[args.workload](spark, args.sf, args.work)

    t = time.perf_counter()
    sizes = workload.prepare(args.seed)
    gen_s = time.perf_counter() - t

    # Warm-up pays the per-process costs (JIT, code generation, Python
    # worker start).  The output check may ride along in it; its time is
    # kept out of setup.
    t = time.perf_counter()
    checks, check_s = workload.warm_up(random.Random(f"warm-{args.seed}"))
    warm_s = time.perf_counter() - t - check_s
    setup_s = time.monotonic() - args.spawned - check_s

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark, time.perf_counter())

    ops: list[dict] = []
    failures: dict = {}
    cycles: list[dict] = []
    # The timed phase has its own stream, so its op order depends on the
    # seed alone, not on how many cycles the warm-up took.
    rng = random.Random(args.seed)
    open(args.marker, "w").close()
    cpu_start = _session_cpu_s()
    host_start = _host_cpu()
    t_start = time.perf_counter()
    while True:
        first = len(ops)
        wall = _cycle(workload, workload.cycle(rng), ops, tracer, failures)
        cycles.append({"wall_s": wall, "ops": [first, len(ops)]})
        if (time.perf_counter() - t_start >= args.seconds
                and len(cycles) >= workload.min_cycles):
            break
    timed_s = time.perf_counter() - t_start
    timed_cpu_s = _session_cpu_s() - cpu_start
    host = [b - a for a, b in zip(host_start, _host_cpu())]
    os.unlink(args.marker)

    t = time.perf_counter()
    checks.update(workload.check())
    check_s += time.perf_counter() - t

    result = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": spark.sparkContext.defaultParallelism,
        "sizes": sizes,
        "setup": {"session_s": session_s, "gen_s": gen_s, "warm_s": warm_s,
                  "setup_s": setup_s, "check_s": check_s},
        "timed_s": timed_s,
        "timed_cpu_s": timed_cpu_s,
        # Share of CPU time the hypervisor gave to other guests while the
        # timed phase ran; it shows in wall times, not in CPU times.
        "timed_steal_share": host[7] / sum(host),
        "cycles": cycles,
        "ops": ops,
        "op_failures": failures,
        "checks": checks,
    }
    if tracer is not None:
        result["trace"] = tracer.sidecar()
    with open(args.result, "w") as fh:
        json.dump(result, fh)

    _stop(spark)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


if __name__ == "__main__":
    main()
