"""Benchmark of the Spark engine in this repository.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload query|ingest --seed N --seconds S --trace 0|1

Each run is one closed-loop client in one Spark driver process on
``local[nproc]``.  It starts the program's own Spark session and makes its
inputs from the seed.  ``query`` then runs one cold pass over its mix that
also checks every kind's output; ``ingest`` times its first, cold pipeline
run.  Whole cycles of ops are timed for at least ``--seconds`` and the
workload's minimum cycle count; outputs are checked untimed.  With
``--trace 1`` every timed op is traced.  The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  Everything else (setup breakdown, failures by
op, latencies with the tail's rank, the warm-up self-check, peak memory
and, when traced, every span) goes to a JSON sidecar in
``perfbench/.work/``.

The client runs in a child process so this process can sample the memory
of the whole process tree (driver Python, JVM and Python workers) without
running code inside it, and can stop every process the run started.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

from procfs import session_stats
from report import (
    END_TO_END,
    SELF_TOLERANCE_S,
    end_to_end,
    failed_kinds,
    latency,
    per_layer,
    per_layer_names,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = os.path.join(ROOT, "chai_data_pipeline_spark", "__init__.py")
# The fixed TPC-H-style test data the query workload reads: the sf0.01
# tables under ~/testdata that the program's own tests read.
SF_DIR = os.environ.get(
    "PERFBENCH_SF_DIR", os.path.join(os.path.expanduser("~"), "testdata", "sf0.01")
)
CHILD_TIMEOUT_S = 170


def _pss_mb(pids) -> dict[str, float]:
    """Proportional set size per command name.  PSS splits pages shared
    by forked Python workers among them instead of counting each copy."""
    out: dict[str, float] = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                pss = next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
        out[comm] = out.get(comm, 0.0) + pss / 1024
    return out


class PeakMemory(threading.Thread):
    """Samples the summed PSS of a session every 100 ms while ``marker``
    exists, i.e. during the timed phase, and keeps the peak."""

    def __init__(self, sid: int, marker: str):
        super().__init__(daemon=True)
        self.sid, self.marker = sid, marker
        self.peak = 0.0
        self.at_peak: dict[str, float] = {}
        self.stopped = threading.Event()

    def run(self) -> None:
        while not self.stopped.wait(0.1):
            if os.path.exists(self.marker):
                by_comm = _pss_mb(session_stats(self.sid))
                if sum(by_comm.values()) > self.peak:
                    self.peak = sum(by_comm.values())
                    self.at_peak = by_comm


def _stop_session(sid: int) -> None:
    """Terminate whatever the child left in its session and wait for it."""
    for sig, wait in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        pids = session_stats(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait
        while session_stats(sid) and time.monotonic() < deadline:
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("query", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(PROGRAM):
        print(f"perfbench: program not found at {PROGRAM}", file=sys.stderr)
        return 2
    if args.workload == "query" and not os.path.isdir(SF_DIR):
        print(f"perfbench: test data not found at {SF_DIR}", file=sys.stderr)
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    marker = os.path.join(work, "timed")
    raw_path = os.path.join(work, "raw.json")
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        ),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONWARNINGS="ignore::FutureWarning",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "client.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--sf", SF_DIR, "--work", work, "--result", raw_path, "--marker", marker,
        "--spawned", repr(time.monotonic()),
    ]
    child = subprocess.Popen(cmd, cwd=work, env=env, start_new_session=True,
                             stdout=sys.stderr)
    sampler = PeakMemory(child.pid, marker)
    sampler.start()
    try:
        code = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        sampler.stopped.set()
        sampler.join()
        _stop_session(child.pid)
        if child.poll() is None:
            child.wait()
    if code != 0 or not os.path.exists(raw_path):
        print(f"perfbench: client failed (exit {code})", file=sys.stderr)
        return 1

    with open(raw_path) as fh:
        raw = json.load(fh)
    metrics, attempted, failed = end_to_end(raw)
    side = {
        "workload": args.workload,
        "seed": args.seed,
        "sizes": raw["sizes"],
        "setup": raw["setup"],
        "timed_s": raw["timed_s"],
        "timed_steal_share": raw["timed_steal_share"],
        "cycles": len(raw["cycles"]),
        "latency": latency(raw),
        "failed_by_op": failed_kinds(raw),
        "end_to_end": metrics,
        # Peak memory is recorded here, not as a gated metric: the JVM's
        # heap growth makes it spread too widely between runs.
        "peak_mem_mb": sampler.peak,
        "peak_mem_mb_by_command": sampler.at_peak,
        "ops": [[op["kind"], op["s"]] for op in raw["ops"]],
    }
    if args.trace:
        layers = per_layer(raw)
        side["per_layer"] = layers
        # Build and exec spans must cover a query op up to the tolerance.
        # An ingest op's layer spans come from the journal and leave out
        # its final write and journal I/O, so they are not held to it.
        selfs = [c["self_s"] for c in raw["trace"]["op_counters"] if "build_s" in c]
        if selfs:
            side["self_time"] = {
                "tolerance_s": SELF_TOLERANCE_S,
                "max_s": max(selfs),
                "ops_over": sum(1 for s in selfs if s > SELF_TOLERANCE_S),
            }
        side.update(raw["trace"])
        out = layers
    else:
        out = metrics
    sidecar = os.path.join(HERE, ".work", f"{tag}.json")
    with open(sidecar, "w") as fh:
        json.dump(side, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    for kind, why in side["failed_by_op"].items():
        print(f"perfbench: {kind} failed: {why}", file=sys.stderr)
    units = per_layer_names() if args.trace else END_TO_END
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in out.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
