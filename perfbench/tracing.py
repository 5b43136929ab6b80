"""Per-layer tracing from outside the program.

Spans are recorded by the benchmark around its calls into the program;
counters come from Spark's own status stores and a
``StreamingQueryListener``.  Nothing here changes the program: the traced
run only adds reads of the status stores between ops and one listener.

Attribution rule: the client is one closed loop, so every Spark job,
stage and SQL execution created between an op's start and end belongs to
that op.  Ops are therefore cut by job, stage and execution id ranges,
which also catches the broadcast and streaming jobs that run outside the
caller's job group.  The status stores are read right after each op,
after the listener bus has drained, because they keep only the last
~1000 jobs and one ``ingest`` op fires over 150.
"""

from __future__ import annotations

import itertools
import json
import time
from dataclasses import dataclass, field
from datetime import datetime

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

PY_METRICS = {
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_received",
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_boot_ms",
}
# Plan nodes that run Python workers; their output rows are the rows the
# workers returned.
PY_NODE_WORDS = ("Python", "Pandas", "Arrow")

STAGE_FIELDS = {
    "numCompleteTasks": "tasks",
    "executorRunTime": "task_run_ms",
    "executorCpuTime": "task_cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputBytes": "scan_bytes",
    "inputRecords": "scan_rows",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleFetchWaitTime": "shuffle_wait_ms",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
}

STREAM_PHASES = {
    "triggerExecution": "trigger_ms",
    "addBatch": "add_batch_ms",
    "queryPlanning": "planning_ms",
    "commitOffsets": "commit_ms",
}


@dataclass
class Mark:
    """Id counters at one instant; two marks bound what happened between."""

    job: int
    stage: int
    execution: int


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float
    parent: str | None = None
    attrs: dict = field(default_factory=dict)

    def to_json(self, t0: float) -> dict:
        out = {
            "name": self.name,
            "op": self.op,
            "parent": self.parent,
            "start_s": round(self.start - t0, 6),
            "end_s": round(self.end - t0, 6),
        }
        if self.attrs:
            out["attrs"] = self.attrs
        return out


class _StreamListener(StreamingQueryListener):
    def __init__(self, tracer: "Tracer"):
        self._tracer = tracer

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self._tracer._on_progress(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Spans and per-op counters for one traced run."""

    def __init__(self, spark, t0: float):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self.t0 = t0
        self.spans: list[Span] = []
        self.op_counters: list[dict] = []
        self._op = -1
        self._progress: list[dict] = []
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus = jsc.listenerBus()
        self._acc = sc._jvm.org.apache.spark.util.AccumulatorContext
        scala = sc._jvm.com.fasterxml.jackson.module.scala
        self._json = sc._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
        self._missing_stages = 0
        spark.streams.addListener(_StreamListener(self))

    # -- spans -------------------------------------------------------------
    def span(self, name: str, op: int, start: float, end: float,
             parent: str | None = None, **attrs) -> None:
        self.spans.append(Span(name, op, start, end, parent, attrs))

    def mark(self) -> Mark:
        return Mark(
            int(self._dag.nextJobId()),
            int(self._dag.nextStageId()),
            int(self._sql.executionsCount()),
        )

    def begin_op(self, op: int) -> None:
        self._op = op

    # -- counters ----------------------------------------------------------
    def _read(self, obj) -> dict:
        return json.loads(self._json.writeValueAsString(obj))

    def counters(self, op: int, start: Mark, end: Mark) -> dict:
        """Spark, SQL and streaming counters for everything between two
        marks.  Drains the listener bus first so the stores are complete."""
        self._bus.waitUntilEmpty()
        c = {v: 0 for v in STAGE_FIELDS.values()}
        c.update({v: 0 for v in PY_METRICS.values()})
        c.update({v: 0 for v in STREAM_PHASES.values()})
        c.update(jobs=end.job - start.job, stages=0, py_rows=0,
                 batches=0, state_commit_ms=0)
        for sid in range(start.stage, end.stage):
            try:
                sd = self._read(self._store.lastStageAttempt(sid))
            except Py4JJavaError:
                self._missing_stages += 1
                continue
            if sd["status"] != "COMPLETE":
                continue
            c["stages"] += 1
            for key, name in STAGE_FIELDS.items():
                c[name] += sd[key]
        if end.execution > start.execution:
            execs = self._read(
                self._sql.executionsList(start.execution, end.execution - start.execution)
            )
            seen: set[int] = set()
            for ex in execs:
                runs_python = False
                for m in ex["metrics"]:
                    acc = m["accumulatorId"]
                    if m["name"] in PY_METRICS and acc not in seen:
                        seen.add(acc)
                        c[PY_METRICS[m["name"]]] += self._acc_value(acc)
                        runs_python = True
                if runs_python:
                    c["py_rows"] += self._py_rows(ex["executionId"], seen)
        events = [p for p in self._progress if p["op"] == op]
        c["batches"] = len(events)
        for p in events:
            for key, name in STREAM_PHASES.items():
                c[name] += p["durations"].get(key, 0)
            c["state_commit_ms"] += p["state_commit_ms"]
            self.span("streaming.batch", op, p["start"],
                      p["start"] + p["durations"].get("triggerExecution", 0) / 1000,
                      parent="op", batch=p["batch"], rows=p["rows"])
        c["missing_stages"] = self._missing_stages
        rec = {"op": op, **c}
        self.op_counters.append(rec)
        return rec

    def _acc_value(self, acc_id: int) -> int:
        acc = self._acc.get(acc_id)
        return int(acc.get().value()) if acc.isDefined() else 0

    def _py_rows(self, execution_id: int, seen: set[int]) -> int:
        """Rows returned by the plan nodes that run Python workers."""
        rows = 0
        nodes = self._sql.planGraph(execution_id).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if not any(w in node.name() for w in PY_NODE_WORDS):
                continue
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                acc = m.accumulatorId()
                if m.name() == "number of output rows" and acc not in seen:
                    seen.add(acc)
                    rows += self._acc_value(acc)
        return rows

    # -- streaming ---------------------------------------------------------
    def _on_progress(self, p) -> None:
        # progress.timestamp is the batch start in UTC; move it onto the
        # perf_counter clock the other spans use.
        started = datetime.fromisoformat(p.timestamp).timestamp()
        self._progress.append({
            "op": self._op,
            "batch": p.batchId,
            "rows": p.numInputRows,
            "durations": dict(p.durationMs),
            "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
            "start": time.perf_counter() - (time.time() - started),
        })

    def sidecar(self) -> dict:
        ids = itertools.count()
        return {
            "spans": [dict(s.to_json(self.t0), id=next(ids)) for s in self.spans],
            "op_counters": self.op_counters,
        }
