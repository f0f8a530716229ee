"""Spans and engine counters for the traced run.

Spans are recorded from the benchmark's own files around calls into the
program's public functions. They stay in memory and are written out as
JSON when the run ends. Engine counters are read from outside the
program: Spark's status store (jobs, stages, tasks), the executed
physical plan of an action (SQL metrics), and streaming-query progress.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every span a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def total(self, name: str, ops=None) -> float:
        """Summed duration of the spans called ``name`` (of ``ops`` only, if given)."""
        return sum(
            s["end"] - s["start"] for s in self.spans
            if s["name"] == name and (ops is None or s["op"] in ops)
        )

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({**extra, "spans": spans}, fh, indent=1, default=str)


# --------------------------------------------------------------------------
# Spark status store (jobs, stages, tasks)


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _opt_ms(o):
    return o.get().getTime() / 1000.0 if o.isDefined() else None


class EngineCounters:
    """Job/stage/task totals of the operations passed to ``record``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.cores = self.sc.defaultParallelism
        self._last_job = self._max_job_id()
        # whole-stage and expression code compiled by Janino (a codegen-cache miss)
        self._compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._last_compiles = self._compiles.getCount()
        self._new_compiles = 0
        self.acc = {
            "ops": 0, "jobs": 0, "tasks": 0, "codegen_compiles": 0, "executor_run_s": 0.0,
            "gc_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "wall_s": 0.0, "busy_s": 0.0,
        }

    def _max_job_id(self) -> int:
        jobs = _seq(self.store.jobsList(None))
        return max((j.jobId() for j in jobs), default=-1)

    def new_stages(self) -> list:
        """Stages of the jobs submitted since the previous call."""
        jobs = [j for j in _seq(self.store.jobsList(None)) if j.jobId() > self._last_job]
        self._last_job = max([j.jobId() for j in jobs], default=self._last_job)
        count = self._compiles.getCount()
        self._new_compiles, self._last_compiles = count - self._last_compiles, count
        stage_ids = sorted({int(s) for j in jobs for s in _seq(j.stageIds())})
        stages = []
        for sid in stage_ids:
            try:
                s = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — skipped stages have no attempt
                continue
            if str(s.status()) == "COMPLETE":
                stages.append(s)
        return jobs, stages

    def record(self, t0: float, t1: float) -> dict:
        """Add the jobs since the last call, run inside wall-clock [t0, t1]
        (``time.time()`` seconds), to the totals; returns this op's numbers."""
        jobs, stages = self.new_stages()
        intervals = []
        op = {"jobs": len(jobs), "tasks": 0, "codegen_compiles": self._new_compiles,
              "executor_run_s": 0.0, "gc_s": 0.0,
              "shuffle_write_bytes": 0, "spill_bytes": 0}
        for s in stages:
            op["tasks"] += s.numCompleteTasks()
            op["executor_run_s"] += s.executorRunTime() / 1000.0
            op["gc_s"] += s.jvmGcTime() / 1000.0
            op["shuffle_write_bytes"] += s.shuffleWriteBytes()
            op["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            a, b = _opt_ms(s.firstTaskLaunchedTime()), _opt_ms(s.completionTime())
            if a is not None and b is not None:
                intervals.append((max(a, t0), min(b, t1)))
        busy = 0.0
        end = t0
        for a, b in sorted(intervals):
            if b <= end:
                continue
            busy += b - max(a, end)
            end = b
        op["wall_s"] = t1 - t0
        op["busy_s"] = busy
        self.acc["ops"] += 1
        for k, v in op.items():
            self.acc[k] += v
        return op

    def max_task_s(self, stages) -> float:
        best = 0.0
        for s in stages:
            for t in _seq(self.store.taskList(s.stageId(), s.attemptId(), 100_000)):
                d = t.duration()
                if d.isDefined():
                    best = max(best, d.get() / 1000.0)
        return best

    def summary(self) -> dict:
        a = self.acc
        n = max(a["ops"], 1)
        return {
            "session.jobs_per_op": a["jobs"] / n,
            "session.tasks_per_op": a["tasks"] / n,
            "session.codegen_compiles_per_op": a["codegen_compiles"] / n,
            "session.executor_run_s": a["executor_run_s"],
            "session.cores_busy_frac": a["executor_run_s"] / max(a["wall_s"] * self.cores, 1e-9),
            "session.driver_gap_s": max(a["wall_s"] - a["busy_s"], 0.0),
            "session.shuffle_write_bytes": a["shuffle_write_bytes"],
            "session.spill_bytes": a["spill_bytes"],
            "session.gc_s": a["gc_s"],
        }


# --------------------------------------------------------------------------
# Executed physical plans (SQL metrics)


def plan_nodes(jplan):
    """Every node of an executed plan: AQE final plans, query stages,
    cached relations and subqueries included."""
    out, stack = [], [jplan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        out.append(node)
        if name.startswith("AdaptiveSparkPlan"):
            stack.append(node.executedPlan())
            continue
        if "QueryStage" in name and not name.startswith("Reused"):
            stack.append(node.plan())
            continue
        if name == "InMemoryTableScan":
            stack.append(node.relation().cachedPlan())
        stack.extend(_seq(node.subqueries()))
        stack.extend(_seq(node.children()))
    return out


PYTHON_NODES = re.compile(r"(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas|PythonMapInArrow)")


def plan_shape(jplan) -> dict:
    """Counts of the operators the query-workload metrics name."""
    shape = {"scans": 0, "exchanges": 0, "persists": 0,
             "single_partition_windows": 0, "python_nodes": 0,
             "broadcast_joins": 0, "shuffle_joins": 0}
    for n in plan_nodes(jplan):
        name = n.nodeName()
        if name.startswith("Scan ") or name == "FileScan" or name.startswith("BatchScan"):
            shape["scans"] += 1
        elif name in ("Exchange", "BroadcastExchange"):
            shape["exchanges"] += 1
        elif name == "InMemoryTableScan":
            shape["persists"] += 1
        elif name == "Window" and n.partitionSpec().isEmpty():
            shape["single_partition_windows"] += 1
        if PYTHON_NODES.search(name):
            shape["python_nodes"] += 1
        if name.startswith("Broadcast") and "Join" in name:
            shape["broadcast_joins"] += 1
        elif name in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
            shape["shuffle_joins"] += 1
    return shape


# --------------------------------------------------------------------------
# Streaming-query progress


class ProgressListener:
    """Collects every streaming-query progress event; built lazily so the
    untraced run never starts the py4j callback server."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events, done = [], []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                done.append(str(event.id))

        self.events, self.done = events, done
        self.listener = _L()
        self.spark = spark
        spark.streams.addListener(self.listener)

    def wait_terminated(self, n: int, timeout: float = 10.0) -> None:
        """Progress reaches the listener asynchronously; wait for ``n``
        terminations in total before reading."""
        deadline = time.time() + timeout
        while len(self.done) < n and time.time() < deadline:
            time.sleep(0.02)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)
