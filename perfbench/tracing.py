"""The traced run: per-layer metrics measured from outside the package.

Layers are timed by wrapping the public methods of the objects the
benchmark builds (and the ``etl.sync`` module-level calls), and Spark work
is read from Spark's own status store right after each op, keyed by the
job group the op ran under — the store keeps only the last ~1000 jobs.
Nothing here is installed unless ``--trace 1`` is given.

Every metric is a mean per op: per query for the operators / plan /
execute / transfer / result families, per request for ``gateway.*``, per
sync cycle for ``etl.*``. A layer a workload never reaches reports 0.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict

#: name -> (unit, better); the per-layer section of BENCHMARK.json.
LAYER_METRICS: dict[str, tuple[str, str]] = {
    "operators.build_ms": ("ms", "lower"),
    "operators.build_jobs": ("count", "lower"),
    "plan.ms": ("ms", "lower"),
    "execute.jobs": ("count", "lower"),
    "execute.stages": ("count", "lower"),
    "execute.tasks": ("count", "lower"),
    "execute.run_ms": ("ms", "lower"),
    "execute.cpu_ms": ("ms", "lower"),
    "execute.shuffle_write_bytes": ("bytes", "lower"),
    "execute.input_bytes": ("bytes", "lower"),
    "execute.wall_ms": ("ms", "lower"),
    "transfer.ms": ("ms", "lower"),
    "result.rows": ("count", "lower"),
    "gateway.http.ms": ("ms", "lower"),
    "gateway.http.encode_ms": ("ms", "lower"),
    "gateway.access.auth_ms": ("ms", "lower"),
    "gateway.access.limit_ms": ("ms", "lower"),
    "gateway.validator.ms": ("ms", "lower"),
    "gateway.executor.ms": ("ms", "lower"),
    "gateway.executor.spark_ms": ("ms", "lower"),
    "gateway.executor.jobs": ("count", "lower"),
    "gateway.executor.tasks": ("count", "lower"),
    "gateway.result.rows": ("count", "lower"),
    "gateway.result.bytes": ("bytes", "lower"),
    "gateway.catalog.refresh_ms": ("ms", "lower"),
    "gateway.catalog.reregistrations": ("count", "lower"),
    "etl.extract.ms": ("ms", "lower"),
    "etl.build.ms": ("ms", "lower"),
    "etl.build.jobs": ("count", "lower"),
    "etl.publish.ms": ("ms", "lower"),
    "etl.vacuum.ms": ("ms", "lower"),
    "etl.build.bytes_written": ("bytes", "lower"),
    "etl.bytes_per_source_byte": ("ratio", "lower"),
    "etl.changed_rows": ("count", "lower"),
}


def _per(name: str) -> str:
    if name.startswith("gateway."):
        return "request"
    if name.startswith("etl."):
        return "cycle"
    return "query"


class Tracer:
    """Sums per-layer figures while ``active``; reports means per op."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.active = False
        self.sums: dict[str, float] = defaultdict(float)
        self.ops: dict[str, int] = defaultdict(int)
        #: per-op layer figures a workload keeps for its detail file
        self.detail: dict[str, list] = {}
        self._lock = threading.Lock()
        self._undo: list = []

    # -- recording ------------------------------------------------------

    def add(self, name: str, value: float) -> None:
        if self.active:
            with self._lock:
                self.sums[name] += value

    def count_op(self, per: str) -> None:
        if self.active:
            with self._lock:
                self.ops[per] += 1

    def metrics(self) -> dict[str, float]:
        return {
            name: self.sums.get(name, 0.0) / max(1, self.ops.get(_per(name), 0))
            for name in LAYER_METRICS
        }

    # -- wrapping -------------------------------------------------------

    def wrap(self, obj, attr: str, metric: str, after=None) -> None:
        """Time every call of ``obj.attr`` into ``metric`` (ms);
        ``after(result)`` runs on each result outside the timing."""
        orig = getattr(obj, attr)

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            out = orig(*args, **kwargs)
            self.add(metric, (time.perf_counter() - t0) * 1000.0)
            if after is not None:
                after(out)
            return out

        self.patch(obj, attr, wrapper)

    def patch(self, obj, attr: str, replacement) -> None:
        """Set ``obj.attr`` to ``replacement`` until :meth:`unwrap_all`."""
        self._undo.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, replacement)

    def unwrap_all(self) -> None:
        for obj, attr, orig in reversed(self._undo):
            setattr(obj, attr, orig)
        self._undo.clear()

    # -- Spark's status store -------------------------------------------

    def group_stats(self, group: str) -> dict[str, float]:
        """Jobs, stages, tasks, job wall time (summed, and the span from
        the first submission to the last completion) and stage totals of
        every job run under ``group`` so far."""
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "spark_ms", "span_ms", "run_ms",
             "cpu_ms", "shuffle_write_bytes", "input_bytes"),
            0.0,
        )
        first, last = float("inf"), float("-inf")
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            job = self.store.job(jid)
            out["tasks"] += job.numTasks()
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                t0, t1 = sub.get().getTime(), done.get().getTime()
                out["spark_ms"] += t1 - t0
                first, last = min(first, t0), max(last, t1)
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    stage = self.store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never ran, no attempt
                    continue
                if stage.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["run_ms"] += stage.executorRunTime()
                out["cpu_ms"] += stage.executorCpuTime() / 1e6
                out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
                out["input_bytes"] += stage.inputBytes()
        if last >= first:
            out["span_ms"] = last - first
        return out

    def plan_ms(self, df) -> float:
        """Catalyst analysis + optimization + planning time of ``df``'s
        query execution, from its phase tracker."""
        phases = df._jdf.queryExecution().tracker().phases()
        total = 0.0
        for phase in ("analysis", "optimization", "planning"):
            summary = phases.get(phase)
            if summary.isDefined():
                total += summary.get().durationMs()
        return total

    def set_group(self, group: str | None) -> None:
        """Tag this thread's next jobs with ``group`` (None clears it)."""
        self.sc.setLocalProperty("spark.jobGroup.id", group)
