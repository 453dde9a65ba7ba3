"""Spans and Spark-side counters for the benchmark's traced runs.

Spans are recorded from the benchmark's own files: ``Tracer.patch``
replaces a public function of the engine, wherever a module imported
it, with a wrapper that opens a span around each call.  Each span keeps
its name, start, end, parent and operation id in memory; ``dump`` writes
them out when the run ends.  A span's self time is its duration minus
the part its child spans cover, so over one thread the self times of a
span tree add up to its root's wall time.

The Spark counters read Spark's own instrumentation after an action:
the planning tracker's phases, the SQL metrics of the final (AQE) plan,
the status tracker's jobs and tasks for the operation's job group, and
the block manager's storage status.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import sys
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = True
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def start(self, name: str, op: int | None = None) -> dict | None:
        if not self.enabled:
            return None
        stack = self._stack()
        parent = stack[-1] if stack else None
        span = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        stack.append(span)
        return span

    def end(self, span: dict | None) -> None:
        if span is None:
            return
        span["end"] = time.perf_counter()
        self._stack().remove(span)
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        span = self.start(name, op)
        try:
            yield span
        finally:
            self.end(span)

    def current_op(self) -> int | None:
        stack = self._stack()
        return stack[-1]["op"] if stack else None

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str, wrapper=None) -> None:
        """Replace ``owner.attr`` with a traced wrapper, and every
        ``risinglight_spark`` module attribute bound to the same function
        (``from m import f`` copies the binding)."""
        orig = getattr(owner, attr)
        new = wrapper(orig) if wrapper else self.wrap(name, orig)
        setattr(owner, attr, new)
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("risinglight_spark") and mod is not None:
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, key, new)

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child_s[s["id"]]
        return dict(out)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- Spark-side counters -----------------------------------------------------


def phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations of ``df``'s query execution, in ms."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            out[name] = float(opt.get().durationMs())
    return out


def _children(plan) -> list:
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        kids = [plan.plan()]
    elif cls == "InMemoryTableScanExec":
        kids = [plan.relation().cachedPlan()]
    else:
        ch = plan.children()
        kids = [ch.apply(i) for i in range(ch.size())]
    sub = plan.subqueries()
    return kids + [sub.apply(i) for i in range(sub.size())]


class PlanMetrics:
    """Sums SQL metrics over executed plans.  A persisted asset's cached
    plan is counted once, by the first operation that reads it after it
    was built, so a hot call does not re-count the build's Python time."""

    def __init__(self) -> None:
        self._seen_cached: set[int] = set()

    def read(self, df) -> dict[str, float]:
        out = defaultdict(float)
        seen: set[int] = set()
        todo = [df._jdf.queryExecution().executedPlan()]
        while todo:
            plan = todo.pop()
            if plan.id() in seen:
                continue
            seen.add(plan.id())
            cls = plan.getClass().getSimpleName()
            if cls == "InMemoryTableScanExec":
                cached = plan.relation().cachedPlan().id()
                if cached in self._seen_cached:
                    continue
                self._seen_cached.add(cached)
            metrics = plan.metrics()
            for name in ("pythonTotalTime", "pythonNumRowsReceived",
                         "shuffleBytesWritten", "spillSize"):
                opt = metrics.get(name)
                if opt.isDefined():
                    out[name] += opt.get().value()
            todo.extend(_children(plan))
        return dict(out)


class SparkCounters:
    """Spark's own counters summed over operations: Catalyst phases and
    final-plan SQL metrics per query, jobs and tasks per job group."""

    def __init__(self) -> None:
        self.plan_metrics = PlanMetrics()
        self.sums: dict[str, float] = defaultdict(float)
        self.queries = 0
        self._lock = threading.Lock()

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.sums[key] += value

    def after(self, sc, group: str, df=None) -> None:
        """Read the counters of one finished operation; ``df`` is its
        query's DataFrame, None for a statement."""
        for k, v in job_counts(sc, group).items():
            self.add(f"exec.{k}", v)
        if df is None:
            return
        for phase, ms in phases_ms(df).items():
            self.add(f"catalyst.{phase}_ms", ms)
        with self._lock:
            plan = self.plan_metrics.read(df)
            self.queries += 1
        for k, v in plan.items():
            self.add(k, v)

    def values(self) -> dict[str, float]:
        s, n = self.sums, max(self.queries, 1)
        return {
            "catalyst.analysis_ms": s["catalyst.analysis_ms"] / n,
            "catalyst.optimization_ms": s["catalyst.optimization_ms"] / n,
            "catalyst.planning_ms": s["catalyst.planning_ms"] / n,
            "exec.jobs": s["exec.jobs"],
            "exec.tasks": s["exec.tasks"],
            "exec.failed_tasks": s["exec.failed_tasks"],
            "exec.shuffle_write_mb": s["shuffleBytesWritten"] / 1e6,
            "exec.spill_mb": s["spillSize"] / 1e6,
            "udf.python_s": s["pythonTotalTime"] / 1e3,
            "udf.rows": s["pythonNumRowsReceived"],
        }


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, tasks and failed tasks Spark ran under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = failed = 0
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numCompletedTasks + info.numFailedTasks
            failed += info.numFailedTasks
    return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}


def persisted_mb(sc) -> float:
    """Memory plus disk held by persisted RDDs, from storage status."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6
