"""Spans and Spark counters for the traced run.

Spans are recorded from the benchmark's side, around its calls into the
engine's public functions: (name, start, end, parent, operation id),
kept in memory and written out once at exit. Spark counters are read
from outside the program: job, stage and task counts from the status
tracker's job groups, and shuffle and Python-boundary bytes from the
SQL metrics of each executed plan.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.op: int | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def per_op(self) -> dict[int, dict[str, float]]:
        """Per operation: inclusive seconds summed by span name, plus
        every numeric field a span recorded (counts, bytes)."""
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if s["op"] is None or s["end"] is None:
                continue
            acc = out[s["op"]]
            acc[s["name"] + "_s"] += s["end"] - s["start"]
            for k, v in s.items():
                if k not in ("id", "name", "op", "parent", "start", "end"):
                    acc[k] += v
        return out

    def self_time(self) -> dict[int, float]:
        """Span id -> its duration minus the part its children cover
        (children of one span run one after another)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans if s["end"] is not None}

    def dump(self, path: str) -> None:
        selft = self.self_time()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selft.get(s["id"])}) + "\n")


# -- Spark counters ---------------------------------------------------

PLAN_METRICS = ("shuffleBytesWritten", "pythonDataSent", "pythonNumRowsReceived")


def plan_metrics(df) -> dict[str, float]:
    """Sum selected SQL metrics over the executed plan of ``df`` after
    an action ran on it (the final adaptive plan, query stages
    included)."""
    sums: dict[str, float] = defaultdict(float)
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        p = stack.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(p.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue  # its work is counted where the exchange first ran
        ms = p.metrics()
        for name in PLAN_METRICS:
            m = ms.get(name)
            if m.isDefined():
                sums[name] += float(m.get().value())
        kids = p.children()
        for i in range(kids.size() - 1, -1, -1):
            stack.append(kids.apply(i))
    return sums


class JobGroups:
    """Tags each operation's Spark jobs with a job group so the status
    tracker can count its jobs, stages and tasks afterwards."""

    def __init__(self, sc, prefix: str):
        self.sc = sc
        self.prefix = prefix

    def begin(self, op: int) -> None:
        self.sc.setJobGroup(f"{self.prefix}-{op}", f"op {op}")

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, op: int) -> dict[str, int]:
        """Jobs, stages that ran at least one task, and tasks completed
        for one operation. Read after the run: the tracker is fed
        asynchronously by the listener bus."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(f"{self.prefix}-{op}")
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        n_stages = n_tasks = 0
        for s in stages:
            si = st.getStageInfo(s)
            if si is not None and si.numCompletedTasks > 0:
                n_stages += 1
                n_tasks += si.numCompletedTasks
        return {"spark.jobs": len(jobs), "spark.stages": n_stages, "spark.tasks": n_tasks}
