"""Spans, Spark job counts and Spark SQL metrics for the traced run.

Spans are recorded by the benchmark around its own calls into the
engine (no span code lives inside the package).  Each span has a name,
start, end, parent and pass id; they are kept in memory and written
once at the end of the run.

Per-operator numbers come from the SQL metrics of the physical plans
that actually ran: the terminal DataFrame's ``queryExecution``, plus
the ``queryExecution`` of every DataFrame the engine checkpoints during
the pass (``tile_rollup`` and ``knn_join`` cut lineage with
``localCheckpoint``, which hides the upstream operators from the
terminal plan).  The checkpoint capture wraps pyspark's
``DataFrame.localCheckpoint`` for the traced passes only.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    pass_id: int | None


class Tracer:
    """Collects spans and checkpointed query executions.  With
    ``enabled=False`` every method is a cheap no-op, so the untraced
    passes run the same benchmark code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.captured: list = []  # JVM QueryExecution objects
        self._stack: list[int] = []
        self.pass_id: int | None = None
        self._restore = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.pass_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def install(self) -> None:
        """Wrap ``localCheckpoint`` to keep the query execution that the
        checkpoint runs, and to record it as a span."""
        if not self.enabled or self._restore is not None:
            return
        from pyspark.sql.classic.dataframe import DataFrame

        original = DataFrame.localCheckpoint
        tracer = self

        def local_checkpoint(df, *args, **kwargs):
            tracer.captured.append(df._jdf.queryExecution())
            with tracer.span("pyspark.localCheckpoint"):
                return original(df, *args, **kwargs)

        DataFrame.localCheckpoint = local_checkpoint

        def restore():
            DataFrame.localCheckpoint = original

        self._restore = restore

    def uninstall(self) -> None:
        if self._restore is not None:
            self._restore()
            self._restore = None

    def children_of(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {**extra, "spans": [asdict(s) for s in self.spans]}, f, indent=1
            )


# --- Spark job / stage / task counts --------------------------------------------
def job_counts(sc, *groups: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) run under these ``setJobGroup`` ids."""
    tracker = sc.statusTracker()
    jobs = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return len(jobs), stages, tasks


# --- plan walk ---------------------------------------------------------------------
@dataclass
class Node:
    name: str
    desc: str
    metrics: dict[str, float]  # seconds for timings, bytes for sizes


_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _metrics(plan) -> dict[str, float]:
    out = {}
    it = plan.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metric = kv._2()
        value = max(0, metric.value())  # unset size/timing metrics read -1
        out[kv._1()] = value * _SCALE.get(metric.metricType(), 1)
    return out


def walk_plan(plan, out: list[Node] | None = None) -> list[Node]:
    """Flatten an executed physical plan, descending through AQE
    wrappers and query stages.  Only call after the plan ran: asking a
    fresh AQE plan for its final form would execute it."""
    if out is None:
        out = []
    name = plan.nodeName()
    if name.startswith("AdaptiveSparkPlan"):
        return walk_plan(plan.executedPlan(), out)
    if "QueryStage" in name:
        return walk_plan(plan.plan(), out)
    if name == "ReusedExchange":
        return out  # its metrics belong to the exchange it reuses
    out.append(Node(name, plan.simpleString(400), _metrics(plan)))
    children = plan.children()
    for i in range(children.size()):
        walk_plan(children.apply(i), out)
    return out


def walk_executions(executions) -> list[Node]:
    nodes: list[Node] = []
    for qe in executions:
        walk_plan(qe.executedPlan(), nodes)
    return nodes
