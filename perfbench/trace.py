"""Span tracing for the per-layer run (``--trace 1``).

A :class:`Tracer` replaces public functions at the module attribute
where their caller looks them up (``agent.workflow.compile_cypher``,
``operators.graph_algo_workload.connected_components``, ...) with a
timing wrapper. Every call becomes a span with a start, an end and a
parent; a span's self time is its duration minus the durations of its
direct children. ``restore`` puts every original back. Nothing here is
imported or installed by an untraced run.
"""

from __future__ import annotations

import functools
import importlib
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None


def self_times(spans: list[Span]) -> dict[str, float]:
    """Total self seconds per span name: duration minus direct children."""
    child_total = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child_total[s.parent] += s.end - s.start
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        out[s.name] += (s.end - s.start) - child_total[i]
    return dict(out)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)

        return traced

    def patch(self, target: str, attr: str, name: str) -> None:
        """Wrap ``target.attr`` in place; ``target`` is a module path or
        ``module:Class`` for a method."""
        mod_name, _, cls_name = target.partition(":")
        owner = importlib.import_module(mod_name)
        if cls_name:
            owner = getattr(owner, cls_name)
        original = owner.__dict__[attr] if cls_name else getattr(owner, attr)
        self._patched.append((owner, attr, original))
        setattr(owner, attr, self.wrap(name, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def self_times(self) -> dict[str, float]:
        return self_times(self.spans)

    def wrapper_cost_s(self, calls: int = 20_000) -> float:
        """Seconds one wrapped call adds, measured on a no-op (a private
        tracer so the probe spans stay out of this one)."""
        probe = Tracer()
        noop = probe.wrap("noop", lambda: None)
        t0 = time.perf_counter()
        for _ in range(calls):
            noop()
        wrapped = time.perf_counter() - t0
        bare = lambda: None  # noqa: E731
        t0 = time.perf_counter()
        for _ in range(calls):
            bare()
        return max(wrapped - (time.perf_counter() - t0), 0.0) / calls


class TimedPlanner:
    """Timing delegate for the agent's ``Planner`` seam."""

    def __init__(self, inner, tracer: Tracer) -> None:
        for method in ("generate_cypher", "correct_cypher", "synthesize_answer"):
            setattr(
                self,
                method,
                tracer.wrap(f"agent.planner.{method}", getattr(inner, method)),
            )


class JobStats:
    """Spark jobs, tasks and failed tasks per operation, read from the
    status tracker (works with ``spark.ui.enabled=false``)."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.jobs = 0
        self.tasks = 0
        self.failed_tasks = 0
        self._n = 0
        self._group = ""

    def start(self) -> None:
        self._n += 1
        self._group = f"perfbench-op-{self._n}"
        self.sc.setJobGroup(self._group, self._group)

    def stop(self) -> None:
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(self._group):
            self.jobs += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                stage = tracker.getStageInfo(stage_id)
                if stage is not None:
                    self.tasks += stage.numTasks
                    self.failed_tasks += stage.numFailedTasks
        self.sc.setLocalProperty("spark.jobGroup.id", None)


# Every traced seam: (where the caller looks it up, attribute, span name).
SEAMS: tuple[tuple[str, str, str], ...] = (
    ("project_graphdb_spark.spark_util", "materialize", "spark_util.materialize"),
    ("project_graphdb_spark.agent.workflow", "parse", "cypher.parser.parse"),
    (
        "project_graphdb_spark.agent.workflow",
        "correct_directions",
        "cypher.corrector.correct_directions",
    ),
    (
        "project_graphdb_spark.agent.workflow",
        "compile_cypher",
        "cypher.compiler.compile_cypher",
    ),
    (
        "project_graphdb_spark.agent.rca",
        "run_agent_workflow",
        "agent.workflow.run_agent_workflow",
    ),
    (
        "project_graphdb_spark.agent.workflow",
        "run_agent_workflow",
        "agent.workflow.run_agent_workflow",
    ),
    ("project_graphdb_spark.agent.rca", "run_rca", "agent.rca.run_rca"),
    (
        "project_graphdb_spark.graph.property_graph:PropertyGraph",
        "persist",
        "graph.property_graph.persist",
    ),
    (
        "project_graphdb_spark.graph.property_graph:PropertyGraph",
        "unpersist",
        "graph.property_graph.unpersist",
    ),
    ("project_graphdb_spark.io.sqlite", "introspect", "io.sqlite.introspect"),
    ("project_graphdb_spark.io.sqlite", "read_normalized", "io.sqlite.read_normalized"),
    (
        "project_graphdb_spark.io.sqlite",
        "infer_graph_schema",
        "schema.inference.infer_graph_schema",
    ),
    (
        "project_graphdb_spark.graph.builder",
        "infer_graph_schema",
        "schema.inference.infer_graph_schema",
    ),
    ("project_graphdb_spark.io.sqlite", "build_graph", "graph.builder.build_graph"),
    ("project_graphdb_spark.graph.builder", "build_graph", "graph.builder.build_graph"),
    ("project_graphdb_spark.graph.builder", "tpch_graph", "graph.builder.tpch_graph"),
    (
        "project_graphdb_spark.operators.graph_algo_workload",
        "tpch_graph",
        "graph.builder.tpch_graph",
    ),
    ("project_graphdb_spark.graph.storage", "save_graph", "graph.storage.save_graph"),
    ("project_graphdb_spark.graph.storage", "load_graph", "graph.storage.load_graph"),
    ("project_graphdb_spark.cypher.write", "cypher_write", "cypher.write.cypher_write"),
    (
        "project_graphdb_spark.operators.graph_algo_workload",
        "connected_components",
        "graph.algorithms.connected_components",
    ),
    (
        "project_graphdb_spark.operators.graph_algo_workload",
        "bfs_distances",
        "graph.algorithms.bfs_distances",
    ),
    (
        "project_graphdb_spark.operators.graph_algo_workload",
        "triangle_count",
        "graph.algorithms.triangle_count",
    ),
    ("project_graphdb_spark.graph.algorithms", "k_core", "graph.algorithms.k_core"),
)


def install(tracer: Tracer) -> None:
    for target, attr, name in SEAMS:
        tracer.patch(target, attr, name)
