"""Span tracing from outside the program.

``Tracer.install()`` replaces the public functions of each engine layer,
at the module attributes the engine calls them through, with wrappers
that record a span (layer, start, end, thread, node, parent) in memory.
Node spans come from the engine's ``NodeStart``/``NodeFinished`` events.
Each wrapper also appends its layer to the calling thread's Spark job
description for the duration of the call, so every Spark job can be
attributed to the node and the innermost layer that launched it
(``JobReader``). ``uninstall()`` restores every replaced attribute.

A span's self time is its duration minus the time its direct children
(spans opened on the same thread while it was open) cover.
"""

from __future__ import annotations

import functools
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

DESC = "spark.job.description"
UNATTRIBUTED = "unattributed"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    thread: int = 0
    node: Optional[str] = None
    parent: Optional[int] = None   # index into Tracer.spans
    children_s: float = 0.0        # time covered by direct children
    size: int = 0                  # layer-specific count, e.g. SQL bytes

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


def close_span(spans: list[Span], idx: int, end: float) -> None:
    """Close span ``idx`` and charge its duration to its parent."""
    sp = spans[idx]
    sp.end = end
    if sp.parent is not None:
        spans[sp.parent].children_s += sp.dur


def self_times(spans: list[Span]) -> dict[str, float]:
    """Σ self time per span name."""
    out: dict[str, float] = {}
    for sp in spans:
        out[sp.name] = out.get(sp.name, 0.0) + sp.self_s
    return out


def node_coverage(spans: list[Span]) -> dict[str, tuple[float, float]]:
    """Per node span: (wall, Σ self time of the spans inside it plus the
    node span's own uncovered remainder). The two are equal when every
    child span nests inside its parent."""
    inside: dict[int, float] = {}
    for i, sp in enumerate(spans):
        if sp.name == "node":
            inside[i] = inside.get(i, 0.0) + sp.self_s
            continue
        j = sp.parent
        while j is not None and spans[j].name != "node":
            j = spans[j].parent
        if j is not None:
            inside[j] = inside.get(j, 0.0) + sp.self_s
    return {f"{spans[i].node}#{i}": (spans[i].dur, v) for i, v in inside.items()}


@dataclass
class Tracer:
    """In-memory span recorder. ``sc`` is the SparkContext whose job
    descriptions carry the layer tags."""

    sc: Any
    spans: list[Span] = field(default_factory=list)
    manifests: list = field(default_factory=list)  # one per GraphRunner.run

    def __post_init__(self):
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[Any, str, Any]] = []

    # -- span stack ------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, node: Optional[str] = None) -> int:
        st = self._stack()
        parent = st[-1] if st else None
        if node is None and parent is not None:
            node = self.spans[parent].node
        sp = Span(name, time.perf_counter(), thread=threading.get_ident(),
                  node=node, parent=parent)
        with self._lock:
            self.spans.append(sp)
            idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def close(self, idx: int) -> None:
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()
        close_span(self.spans, idx, time.perf_counter())

    def call(self, name: str, fn: Callable, *args,
             size: Optional[Callable[[Any], int]] = None, **kwargs):
        """Run ``fn`` inside a span whose layer tags its Spark jobs;
        ``size(result)`` is stored on the span."""
        old = self.sc.getLocalProperty(DESC)
        self.sc.setLocalProperty(DESC, f"{old or ''}|{name}")
        idx = self.open(name)
        try:
            out = fn(*args, **kwargs)
            if size is not None:
                self.spans[idx].size = size(out)
            return out
        finally:
            self.close(idx)
            self.sc.setLocalProperty(DESC, old)

    # -- node spans from engine events ----------------------------------

    def on_event(self, ev: Any) -> None:
        uid = ev.data.get("unique_id")
        if ev.name == "NodeStart":
            self._local.node_span = self.open("node", node=uid)
        elif ev.name == "NodeFinished":
            idx = getattr(self._local, "node_span", None)
            if idx is not None:
                self.close(idx)
                self._local.node_span = None

    # -- installing wrappers ---------------------------------------------

    def wrap(self, owner: Any, attr: str, name: str,
             size: Optional[Callable[[Any], int]] = None) -> None:
        orig = owner[attr] if isinstance(owner, dict) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return tracer.call(name, orig, *args, size=size, **kwargs)

        self._set(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    @staticmethod
    def _set(owner: Any, attr: str, value: Any) -> None:
        if isinstance(owner, dict):
            owner[attr] = value
        else:
            setattr(owner, attr, value)

    def install(self) -> None:
        """Wrap every layer boundary the benchmark reports on."""
        import dbt_core_spark.api as api
        import dbt_core_spark.operators.contracts as contracts
        import dbt_core_spark.operators.relations as relations
        import dbt_core_spark.plans.graph as graph
        import dbt_core_spark.plans.partial as partial
        import dbt_core_spark.project as project
        import dbt_core_spark.run.artifacts as artifacts
        import dbt_core_spark.run.runner as runner
        from dbt_core_spark.operators.materializations import MATERIALIZATIONS

        from_dir = project.ProjectDef.__dict__["from_dir"].__func__
        self._undo.append((project.ProjectDef, "from_dir",
                           project.ProjectDef.__dict__["from_dir"]))
        tracer = self

        def traced_from_dir(cls, *args, **kwargs):
            return tracer.call("project.load", from_dir, cls, *args, **kwargs)

        project.ProjectDef.from_dir = classmethod(traced_from_dir)

        self.wrap(api, "parse_project", "parser.parse",
                  size=lambda manifest: len(manifest.nodes))
        for fn in ("load_partial_parse", "write_partial_parse"):
            self.wrap(partial, fn, "partial.io")
        self.wrap(graph.Linker, "link_graph", "graph.link")
        self.wrap(runner, "select_nodes", "graph.select")
        self.wrap(runner, "compile_node", "compiler.compile",
                  size=lambda sql: len(sql.encode()))
        self.wrap(runner, "register_source", "sources.register")
        for fn in ("relation_exists", "relation_type", "create_view",
                   "write_table", "drop_relation", "rebuild_table",
                   "ensure_database"):
            self.wrap(relations, fn, "relations")
        for mat in list(MATERIALIZATIONS):
            self.wrap(MATERIALIZATIONS, mat, "materializations")
        self.wrap(runner, "materialize_snapshot", "materializations")
        self.wrap(contracts, "enforce_contract", "contracts.enforce")
        self.wrap(runner, "execute_test", "tests.execute")
        run = runner.GraphRunner.run
        self._undo.append((runner.GraphRunner, "run", run))

        def traced_run(graph_runner, *args, **kwargs):
            tracer.manifests.append(graph_runner.manifest)
            return tracer.call("runner.run", run, graph_runner, *args,
                               **kwargs)

        runner.GraphRunner.run = traced_run
        for fn in ("write_run_results", "write_manifest"):
            self.wrap(artifacts, fn, "artifacts.write")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            self._set(owner, attr, orig)
        self._undo.clear()


# -- Spark job attribution ---------------------------------------------------

@dataclass
class JobStats:
    """Spark work per layer, read from the status store."""

    jobs: dict[str, int] = field(default_factory=dict)        # per layer
    by_node: dict[str, dict[str, int]] = field(default_factory=dict)
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0

    @property
    def total_jobs(self) -> int:
        return sum(self.jobs.values())


def job_tags(description: Optional[str]) -> tuple[Optional[str], str]:
    """(node, innermost layer) of a job description. The runner tags a
    node's jobs ``"{project}: {unique_id}"``; the tracer appends
    ``|layer`` per traced call. A job launched outside every traced call
    is ``unattributed``."""
    head, _, layers = (description or "").partition("|")
    node = head.split(": ", 1)[1] if ": " in head else None
    return node, layers.rsplit("|", 1)[-1] or UNATTRIBUTED


class JobReader:
    """Reads the jobs (and their stages) that started since the previous
    read. ``jobsList`` returns jobs newest first."""

    def __init__(self, spark: Any):
        self.store = spark.sparkContext._jsc.sc().statusStore()
        jobs = self.store.jobsList(None)
        self.last_job = jobs.apply(0).jobId() if jobs.size() else -1

    def _new_jobs(self) -> list:
        jobs = self.store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self.last_job:
                break
            out.append(j)
        return out

    def read(self, timeout: float = 5.0) -> JobStats:
        """Job and stage totals; waits (up to ``timeout``) until the
        listener bus has delivered the end of every new job."""
        deadline = time.monotonic() + timeout
        jobs = self._new_jobs()
        while (any(j.status().toString() == "RUNNING" for j in jobs)
               and time.monotonic() < deadline):
            time.sleep(0.05)
            jobs = self._new_jobs()
        out = JobStats()
        stage_ids: set[int] = set()
        for j in jobs:
            desc = j.description()
            node, layer = job_tags(desc.get() if desc.isDefined() else None)
            out.jobs[layer] = out.jobs.get(layer, 0) + 1
            if node is not None:
                per = out.by_node.setdefault(node, {})
                per[layer] = per.get(layer, 0) + 1
            ids = j.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        if jobs:
            self.last_job = jobs[0].jobId()
        for sid in sorted(stage_ids):
            s = self.store.lastStageAttempt(sid)
            if s.status().toString() == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += s.numCompleteTasks()
            out.executor_run_s += s.executorRunTime() / 1e3
            out.executor_cpu_s += s.executorCpuTime() / 1e9
            out.gc_s += s.jvmGcTime() / 1e3
            out.shuffle_write_bytes += s.shuffleWriteBytes()
            out.input_bytes += s.inputBytes()
        return out
