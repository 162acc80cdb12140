"""Per-layer metrics from traced iterations.

A traced iteration installs the ``spans.Tracer`` wrappers, runs the
workload's normal iteration, and turns each invocation's spans and
Spark jobs into the per-layer numbers listed in ``PER_LAYER``. The
reported value of a metric is the median, over traced iterations, of
its total over the iteration's invocations.
"""

from __future__ import annotations

import dataclasses
import statistics

from spans import (UNATTRIBUTED, JobReader, Span, Tracer, node_coverage,
                   self_times)

# metric -> unit; every workload reports all of them (0 where a layer
# is not on the workload's path)
PER_LAYER = {
    "project.load_s": "s", "parser.parse_s": "s", "parser.nodes": "count",
    "partial.io_s": "s", "graph.link_s": "s", "graph.link_calls": "count",
    "graph.select_s": "s", "compiler.compile_s": "s",
    "compiler.calls": "count", "compiler.sql_bytes": "bytes",
    "sources.register_s": "s", "sources.spark_jobs": "count",
    "relations.calls": "count", "relations.self_s": "s",
    "relations.spark_jobs": "count",
    "runner.prepare_s": "s", "runner.ready_wait_s": "s",
    "runner.busy_frac": "ratio",
    "contracts.enforce_s": "s", "artifacts.write_s": "s",
    "materializations.self_s": "s", "materializations.spark_jobs": "count",
    "materializations.files_written": "count",
    "materializations.bytes_written": "bytes",
    "tests.execute_s": "s", "tests.spark_jobs": "count",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "operators.exec_s": "s", "operators.exec_jobs": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.input_bytes": "bytes", "spark.unattributed_jobs": "count",
    "node.uncovered_s": "s", "trace.overhead_frac": "ratio",
}

# span name -> (self-time metric, call-count metric, job-count metric)
_SPAN_METRICS = {
    "project.load": ("project.load_s", None, None),
    "parser.parse": ("parser.parse_s", None, None),
    "partial.io": ("partial.io_s", None, None),
    "graph.link": ("graph.link_s", "graph.link_calls", None),
    "graph.select": ("graph.select_s", None, None),
    "compiler.compile": ("compiler.compile_s", "compiler.calls", None),
    "sources.register": ("sources.register_s", None, "sources.spark_jobs"),
    "relations": ("relations.self_s", "relations.calls",
                  "relations.spark_jobs"),
    "contracts.enforce": ("contracts.enforce_s", None, None),
    "artifacts.write": ("artifacts.write_s", None, None),
    "materializations": ("materializations.self_s", None,
                         "materializations.spark_jobs"),
    "tests.execute": ("tests.execute_s", None, "tests.spark_jobs"),
    "operators.build": ("operators.build_s", None, "operators.build_jobs"),
    "operators.exec": ("operators.exec_s", None, "operators.exec_jobs"),
    "node": ("node.uncovered_s", None, None),
}


def traced_iteration(wl, spark, threads: int) -> list:
    """One workload iteration with the tracer installed; each invocation
    gets its spans and its per-layer values (``Invocation.layers``)."""
    tracer = Tracer(spark.sparkContext)
    reader = JobReader(spark)
    tracer.install()
    try:
        invs = wl.iteration(spark, tracer, reader)
    finally:
        tracer.uninstall()
    for inv, manifest in zip(invs, tracer.manifests + [None] * len(invs)):
        inv.spans = invocation_spans(tracer.spans, inv.t0, inv.t1)
        inv.layers = layer_values(inv.spans, inv, manifest, threads)
    return invs


def invocation_spans(spans: list[Span], t0: float, t1: float) -> list[Span]:
    """The spans opened in [t0, t1], re-indexed as a list of their own.
    They are contiguous in ``spans`` and their parents lie among them."""
    idx = [i for i, s in enumerate(spans) if t0 <= s.start <= t1]
    if not idx:
        return []
    a = idx[0]
    return [dataclasses.replace(s, parent=None if s.parent is None
                                else s.parent - a)
            for s in spans[a:idx[-1] + 1]]


def layer_values(spans: list[Span], inv, manifest, threads: int
                 ) -> dict[str, float]:
    v = {k: 0.0 for k in PER_LAYER if k != "trace.overhead_frac"}
    selfs = self_times(spans)
    for name, (t_key, n_key, _) in _SPAN_METRICS.items():
        v[t_key] += selfs.get(name, 0.0)
        if n_key:
            v[n_key] += sum(1 for s in spans if s.name == name)
    v["parser.nodes"] = sum(s.size for s in spans if s.name == "parser.parse")
    v["compiler.sql_bytes"] = sum(s.size for s in spans
                                  if s.name == "compiler.compile")
    jobs = inv.jobs
    if jobs is not None:
        for name, (_, _, j_key) in _SPAN_METRICS.items():
            if j_key:
                v[j_key] += jobs.jobs.get(name, 0)
        v["spark.jobs"] = jobs.total_jobs
        v["spark.unattributed_jobs"] = jobs.jobs.get(UNATTRIBUTED, 0)
        v["spark.stages"] = jobs.stages
        v["spark.tasks"] = jobs.tasks
        v["spark.executor_run_s"] = jobs.executor_run_s
        v["spark.executor_cpu_s"] = jobs.executor_cpu_s
        v["spark.gc_s"] = jobs.gc_s
        v["spark.shuffle_write_bytes"] = jobs.shuffle_write_bytes
        v["spark.input_bytes"] = jobs.input_bytes
        if manifest is not None:
            ran = {s.node for s in spans if s.name == "node"}
            views = [uid for uid, n in manifest.nodes.items()
                     if n.config.get("materialized") == "view" and uid in ran]
            if views:
                v["relations.spark_jobs_per_view_node"] = sum(
                    jobs.by_node.get(uid, {}).get("relations", 0)
                    for uid in views) / len(views)
    v["materializations.files_written"] = inv.files_written
    v["materializations.bytes_written"] = inv.bytes_written
    v.update(runner_values(spans, manifest, threads))
    return v


def runner_values(spans: list[Span], manifest, threads: int
                  ) -> dict[str, float]:
    """prepare (run start to first node start), ready wait (node start
    minus the latest end of what it waited on) and busy fraction
    (Σ node time over threads × run wall)."""
    runs = [s for s in spans if s.name == "runner.run"]
    nodes = [s for s in spans if s.name == "node"]
    if not runs or not nodes:
        return {"runner.prepare_s": 0.0, "runner.ready_wait_s": 0.0,
                "runner.busy_frac": 0.0}
    prepare = wait = busy = wall = 0.0
    for run in runs:
        mine = [n for n in nodes if run.start <= n.start <= run.end]
        if not mine:
            continue
        first = min(n.start for n in mine)
        prepare += first - run.start
        busy += sum(n.dur for n in mine)
        wall += threads * run.dur
        end = {n.node: n.end for n in mine}
        waits_on = _waits_on(manifest) if manifest is not None else {}
        for n in mine:
            ready = max((end[p] for p in waits_on.get(n.node, ())
                         if p in end), default=first)
            wait += max(0.0, n.start - ready)
    return {"runner.prepare_s": prepare, "runner.ready_wait_s": wait,
            "runner.busy_frac": busy / wall if wall else 0.0}


def _waits_on(manifest) -> dict[str, set[str]]:
    """Node -> the nodes it cannot start before: its parents (through
    ephemerals, which never run) and, as ``build`` orders them, the
    tests attached to those parents."""
    nodes = manifest.nodes

    def parents(uid: str) -> set[str]:
        out: set[str] = set()
        for p in nodes[uid].depends_on if uid in nodes else ():
            if p not in nodes:
                continue
            if nodes[p].is_ephemeral:
                out |= parents(p)
            else:
                out.add(p)
        return out

    direct = {uid: parents(uid) for uid in nodes}
    tests_of: dict[str, set[str]] = {}
    for uid in nodes:
        if uid.startswith("test."):
            for p in direct[uid]:
                tests_of.setdefault(p, set()).add(uid)
    return {uid: ps | {t for p in ps for t in tests_of.get(p, ()) if t != uid}
            for uid, ps in direct.items()}


def _iteration_totals(it: list) -> dict[str, float]:
    tot: dict[str, float] = {}
    for inv in it:
        for k, x in inv.layers.items():
            tot[k] = tot.get(k, 0.0) + x
    tot["runner.busy_frac"] = statistics.mean(
        inv.layers["runner.busy_frac"] for inv in it)
    return tot


def per_layer_metrics(traced: list, untraced: list, threads: int
                      ) -> dict[str, tuple[float, str]]:
    rows = [_iteration_totals(it) for it in traced]
    out = {k: (statistics.median(r[k] for r in rows), u)
           for k, u in PER_LAYER.items() if k != "trace.overhead_frac"}
    # each traced iteration against the untraced one right after it: the
    # first untraced iteration is still warming up, so it is left out,
    # and the overhead read is an upper bound
    t_run = statistics.median(i.wall for it in traced for i in it
                              if i.phase == "run")
    u_run = statistics.median(i.wall for it in untraced[1:] for i in it
                              if i.phase == "run")
    out["trace.overhead_frac"] = (t_run / u_run - 1.0, "ratio")
    return out


def phase_report(traced: list) -> dict[str, dict[str, float]]:
    """Median per invocation phase of every per-layer value (and of the
    relation jobs per view node, on the DAG workload)."""
    out: dict[str, dict[str, float]] = {}
    for phase in ("run", "rerun"):
        invs = [i for it in traced for i in it if i.phase == phase]
        row = {k: statistics.median(i.layers[k] for i in invs)
               for k in invs[0].layers}
        row["wall_s"] = statistics.median(i.wall for i in invs)
        row["nodes"] = statistics.median(len(i.node_times) for i in invs)
        out[phase] = row
    return out


def coverage_error(traced: list) -> float:
    """Largest gap, over traced nodes, between a node's wall time and the
    self times of the layers inside it plus its uncovered remainder."""
    return max((abs(wall - covered)
                for it in traced for inv in it
                for wall, covered in node_coverage(inv.spans).values()),
               default=0.0)
