"""The benchmark's workloads.

Each workload generates its inputs from the seed (``prepare``), warms a
new session up with one untimed ``run`` (``warmup``, part of the
set-up), and then repeats timed iterations: at least ``min_iterations``
in every run, so that the medians come from the same iterations, the
same distance from the warm-up, however fast the host is. An iteration
starts from the same state every time: ``run`` (from a clean state),
then ``rerun`` (the same work again over what ``run`` left behind). ``check`` compares the last iteration's
outputs against DuckDB, outside the timed region. ``release`` removes
what the program wrote outside the work directory, when its session
ends.

- ``dag``: ``ProjectDef.from_dir`` + ``Engine(...)`` + ``Engine.build()``
  over a generated project (layered view DAG plus a table tail).
- ``llm_ops``: a pass over LLM-operator gates from
  ``__spark_entry__.queries()``; each gate is built, then executed to
  a ``noop`` sink.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field
from typing import Any, Optional
from urllib.parse import unquote, urlparse

import duckdb

import check
import datagen
import procstat
import projects
from spans import JobReader, JobStats, Tracer


@dataclass
class Invocation:
    phase: str                      # "run" or "rerun"
    t0: float                       # perf_counter at start and end
    t1: float
    wall: float
    parse: list[float]              # plan-construction wall seconds
    parse_cpu: list[float]          # and the CPU seconds they took
    node_times: list[float]
    attempted: int
    failures: list[str]
    jobs: Optional[JobStats] = None
    files_written: int = 0
    bytes_written: int = 0
    cpu: float = 0.0                # CPU seconds (this process, JVM, workers)
    steal: float = 0.0              # CPU seconds the hypervisor stole meanwhile
    detail: dict[str, tuple[float, float]] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    spans: list = field(default_factory=list)

    def unstolen(self) -> float:
        """Wall seconds less the hypervisor's share (see
        ``procstat.unstolen``)."""
        return procstat.unstolen(self.wall, self.cpu, self.steal)


def warehouse_dir(spark) -> str:
    uri = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    return unquote(uri.path)


def new_files(root: str, since: float) -> tuple[int, int]:
    """Data files under ``root`` modified at or after ``since``."""
    n = size = 0
    for d, _, files in os.walk(root):
        for fn in files:
            if fn.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(d, fn))
            if st.st_mtime >= since:
                n, size = n + 1, size + st.st_size
    return n, size


class DagWorkload:
    """``dag``: build a generated project into an empty schema, then
    build it again over the relations the first build left."""

    name = "dag"
    min_iterations = 1
    n_views = 16
    data_scale = 0.05
    parse_repeats = 2  # extra cold parses per iteration, for parse_s
    settle_s = 0.2
    planted_fail = "accepted_values_monthly_orders_o_orderpriority"

    def __init__(self, work: str, seed: int, threads: int):
        self.work, self.seed, self.threads = work, seed, threads
        self.data = os.path.join(work, "data")
        self.clock = None  # a procstat.CpuClock, once the JVM runs
        self.n = 0
        self.current: Optional[tuple[str, str]] = None   # (root, schema)
        self.expected_failures: dict[str, int] = {}
        self.project: Optional[projects.GeneratedProject] = None

    def prepare(self) -> dict[str, Any]:
        datagen.write_tpch(self.data, self.seed, self.data_scale)
        root = os.path.join(self.work, "project_0")
        self.project = projects.gen_dag_project(root, self.data, self.seed,
                                                self.n_views)
        con = duckdb.connect()
        self.expected_failures = {
            t: con.execute(sql).fetchone()[0]
            for t, sql in self.project.tests.items()}
        shutil.rmtree(root)
        return dict(self.project.schema_counts)

    def _fresh(self) -> tuple[str, str]:
        self.n += 1
        root = os.path.join(self.work, f"project_{self.n}")
        projects.gen_dag_project(root, self.data, self.seed, self.n_views)
        return root, f"bench_{os.getpid()}_{self.n}"

    def _invoke(self, spark, phase: str, tracer: Optional[Tracer]
                ) -> Invocation:
        from dbt_core_spark import Engine, ProjectDef

        root, schema = self.current
        cbs = [tracer.on_event] if tracer else None
        c0, s0 = self.clock.now(), procstat.steal_s()
        t0, p0 = time.perf_counter(), time.thread_time()
        eng = Engine(spark, ProjectDef.from_dir(root), schema=schema,
                     threads=self.threads, callbacks=cbs)
        t1, p1 = time.perf_counter(), time.thread_time()
        res = eng.build()
        t2 = time.perf_counter()
        cpu, steal = self.clock.now() - c0, procstat.steal_s() - s0
        failures = []
        for r in res.results:
            name = r.unique_id.rsplit(".", 1)[-1]
            if r.unique_id.startswith("test."):
                want = "fail" if name == self.planted_fail else "pass"
                if r.failures != self.expected_failures.get(name):
                    failures.append(f"{r.unique_id}: {r.failures} failures, "
                                    f"expected {self.expected_failures.get(name)}")
            else:
                want = "success"
            if r.status != want:
                failures.append(f"{r.unique_id}: {r.status} "
                                f"{(r.message or '')[:300]}")
        return Invocation(phase, t0, t2, t2 - t0, [t1 - t0], [p1 - p0],
                          [r.execution_time for r in res.results],
                          len(res.results), failures, cpu=cpu, steal=steal)

    def warmup(self, spark) -> None:
        self.cleanup(spark)
        self.current = self._fresh()
        self._invoke(spark, "run", None)

    def _cold_parse(self, spark) -> tuple[float, float]:
        """Wall and CPU seconds of ``from_dir`` + ``Engine(...)`` with no
        partial-parse file (parsing runs on this one thread)."""
        from dbt_core_spark import Engine, ProjectDef

        root, schema = self.current
        t0, p0 = time.perf_counter(), time.thread_time()
        Engine(spark, ProjectDef.from_dir(root), schema=schema,
               threads=self.threads)
        t1, p1 = time.perf_counter(), time.thread_time()
        shutil.rmtree(os.path.join(root, "target"))
        shutil.rmtree(os.path.join(root, "logs"), ignore_errors=True)
        return t1 - t0, p1 - p0

    def iteration(self, spark, tracer: Optional[Tracer] = None,
                  reader: Optional[JobReader] = None) -> list[Invocation]:
        self.cleanup(spark)
        self.current = self._fresh()
        # the cold parses run on this one thread: let the JVM finish the
        # clean-up first, so its threads do not compete with them
        time.sleep(self.settle_s)
        parses = [self._cold_parse(spark) for _ in range(self.parse_repeats)]
        out = []
        for phase in ("run", "rerun"):
            start = time.time()
            inv = self._invoke(spark, phase, tracer)
            if reader is not None:
                inv.jobs = reader.read()
                inv.files_written, inv.bytes_written = new_files(
                    warehouse_dir(spark), start - 1.0)
            out.append(inv)
        out[0].parse += [w for w, _ in parses]
        out[0].parse_cpu += [c for _, c in parses]
        return out

    def check(self, spark) -> list[tuple[str, bool, str]]:
        _, schema = self.current
        con = duckdb.connect()
        return [(rel, *check.check_relation(spark, con, f"{schema}.{rel}",
                                            sel, sql))
                for rel, (sel, sql) in sorted(self.project.checks.items())]

    def release(self) -> None:
        """Nothing outside the work directory to remove."""

    def cleanup(self, spark) -> None:
        """Drop the schemas of the previous iteration, in the catalog and
        on disk, and its project directory."""
        if self.current is None:
            return
        root, schema = self.current
        wh = warehouse_dir(spark)
        for db in (schema, f"{schema}__sources", f"{schema}_dbt_test__audit"):
            spark.sql(f"DROP DATABASE IF EXISTS `{db}` CASCADE")
            shutil.rmtree(os.path.join(wh, f"{db}.db"), ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)
        self.current = None


class LlmOpsWorkload:
    """``llm_ops``: ``run`` builds and executes every gate right after
    dropping cached data; ``rerun`` does the same again straight after,
    in the session ``run`` left warm."""

    name = "llm_ops"
    min_iterations = 2  # one pass varies twice as much as dag's phases
    gates = ("bm25_rank_docs", "streaming_ann_serve_embeddings",
             "text_quality_docs")
    n_docs, n_vecs = 500, 500

    def __init__(self, work: str, seed: int, threads: int):
        self.work, self.seed = work, seed
        self.data = os.path.join(work, "data")
        self.clock = None  # a procstat.CpuClock, once the JVM runs
        self.order = list(self.gates)
        random.Random(seed).shuffle(self.order)
        self.last: dict[str, Any] = {}

    def prepare(self) -> dict[str, Any]:
        import __spark_entry__ as entry

        datagen.write_text(self.data, self.seed, self.n_docs, self.n_vecs)
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        return {"gates": len(self.order), "documents": self.n_docs,
                "embeddings": self.n_vecs}

    def _invoke(self, spark, phase: str, tracer: Optional[Tracer]
                ) -> Invocation:
        build = execute = None
        if tracer is not None:
            build = lambda fn, *a: tracer.call("operators.build", fn, *a)  # noqa: E731
            execute = lambda fn, *a: tracer.call("operators.exec", fn, *a)  # noqa: E731
        node_times, failures, detail = [], [], {}
        parse = parse_cpu = 0.0
        c0, s0 = self.clock.now(), procstat.steal_s()
        t0 = time.perf_counter()
        for g in self.order:
            tg, cg = time.perf_counter(), self.clock.now()
            try:
                fn = self.queries[g]
                df = build(fn, spark, self.data) if build else fn(spark, self.data)
                tb, cb = time.perf_counter(), self.clock.now()
                sink = df.write.format("noop").mode("overwrite")
                execute(sink.save) if execute else sink.save()
            except Exception as e:  # a failing gate is counted, not fatal
                failures.append(f"{g}: {type(e).__name__}: {str(e)[:300]}")
                continue
            te = time.perf_counter()
            parse += tb - tg
            parse_cpu += cb - cg
            node_times.append(te - tg)
            detail[g] = (tb - tg, te - tb)
            self.last[g] = df
        t1 = time.perf_counter()
        return Invocation(phase, t0, t1, t1 - t0, [parse], [parse_cpu],
                          node_times, len(self.order), failures,
                          cpu=self.clock.now() - c0,
                          steal=procstat.steal_s() - s0, detail=detail)

    def warmup(self, spark) -> None:
        self._invoke(spark, "run", None)

    def iteration(self, spark, tracer: Optional[Tracer] = None,
                  reader: Optional[JobReader] = None) -> list[Invocation]:
        spark.catalog.clearCache()
        self.last.clear()
        out = []
        for phase in ("run", "rerun"):
            out.append(self._invoke(spark, phase, tracer))
            if reader is not None:
                out[-1].jobs = reader.read()
        return out

    def check(self, spark) -> list[tuple[str, bool, str]]:
        import validate_oracles

        con = validate_oracles.duck_connect(self.data)
        out = []
        for g in self.order:
            if g not in self.last:
                out.append((g, False, "never built"))
                continue
            out.append((g, *check.check_gate(g, spark, con, self.data,
                                             self.last[g], self.oracles[g])))
        return out

    def cleanup(self, spark) -> None:
        spark.catalog.clearCache()

    def release(self) -> None:
        """Remove the table copies the gates wrote outside the work
        directory (``__spark_entry__._stable_table_copy`` writes under
        /tmp, once per process), so a run leaves nothing behind."""
        import __spark_entry__ as entry

        for path in entry._STABLE_COPY_CACHE.values():
            shutil.rmtree(path, ignore_errors=True)
        entry._STABLE_COPY_CACHE.clear()


WORKLOADS = {w.name: w for w in (DagWorkload, LlmOpsWorkload)}
