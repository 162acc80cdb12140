"""Engine facade — the programmatic entry point.

Replicates ``dbtRunner().invoke([...])`` (ref: cli/main.py:41-97) as a
Python API over a live SparkSession: ``Engine(spark, project).run()``,
plus the task verbs run/test/build/seed/snapshot/show/compile_sql/ls
(ref: click commands cli/main.py:347-580).
"""

from __future__ import annotations

import datetime as _dt
import os
import uuid
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession

from dbt_core_spark.plans.compiler import compile_node
from dbt_core_spark.plans.graph import Linker, select_nodes
from dbt_core_spark.plans.nodes import Manifest, Node, NodeType
from dbt_core_spark.plans.parser import parse_project
from dbt_core_spark.project import ProjectDef
from dbt_core_spark.run.runner import GraphRunner, RunResults
from dbt_core_spark.sources.freshness import FreshnessResult, check_freshness


class Engine:
    """One project bound to one SparkSession and one target schema."""

    def __init__(
        self,
        spark: SparkSession,
        project: ProjectDef,
        schema: Optional[str] = None,
        vars: Optional[dict[str, Any]] = None,
        threads: Optional[int] = None,
        target: Optional[str] = None,
        profiles_dir: Optional[str] = None,
        callbacks: Optional[list] = None,
    ):
        self.spark = spark
        self.project = project
        # typed structured events (events.py; ref dbtRunner(callbacks=))
        # — fan out to caller callbacks + target/logs jsonl for
        # dir-loaded projects
        from dbt_core_spark.events import EventManager

        logfile = None
        if project.project_root:
            logdir = os.path.join(project.project_root, "logs")
            os.makedirs(logdir, exist_ok=True)
            logfile = os.path.join(logdir, "dbt.jsonl")
        self.event_manager = EventManager(callbacks=callbacks, logfile=logfile)
        # profile/target indirection (ref: config/profile.py): when the
        # project names a profile, the selected output supplies the
        # default schema/threads; explicit arguments always win
        self.target = None
        if project.profile:
            from dbt_core_spark.profile import load_profiles, resolve_target

            profiles = load_profiles(
                profiles_dir
                or (project.project_root if project.project_root and os.path.exists(
                    os.path.join(project.project_root, "profiles.yml")) else None)
            )
            if profiles:
                self.target = resolve_target(profiles, project.profile, target)
        self.schema = (
            schema
            or (self.target.schema if self.target else None)
            or f"dbt_{uuid.uuid4().hex[:8]}"
        )
        self.cli_vars = vars or {}
        self.threads = threads if threads is not None else (
            self.target.threads if self.target else 4
        )
        # on-disk partial parsing (ref: target/partial_parse.msgpack,
        # parser/partial.py:68): for directory-loaded projects, reuse the
        # persisted parse cache so a cold start skips unchanged renders,
        # then refresh it
        disk_cache = None
        if project.project_root:
            from dbt_core_spark.plans.partial import (
                load_partial_parse, write_partial_parse,
            )

            disk_cache = load_partial_parse(
                project.project_root, cli_vars=self.cli_vars)
        self.manifest: Manifest = parse_project(
            project, cli_vars=self.cli_vars, cache=disk_cache)
        if project.project_root:
            write_partial_parse(
                self.manifest, project.project_root, cli_vars=self.cli_vars)
        if self.target is not None:
            self.manifest.target_context = self.target.to_context()

    def deps(self) -> dict[str, dict]:
        """Installed dependency packages (ref: task ``dbt deps``,
        deps/resolver.py).  Local packages resolve at project load; this
        reports what is installed — the lockfile analog."""
        return {
            pname: {
                "name": pname,
                "source": "local",
                "models": sorted(list(pkg.models) + list(pkg.python_models)),
                "macros": sorted(pkg.macros),
                "seeds": sorted(pkg.seeds),
            }
            for pname, pkg in self.project.packages.items()
        }

    def debug(self) -> dict[str, bool]:
        """``dbt debug`` analog (ref: task/debug.py): connection check
        (one trivial query), project parse status, and DAG validity —
        each reported as a named boolean so callers mirror the
        reference's pass/fail checklist output."""
        checks: dict[str, bool] = {}
        try:
            self.spark.sql("select 1").collect()
            checks["connection_ok"] = True
        except Exception:
            checks["connection_ok"] = False
        checks["project_ok"] = bool(self.manifest.nodes or self.manifest.sources)
        try:
            from dbt_core_spark.plans.graph import Linker

            Linker().link_graph(self.manifest)
            checks["dag_ok"] = True
        except Exception:
            checks["dag_ok"] = False
        return checks

    def clean(self) -> list[str]:
        """`dbt clean`: remove the project's target/ and dbt_packages/
        dirs (ref: task/clean.py; clean-targets dbt_project.yml key).
        Returns the paths removed.  No-op without a project_root."""
        import shutil

        removed: list[str] = []
        root = self.project.project_root
        if not root:
            return removed
        for d in ("target", "dbt_packages"):
            path = os.path.join(root, d)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
                removed.append(path)
        return removed

    def reparse(self) -> int:
        """Partial parse: re-read the project, skipping unchanged nodes
        (ref: parser/partial.py).  Returns the number re-rendered."""
        self.manifest = parse_project(
            self.project, cli_vars=self.cli_vars, cache=self.manifest)
        if self.project.project_root:
            from dbt_core_spark.plans.partial import write_partial_parse
            from dbt_core_spark.run.artifacts import write_perf_info

            write_partial_parse(
                self.manifest, self.project.project_root,
                cli_vars=self.cli_vars)
            # the `parse` verb's performance artifact (ref:
            # cli/main.py:539 write_perf_info=True)
            write_perf_info(self.manifest, self.project.project_root)
        return self.manifest.reparse_count

    def compile_analyses(self) -> dict[str, str]:
        """Compile analysis nodes without running them
        (ref: NodeType.Analysis — compile only)."""
        relations = self._compile_relations()
        return {
            n.name: compile_node(self.manifest, n, self.spark, relations,
                                 cli_vars=self.cli_vars)
            for n in self.manifest.nodes.values()
            if n.resource_type is NodeType.Analysis
        }

    def _compile_relations(self) -> dict[str, str]:
        """Relations for compile-only paths: sources registered, and
        every refable node resolved to its catalog name, built or not."""
        runner = self._runner()
        runner._prepare(None, None)
        for uid, n in self.manifest.nodes.items():
            if n.is_refable and not n.is_ephemeral:
                runner.relations.setdefault(uid, runner.relation_for(n))
        return runner.relations

    def _runner(self, full_refresh: bool = False, **kw) -> GraphRunner:
        kw.setdefault("event_manager", self.event_manager)
        return GraphRunner(
            self.spark, self.manifest, self.schema, cli_vars=self.cli_vars,
            threads=self.threads, full_refresh=full_refresh,
            on_run_start=self.project.on_run_start,
            on_run_end=self.project.on_run_end, **kw,
        )

    def resolve_selector(self, name: str) -> set[str]:
        """Named YAML selector → unique_ids (ref: selectors.yml;
        ``--selector`` flag)."""
        from dbt_core_spark.plans.graph import resolve_selector

        if name not in self.project.selectors:
            raise KeyError(f"selector '{name}' not defined")
        graph = Linker().link_graph(self.manifest)
        return resolve_selector(self.manifest, graph, self.project.selectors[name])

    def _sel(self, select, selector):
        if selector is not None:
            if select:
                # the reference errors on --select + --selector together
                raise ValueError("cannot combine select and selector")
            return self.resolve_selector(selector)
        return select

    # -- task verbs ----------------------------------------------------------

    def _defer_kw(self, defer: bool, favor_state: bool) -> dict:
        """--defer/--favor-state: resolve unselected upstream refs to the
        attached state manifest's relations (ref: providers.py:587-608)."""
        if not defer:
            return {}
        state = self.manifest.state_manifest
        if state is None:
            raise ValueError("defer requires Engine.set_state(...) / --state")
        return {
            "defer_relations": {
                uid: n.relation_name
                for uid, n in state.nodes.items() if n.relation_name
            },
            "favor_state": favor_state,
        }

    def _write_artifacts(self, results: RunResults) -> None:
        """Reference behavior: every task invocation refreshes target/
        run_results.json + manifest.json (artifact consumers — retry,
        result:/state: selectors — read them from there)."""
        if not self.project.project_root:
            return
        from dbt_core_spark.run.artifacts import (
            write_manifest, write_run_results,
        )

        target_dir = os.path.join(self.project.project_root, "target")
        write_run_results(results, os.path.join(target_dir, "run_results.json"))
        write_manifest(self, os.path.join(target_dir, "manifest.json"))
        # compiled SQL files (ref: target/compiled/<project>/ tree —
        # audit tooling and dbt docs read these)
        for n in self.manifest.nodes.values():
            if n.compiled_code and n.resource_type is NodeType.Model:
                fp = os.path.join(
                    target_dir, "compiled", n.package, f"{n.name}.sql")
                os.makedirs(os.path.dirname(fp), exist_ok=True)
                with open(fp, "w") as f:
                    f.write(n.compiled_code)

    def run(self, select: Optional[str] = None, full_refresh: bool = False,
            event_time_start: Optional[_dt.datetime] = None,
            event_time_end: Optional[_dt.datetime] = None,
            empty: bool = False, exclude: Optional[str] = None,
            selector: Optional[str] = None, defer: bool = False,
            favor_state: bool = False, fail_fast: bool = False,
            warn_error: bool = False) -> RunResults:
        """`dbt run`: models only (ref: cli/main.py:547-580).  ``empty``
        compiles every ref/source with LIMIT 0 — dry-run schema build
        (ref: tests/functional/adapter/basic/test_empty.py)."""
        res = self._runner(
            full_refresh, event_time_start=event_time_start,
            event_time_end=event_time_end, empty=empty,
            fail_fast=fail_fast, warn_error=warn_error,
            **self._defer_kw(defer, favor_state),
        ).run(select=self._sel(select, selector),
              resource_types={NodeType.Model}, exclude=exclude)
        self._write_artifacts(res)
        return res

    def seed(self, select: Optional[str] = None) -> RunResults:
        res = self._runner().run(select=select, resource_types={NodeType.Seed})
        self._write_artifacts(res)
        return res

    def snapshot(self, select: Optional[str] = None) -> RunResults:
        res = self._runner().run(select=select,
                                 resource_types={NodeType.Snapshot})
        self._write_artifacts(res)
        return res

    def test(self, select: Optional[str] = None,
             selector: Optional[str] = None, defer: bool = False,
             favor_state: bool = False, fail_fast: bool = False,
             warn_error: bool = False,
             indirect_selection: str = "eager") -> RunResults:
        res = self._runner(fail_fast=fail_fast, warn_error=warn_error,
                           **self._defer_kw(defer, favor_state)).run(
            select=self._sel(select, selector),
            resource_types={NodeType.Test, NodeType.UnitTest},
            indirect_selection=indirect_selection)
        self._write_artifacts(res)
        return res

    def build(self, select: Optional[str] = None, full_refresh: bool = False,
              selector: Optional[str] = None, defer: bool = False,
              favor_state: bool = False, fail_fast: bool = False,
              warn_error: bool = False,
              indirect_selection: str = "eager") -> RunResults:
        """`dbt build`: seeds+models+snapshots+tests with test edges
        (ref: task/build.py:1-219; compilation.py:197-249)."""
        res = self._runner(full_refresh, fail_fast=fail_fast,
                           warn_error=warn_error,
                           **self._defer_kw(defer, favor_state)).run(
            select=self._sel(select, selector),
            resource_types={NodeType.Model, NodeType.Seed, NodeType.Snapshot,
                            NodeType.Test, NodeType.UnitTest},
            add_test_edges=True,
            indirect_selection=indirect_selection,
        )
        self._write_artifacts(res)
        return res

    def source_freshness(self) -> dict[str, FreshnessResult]:
        """`dbt source freshness` (ref: task/freshness.py:36-220)."""
        runner = self._runner()
        runner._prepare(None, None)
        out: dict[str, FreshnessResult] = {}
        for uid, src in self.manifest.sources.items():
            if src.freshness or src.loaded_at_field:
                out[uid] = check_freshness(self.spark, src, runner.relations[uid])
        if self.project.project_root and out:
            from dbt_core_spark.run.artifacts import write_sources

            write_sources(out, os.path.join(
                self.project.project_root, "target", "sources.json"))
        return out

    # -- interactive path (ref: task/show.py; `dbt compile --inline`) --------

    def compile_sql(self, sql: str) -> str:
        node = Node(
            unique_id=f"sql_operation.{self.project.name}.inline",
            name="inline", package=self.project.name,
            resource_type=NodeType.SqlOperation, raw_code=sql,
        )
        # inline SQL may ref anything already built; resolve via catalog names
        return compile_node(self.manifest, node, self.spark,
                            self._compile_relations(), cli_vars=self.cli_vars)

    def show(self, sql: str, limit: int = 5) -> DataFrame:
        """`dbt show --inline` (ref: task/show.py:19-58; default limit 5
        cli/params.py:269-274)."""
        return self.spark.sql(self.compile_sql(sql)).limit(limit)

    def show_model(self, name: str, limit: int = 5) -> DataFrame:
        """`dbt show --select <node>` (ref: ShowTask task/show.py:19-58):
        preview a built model's relation; an unbuilt (or ephemeral)
        model is compiled and executed on the fly."""
        target = self.manifest.resolve_ref(name)
        if target is None:
            raise KeyError(f"model '{name}' not found")
        if target.relation_name and not target.is_ephemeral:
            return self.spark.table(target.relation_name).limit(limit)
        return self.show(f"select * from {{{{ ref('{name}') }}}}", limit=limit)

    def table(self, model_name: str) -> DataFrame:
        """DataFrame over a built model's relation."""
        target = self.manifest.resolve_ref(model_name)
        if target is None or target.relation_name is None:
            raise KeyError(f"model '{model_name}' not built")
        return self.spark.table(target.relation_name)

    def optimize(self, model_name: str, target_file_mb: int = 128,
                 zorder_by: Optional[list] = None) -> dict:
        """Lake-maintenance verb (the OPTIMIZE [ZORDER BY] analog dbt
        itself lacks): compact a built table model's small files to
        ~``target_file_mb`` outputs, optionally Z-order-clustering on
        two columns for parquet data skipping — atomic tmp+rename swap
        (operators/relations.py:compact_table).  Returns the
        files/bytes/rows report."""
        from dbt_core_spark.operators.relations import compact_table

        target = self.manifest.resolve_ref(model_name)
        if target is None or target.relation_name is None:
            raise KeyError(f"model '{model_name}' not built")
        if target.config.get("materialized", "view") == "view":
            raise ValueError(f"'{model_name}' is a view — nothing to compact")
        return compact_table(self.spark, target.relation_name,
                             target_file_mb=target_file_mb,
                             zorder_by=zorder_by)

    def ls(self, select: Optional[str] = None,
           resource_type: Optional[str] = None,
           selector: Optional[str] = None,
           output: str = "selector") -> list:
        """`dbt ls` (ref: task/list.py:1-212).  ``output``: 'selector'
        (unique_ids, default), 'name', 'path', or 'json' (dicts with
        name/resource_type/package/config/depends_on)."""
        graph = Linker().link_graph(self.manifest)
        selected = select_nodes(self.manifest, graph, self._sel(select, selector))
        out = []
        for uid, n in self.manifest.all_nodes().items():
            if selected is not None and uid not in selected:
                continue
            if resource_type and n.resource_type.value != resource_type:
                continue
            if output == "name":
                out.append(n.name)
                continue
            if output == "path":
                out.append(n.path or n.name)
                continue
            if output == "json":
                out.append({
                    "unique_id": uid, "name": n.name,
                    "resource_type": n.resource_type.value,
                    "package_name": n.package,
                    "config": {k: v for k, v in n.config.items()
                               if v not in (None, [], {})},
                    "depends_on": {"nodes": n.depends_on},
                })
                continue
            out.append(uid)
        # exposures and metrics are real graph nodes (all_nodes covers
        # them) — no synthetic append needed
        return sorted(out, key=lambda x: x["unique_id"] if isinstance(x, dict) else x)

    def docs_generate(self) -> dict:
        """catalog.json analog from spark.catalog
        (ref: task/docs/generate.py)."""
        nodes = {}
        for uid, n in self.manifest.nodes.items():
            if not n.relation_name or not self.spark.catalog.tableExists(n.relation_name):
                continue
            cols = {
                f.name: {"type": f.dataType.simpleString(), "index": i}
                for i, f in enumerate(self.spark.table(n.relation_name).schema.fields)
            }
            entry = {"metadata": {"name": n.identifier, "schema": self.schema},
                     "columns": cols}
            if n.config.get("grants") is not None:
                # recorded grant state (catalog truth, not just config)
                from dbt_core_spark.operators.grants import current_grants

                entry["grants"] = current_grants(self.spark, n.relation_name)
            nodes[uid] = entry
        return {"nodes": nodes}

    # -- unit tests (ref: task/test.py:206-282; parser/unit_tests.py) --------

    def unit_test(self, name: Optional[str] = None):
        """Run declared unit tests (project.unit_tests entries:
        {"model": ..., "given": {input: rows}, "expect": rows})."""
        from dbt_core_spark.operators.unit_tests import run_unit_test

        runner = self._runner()
        runner._prepare(None, None)
        results = []
        for tname, tdef in self.project.unit_tests.items():
            if name and tname != name:
                continue
            results.append(
                run_unit_test(
                    self.spark, self.manifest, tname, tdef["model"],
                    tdef.get("given", {}), tdef.get("expect", []),
                    relations=runner.relations, cli_vars=self.cli_vars,
                    overrides=tdef.get("overrides"),
                )
            )
        return results

    # -- clone / retry / run-operation / state selection ---------------------

    def clone(self, state_schema: str, select: Optional[str] = None) -> dict[str, str]:
        """`dbt clone` (ref: task/clone.py)."""
        from dbt_core_spark.plans.graph import Linker, select_nodes
        from dbt_core_spark.run.tasks import clone_relations

        names = None
        if select:
            graph = Linker().link_graph(self.manifest)
            uids = select_nodes(self.manifest, graph, select) or set()
            names = {self.manifest.nodes[u].name for u in uids if u in self.manifest.nodes}
        return clone_relations(self.spark, self.manifest, state_schema,
                               self.schema, names)

    def retry(self, previous: "RunResults | str") -> RunResults:
        """`dbt retry` (ref: task/retry.py; failed-batch retry
        task/run.py:492-511): re-run errored/skipped nodes in full, and
        for partial-success microbatch nodes re-run ONLY the failed
        batches (each batch write is idempotent, so this is safe).
        ``previous`` may be a RunResults or a path to a written
        run_results.json (file or directory)."""
        import datetime as _dtm

        from dbt_core_spark.run.tasks import retry_selection

        if isinstance(previous, str):
            from dbt_core_spark.run.artifacts import load_run_results

            previous = load_run_results(previous)
        uids = retry_selection(previous)
        names = " ".join(
            self.manifest.nodes[u].name for u in uids if u in self.manifest.nodes
        )
        out = self._runner().run(select=names) if names else RunResults()
        for r in previous.results:
            if r.status != "partial success" or not r.batch_results:
                continue
            node = self.manifest.nodes.get(r.unique_id)
            if node is None:
                continue
            for b in r.batch_results:
                if b.get("status") != "error" or not b.get("start"):
                    continue
                # end = the batch's own start: the builder's final batch
                # is the period CONTAINING event_time_end, so this spans
                # exactly the one failed window
                res = self.run(
                    select=node.name,
                    event_time_start=_dtm.datetime.fromisoformat(b["start"]),
                    event_time_end=_dtm.datetime.fromisoformat(b["start"]),
                )
                out.results.extend(res.results)
        self._write_artifacts(out)
        return out

    def run_operation(self, macro_name: str, args: Optional[dict] = None):
        """`dbt run-operation` (ref: task/run_operation.py)."""
        from dbt_core_spark.run.tasks import run_operation

        return run_operation(self.spark, self.manifest, macro_name, args)

    def _coerce_state(self, state: "Engine | Manifest | str") -> Manifest:
        if isinstance(state, str):
            from dbt_core_spark.run.artifacts import load_state_manifest

            return load_state_manifest(state)
        return state.manifest if isinstance(state, Engine) else state

    def set_state(
        self,
        state: "Engine | Manifest | str | None" = None,
        results: "RunResults | dict | str | None" = None,
        sources: "dict | str | None" = None,
    ) -> "Engine":
        """Attach previous-invocation artifacts so ``state:*`` /
        ``result:*`` / ``source_status:fresher`` selectors work in any
        task verb (ref: --state loading task/base.py; selector_methods.py
        :610-830).  ``state`` = Engine/Manifest/path to manifest.json;
        ``results`` = RunResults/{uid: status}/path to run_results.json;
        ``sources`` = {uid: iso_ts}/path to a previous sources.json
        (current freshness is computed via source_freshness()).
        Returns self for chaining."""
        if state is not None:
            self.manifest.state_manifest = self._coerce_state(state)
        if results is not None:
            if isinstance(results, str):
                from dbt_core_spark.run.artifacts import load_run_results

                results = load_run_results(results)
            if isinstance(results, dict):
                self.manifest.previous_results = dict(results)
            else:
                self.manifest.previous_results = {
                    r.unique_id: r.status for r in results.results
                }
        if sources is not None:
            if isinstance(sources, str):
                from dbt_core_spark.run.artifacts import load_sources

                sources = load_sources(sources)
            self.manifest.previous_source_status = dict(sources)
            cur = self.source_freshness()
            self.manifest.current_source_status = {
                uid: fr.max_loaded_at.isoformat() if fr.max_loaded_at else None
                for uid, fr in cur.items()
            }
        return self

    def modified_vs(self, state: "Engine | Manifest | str") -> set[str]:
        """state:modified selection against a previous manifest — an
        Engine, an in-memory Manifest, or a ``--state`` path to written
        artifacts (manifest.json file or its directory)
        (ref: selector_methods.py:610-790)."""
        from dbt_core_spark.run.tasks import modified_nodes

        return modified_nodes(self.manifest, self._coerce_state(state))

    def run_modified(self, state: "Engine | Manifest | str",
                     include_children: bool = False,
                     favor_state: bool = False) -> RunResults:
        """`dbt run --select state:modified[+] --defer`-style: run only
        changed nodes; unchanged upstream refs resolve to their existing
        relations (the catalog pre-population in the runner is the defer
        mechanism, ref: providers.py:587-608).  ``favor_state`` prefers
        the STATE manifest's relations for unselected upstreams even when
        a relation exists in this target schema
        (ref: --defer --favor-state providers.py:594)."""
        other = self._coerce_state(state)
        from dbt_core_spark.run.tasks import modified_nodes

        uids = modified_nodes(self.manifest, other)
        res = RunResults()
        if uids:
            names = " ".join(
                (self.manifest.nodes[u].name + ("+" if include_children else ""))
                for u in uids if u in self.manifest.nodes
            )
            defer_relations = {
                uid: n.relation_name
                for uid, n in other.nodes.items()
                if n.relation_name and uid not in uids
            }
            res = self._runner(
                defer_relations=defer_relations, favor_state=favor_state,
            ).run(select=names)
        self._write_artifacts(res)
        return res

    def drop_schema(self) -> None:
        self.spark.sql(f"DROP DATABASE IF EXISTS `{self.schema}` CASCADE")
        self.spark.sql(f"DROP DATABASE IF EXISTS `{self.schema}__sources` CASCADE")
        self.spark.sql(f"DROP DATABASE IF EXISTS `{self.schema}_dbt_test__audit` CASCADE")
