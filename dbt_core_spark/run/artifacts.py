"""Run artifacts: run_results.json / manifest.json / catalog.json.

ref: artifact schemas under core/dbt/artifacts/schemas/ (run v5,
manifest v12, catalog v1) — same shapes at the field level the
functional tests assert on (status/execution_time/unique_id,
nodes/depends_on/config, catalog columns), without the jsonschema
versioning machinery.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import os
from typing import TYPE_CHECKING


def _invocation_id() -> str:
    from dbt_core_spark.events import get_invocation_id

    return get_invocation_id()

if TYPE_CHECKING:  # pragma: no cover
    from dbt_core_spark.api import Engine
    from dbt_core_spark.run.runner import RunResults


def write_perf_info(manifest, project_root: str) -> str:
    """target/perf_info.json — the `dbt parse` performance artifact
    (ref: cli/main.py:539 requires.manifest(write_perf_info=True) →
    ManifestLoaderInfo, parser/manifest.py:199-221): per-phase parse
    timings + node counts, so parse regressions are observable without
    an external stopwatch (bench.py measures the same path externally;
    this is the in-band record)."""
    doc = {
        "metadata": {
            "generated_at": _dt.datetime.now(_dt.timezone.utc).isoformat(),
            "invocation_id": _invocation_id(),
            "dbt_schema_version":
                "https://schemas.getdbt.com/dbt/perf-info/v1.json",
        },
        **(manifest.perf_info or {}),
    }
    target = os.path.join(project_root, "target")
    os.makedirs(target, exist_ok=True)
    path = os.path.join(target, "perf_info.json")
    with open(path, "w") as f:
        json.dump(doc, f, indent=2)
    return path


def write_run_results(results: "RunResults", path: str, elapsed: float | None = None) -> str:
    """run_results.json analog (ref: artifacts/schemas/run/): per node
    the status, dbt's ``timing`` (compile/execute) and, as
    ``adapter_response``, the node's Spark work (audit.SparkWork)."""
    doc = {
        "metadata": {
            "generated_at": _dt.datetime.now(_dt.timezone.utc).isoformat(),
            "invocation_id": _invocation_id(),
            "dbt_schema_version": "https://schemas.getdbt.com/dbt/run-results/v5.json",
            "adapter_type": "spark",
        },
        "elapsed_time": elapsed if elapsed is not None else results.elapsed,
        "results": [
            {
                "unique_id": r.unique_id,
                "status": r.status,
                "execution_time": r.execution_time,
                "message": r.message,
                "relation_name": r.relation,
                "failures": r.failures,
                "batch_results": r.batch_results,
                "timing": r.timing,
                "adapter_response": r.adapter_response,
            }
            for r in results.results
        ],
    }
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, default=str)
    return path


def write_manifest(engine: "Engine", path: str) -> str:
    """manifest.json analog (ref: artifacts/schemas/manifest/)."""
    m = engine.manifest
    doc = {
        "metadata": {
            "project_name": m.project_name,
            "dbt_schema_version": "https://schemas.getdbt.com/dbt/manifest/v12.json",
            "adapter_type": "spark",
        },
        "nodes": {
            uid: {
                "name": n.name,
                "alias": n.alias,
                "resource_type": n.resource_type.value,
                "package_name": n.package,
                "raw_code": n.raw_code,
                "compiled_code": n.compiled_code,
                "relation_name": n.relation_name,
                "config": {k: v for k, v in n.config.items() if v not in (None, [], {})},
                "depends_on": {"nodes": n.depends_on},
                "checksum": n.checksum,
                "columns": {
                    cname: {
                        "data_type": c.data_type,
                        "constraints": c.constraints,
                    }
                    for cname, c in (n.columns or {}).items()
                },
            }
            for uid, n in m.nodes.items()
        },
        # {macro_name: md5} — enough for state:modified.macros to detect
        # changed definitions without shipping macro sources
        "macros": {
            name: hashlib.md5(src.encode()).hexdigest()
            for name, src in m.macros.items()
        },
        "sources": {
            uid: {
                "name": s.name,
                "source_name": s.source_name,
                "external_location": s.external_location,
                "loaded_at_field": s.loaded_at_field,
            }
            for uid, s in m.sources.items()
        },
        "exposures": m.exposures,
        "metrics": m.metrics,
        "parent_map": {uid: n.depends_on for uid, n in m.nodes.items()},
        "child_map": _child_map(m),
    }
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, default=str)
    return path


def load_run_results(path: str):
    """Read a written run_results.json back into a RunResults —
    `dbt retry` across processes (ref: task/retry.py reads the same
    artifact).  ``path`` may be the file or its directory."""
    from dbt_core_spark.run.runner import NodeResult, RunResults

    if os.path.isdir(path):
        path = os.path.join(path, "run_results.json")
    with open(path) as f:
        doc = json.load(f)
    out = RunResults()
    for r in doc.get("results", []):
        out.results.append(NodeResult(
            unique_id=r.get("unique_id", ""),
            status=r.get("status", "error"),
            execution_time=r.get("execution_time") or 0.0,
            message=r.get("message") or "",
            relation=r.get("relation_name"),
            failures=r.get("failures"),
            batch_results=r.get("batch_results"),
            timing=r.get("timing") or [],
            adapter_response=r.get("adapter_response") or {},
        ))
    return out


def load_state_manifest(path: str):
    """Read a written ``manifest.json`` back into a Manifest for
    ``--state``-style comparison/defer (ref: state manifest loading,
    ``task/retry.py`` + ``selector_methods.py:610-790``).  ``path`` may
    be the file itself or a directory containing it."""
    from dbt_core_spark.plans.nodes import Manifest, Node, NodeType

    if os.path.isdir(path):
        path = os.path.join(path, "manifest.json")
    with open(path) as f:
        doc = json.load(f)
    from dbt_core_spark.plans.nodes import ColumnInfo

    m = Manifest(project_name=doc.get("metadata", {}).get("project_name", "state"))
    for uid, nd in doc.get("nodes", {}).items():
        rtype = uid.split(".", 1)[0]
        node = Node(
            unique_id=uid,
            name=nd.get("name", uid),
            package=nd.get("package_name", m.project_name),
            resource_type=NodeType(nd.get("resource_type", rtype)),
            raw_code=nd.get("raw_code") or "",
            alias=nd.get("alias"),
            config=dict(nd.get("config") or {}),
        )
        node.compiled_code = nd.get("compiled_code")
        node.relation_name = nd.get("relation_name")
        node.depends_on = list((nd.get("depends_on") or {}).get("nodes", []))
        node.columns = {
            cname: ColumnInfo(
                name=cname,
                data_type=cd.get("data_type"),
                constraints=list(cd.get("constraints") or []),
            )
            for cname, cd in (nd.get("columns") or {}).items()
        }
        m.add_node(node)
    m.macro_checksums = dict(doc.get("macros") or {})
    return m


def write_sources(freshness: dict, path: str) -> str:
    """sources.json analog (ref: artifacts/schemas/freshness/) — feeds
    the ``source_status:fresher+`` selector."""
    doc = {
        "metadata": {
            "generated_at": _dt.datetime.now(_dt.timezone.utc).isoformat(),
            "invocation_id": _invocation_id(),
            "dbt_schema_version": "https://schemas.getdbt.com/dbt/sources/v3.json",
        },
        "results": [
            {
                "unique_id": uid,
                "status": fr.status,
                "max_loaded_at": fr.max_loaded_at.isoformat() if fr.max_loaded_at else None,
                "age": fr.age_seconds,
            }
            for uid, fr in freshness.items()
        ],
    }
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, default=str)
    return path


def load_sources(path: str) -> dict[str, str]:
    """Read sources.json → {source unique_id: max_loaded_at iso}."""
    if os.path.isdir(path):
        path = os.path.join(path, "sources.json")
    with open(path) as f:
        doc = json.load(f)
    return {
        r["unique_id"]: r.get("max_loaded_at")
        for r in doc.get("results", [])
    }


def _child_map(m) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {uid: [] for uid in list(m.nodes) + list(m.sources)}
    for uid, n in m.nodes.items():
        for dep in n.depends_on:
            out.setdefault(dep, []).append(uid)
    return {k: sorted(v) for k, v in out.items()}


def write_catalog(engine: "Engine", path: str) -> str:
    """catalog.json analog (ref: task/docs/generate.py)."""
    doc = engine.docs_generate()
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, default=str)
    return path
