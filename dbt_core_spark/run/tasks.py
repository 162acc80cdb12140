"""Secondary task verbs: clone, retry, run-operation, state comparison.

- clone (ref: task/clone.py:19-165): copy relations from another schema
  (the "state" build) into the target schema — zero-copy clone where the
  format supports it (Delta SHALLOW CLONE); CTAS fallback here.
- retry (ref: task/retry.py:1-174): re-run only errored/skipped nodes of
  a previous RunResults.
- run-operation (ref: task/run_operation.py): invoke a named macro.
- state:modified (ref: StateSelectorMethod selector_methods.py:610-790):
  select nodes whose raw_code/config changed vs a previous manifest.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Optional

from dbt_core_spark.functions.context import RenderContext, render
from dbt_core_spark.plans.nodes import Manifest, Node, NodeType

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import SparkSession

    from dbt_core_spark.run.runner import RunResults


def clone_relations(
    spark: "SparkSession",
    manifest: Manifest,
    state_schema: str,
    target_schema: str,
    select_names: Optional[set[str]] = None,
) -> dict[str, str]:
    """Clone each refable node's relation from state_schema into
    target_schema (CTAS; swap for `CREATE TABLE ... SHALLOW CLONE` on
    Delta).  Views are re-pointed, not copied."""
    from dbt_core_spark.operators import relations as R

    R.ensure_database(spark, target_schema)
    cloned: dict[str, str] = {}
    for node in manifest.nodes.values():
        if not node.is_refable or node.is_ephemeral:
            continue
        if select_names is not None and node.name not in select_names:
            continue
        src = f"{state_schema}.{node.identifier}"
        dst = f"{target_schema}.{node.identifier}"
        rtype = R.relation_type(spark, src)
        if rtype is None:
            continue
        if rtype == "view":
            R.create_view(spark, dst, f"select * from {src}")
        else:
            R.drop_relation(spark, dst)
            spark.sql(f"create table {dst} using parquet as select * from {src}")
        cloned[node.unique_id] = dst
    return cloned


def run_operation(
    spark: "SparkSession",
    manifest: Manifest,
    macro_name: str,
    args: Optional[dict] = None,
) -> object:
    """Invoke a project macro by name with kwargs; returns its output
    (ref: task/run_operation.py)."""
    node = Node(
        unique_id=f"operation.{manifest.project_name}.{macro_name}",
        name=macro_name, package=manifest.project_name,
        resource_type=NodeType.Operation,
    )
    args_sql = ", ".join(f"{k}={v!r}" for k, v in (args or {}).items())
    template = f"{{{{ {macro_name}({args_sql}) }}}}"
    ctx = RenderContext(manifest, node, mode="runtime", spark=spark)
    return render(template, ctx)


def _cfg_sig(n) -> dict:
    """Config compare drops empty values on both sides: a state manifest
    round-tripped through manifest.json omits them (write_manifest
    filters None/[]/{}), and they are not semantic changes."""
    return {
        k: v for k, v in n.config.items()
        if k != "enabled" and v not in (None, [], {})
    }


def _contract_sig(n) -> tuple:
    """Contract signature: enforced flag + per-column declared types and
    constraints (ref: same_contract nodes.py:577-650; build_contract_checksum)."""
    contract = n.config.get("contract") or {}
    cols = tuple(
        sorted(
            (name, c.data_type, tuple(sorted(map(str, c.constraints or []))))
            for name, c in (n.columns or {}).items()
        )
    )
    return (bool(isinstance(contract, dict) and contract.get("enforced")), cols)


def _relation_sig(n) -> tuple:
    """Target relation identity: custom database/schema config + identifier
    (ref: RelationalNode same_database_representation)."""
    return (n.config.get("database"), n.config.get("schema"), n.identifier)


def changed_macro_names(current: Manifest, state: Manifest) -> set[str]:
    """Macro names whose definition changed between manifests, closed
    transitively over macro→macro calls in the CURRENT sources
    (ref: check_modified_macros selector_methods.py:704-760 walks the
    node's macro dependency graph; we rebuild it from source text)."""
    import hashlib as _h

    cur = {name: _h.md5(src.encode()).hexdigest() for name, src in current.macros.items()}
    old = dict(getattr(state, "macro_checksums", None) or {})
    if not old:
        old = {name: _h.md5(src.encode()).hexdigest() for name, src in state.macros.items()}
    changed = {n for n in set(cur) | set(old) if cur.get(n) != old.get(n)}
    # transitive: a macro whose body calls a changed macro is changed too
    while True:
        grew = {
            name for name, src in current.macros.items()
            if name not in changed and any(m in src for m in changed)
        }
        if not grew:
            return changed
        changed |= grew


def state_selection(current: Manifest, state: Manifest, value: str) -> set[str]:
    """``state:<value>`` selection vs a previous manifest.

    Values (ref: StateSelectorMethod selector_methods.py:610-790):
    ``new`` / ``old`` / ``unmodified`` / ``modified`` and the submethods
    ``modified.body`` (checksum), ``modified.configs``,
    ``modified.contract``, ``modified.relation``, ``modified.macros``.
    Every submethod also selects brand-new nodes, like the reference
    (a missing old node compares unequal on all dimensions)."""
    checks = {
        "body": lambda n, o: n.checksum != o.checksum,
        "configs": lambda n, o: _cfg_sig(n) != _cfg_sig(o),
        "contract": lambda n, o: _contract_sig(n) != _contract_sig(o),
        "relation": lambda n, o: _relation_sig(n) != _relation_sig(o),
    }
    if value == "new":
        return {uid for uid in current.nodes if uid not in state.nodes}
    if value == "old":
        return {uid for uid in current.nodes if uid in state.nodes}
    if value in ("modified", "unmodified") or value.startswith("modified."):
        sub = value.partition(".")[2] if "." in value else None
        macro_changed = (
            changed_macro_names(current, state)
            if sub in (None, "macros") else set()
        )

        def _macro_dep(n) -> bool:
            return any(m in (n.raw_code or "") for m in macro_changed)

        out: set[str] = set()
        for uid, node in current.nodes.items():
            old = state.nodes.get(uid)
            if old is None:
                out.add(uid)
                continue
            if sub == "macros":
                if _macro_dep(node):
                    out.add(uid)
            elif sub:
                if checks[sub](node, old):
                    out.add(uid)
            else:
                if (
                    any(c(node, old) for c in checks.values())
                    or _macro_dep(node)
                ):
                    out.add(uid)
        if value == "unmodified":
            return set(current.nodes) - out
        return out
    raise ValueError(f"unknown state selector 'state:{value}'")


def modified_nodes(current: Manifest, state: Manifest) -> set[str]:
    """unique_ids in `current` that are new or changed vs `state`
    (ref: state:modified selector_methods.py:610-790)."""
    return state_selection(current, state, "modified")


def retry_selection(previous: "RunResults") -> set[str]:
    """unique_ids that errored/failed/skipped last run (ref: task/retry.py)."""
    return {
        r.unique_id
        for r in previous.results
        if r.status in ("error", "fail", "skipped")
    }
