"""Grants: post-materialization GRANT/REVOKE management.

Mirrors dbt's ``grants`` config (ref: NodeConfig.grants,
core/dbt/artifacts/resources/v1/config.py:113 with
MergeBehavior.DictKeyAppend; merge semantics pinned by
tests/functional/configs/test_grant_configs.py; runtime diff-and-apply
semantics by the dbt-adapters base ``apply_grants`` macro family).

Config shape: ``{privilege: [grantee, ...]}``.  Across config layers
(project defaults < schema yml < in-file ``config()``) a key written
``+privilege`` APPENDS its grantees to the inherited list; a bare key
CLOBBERS it.  String values coerce to one-element lists.

Runtime: Spark only executes ``GRANT``/``REVOKE`` when the catalog has
an ACL layer (e.g. Ranger-governed deployments); OSS local catalogs
reject the syntax at parse time.  The apply step therefore
probes once per session: with ACL support it issues the diffed
GRANT/REVOKE statements; without, it records the desired grants as the
``dbt.grants`` table property (metastore-persisted, exposed through
docs/catalog output) and warns once per process.  Either way the
current state is tracked in the table property, so a config change
revokes exactly the grantees that disappeared — the reference's
diff-based behavior, not grant-only drift.
"""

from __future__ import annotations

import json
import logging
import re
import threading
from typing import Optional

from pyspark.sql import SparkSession

from dbt_core_spark.operators.relations import table_property

logger = logging.getLogger(__name__)

GRANTS_TBLPROP = "dbt.grants"

_PRIV_RE = re.compile(r"^[A-Za-z][A-Za-z0-9_ ]*$")

_acl_probe: dict[str, bool] = {}
_acl_lock = threading.Lock()
_warned_no_acl = False


def _coerce(v) -> list[str]:
    if v is None:
        return []
    if isinstance(v, str):
        return [v]
    return [str(x) for x in v]


def merge_grant_layers(lower: Optional[dict], upper: Optional[dict]) -> dict:
    """Merge one config layer's raw grants onto an inherited layer
    (both may carry ``+`` append markers).  The result preserves a
    key's ``+`` marker only while every layer touching it appended —
    so a later clobber still clobbers what THIS result is merged onto.
    """
    out = {k: _coerce(v) for k, v in (lower or {}).items()}
    for k, v in (upper or {}).items():
        vals = _coerce(v)
        base = k.lstrip("+")
        if k.startswith("+"):
            if "+" + base in out:
                cur = out["+" + base]
                out["+" + base] = cur + [g for g in vals if g not in cur]
            elif base in out:
                cur = out[base]
                out[base] = cur + [g for g in vals if g not in cur]
            else:
                out["+" + base] = vals
        else:
            out.pop("+" + base, None)
            out[base] = vals
    return out


def normalize_grants(raw: Optional[dict]) -> dict:
    """Strip append markers and coerce values — the final
    ``{privilege: [grantees]}`` form stored on the node config."""
    out: dict[str, list[str]] = {}
    for k, v in (raw or {}).items():
        base = k.lstrip("+")
        vals = _coerce(v)
        cur = out.get(base, [])
        out[base] = cur + [g for g in vals if g not in cur]
    return out


def diff_grants(current: dict, desired: dict) -> tuple[dict, dict]:
    """-> (to_grant, to_revoke), each ``{privilege: [grantees]}`` —
    the adapter-standard diff so unchanged grants are never re-issued
    and removed grantees are revoked."""
    to_grant: dict[str, list[str]] = {}
    to_revoke: dict[str, list[str]] = {}
    for priv, want in desired.items():
        add = [g for g in want if g not in current.get(priv, [])]
        if add:
            to_grant[priv] = add
    for priv, have in current.items():
        rm = [g for g in have if g not in desired.get(priv, [])]
        if rm:
            to_revoke[priv] = rm
    return to_grant, to_revoke


def _acl_supported(spark: SparkSession) -> bool:
    """Probe (once per Spark app) whether the catalog parses GRANT at
    all: OSS Spark rejects the syntax (ParseException); an ACL-enabled
    catalog fails later (unknown table / principal), which still proves
    the verb exists."""
    key = spark.sparkContext.applicationId
    with _acl_lock:
        if key not in _acl_probe:
            try:
                spark.sql(
                    "GRANT SELECT ON TABLE __dbt_grants_probe__ TO `__dbt_probe__`"
                )
                _acl_probe[key] = True
            except Exception as e:
                name = type(e).__name__.lower()
                _acl_probe[key] = "parse" not in name and "syntax" not in str(e).lower()
        return _acl_probe[key]


def current_grants(spark: SparkSession, rel: str) -> dict:
    """Grant state recorded on the relation (``dbt.grants`` property)."""
    raw = table_property(spark, rel, GRANTS_TBLPROP)
    if raw is None:
        return {}
    return {k: _coerce(v) for k, v in json.loads(raw).items()}


def _ident(name: str) -> str:
    return "`" + str(name).replace("`", "``") + "`"


def apply_grants(
    spark: SparkSession,
    rel: str,
    desired: Optional[dict],
    relation_kind: str = "table",
) -> dict:
    """Diff-and-apply the node's grants config against the relation's
    recorded state.  Returns ``{"granted": .., "revoked": .., "via":
    "catalog"|"recorded"}`` for logging/artifacts.

    A node with NO grants config is a no-op (the reference leaves
    existing grants alone unless the config key is present)."""
    global _warned_no_acl
    if desired is None:
        return {"granted": {}, "revoked": {}, "via": "noop"}
    desired = normalize_grants(desired)
    current = current_grants(spark, rel)
    to_grant, to_revoke = diff_grants(current, desired)

    via = "recorded"
    if _acl_supported(spark):
        via = "catalog"
        for priv, gs in to_revoke.items():
            if not _PRIV_RE.match(priv):
                raise ValueError(f"invalid privilege name: {priv!r}")
            for g in gs:
                spark.sql(f"REVOKE {priv} ON TABLE {rel} FROM {_ident(g)}")
        for priv, gs in to_grant.items():
            if not _PRIV_RE.match(priv):
                raise ValueError(f"invalid privilege name: {priv!r}")
            for g in gs:
                spark.sql(f"GRANT {priv} ON TABLE {rel} TO {_ident(g)}")
    elif (to_grant or to_revoke) and not _warned_no_acl:
        _warned_no_acl = True
        logger.warning(
            "catalog has no ACL support (GRANT/REVOKE not parsed); grants "
            "are recorded as the '%s' table property and surfaced in the "
            "catalog artifact, not enforced", GRANTS_TBLPROP,
        )

    if to_grant or to_revoke or (desired and not current):
        val = json.dumps(desired, sort_keys=True).replace("\\", "\\\\").replace("'", "\\'")
        kind = "VIEW" if relation_kind == "view" else "TABLE"
        spark.sql(
            f"ALTER {kind} {rel} SET TBLPROPERTIES ('{GRANTS_TBLPROP}' = '{val}')"
        )
    return {"granted": to_grant, "revoked": to_revoke, "via": via}
