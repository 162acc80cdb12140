"""DAG construction, scheduling queue, and node selection.

- Linker (ref: core/dbt/compilation.py:120-272 — link_graph :176,
  find_cycles :132, add_test_edges :197-249)
- GraphQueue (ref: core/dbt/graph/queue.py:19-214 — in-degree ready
  queue over the linked graph, depth-score priority :97-119,
  mark_done :176)
- Node selection (ref: core/dbt/graph/selector_spec.py:15-22 spec
  grammar; selector_methods.py:45-66; graph expansion graph.py:29-102;
  union/intersection cli.py:27-151)
"""

from __future__ import annotations

import heapq
import re
import threading
from typing import Optional

import networkx as nx

from dbt_core_spark.exceptions import DagCycleError
from dbt_core_spark.plans.nodes import Manifest, NodeType


class Linker:
    """Build the networkx DiGraph from depends_on edges."""

    def link_graph(self, manifest: Manifest) -> nx.DiGraph:
        g = nx.DiGraph()
        for uid in manifest.all_nodes():
            g.add_node(uid)
        for uid, node in manifest.nodes.items():
            for dep in node.depends_on:
                g.add_edge(dep, uid)
        cycles = self.find_cycles(g)
        if cycles:
            raise DagCycleError(f"Found a cycle: {cycles}")
        return g

    @staticmethod
    def find_cycles(g: nx.DiGraph) -> Optional[list]:
        try:
            return nx.find_cycle(g)
        except nx.NetworkXNoCycle:
            return None

    @staticmethod
    def add_test_edges(manifest: Manifest, g: nx.DiGraph) -> None:
        """`dbt build` semantics: downstream models wait on upstream tests
        (ref: compilation.py:197-249)."""
        for uid, node in manifest.nodes.items():
            if node.resource_type is NodeType.UnitTest:
                # unit tests gate THEIR model: it builds only after the
                # unit test passes (ref: dbt build unit-test ordering)
                target = None
                for cand, n2 in manifest.nodes.items():
                    if n2.resource_type is NodeType.Model and \
                            n2.name == node.attached_node:
                        target = cand
                        break
                if target is not None:
                    g.add_edge(uid, target)
                continue
            if node.resource_type is not NodeType.Test:
                continue
            for parent in node.depends_on:
                for child in list(g.successors(parent)):
                    if child != uid and manifest.nodes.get(child) is not None:
                        if manifest.nodes[child].resource_type is not NodeType.Test:
                            g.add_edge(uid, child)
        cycles = Linker.find_cycles(g)
        if cycles:  # pragma: no cover — test edges can't create cycles
            raise DagCycleError(f"test edges created a cycle: {cycles}")


class GraphQueue:
    """Thread-safe ready queue over the linked DAG (ref: graph/queue.py).

    Each node of ``graph`` keeps a count of its unfinished parents;
    ``mark_done`` decrements its children's counts.  Ready ``include``d
    nodes wait in a heap and pop highest ``(score, uid)`` first, where
    ``score`` counts the included nodes on the longest chain to a sink,
    so deep chains start early (ref: :97-119).  A node outside
    ``include`` (source, ephemeral, unselected node) is completed inside
    the queue as soon as it is ready: ordering still flows through it,
    and no worker receives it.  ``include=None`` includes every node."""

    def __init__(self, graph: nx.DiGraph, include: Optional[set[str]] = None):
        self.graph = graph
        self._include = set(graph) if include is None else set(include)
        scores: dict[str, int] = {}
        for uid in reversed(list(nx.topological_sort(graph))):
            scores[uid] = (uid in self._include) + max(
                (scores[c] for c in graph.successors(uid)), default=0)
        by_priority = sorted(self._include, key=lambda u: (scores[u], u),
                             reverse=True)
        self._rank = {uid: i for i, uid in enumerate(by_priority)}
        self._pending = dict(graph.in_degree())
        self._ready: list[tuple[int, str]] = []
        self._in_progress = 0
        self._lock = threading.Condition()
        roots = [uid for uid, n in self._pending.items() if n == 0]
        for uid in roots:
            if uid in self._include:
                heapq.heappush(self._ready, (self._rank[uid], uid))
        self._finish([uid for uid in roots if uid not in self._include])

    def _finish(self, done: list[str]) -> None:
        """Release the children of the ``done`` nodes, completing the
        excluded ones that become ready in turn."""
        while done:
            for child in self.graph.successors(done.pop()):
                self._pending[child] -= 1
                if self._pending[child]:
                    continue
                if child in self._include:
                    heapq.heappush(self._ready, (self._rank[child], child))
                else:
                    done.append(child)

    def get(self) -> Optional[str]:
        """Pop the highest-priority ready node; None when exhausted."""
        with self._lock:
            while not self._ready:
                if not self._in_progress:
                    return None
                self._lock.wait()
            self._in_progress += 1
            return heapq.heappop(self._ready)[1]

    def mark_done(self, uid: str) -> None:
        with self._lock:
            self._in_progress -= 1
            self._finish([uid])
            self._lock.notify_all()


_SPEC_RE = re.compile(
    r"^(?P<childs_parents>\@)?(?P<parents>(?P<parents_depth>\d*)\+)?"
    r"(?P<method>[\w.]+:)?(?P<value>[^+]+?)(?P<children>\+(?P<children_depth>\d*))?$"
)


def expand_indirect_tests(
    manifest: Manifest,
    graph: nx.DiGraph,
    selected: set[str],
    mode: str = "eager",
) -> set[str]:
    """Indirect test selection: which NOT-directly-selected tests ride
    along with the selected nodes (ref: graph/selector.py
    expand_selection / indirect_selection modes, flags
    INDIRECT_SELECTION; tests/functional/schema_tests/).

    - ``eager``     (default): any parent selected
    - ``cautious``: ALL parents selected
    - ``buildable``: all parents selected OR ancestors of selected
    - ``empty``:     no indirect tests (only tests named directly)

    Returns the extra test unique_ids to add to the selection.
    """
    if mode == "empty" or not selected:
        return set()
    if mode not in ("eager", "cautious", "buildable"):
        raise ValueError(f"unknown indirect_selection mode: {mode!r}")
    buildable_base: Optional[set[str]] = None
    extra: set[str] = set()
    for uid, node in manifest.nodes.items():
        if uid in selected or node.resource_type not in (
                NodeType.Test, NodeType.UnitTest):
            continue
        if node.resource_type is NodeType.UnitTest:
            # a unit test rides along when its tested model is selected
            # (single logical parent — same answer in every mode)
            parents = {
                cand for cand, n2 in manifest.nodes.items()
                if n2.resource_type is NodeType.Model
                and n2.name == node.attached_node
            }
        else:
            parents = {p for p in node.depends_on if p in manifest.nodes
                       or p in manifest.sources}
        if not parents:
            continue
        if mode == "eager":
            if parents & selected:
                extra.add(uid)
        elif mode == "cautious":
            if parents <= selected:
                extra.add(uid)
        else:  # buildable
            if buildable_base is None:
                buildable_base = set(selected)
                for s in selected:
                    if graph.has_node(s):
                        buildable_base |= nx.ancestors(graph, s)
            if parents <= buildable_base:
                extra.add(uid)
    return extra


def select_nodes(
    manifest: Manifest, graph: nx.DiGraph, select
) -> Optional[set[str]]:
    """dbt selection syntax subset: ``[@][N+]method:value[+N]``, space=union,
    comma=intersection.  Methods: name/fqn (default), tag, resource_type,
    path, source (ref: selector_spec.py:15-22, selector_methods.py).
    A pre-resolved set of unique_ids (from a YAML selector) passes
    through unchanged."""
    if select is None or select == "":
        return None
    if isinstance(select, (set, frozenset)):
        return set(select)
    union: set[str] = set()
    for clause in select.split():
        parts = clause.split(",")
        sets = [_select_one(manifest, graph, p) for p in parts]
        inter = set.intersection(*sets) if sets else set()
        union |= inter
    return union


def resolve_selector(manifest: Manifest, graph: nx.DiGraph, definition) -> set[str]:
    """YAML selector definition → unique_ids (ref: selectors.yml,
    ``graph/cli.py:27-151`` set ops + `selector_spec` dict form).

    Accepts the reference's three shapes: a plain selection string, a
    method dict (``{method, value, parents/children[, *_depth]}``), and
    ``union:`` / ``intersection:`` lists whose items may include an
    ``{exclude: [...]}`` entry subtracted from the accumulated set."""
    if isinstance(definition, str):
        return select_nodes(manifest, graph, definition) or set()
    if isinstance(definition, dict):
        if "union" in definition or "intersection" in definition:
            key = "union" if "union" in definition else "intersection"
            acc: Optional[set[str]] = None
            excl: set[str] = set()
            for item in definition[key]:
                if isinstance(item, dict) and "exclude" in item:
                    # excludes subtract from the FINAL combined set,
                    # regardless of position (ref: graph/cli.py set ops)
                    for e in item["exclude"]:
                        excl |= resolve_selector(manifest, graph, e)
                    continue
                s = resolve_selector(manifest, graph, item)
                if acc is None:
                    acc = s
                elif key == "union":
                    acc |= s
                else:
                    acc &= s
            return (acc or set()) - excl
        if "method" in definition:
            spec = f"{definition['method']}:{definition['value']}"
            if definition.get("parents"):
                spec = f"{definition.get('parents_depth', '') or ''}+{spec}"
            if definition.get("children"):
                spec = f"{spec}+{definition.get('children_depth', '') or ''}"
            if definition.get("childrens_parents"):
                spec = f"@{spec}"
            return select_nodes(manifest, graph, spec) or set()
        if "exclude" in definition:  # bare top-level exclude: everything minus
            excl = set()
            for e in definition["exclude"]:
                excl |= resolve_selector(manifest, graph, e)
            return set(manifest.nodes) - excl
    raise ValueError(f"unsupported selector definition: {definition!r}")


def _select_one(manifest: Manifest, graph: nx.DiGraph, spec: str) -> set[str]:
    m = _SPEC_RE.match(spec.strip())
    if not m:
        return set()
    method = (m.group("method") or "fqn:").rstrip(":")
    value = m.group("value")
    base = _method_match(manifest, method, value)
    out = set(base)
    if m.group("childs_parents"):  # @node: node + descendants + their ancestors
        desc = set()
        for uid in base:
            desc |= nx.descendants(graph, uid)
        for uid in base | desc:
            out |= nx.ancestors(graph, uid)
        out |= desc
    if m.group("parents"):
        depth = int(m.group("parents_depth") or 0) or None
        for uid in base:
            anc = (
                nx.ancestors(graph, uid)
                if depth is None
                else {v for v, d in nx.single_source_shortest_path_length(
                    graph.reverse(), uid, cutoff=depth).items() if d > 0}
            )
            out |= anc
    if m.group("children"):
        depth = int(m.group("children_depth") or 0) or None
        for uid in base:
            desc = (
                nx.descendants(graph, uid)
                if depth is None
                else {v for v, d in nx.single_source_shortest_path_length(
                    graph, uid, cutoff=depth).items() if d > 0}
            )
            out |= desc
    return out


def _fnmatch(name: str, pat: str) -> bool:
    import fnmatch

    return fnmatch.fnmatch(name, pat)


def _method_match(manifest: Manifest, method: str, value: str) -> set[str]:
    nodes = manifest.all_nodes()
    if method in ("fqn", "name"):
        return {uid for uid, n in nodes.items() if _fnmatch(n.name, value)}
    if method == "tag":
        return {
            uid for uid, n in nodes.items() if value in (n.config.get("tags") or [])
        }
    if method == "resource_type":
        return {uid for uid, n in nodes.items() if n.resource_type.value == value}
    if method == "source":
        return {
            uid
            for uid, n in manifest.sources.items()
            if _fnmatch(f"{n.source_name}.{n.name}", value) or _fnmatch(n.source_name or "", value)
        }
    if method == "path":
        return {uid for uid, n in nodes.items() if _fnmatch(n.path, value)}
    if method == "file":
        # ref: FileSelectorMethod — match on the file basename (with or
        # without extension)
        def _fmatch(n) -> bool:
            base = (n.path or "").rsplit("/", 1)[-1]
            stem = base.rsplit(".", 1)[0] if "." in base else base
            return _fnmatch(base, value) or _fnmatch(stem, value)

        return {uid for uid, n in nodes.items() if _fmatch(n)}
    if method.startswith("config."):
        # generic config.<key>:<value> (ref: ConfigSelectorMethod
        # selector_methods.py — any config key; list configs match on
        # containment, like tags)
        key = method[len("config."):]
        def _cmatch(n) -> bool:
            got = n.config.get(key)
            if isinstance(got, list):
                return value in [str(x) for x in got]
            return got is not None and str(got) == value

        return {uid for uid, n in nodes.items() if _cmatch(n)}
    if method == "package":
        return {uid for uid, n in nodes.items() if _fnmatch(n.package, value)}
    if method == "test_type":
        # ref: TestTypeSelectorMethod — 'unit' matches unit-test nodes
        return {
            uid for uid, n in nodes.items()
            if n.resource_type in (NodeType.Test, NodeType.UnitTest)
            and n.test_metadata.get("kind") == value
        }
    if method == "unit_test":
        # ref: UnitTestSelectorMethod selector_methods.py
        return {
            uid for uid, n in nodes.items()
            if n.resource_type is NodeType.UnitTest and _fnmatch(n.name, value)
        }
    if method == "test_name":
        return {
            uid for uid, n in nodes.items()
            if n.test_metadata.get("name") == value
        }
    if method == "exposure":
        # ref: ExposureSelectorMethod — exposures are graph terminals;
        # `+exposure:name` walks to their upstream models
        return {
            uid for uid, n in nodes.items()
            if n.resource_type is NodeType.Exposure and _fnmatch(n.name, value)
        }
    if method == "metric":
        # ref: MetricSelectorMethod selector_methods.py — metric nodes
        # are graph terminals like exposures; `+metric:name` selects the
        # models the metric reads
        return {
            uid for uid, n in nodes.items()
            if n.resource_type is NodeType.Metric and _fnmatch(n.name, value)
        }
    if method == "semantic_model":
        # ref: SemanticModelSelectorMethod selector_methods.py:380 —
        # `+semantic_model:name` walks to the model it reads
        return {
            uid for uid, n in nodes.items()
            if n.resource_type is NodeType.SemanticModel
            and _fnmatch(n.name, value)
        }
    if method == "saved_query":
        # ref: SavedQuerySelectorMethod selector_methods.py:405 —
        # saved queries sit above metrics; `+saved_query:name` pulls the
        # metrics (and transitively their models) it packages
        return {
            uid for uid, n in nodes.items()
            if n.resource_type is NodeType.SavedQuery
            and _fnmatch(n.name, value)
        }
    if method == "state":
        # ref: StateSelectorMethod selector_methods.py:610-790
        state_m = manifest.state_manifest
        if state_m is None:
            raise ValueError(
                "state: selector requires a previous state "
                "(Engine.set_state(...) / --state)"
            )
        from dbt_core_spark.run.tasks import state_selection

        return state_selection(manifest, state_m, value)
    if method == "result":
        # ref: ResultSelectorMethod selector_methods.py:811 — statuses of
        # the previous invocation (run_results.json)
        if not manifest.previous_results:
            raise ValueError(
                "result: selector requires previous run results "
                "(Engine.set_state(..., results=...))"
            )
        return {
            uid for uid, st in manifest.previous_results.items()
            if st == value and uid in nodes
        }
    if method == "source_status":
        # ref: SourceStatusSelectorMethod selector_methods.py:823 —
        # sources whose max_loaded_at advanced vs the previous
        # sources.json artifact ('fresher')
        if value != "fresher":
            raise ValueError("source_status: only supports 'fresher'")
        cur = manifest.current_source_status
        prev = manifest.previous_source_status
        if not cur:
            raise ValueError(
                "source_status: selector requires freshness results "
                "(Engine.set_state(..., sources=...) after source_freshness())"
            )
        return {
            uid for uid, ts in cur.items()
            if uid in manifest.sources
            and ts is not None
            and (prev.get(uid) is None or str(ts) > str(prev[uid]))
        }
    if method == "version":
        # ref: VersionSelectorMethod selector_methods.py:877
        def _vmatch(n) -> bool:
            if value == "none":
                return n.resource_type is NodeType.Model and n.version is None
            if n.version is None:
                return False
            if value == "latest":
                return n.is_latest_version
            if value == "old":
                return (n.version or 0) < (n.latest_version or 0)
            if value == "prerelease":
                return (n.version or 0) > (n.latest_version or 0)
            return False

        return {uid for uid, n in nodes.items() if _vmatch(n)}
    if method == "group":
        return {
            uid for uid, n in nodes.items()
            if (n.config.get("group") or "") == value
        }
    if method == "access":
        return {
            uid for uid, n in nodes.items()
            if (n.config.get("access") or "protected") == value
        }
    return set()
