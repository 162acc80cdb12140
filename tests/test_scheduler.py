"""GraphQueue scheduling pins: the in-degree ready queue (ref:
core/dbt/graph/queue.py) pops in depth-score order, drains a large DAG
in linear time, and orders included nodes through the nodes it
completes itself (ephemerals, sources, unselected models)."""

import itertools
import random
import threading
import time

import networkx as nx

from dbt_core_spark.plans.graph import GraphQueue


def _layered_dag(seed: int, layers: int, width: int, fan_in: int) -> nx.DiGraph:
    rng = random.Random(seed)
    g = nx.DiGraph()
    for k in range(layers):
        for i in range(width):
            uid = f"model.p.l{k}_{i:04d}"
            g.add_node(uid)
            if k:
                for j in rng.sample(range(width), fan_in):
                    g.add_edge(f"model.p.l{k - 1}_{j:04d}", uid)
    return g


def _every_7th_excluded(g: nx.DiGraph) -> set:
    return {uid for i, uid in enumerate(sorted(g)) if i % 7}


def _closure_order(g: nx.DiGraph, include: set) -> list:
    """Reference pop order of a one-thread run: the transitive closure
    over ``include``, scored by the longest chain to a sink, popping
    the ready node with the highest ``(score, uid)`` each time."""
    closure = nx.DiGraph()
    closure.add_nodes_from(include)
    for uid in include:
        closure.add_edges_from((a, uid) for a in nx.ancestors(g, uid) if a in include)
    score: dict = {}
    for uid in reversed(list(nx.topological_sort(closure))):
        score[uid] = 1 + max((score[s] for s in closure.successors(uid)), default=0)
    order: list = []
    done: set = set()
    while len(order) < len(include):
        ready = [u for u in closure if u not in done
                 and all(p in done for p in closure.predecessors(u))]
        order.append(max(ready, key=lambda u: (score[u], u)))
        done.add(order[-1])
    return order


def _drain(q: GraphQueue, threads: int) -> tuple[dict, dict]:
    """Drain ``q`` on ``threads`` workers; returns each node's pop tick
    and mark-done tick."""
    tick = itertools.count()
    got: dict = {}
    done: dict = {}

    def worker():
        while (uid := q.get()) is not None:
            got[uid] = next(tick)
            done[uid] = next(tick)
            q.mark_done(uid)

    pool = [threading.Thread(target=worker) for _ in range(threads)]
    for t in pool:
        t.start()
    for t in pool:
        t.join()
    return got, done


def _pop_order(g: nx.DiGraph, got: dict, done: dict) -> list:
    """The pop order, after checking that no node was popped before
    every popped ancestor had been marked done."""
    last_anc: dict = {}  # latest mark-done tick over each node's ancestors
    for uid in nx.topological_sort(g):
        last_anc[uid] = max((max(done.get(p, -1), last_anc[p])
                             for p in g.predecessors(uid)), default=-1)
        assert uid not in got or last_anc[uid] < got[uid], uid
    return sorted(got, key=got.get)


def test_one_thread_pops_in_closure_score_order():
    g = _layered_dag(seed=7, layers=6, width=40, fan_in=3)
    include = _every_7th_excluded(g)
    order = _pop_order(g, *_drain(GraphQueue(g, include), threads=1))
    assert order == _closure_order(g, include)
    # include=None schedules every node
    assert _pop_order(g, *_drain(GraphQueue(g), threads=1)) == _closure_order(g, set(g))


def test_2000_node_drain_is_fast():
    """2,000 models, 10 layers, fan-in 3; every 7th node is completed
    inside the queue.  The closure-graph queue took about 16 s here."""
    g = _layered_dag(seed=2000, layers=10, width=200, fan_in=3)
    include = _every_7th_excluded(g)
    t0 = time.perf_counter()
    got, done = _drain(GraphQueue(g, include), threads=4)
    elapsed = time.perf_counter() - t0
    assert sorted(_pop_order(g, got, done)) == sorted(include)
    assert elapsed < 2.0, elapsed


def test_order_and_skips_flow_through_unrun_nodes(spark, schema):
    """``a → ephemeral e → b`` and ``a → x → b`` with ``x`` unselected:
    ``b`` starts only after ``a`` finishes, and a failing ``a`` skips
    ``b`` though no run node links them directly."""
    from dbt_core_spark import Engine, ProjectDef

    p = ProjectDef(name="sched")
    p.models["a"] = (
        "{% if var('fail_a', false) %}select * from no_such_relation_sched"
        "{% else %}select 1 as id{% endif %}")
    p.models["e"] = ("{{ config(materialized='ephemeral') }}"
                     "select id from {{ ref('a') }}")
    p.models["x"] = "select id from {{ ref('a') }}"
    p.models["b"] = ("select e.id from {{ ref('e') }} e "
                     "join {{ ref('x') }} x on e.id = x.id")
    assert Engine(spark, p, schema=schema).run().ok()  # builds x

    events: list = []
    eng = Engine(spark, p, schema=schema, threads=4,
                 callbacks=[lambda ev: events.append(
                     (ev.name, ev.data.get("unique_id")))])
    res = eng.run(select="a b")
    assert res.ok() and set(res.by_id) == {"model.sched.a", "model.sched.b"}
    assert (events.index(("NodeFinished", "model.sched.a"))
            < events.index(("NodeStart", "model.sched.b")))

    res = Engine(spark, p, schema=schema, threads=4,
                 vars={"fail_a": True}).run(select="a b")
    assert res.by_id["model.sched.a"].status == "error"
    assert res.by_id["model.sched.b"].status == "skipped"
    assert res.by_id["model.sched.b"].message == "upstream failure"
