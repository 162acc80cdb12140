"""Execution-metric auditing: what Spark work a node or gate did.

``spark_work(spark)`` is the engine's one profile record.  It tags the
calling thread's jobs with a job group of its own, times the phases the
caller marks, and ``read_spark_work`` later fills in the jobs, stages,
tasks, shuffle-write bytes and input bytes of that group from the
status store.  The runner keeps one record per node (``timing`` and
``adapter_response`` in run_results.json), ``bench.py`` one per gate,
and the tests pin jobless paths with it.

``exchange_stats(df)`` walks the EXECUTED (post-AQE) physical plan of
a DataFrame whose action has already run and sums the real SQLMetrics
on every shuffle and broadcast exchange.  This turns the engine's
"minimize shuffles" design rule (SURVEY §4) into something a test can
pin: the bytes below are what actually crossed an exchange, i.e. what
becomes network traffic on a real cluster.  Used by
tests/test_shuffle_bounds.py (regression bounds on partial aggregation
and group-limit top-k).
"""

from __future__ import annotations

import datetime as _dt
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterable, Iterator

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

_GROUP = "spark.jobGroup.id"


def _utcnow() -> str:
    return _dt.datetime.now(_dt.timezone.utc).isoformat()


@dataclass
class SparkWork:
    """One node's or gate's profile record.

    ``timing`` is dbt's TimingInfo list (ref:
    core/dbt/artifacts/schemas/results.py): contiguous phases, each
    ``{name, started_at, completed_at}`` in UTC ISO form.  The counts
    stay 0 until ``read_spark_work`` fills them.  ``stages`` counts
    every stage of the group's jobs, skipped ones included, and
    ``tasks`` their task counts; the bytes are stage-level metrics, so
    jobs that run a localCheckpoint-sealed prefix count too."""

    group: str
    timing: list[dict] = field(default_factory=list)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0

    def __post_init__(self):
        self._at = _utcnow()

    def mark(self, phase: str) -> None:
        """End ``phase`` now.  A new phase starts where the previous one
        ended (or where the record opened); marking the current phase
        again extends it."""
        now = _utcnow()
        if self.timing and self.timing[-1]["name"] == phase:
            self.timing[-1]["completed_at"] = now
        else:
            self.timing.append({"name": phase, "started_at": self._at,
                                "completed_at": now})
        self._at = now

    def seconds(self, phase: str) -> float:
        t = next(t for t in self.timing if t["name"] == phase)
        return (_dt.datetime.fromisoformat(t["completed_at"])
                - _dt.datetime.fromisoformat(t["started_at"])).total_seconds()

    def adapter_response(self) -> dict[str, int]:
        return {"jobs": self.jobs, "stages": self.stages, "tasks": self.tasks,
                "shuffle_write_bytes": self.shuffle_write_bytes,
                "input_bytes": self.input_bytes}


@contextmanager
def spark_work(spark: SparkSession) -> Iterator[SparkWork]:
    """Tag the calling thread's Spark jobs with a new job group for the
    block and yield its record.  Only ``spark.jobGroup.id`` is set, and
    its previous value comes back on exit, so the job description (and
    whatever parses it) is untouched.  Local properties are per thread:
    jobs a block launches from threads of its own are not counted."""
    sc = spark.sparkContext
    work = SparkWork(f"dbt_core_spark-{uuid.uuid4().hex}")
    prev = sc.getLocalProperty(_GROUP)
    sc.setLocalProperty(_GROUP, work.group)
    try:
        yield work
    finally:
        sc.setLocalProperty(_GROUP, prev)


def read_spark_work(spark: SparkSession, works: Iterable[SparkWork]) -> None:
    """Fill each record's counts from the status store, once the
    listener bus has delivered every event posted so far (a job's end
    is posted before its action returns).  The store keeps the last
    ``spark.ui.retainedJobs``/``retainedStages``; evicted jobs and
    stages are not counted."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty()
    except Py4JJavaError:
        pass  # busy past its 10 s timeout: read what has arrived
    store = jsc.statusStore()
    tracker = sc._jsc.statusTracker()
    for w in works:
        ids = list(tracker.getJobIdsForGroup(w.group))
        w.jobs, w.stages, w.tasks = len(ids), 0, 0
        w.shuffle_write_bytes = w.input_bytes = 0
        for jid in ids:
            try:
                sids = store.job(jid).stageIds().mkString(",")
            except Py4JJavaError:  # evicted from the store
                continue
            for sid in sids.split(",") if sids else ():
                w.stages += 1
                try:
                    st = store.lastStageAttempt(int(sid))
                except Py4JJavaError:  # evicted from the store
                    continue
                w.tasks += st.numTasks()
                w.shuffle_write_bytes += st.shuffleWriteBytes()
                w.input_bytes += st.inputBytes()


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def _children(node):
    ch = node.children()
    out = [ch.apply(i) for i in range(ch.size())]
    if not out:
        # QueryStageExec (plan) and unary wrappers expose the subtree
        # behind an accessor instead of children()
        for acc in ("plan", "child"):
            try:
                sub = getattr(node, acc)()
                if sub is not None and hasattr(sub, "nodeName"):
                    out.append(sub)
                    break
            except Exception:
                pass
    return out


def exchange_stats(df: DataFrame) -> dict[str, int]:
    """Sum exchange metrics over ``df``'s executed plan.

    The DataFrame's OWN action must have run (``collect()``, not
    ``count()`` — count plans a separate aggregate whose metrics stay
    at zero on this lineage).  Returns exchanges / shuffle_records /
    shuffle_bytes / broadcasts / broadcast_bytes.  ReusedExchange
    nodes are skipped (their traffic is counted at the original);
    localCheckpoint-sealed prefixes run as separate jobs and are NOT
    included (the final plan reads them as Scan ExistingRDD)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName().startswith("AdaptiveSparkPlan"):
        plan = plan.executedPlan()
    agg = {"exchanges": 0, "shuffle_records": 0, "shuffle_bytes": 0,
           "broadcasts": 0, "broadcast_bytes": 0}
    seen: set[int] = set()

    def walk(node):
        nid = node.id()
        name = node.nodeName()
        if name.startswith("ReusedExchange") or nid in seen:
            return
        seen.add(nid)
        if name == "Exchange":
            m = _metrics(node)
            agg["exchanges"] += 1
            agg["shuffle_records"] += int(m.get("shuffleRecordsWritten", 0))
            agg["shuffle_bytes"] += int(m.get("shuffleBytesWritten", 0))
        elif name.startswith("BroadcastExchange"):
            m = _metrics(node)
            agg["broadcasts"] += 1
            agg["broadcast_bytes"] += int(m.get("dataSize", 0))
        for c in _children(node):
            walk(c)

    walk(plan)
    return agg
