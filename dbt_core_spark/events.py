"""Structured events: the observability surface of the engine.

The reference communicates everything through typed events with unique
codes and levels, fired centrally and consumed by programmatic callbacks
and JSON-line logs (ref: core/dbt/events/README.md, events/types.py,
dbt_common EventManager; dbtRunner(callbacks=...)).  This module is the
Spark-native analog: plain dataclass events (no protobuf — the schema IS
the dataclass), the same code space for the lifecycle events a consumer
would match on, and an EventManager that fans out to callbacks, a
JSON-lines file, and python logging.

Event codes mirror the reference where the semantics are identical
(events/types.py): A001 MainReportVersion, Q011 LogStartLine,
Q012 LogModelResult, Q024 NodeStart, Q025 NodeFinished,
Q039 CommandCompleted, Z023 StatsLine, Z024 RunResultError.

Scale note: events are O(nodes), not O(rows) — nothing here touches a
DataFrame, and a failing sink can never fail the run (fire() swallows
sink errors, same contract as the reference's logger).
"""

from __future__ import annotations

import datetime as _dt
import json
import logging
import threading
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

logger = logging.getLogger("dbt_core_spark.events")

# one id per command invocation, stamped into every event and artifact
# (ref: events EventInfo.invocation_id; artifacts metadata.invocation_id)
_invocation_id = uuid.uuid4().hex


def get_invocation_id() -> str:
    return _invocation_id


def reset_invocation_id() -> str:
    """New id at each CLI command boundary (SparkbtRunner.invoke)."""
    global _invocation_id
    _invocation_id = uuid.uuid4().hex
    return _invocation_id

_LEVELS = {"debug": logging.DEBUG, "info": logging.INFO,
           "warn": logging.WARNING, "error": logging.ERROR}


@dataclass
class Event:
    """One structured event: unique ``code``, severity ``level``
    (debug/info/warn/error), event ``name``, human ``msg``, and the
    structured ``data`` payload consumers match on."""

    code: str
    level: str
    name: str
    msg: str
    data: dict[str, Any] = field(default_factory=dict)
    ts: str = ""
    thread: str = ""

    def to_dict(self) -> dict[str, Any]:
        # flat dict: the JSON-line/file shape, data keys promoted to
        # the top level
        return {
            "event": self.name, "code": self.code, "level": self.level,
            "msg": self.msg, "ts": self.ts, "thread": self.thread,
            "invocation_id": get_invocation_id(),
            **self.data,
        }


def _now() -> str:
    return _dt.datetime.now(_dt.timezone.utc).isoformat()


# -- event constructors (ref: events/types.py — same codes/levels) --------

def main_report_version(version: str) -> Event:
    return Event("A001", "info", "MainReportVersion",
                 f"Running with dbt_core_spark={version}",
                 {"version": version})


def log_start_line(unique_id: str, index: int, total: int) -> Event:
    return Event("Q011", "info", "LogStartLine",
                 f"START {unique_id} [{index}/{total}]",
                 {"unique_id": unique_id, "index": index, "total": total})


def log_model_result(unique_id: str, status: str, execution_time: float,
                     index: int = 0, total: int = 0) -> Event:
    level = "error" if status in ("error", "fail") else (
        "warn" if status == "warn" else "info")
    return Event("Q012", level, "LogModelResult",
                 f"{'ERROR creating' if level == 'error' else 'OK created'} "
                 f"{unique_id} in {execution_time:0.2f}s",
                 {"unique_id": unique_id, "status": status,
                  "execution_time": execution_time,
                  "index": index, "total": total})


def node_start(unique_id: str, **data: Any) -> Event:
    return Event("Q024", "debug", "NodeStart",
                 f"Began running node {unique_id}",
                 {"unique_id": unique_id, **data})


def node_finished(unique_id: str, status: str, **data: Any) -> Event:
    return Event("Q025", "debug", "NodeFinished",
                 f"Finished running node {unique_id}",
                 {"unique_id": unique_id, "status": status, **data})


def command_completed(command: str, success: bool, elapsed: float) -> Event:
    status = "succeeded" if success else "failed"
    return Event("Q039", "debug", "CommandCompleted",
                 f"Command `{command}` {status} after {elapsed:0.2f} seconds",
                 {"command": command, "success": success, "elapsed": elapsed})


def stats_line(stats: dict[str, int]) -> Event:
    s = {k: stats.get(k, 0) for k in ("pass", "warn", "error", "skip", "total")}
    return Event("Z023", "info", "StatsLine",
                 "Done. PASS={pass} WARN={warn} ERROR={error} SKIP={skip} "
                 "TOTAL={total}".format(**s), {"stats": s})


def run_result_error(unique_id: str, message: str) -> Event:
    return Event("Z024", "error", "RunResultError", message,
                 {"unique_id": unique_id})


# -- manager ---------------------------------------------------------------

class EventManager:
    """Fan-out: callbacks + JSON-lines file + python logging.

    Thread-safe (node events fire from the GraphRunner pool); a failing
    callback or sink never fails the run."""

    def __init__(self, callbacks: Optional[list[Callable[[Event], None]]] = None,
                 logfile: Optional[str] = None):
        self.callbacks: list[Callable[[Event], None]] = list(callbacks or [])
        self.logfile = logfile
        self._lock = threading.Lock()

    def add_callback(self, cb: Callable[[Event], None]) -> None:
        self.callbacks.append(cb)

    def fire(self, event: Event) -> None:
        if not event.ts:
            event.ts = _now()
        if not event.thread:
            event.thread = threading.current_thread().name
        logger.log(_LEVELS.get(event.level, logging.INFO),
                   "[%s] %s", event.code, event.msg)
        if self.logfile:
            try:
                with self._lock, open(self.logfile, "a") as f:
                    f.write(json.dumps(event.to_dict()) + "\n")
            except Exception:
                pass
        for cb in self.callbacks:
            try:
                cb(event)
            except Exception:
                pass
