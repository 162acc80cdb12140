"""Structured events (events.py; ref: core/dbt/events/ — types.py codes,
README contract, dbtRunner(callbacks=...)): typed lifecycle events with
reference codes fan out to callbacks, a JSON-lines logfile, and the
legacy flat-dict sink."""

import json
import os

from dbt_core_spark import Engine, ProjectDef
from dbt_core_spark.events import Event, EventManager, stats_line
from dbt_core_spark.run.cli import SparkbtRunner


def _proj():
    p = ProjectDef(name="ev")
    p.seeds["raw"] = [{"id": 1}, {"id": 2}]
    p.models["good"] = "select * from {{ ref('raw') }}"
    return p


def test_run_fires_lifecycle_events_with_codes(spark, schema):
    seen: list[Event] = []
    eng = Engine(spark, _proj(), schema=schema, callbacks=[seen.append])
    assert eng.seed().ok() and eng.run().ok()

    by_code = {}
    for e in seen:
        by_code.setdefault(e.code, []).append(e)
    # node lifecycle: Q024 start / Q025 finish per executed node
    assert {e.data["unique_id"] for e in by_code["Q024"]} == \
           {e.data["unique_id"] for e in by_code["Q025"]}
    assert any(u.endswith("good") for u in
               (e.data["unique_id"] for e in by_code["Q024"]))
    assert all(e.level == "debug" for e in by_code["Q024"])
    # run summary: Z023 stats with pass/total
    stats = by_code["Z023"][-1].data["stats"]
    assert stats["error"] == 0 and stats["total"] >= 1
    # every event is stamped
    assert all(e.ts and e.thread for e in seen)


def test_failing_node_fires_error_event(spark, schema):
    p = _proj()
    p.models["bad"] = "select broken_col from {{ ref('raw') }}"
    seen: list[Event] = []
    eng = Engine(spark, p, schema=schema, callbacks=[seen.append])
    eng.seed()
    res = eng.run()
    assert not res.ok()
    errs = [e for e in seen if e.code == "Z024"]
    assert len(errs) == 1 and errs[0].level == "error"
    assert errs[0].data["unique_id"].endswith("bad")
    stats = [e for e in seen if e.code == "Z023"][-1].data["stats"]
    assert stats["error"] == 1


def test_runner_invoke_fires_version_and_completion(spark, schema):
    seen: list[Event] = []
    eng = Engine(spark, _proj(), schema=schema)
    r = SparkbtRunner(engine=eng, callbacks=[seen.append]).invoke(["parse"])
    assert r.success
    codes = [e.code for e in seen]
    assert codes[0] == "A001"  # MainReportVersion first
    assert codes[-1] == "Q039"  # CommandCompleted last
    done = seen[-1]
    assert done.data["command"] == "parse" and done.data["success"] is True


def test_jsonl_logfile_for_dir_projects(tmp_path, spark, schema):
    root = str(tmp_path / "evproj")
    os.makedirs(os.path.join(root, "models"))
    with open(os.path.join(root, "dbt_project.yml"), "w") as f:
        f.write("name: evproj\n")
    with open(os.path.join(root, "models", "m.sql"), "w") as f:
        f.write("select 1 as x")
    eng = Engine(spark, ProjectDef.from_dir(root), schema=schema)
    assert eng.run().ok()
    lines = [json.loads(ln) for ln in
             open(os.path.join(root, "logs", "dbt.jsonl"))]
    codes = [ln["code"] for ln in lines]
    assert "Q024" in codes and "Q025" in codes and "Z023" in codes
    node_line = next(ln for ln in lines if ln["code"] == "Q025")
    assert node_line["status"] in ("success", "pass")
    assert node_line["level"] == "debug" and node_line["ts"]


def test_manager_never_raises(tmp_path):
    def boom(e):
        raise RuntimeError("callback failure")

    mgr = EventManager(callbacks=[boom],
                       logfile=str(tmp_path / "no" / "such" / "dir.jsonl"))
    mgr.fire(stats_line({"pass": 1, "total": 1}))  # must not raise


def test_stats_line_message_format():
    e = stats_line({"pass": 3, "error": 1, "total": 4})
    assert e.msg == "Done. PASS=3 WARN=0 ERROR=1 SKIP=0 TOTAL=4"
    assert e.code == "Z023" and e.level == "info"


def test_invocation_id_stamped_and_rotates(tmp_path, spark, schema):
    """invocation_id: one id per command, present in every event dict
    and in artifact metadata (ref: EventInfo.invocation_id,
    artifacts metadata.invocation_id)."""
    from dbt_core_spark.events import get_invocation_id
    from dbt_core_spark.run.artifacts import write_run_results

    eng = Engine(spark, _proj(), schema=schema)
    runner = SparkbtRunner(engine=eng)
    assert runner.invoke(["parse"]).success
    iid1 = get_invocation_id()
    assert runner.invoke(["parse"]).success
    iid2 = get_invocation_id()
    assert iid1 != iid2  # rotates per command

    seen = []
    eng.event_manager.add_callback(seen.append)
    assert runner.invoke(["seed"]).success
    assert all(e.to_dict()["invocation_id"] == get_invocation_id()
               for e in seen)

    res = eng.run()
    path = write_run_results(res, str(tmp_path / "rr.json"))
    meta = json.load(open(path))["metadata"]
    assert meta["invocation_id"] == get_invocation_id()
