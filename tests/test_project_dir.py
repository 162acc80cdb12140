"""On-disk dbt-style project loading (ref: config/project.py paths;
parser/schemas.py for schema.yml; jaffle-shop layout)."""

import os
import textwrap

from dbt_core_spark import Engine, ProjectDef


def _write(root, rel, content):
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(textwrap.dedent(content))


def make_project_dir(root: str, sf_dir: str) -> str:
    _write(root, "dbt_project.yml", f"""
        name: shop
        vars:
          min_price: 0
        on-run-start:
          - "select 1"
        models:
          shop:
            +materialized: view
    """)
    _write(root, "models/staging/stg_orders.sql", """
        select o_orderkey as order_id, o_custkey as customer_id,
               o_totalprice as price, o_orderstatus as status
        from {{ source('tpch', 'orders') }}
        where o_totalprice > {{ var('min_price') }}
    """)
    _write(root, "models/marts/big_orders.sql", """
        {{ config(materialized='table') }}
        select status, count(*) as n, max(price) as max_price
        from {{ ref('stg_orders') }} group by status
    """)
    _write(root, "models/schema.yml", f"""
        sources:
          - name: tpch
            tables:
              - name: orders
                meta:
                  location: "{sf_dir}/orders.parquet"
        models:
          - name: stg_orders
            columns:
              - name: order_id
                tests: [unique, not_null]
          - name: big_orders
            config:
              tags: [mart]
            columns:
              - name: status
                tests:
                  - accepted_values:
                      values: ['O', 'F', 'P']
    """)
    _write(root, "seeds/channels.csv", "code,label\nweb,Web\napp,Mobile App\n")
    _write(root, "snapshots/orders_snapshot.sql", """
        {% snapshot orders_snap %}
        select order_id, status from {{ ref('stg_orders') }}
        {% endsnapshot %}
    """)
    _write(root, "tests/no_negative_prices.sql", """
        select * from {{ ref('stg_orders') }} where price < 0
    """)
    _write(root, "macros/my_macros.sql", """
        {% macro pct(num, den) %}round(100.0 * {{ num }} / {{ den }}, 1){% endmacro %}
    """)
    return root


def test_from_dir_full_project(spark, schema, sf_dir, tmp_path):
    root = make_project_dir(str(tmp_path / "proj"), sf_dir)
    p = ProjectDef.from_dir(root)
    assert p.name == "shop"
    assert set(p.models) == {"stg_orders", "big_orders"}
    assert "channels" in p.seeds
    assert "orders_snap" in p.snapshots
    assert "no_negative_prices" in p.tests
    assert p.model_defaults.get("+materialized") == "view"
    assert {t for t in p.tests} >= {
        "unique_stg_orders_order_id", "not_null_stg_orders_order_id",
        "accepted_values_big_orders_status", "no_negative_prices"}

    eng = Engine(spark, p, schema=schema)
    assert eng.seed().ok()
    r = eng.run()
    assert r.ok(), [x.message for x in r.results]
    assert eng.table("big_orders").count() > 0
    tr = eng.test()
    assert tr.ok(), [(x.unique_id, x.status) for x in tr.results]
    assert len(tr.results) == 4
    # schema-yml tag config applied
    assert eng.ls(select="tag:mart") == ["model.shop.big_orders"]
    # macro from macros/ usable in inline SQL
    compiled = eng.compile_sql("select {{ pct(1, 4) }} as p")
    assert "round(100.0 * 1 / 4, 1)" in compiled
    # snapshot block parsed from {% snapshot %} syntax runs
    p.snapshots["orders_snap"].update(
        {"unique_key": "order_id", "strategy": "check", "check_cols": ["status"],
         "snapshot_at": "2020-01-01 00:00:00"})
    eng2 = Engine(spark, p, schema=schema)
    assert eng2.snapshot().ok()
    assert spark.table(f"{schema}.orders_snap").count() > 0


def test_on_disk_partial_parse(tmp_path, spark, schema):
    """A second cold Engine over the same project dir reuses
    target/partial_parse.json and re-renders nothing; an edited model
    re-renders exactly that node; a macro edit invalidates everything
    (ref: parser/partial.py:68-1090)."""
    import json
    import time

    from dbt_core_spark import Engine, ProjectDef
    from dbt_core_spark.plans.partial import partial_parse_path

    root = str(tmp_path / "pp")
    os.makedirs(os.path.join(root, "models"))
    os.makedirs(os.path.join(root, "macros"))
    with open(os.path.join(root, "dbt_project.yml"), "w") as f:
        f.write("name: pp\n")
    n_models = 40
    for i in range(n_models):
        with open(os.path.join(root, "models", f"m{i}.sql"), "w") as f:
            f.write(f"select {i} as x {{{{ config(tags=['t{i}']) }}}}")
    with open(os.path.join(root, "macros", "mac.sql"), "w") as f:
        f.write("{% macro mac() %}1{% endmacro %}")

    t0 = time.time()
    eng1 = Engine(spark, ProjectDef.from_dir(root), schema=schema)
    cold = time.time() - t0
    assert eng1.manifest.reparse_count == n_models
    assert os.path.exists(partial_parse_path(root))

    t0 = time.time()
    eng2 = Engine(spark, ProjectDef.from_dir(root), schema=schema)
    warm = time.time() - t0
    assert eng2.manifest.reparse_count == 0  # nothing re-rendered
    assert warm < cold  # and faster (≥5× on the 2000-model bench shape)
    # config captured at first parse survives the cache round-trip
    assert eng2.manifest.nodes["model.pp.m3"].config.get("tags") == ["t3"]

    # edit one model → exactly one re-render
    with open(os.path.join(root, "models", "m7.sql"), "w") as f:
        f.write("select 777 as x")
    eng3 = Engine(spark, ProjectDef.from_dir(root), schema=schema)
    assert eng3.manifest.reparse_count == 1

    # macro change → full invalidation
    with open(os.path.join(root, "macros", "mac.sql"), "w") as f:
        f.write("{% macro mac() %}2{% endmacro %}")
    eng4 = Engine(spark, ProjectDef.from_dir(root), schema=schema)
    assert eng4.manifest.reparse_count == n_models

    # corrupt cache → silent full parse, never an error
    with open(partial_parse_path(root), "w") as f:
        f.write("{not json")
    eng5 = Engine(spark, ProjectDef.from_dir(root), schema=schema)
    assert eng5.manifest.reparse_count == n_models


def test_run_events_jsonl(tmp_path, spark, schema):
    """Dir-loaded projects append typed events to logs/dbt.jsonl
    (ref: events/EventManager)."""
    import json

    from dbt_core_spark import Engine, ProjectDef

    root = str(tmp_path / "ev")
    os.makedirs(os.path.join(root, "models"))
    with open(os.path.join(root, "dbt_project.yml"), "w") as f:
        f.write("name: ev\n")
    with open(os.path.join(root, "models", "m.sql"), "w") as f:
        f.write("select 1 as x")
    eng = Engine(spark, ProjectDef.from_dir(root), schema=schema)
    assert eng.run().ok()
    with open(os.path.join(root, "logs", "dbt.jsonl")) as f:
        events = [json.loads(l) for l in f]
    # the stream also carries run-level events (StatsLine etc.) —
    # node lifecycle lines are the ones with a unique_id
    kinds = [(e["event"], e["unique_id"]) for e in events if "unique_id" in e]
    assert ("NodeStart", "model.ev.m") in kinds
    assert ("NodeFinished", "model.ev.m") in kinds
    fin = next(e for e in events if e["event"] == "NodeFinished")
    assert fin["status"] == "success" and "ts" in fin
    # every line carries a code and the run summary fires
    assert all("code" in e for e in events)
    assert any(e["code"] == "Z023" for e in events)
    assert not os.path.exists(os.path.join(root, "target", "events.jsonl"))


def test_file_selector(tmp_path, spark, schema):
    from dbt_core_spark import Engine, ProjectDef

    root = str(tmp_path / "fs")
    os.makedirs(os.path.join(root, "models"))
    with open(os.path.join(root, "dbt_project.yml"), "w") as f:
        f.write("name: fs\n")
    for name in ("alpha", "beta"):
        with open(os.path.join(root, "models", f"{name}.sql"), "w") as f:
            f.write("select 1 as x")
    eng = Engine(spark, ProjectDef.from_dir(root), schema=schema)
    assert eng.ls(select="file:alpha.sql") == ["model.fs.alpha"]
    assert eng.ls(select="file:alpha") == ["model.fs.alpha"]


def test_partial_parse_invalidates_on_vars_and_env(tmp_path, spark, schema):
    """The on-disk cache must NOT be reused when --vars, project vars,
    or an env_var() read during parse differ from the cached invocation
    (ref: partial-parse validity checks, parser/manifest.py); identical
    inputs still warm-parse."""
    from dbt_core_spark import Engine, ProjectDef

    root = str(tmp_path / "ppv")
    os.makedirs(os.path.join(root, "models"))
    with open(os.path.join(root, "dbt_project.yml"), "w") as f:
        f.write("name: ppv\nvars:\n  thresh: 5\n")
    with open(os.path.join(root, "models", "m0.sql"), "w") as f:
        f.write("select {{ var('thresh') }} as x "
                "{{ config(tags=[env_var('PPV_TEST_TAG', 'none')]) }}")
    with open(os.path.join(root, "models", "m1.sql"), "w") as f:
        f.write("select 1 as y")

    os.environ.pop("PPV_TEST_TAG", None)
    eng1 = Engine(spark, ProjectDef.from_dir(root), schema=schema)
    assert eng1.manifest.reparse_count == 2

    # identical invocation → warm
    eng2 = Engine(spark, ProjectDef.from_dir(root), schema=schema)
    assert eng2.manifest.reparse_count == 0

    # different --vars → full reparse
    eng3 = Engine(spark, ProjectDef.from_dir(root), schema=schema,
                  vars={"thresh": 9})
    assert eng3.manifest.reparse_count == 2
    # and back again with the new vars recorded → warm
    eng4 = Engine(spark, ProjectDef.from_dir(root), schema=schema,
                  vars={"thresh": 9})
    assert eng4.manifest.reparse_count == 0

    # env var observed at parse changes → full reparse
    os.environ["PPV_TEST_TAG"] = "tagged"
    try:
        eng5 = Engine(spark, ProjectDef.from_dir(root), schema=schema,
                      vars={"thresh": 9})
        assert eng5.manifest.reparse_count == 2
        assert eng5.manifest.nodes["model.ppv.m0"].config.get("tags") == ["tagged"]
        # stable env → warm again
        eng6 = Engine(spark, ProjectDef.from_dir(root), schema=schema,
                      vars={"thresh": 9})
        assert eng6.manifest.reparse_count == 0
    finally:
        os.environ.pop("PPV_TEST_TAG", None)

    # project-level vars edit → full reparse
    with open(os.path.join(root, "dbt_project.yml"), "w") as f:
        f.write("name: ppv\nvars:\n  thresh: 7\n")
    eng7 = Engine(spark, ProjectDef.from_dir(root), schema=schema,
                  vars={"thresh": 9})
    assert eng7.manifest.reparse_count == 2


def test_semantic_layer_from_schema_yml(tmp_path, spark, schema):
    """semantic_models: / saved_queries: blocks in schema yml load into
    metadata graph nodes, selectable and walkable from a dir-loaded
    project (ref: parser/schemas.py semantic-layer sections)."""
    from dbt_core_spark import Engine, ProjectDef

    root = str(tmp_path / "sl")
    os.makedirs(os.path.join(root, "models"))
    with open(os.path.join(root, "dbt_project.yml"), "w") as f:
        f.write("name: sl\n")
    with open(os.path.join(root, "models", "mart.sql"), "w") as f:
        f.write("select 1 as id, 'a' as segment")
    _write(root, "models/schema.yml", """
version: 2
metrics:
  - name: n_rows
    model: ref('mart')
    calculation_method: count
    expression: id
semantic_models:
  - name: mart_sm
    model: ref('mart')
    dimensions:
      - name: segment
        type: categorical
saved_queries:
  - name: weekly
    metrics: [n_rows]
    group_by: [segment]
""")
    eng = Engine(spark, ProjectDef.from_dir(root), schema=schema)
    assert eng.ls(select="semantic_model:mart_sm") == [
        "semantic_model.sl.mart_sm"]
    up = set(eng.ls(select="+saved_query:weekly"))
    assert {"saved_query.sl.weekly", "metric.sl.n_rows",
            "model.sl.mart"} <= up


def test_parse_writes_perf_info(tmp_path, spark, schema):
    """The `parse` verb emits target/perf_info.json (ref: cli/main.py
    write_perf_info=True → ManifestLoaderInfo): four phases that sum to
    the recorded elapsed, true node counts, and the partial-parse flag
    flipping between the cold and warm parse."""
    import json

    from dbt_core_spark import Engine, ProjectDef, SparkbtRunner

    root = str(tmp_path / "pi")
    os.makedirs(os.path.join(root, "models"))
    with open(os.path.join(root, "dbt_project.yml"), "w") as f:
        f.write("name: pi\n")
    for i in range(3):
        with open(os.path.join(root, "models", f"m{i}.sql"), "w") as f:
            f.write(f"select {i} as x")
    eng = Engine(spark, ProjectDef.from_dir(root), schema=schema)
    r = SparkbtRunner(spark=spark, project=eng.project, schema=schema,
                      engine=eng)
    assert r.invoke(["parse"]).success
    path = os.path.join(root, "target", "perf_info.json")
    with open(path) as f:
        doc = json.load(f)
    assert set(doc["phases"]) == {"load_macros", "read_files", "render",
                                  "resolve"}
    assert all(v >= 0 for v in doc["phases"].values())
    assert abs(sum(doc["phases"].values()) - doc["elapsed"]) \
        <= 0.01 * max(doc["elapsed"], 1e-9)
    assert doc["node_count"] == 3
    # the runner's reparse hit the Engine-parse cache -> partial
    assert doc["is_partial_parse"] is True
    assert doc["parsed_node_count"] == 0  # nothing changed since load
    # a model edit reparses exactly the changed node
    with open(os.path.join(root, "models", "m0.sql"), "w") as f:
        f.write("select 99 as x")
    eng2 = Engine(spark, ProjectDef.from_dir(root), schema=schema)
    r2 = SparkbtRunner(spark=spark, project=eng2.project, schema=schema,
                       engine=eng2)
    assert r2.invoke(["parse"]).success
    with open(path) as f:
        doc2 = json.load(f)
    assert doc2["node_count"] == 3
    assert "generated_at" in doc2["metadata"]


def _record_project(root: str) -> str:
    """A view, a table over it and a schema test on the table."""
    _write(root, "dbt_project.yml", "name: rec\n")
    _write(root, "models/v.sql", "select 1 as id union all select 2 as id")
    _write(root, "models/t.sql", """
        {{ config(materialized='table') }}
        select id from {{ ref('v') }}
    """)
    _write(root, "models/schema.yml", """
        models:
          - name: t
            columns:
              - name: id
                tests: [not_null]
    """)
    return root


def _run_results(root: str) -> dict:
    import json

    with open(os.path.join(root, "target", "run_results.json")) as f:
        return {r["unique_id"]: r for r in json.load(f)["results"]}


def test_run_results_record_timing_and_spark_work(tmp_path, spark, schema):
    """Every executed node's run_results.json entry carries dbt's
    compile/execute ``timing`` and its Spark work as
    ``adapter_response``: a table launches jobs, a view none, and a
    second build counts only its own jobs.  NodeFinished carries the
    same ``timing``."""
    import datetime as dt

    root = _record_project(str(tmp_path / "rec"))
    seen = []
    eng = Engine(spark, ProjectDef.from_dir(root), schema=schema,
                 callbacks=[seen.append])
    jsc = spark.sparkContext._jsc.sc()
    store = jsc.statusStore()

    def jobs():
        """Every job the status store holds, newest first."""
        jsc.listenerBus().waitUntilEmpty()
        listed = store.jobsList(None)
        return [listed.apply(i) for i in range(listed.size())]

    keys = {"jobs", "stages", "tasks", "shuffle_write_bytes", "input_bytes"}
    for _ in range(2):
        before = {j.jobId() for j in jobs()}
        assert eng.build().ok()
        rr = _run_results(root)
        assert {uid.split(".")[0] for uid in rr} == {"model", "test"}
        for r in rr.values():
            assert [t["name"] for t in r["timing"]] == ["compile", "execute"]
            at = [dt.datetime.fromisoformat(t[k]) for t in r["timing"]
                  for k in ("started_at", "completed_at")]
            assert at == sorted(at), r["timing"]
            assert set(r["adapter_response"]) == keys
        assert rr["model.rec.t"]["adapter_response"]["jobs"] > 0
        assert rr["model.rec.v"]["adapter_response"]["jobs"] == 0
        # the build's grouped jobs are exactly its nodes' jobs: none
        # from the previous build is counted again
        assert sum(r["adapter_response"]["jobs"] for r in rr.values()) == sum(
            1 for j in jobs()
            if j.jobId() not in before and j.jobGroup().isDefined())
    finished = [e for e in seen if e.name == "NodeFinished"]
    assert len(finished) == 2 * len(rr)
    assert all([t["name"] for t in e.data["timing"]] == ["compile", "execute"]
               for e in finished)


def test_test_verb_writes_run_results(tmp_path, spark, schema):
    """``Engine.test()`` refreshes target/run_results.json with its test
    nodes and their timing, and the artifact round-trips through
    ``load_run_results``."""
    from dbt_core_spark.run.artifacts import load_run_results

    root = _record_project(str(tmp_path / "rec"))
    eng = Engine(spark, ProjectDef.from_dir(root), schema=schema)
    assert eng.run().ok()
    res = eng.test()
    assert res.ok()
    rr = _run_results(root)
    assert set(rr) == {r.unique_id for r in res.results}
    assert {uid.split(".")[0] for uid in rr} == {"test"}
    loaded = load_run_results(os.path.join(root, "target"))
    for r in loaded.results:
        assert [t["name"] for t in r.timing] == ["compile", "execute"]
        assert r.timing == rr[r.unique_id]["timing"]
        assert r.adapter_response == rr[r.unique_id]["adapter_response"]
        assert r.adapter_response["jobs"] > 0
