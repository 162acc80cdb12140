"""Thread-pool stress: a wide DAG with interleaved dependencies, run on
8 workers (ref: tests/functional/adapter/concurrency/)."""

from dbt_core_spark import Engine, ProjectDef


def test_wide_dag_8_threads(spark, schema, sf_dir):
    p = ProjectDef(name="conc")
    p.add_source("tpch", "orders", f"{sf_dir}/orders.parquet")
    p.models["base"] = (
        "select o_orderkey as id, o_totalprice as v from {{ source('tpch','orders') }}"
    )
    # 3 layers x 8 models: layer k model i refs layer k-1 model (i+1)%8
    for i in range(8):
        p.models[f"l1_{i}"] = f"select id, v + {i} as v from {{{{ ref('base') }}}}"
    for i in range(8):
        p.models[f"l2_{i}"] = (
            f"select id, v * 2 as v from {{{{ ref('l1_{(i + 1) % 8}') }}}}"
        )
    p.models["final"] = (
        "select count(*) as n from ("
        + " union all ".join(f"select id from {{{{ ref('l2_{i}') }}}}" for i in range(8))
        + ")"
    )
    eng = Engine(spark, p, schema=schema, threads=8)
    res = eng.run()
    assert res.ok(), [r.message for r in res.results if r.status == "error"]
    assert len(res.results) == 18
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert eng.table("final").collect()[0]["n"] == 8 * n_orders
    # every relation exists and is queryable after the concurrent run
    for i in range(8):
        assert spark.table(f"{schema}.l2_{i}").count() == n_orders


def test_concurrent_incremental_distinct_models(spark, schema, sf_dir):
    """Two incremental models merging concurrently must not interfere
    (separate relations, shared session)."""
    p = ProjectDef(name="conc2")
    p.add_source("tpch", "orders", f"{sf_dir}/orders.parquet")
    for i in range(4):
        p.models[f"inc_{i}"] = f"""
            {{{{ config(materialized='incremental', unique_key='id') }}}}
            select o_orderkey as id, o_totalprice + {i} as v
            from {{{{ source('tpch','orders') }}}}
        """
    eng = Engine(spark, p, schema=schema, threads=4)
    assert eng.run().ok()
    assert eng.run().ok()  # second (merge) pass, still concurrent
    counts = {i: spark.table(f"{schema}.inc_{i}").count() for i in range(4)}
    assert len(set(counts.values())) == 1  # all equal, no cross-talk


def test_concurrent_compiles_share_ephemeral_upstream(spark, schema, sf_dir):
    """Many models ref'ing the SAME ephemeral upstream compiled by
    4 worker threads: every compiled SQL must contain the CTE it
    references (regression: CTE refs used to accumulate on the shared
    Node — reset/append/read raced across workers)."""
    from dbt_core_spark import Engine, ProjectDef

    p = ProjectDef(name="race")
    p.models["eph"] = "select 1 as x, 2 as y"
    p.model_configs["eph"] = {"materialized": "ephemeral"}
    for i in range(12):
        p.models[f"c{i}"] = "select x from {{ ref('eph') }}"
    eng = Engine(spark, p, schema=schema, threads=4)
    res = eng.run()
    assert res.ok(), [r.message for r in res.results]
    for i in range(12):
        node = eng.manifest.nodes[f"model.race.c{i}"]
        assert "__dbt__cte__eph" in node.compiled_code
        assert node.compiled_code.lower().count("with ") >= 1
    assert spark.table(f"{schema}.c7").collect()[0]["x"] == 1


def test_dynamic_overwrite_scope_is_refcounted(spark):
    """Overlapping dynamic-overwrite scopes (two runner threads writing
    at once) keep the session mode ``dynamic`` until the LAST one exits:
    the first exit must not restore ``static`` under the other writer,
    whose insertInto(overwrite) would then replace its whole table."""
    from dbt_core_spark.operators.relations import dynamic_partition_overwrite

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key, "static")
    a = dynamic_partition_overwrite(spark)
    b = dynamic_partition_overwrite(spark)
    a.__enter__()
    b.__enter__()
    assert spark.conf.get(key) == "dynamic"
    a.__exit__(None, None, None)
    assert spark.conf.get(key) == "dynamic"
    b.__exit__(None, None, None)
    assert spark.conf.get(key, "static") == before


def test_dynamic_overwrite_scope_under_thread_stress(spark):
    """More threads than cores enter and leave the scope with a short
    switch interval: every thread inside a scope must read ``dynamic``
    (a lost update to the entrant count would restore the saved mode
    under a live writer), and the saved mode is back after all exit."""
    import sys
    import threading

    from dbt_core_spark.operators.relations import dynamic_partition_overwrite

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key, "static")
    seen: list[str] = []

    def worker():
        for _ in range(20):
            with dynamic_partition_overwrite(spark):
                seen.append(spark.conf.get(key))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(seen) == 160 and set(seen) == {"dynamic"}
    assert spark.conf.get(key, "static") == before
