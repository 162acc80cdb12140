"""Seeded on-disk dbt projects for the ``dag_views`` and ``dag_tables``
workloads, each paired with the DuckDB SQL that computes the expected
contents of the relations the benchmark checks.

Generation is a pure function of (seed, size, data dir): the same
arguments write byte-identical files, because every choice comes from
one ``random.Random(seed)`` and files are written in a fixed order.

Every ``dag_views`` model outputs the columns ``(k bigint, g string,
v bigint)`` so any model can ref any model of the layer before it. All
arithmetic is integer (``% 1000003`` keeps values small), so Spark and
DuckDB agree exactly and no float summation order can differ.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import yaml

MOD = 1000003
PROJECT = "bench"


@dataclass
class Model:
    name: str
    layer: int
    materialized: str
    dbt_sql: str          # body with {{ ref() }} / {{ source() }} calls
    duck_sql: str         # the same query with refs as {name} placeholders
    parents: list[str] = field(default_factory=list)


@dataclass
class GeneratedProject:
    root: str
    models: dict[str, Model]
    sources: dict[str, str]            # source table -> parquet path
    # relation name -> (Spark select list, DuckDB SQL of the expected rows)
    checks: dict[str, tuple[str, str]]
    # test name -> DuckDB SQL counting the rows the test should fail on
    tests: dict[str, str] = field(default_factory=dict)
    schema_counts: dict[str, int] = field(default_factory=dict)

    def duck(self, name: str) -> str:
        """DuckDB SQL for ``name`` with every ref inlined as a subquery
        and every source as ``read_parquet``."""
        if name in self.sources:
            return f"select * from read_parquet('{self.sources[name]}')"
        m = self.models[name]
        return m.duck_sql.format(**{p: f"({self.duck(p)})" for p in m.parents})


# -- dag_views -------------------------------------------------------------

_STAGING = {
    "orders": "o_orderkey % {kmod} as k, o_orderpriority as g, "
              "o_custkey % 9973 as v",
    "lineitem": "l_partkey % {kmod} as k, l_returnflag as g, "
                "l_quantity * l_suppkey % 9973 as v",
    "customer": "c_custkey % {kmod} as k, c_mktsegment as g, "
                "c_nationkey * 7 + c_custkey % 13 as v",
    "events": "user_id % {kmod} as k, event_type as g, event_id % 9973 as v",
    "part": "p_partkey % {kmod} as k, p_brand as g, p_size * 11 as v",
}
_STAGING_FILTER = {
    "orders": "o_orderstatus <> '{pick}'",
    "lineitem": "l_quantity > {n}",
    "customer": "c_nationkey <> {n}",
    "events": "event_type <> 'error' or user_id % {m} = 0",
    "part": "p_size > {n}",
}


def _ref(name: str, dbt: bool) -> str:
    return f"{{{{ ref('{name}') }}}}" if dbt else f"{{{name}}}"


# intermediate templates in a fixed mix (one cycle per six models), so
# the seed changes which models and constants a DAG has, not how much
# work it holds
_KINDS = ("map", "join", "union3", "case", "union2", "rank")
_FAN_IN = {"map": 1, "case": 1, "rank": 1, "join": 2, "union2": 2, "union3": 3}


def _intermediate(rng: random.Random, kind: str, parents: list[str],
                  dbt: bool) -> str:
    """One templated (k, g, v) query over its parent models."""
    r = [_ref(p, dbt) for p in parents]
    a, b, m = rng.randint(2, 9), rng.randint(0, 99), rng.randint(3, 7)
    if kind == "map":
        return (f"select k, g, (v * {a} + {b}) % {MOD} as v "
                f"from {r[0]} where k % {m} <> {b % m}")
    if kind == "case":
        if dbt:
            arms = (f"{{% for i in range({m}) %}} when k % {m} = {{{{ i }}}} "
                    f"then concat(g, '_{{{{ i }}}}') {{% endfor %}}")
        else:
            arms = "".join(f" when k % {m} = {i} then concat(g, '_{i}')"
                           for i in range(m))
        return f"select k, case{arms} else g end as g, v from {r[0]}"
    if kind == "rank":
        return (f"select k, g, (v + dense_rank() over "
                f"(partition by g order by v)) % {MOD} as v from {r[0]}")
    if kind == "join":
        return (f"select a.k, a.g, (a.v + coalesce(b.s, 0)) % {MOD} as v "
                f"from {r[0]} a left join (select k, sum(v) % {MOD} as s "
                f"from {r[1]} group by k) b on a.k = b.k")
    union = " union all ".join(f"select k, g, v from {x}" for x in r)
    return (f"select k, g, sum(v) % {MOD} as v from ({union}) u "
            f"group by k, g")


def _mart(rng: random.Random, kind: str, parents: list[str], dbt: bool) -> str:
    union = " union all ".join(f"select k, g, v from {_ref(p, dbt)}"
                               for p in parents)
    m = rng.randint(5, 40)
    return (f"select g, k % {m} as kb, count(*) as n, sum(v) % {MOD} as v "
            f"from ({union}) u group by g, k % {m}")


def gen_views_project(root: str, data_dir: str, seed: int,
                      n_models: int = 48, n_checked: int = 4) -> GeneratedProject:
    """Layered view DAG: staging views over the TPC-H-like sources, two
    intermediate layers of views and ephemerals (one in five ephemeral),
    then mart views. Each model refs 1-3 models of the layer before it,
    in a fixed mix of fan-ins and templates that the seed shuffles.
    ``n_checked`` marts get a DuckDB expectation."""
    rng = random.Random(seed)
    sizes = [max(5, n_models // 5), n_models * 3 // 10, n_models * 3 // 10]
    sizes.append(n_models - sum(sizes))
    kmod = rng.choice([500, 700, 1000])
    sources = {t: os.path.join(data_dir, f"{t}.parquet") for t in _STAGING}
    n_inter = sizes[1] + sizes[2]
    ephemeral = set(rng.sample(range(n_inter), round(n_inter / 5)))
    models: dict[str, Model] = {}
    layers: list[list[str]] = []
    for layer, size in enumerate(sizes):
        names: list[str] = []
        if 0 < layer < len(sizes) - 1:
            kinds = [_KINDS[i % len(_KINDS)] for i in range(size)]
        else:
            kinds = [f"union{1 + i % 3}" for i in range(size)]
        rng.shuffle(kinds)
        for i in range(size):
            if layer == 0:
                name = f"stg_{i:03d}"
                t = list(_STAGING)[i % len(_STAGING)]
                cols = _STAGING[t].format(kmod=kmod)
                cond = _STAGING_FILTER[t].format(
                    pick=rng.choice("FOP"), n=rng.randint(1, 20),
                    m=rng.randint(2, 9))
                dbt = f"select {cols} from {{{{ source('raw', '{t}') }}}} where {cond}"
                duck = f"select {cols} from {{{t}}} where {cond}"
                models[name] = Model(name, 0, "view", dbt, duck, [t])
            else:
                prev = layers[-1]
                kind = kinds[i]
                fan_in = _FAN_IN.get(kind) or int(kind[-1])
                parents = rng.sample(prev, min(len(prev), fan_in))
                if layer == len(sizes) - 1:
                    name, mat, template = f"mart_{i:03d}", "view", _mart
                else:
                    name = f"int{layer}_{i:03d}"
                    pos = i + (sizes[1] if layer == 2 else 0)
                    mat = "ephemeral" if pos in ephemeral else "view"
                    template = _intermediate
                # both renderings must draw the same random choices
                state = rng.getstate()
                dbt = template(rng, kind, parents, True)
                rng.setstate(state)
                duck = template(rng, kind, parents, False)
                models[name] = Model(name, layer, mat, dbt, duck, parents)
            names.append(name)
        layers.append(names)

    checked = sorted(rng.sample(layers[-1], min(n_checked, len(layers[-1]))))
    schema_yml = {
        "version": 2,
        "sources": [{"name": "raw", "tables": [
            {"name": t, "meta": {"location": p}} for t, p in sources.items()]}],
        "models": [{"name": n, "description": f"layer {m.layer} model",
                    "config": {"materialized": m.materialized}}
                   for n, m in models.items()],
    }
    _write_project(root, "views_schema.yml", models, schema_yml)
    proj = GeneratedProject(root, models, sources, {})
    proj.checks = {n: ("*", proj.duck(n)) for n in checked}
    counts: dict[str, int] = {}
    for m in models.values():
        counts[m.materialized] = counts.get(m.materialized, 0) + 1
    proj.schema_counts = counts
    return proj


# -- dag_tables ------------------------------------------------------------

_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

_TABLE_MODELS = {
    # name: (materialized, parents, sql with {parent} placeholders)
    "stg_orders": ("view", ["orders"],
                   "select o_orderkey, o_custkey, o_orderstatus, o_orderdate, "
                   "o_orderpriority, cast(o_totalprice as decimal(18,2)) as "
                   "totalprice from {orders}"),
    "stg_lineitem": ("view", ["lineitem"],
                     "select l_orderkey, l_partkey, l_suppkey, l_quantity, "
                     "cast(l_extendedprice as decimal(18,2)) as price, "
                     "cast(l_discount as decimal(4,2)) as disc, l_returnflag, "
                     "l_linestatus from {lineitem} where l_shipdate <= date '{cutoff}'"),
    "stg_customer": ("view", ["customer"],
                     "select c_custkey, c_nationkey, c_mktsegment, "
                     "cast(c_acctbal as decimal(18,2)) as acctbal from {customer}"),
    "stg_part": ("view", ["part"],
                 "select p_partkey, p_brand, p_size from {part}"),
    "stg_events": ("view", ["events"],
                   "select event_id, user_id, event_type, ev_date, "
                   "cast(value as decimal(10,2)) as value from {events}"),
    "order_revenue": ("ephemeral", ["stg_lineitem"],
                      "select l_orderkey, count(*) as n_lines, "
                      "sum(price * (1 - disc)) as revenue from {stg_lineitem} "
                      "group by l_orderkey"),
    "fct_orders": ("table", ["stg_orders", "order_revenue"],
                   "select o.o_orderkey, o.o_custkey, o.o_orderstatus, "
                   "o.o_orderpriority, year(o.o_orderdate) * 100 + "
                   "month(o.o_orderdate) as yyyymm, o.totalprice, "
                   "coalesce(r.n_lines, 0) as n_lines, "
                   "coalesce(r.revenue, 0) as revenue from {stg_orders} o "
                   "left join {order_revenue} r on o.o_orderkey = r.l_orderkey"),
    "cust_revenue": ("table", ["fct_orders"],
                     "select o_custkey, count(*) as n_orders, "
                     "sum(revenue) as revenue from {fct_orders} group by o_custkey"),
    "seg_revenue": ("table", ["cust_revenue", "stg_customer", "segment_tiers"],
                    "select c.c_mktsegment, t.tier, count(*) as n_cust, "
                    "sum(r.revenue) as revenue from {cust_revenue} r join "
                    "{stg_customer} c on r.o_custkey = c.c_custkey join "
                    "{segment_tiers} t on c.c_mktsegment = t.segment "
                    "group by c.c_mktsegment, t.tier"),
    "part_sales": ("table", ["stg_lineitem", "stg_part"],
                   "select p.p_brand, count(*) as n_lines, sum(l.l_quantity) "
                   "as qty, sum(l.price) as gross from {stg_lineitem} l join "
                   "{stg_part} p on l.l_partkey = p.p_partkey group by p.p_brand"),
    "flag_summary": ("table", ["stg_lineitem"],
                     "select l_returnflag, l_linestatus, count(*) as n, "
                     "sum(l_quantity) as qty, sum(price) as gross, "
                     "sum(price * (1 - disc)) as net from {stg_lineitem} "
                     "group by l_returnflag, l_linestatus"),
    "monthly_orders": ("table", ["fct_orders"],
                       "select yyyymm, o_orderpriority, count(*) as n, "
                       "sum(totalprice) as total from {fct_orders} "
                       "group by yyyymm, o_orderpriority"),
    "nation_revenue": ("table", ["cust_revenue", "stg_customer"],
                       "select c.c_nationkey, count(*) as n_cust, "
                       "sum(r.revenue) as revenue from {cust_revenue} r join "
                       "{stg_customer} c on r.o_custkey = c.c_custkey "
                       "group by c.c_nationkey"),
    "top_customers": ("table", ["cust_revenue", "stg_customer"],
                      "select c_nationkey, o_custkey, revenue, rnk from (select "
                      "c.c_nationkey, r.o_custkey, r.revenue, rank() over "
                      "(partition by c.c_nationkey order by r.revenue desc, "
                      "r.o_custkey) as rnk from {cust_revenue} r join "
                      "{stg_customer} c on r.o_custkey = c.c_custkey) x "
                      "where rnk <= 5"),
    "events_daily": ("table", ["stg_events"],
                     "select ev_date, event_type, count(*) as n, "
                     "sum(value) as value from {stg_events} "
                     "group by ev_date, event_type"),
    "user_activity": ("table", ["stg_events"],
                      "select user_id, count(*) as n_events, count(distinct "
                      "event_type) as n_types, sum(value) as value "
                      "from {stg_events} group by user_id"),
    "cust_orders_inc": ("incremental", ["fct_orders"],
                        "select o_custkey, count(*) as n_orders, "
                        "sum(totalprice) as total from {fct_orders} "
                        "{incremental_filter}group by o_custkey"),
}

# generic tests: (model, column, type, kwargs); failures are computed
# in DuckDB from the same parquet, so the last entry (which leaves one
# priority out of its accepted set) must fail with exactly the count
# of the values it leaves out
_TABLE_TESTS = [
    ("fct_orders", "o_orderkey", "unique", {}),
    ("fct_orders", "o_custkey", "not_null", {}),
    ("cust_revenue", "o_custkey", "unique", {}),
    ("cust_revenue", "o_custkey", "relationships",
     {"to": "ref('stg_customer')", "field": "c_custkey"}),
    ("stg_orders", "o_orderstatus", "accepted_values",
     {"values": ["F", "O", "P"]}),
    ("flag_summary", "l_returnflag", "accepted_values",
     {"values": ["A", "N", "R"]}),
    ("part_sales", "p_brand", "unique", {}),
    ("events_daily", "event_type", "not_null", {}),
    ("user_activity", "user_id", "unique", {}),
    ("cust_orders_inc", "o_custkey", "unique", {}),
    ("seg_revenue", "tier", "not_null", {}),
    ("monthly_orders", "o_orderpriority", "accepted_values",
     {"values": _PRIOS[:4]}),
]

_TEST_FAILURE_SQL = {
    "unique": "select count(*) from (select {col} from {rel} where {col} is "
              "not null group by {col} having count(*) > 1) t",
    "not_null": "select count(*) from {rel} where {col} is null",
    "accepted_values": "select count(*) from (select {col} from {rel} group "
                       "by {col}) t where {col} not in ({vals})",
    "relationships": "select count(*) from {rel} c left join {parent} p on "
                     "c.{col} = p.{field} where c.{col} is not null and "
                     "p.{field} is null",
}


def gen_tables_project(root: str, data_dir: str, seed: int) -> GeneratedProject:
    """Execution-bound DAG: staging views, one ephemeral, table marts,
    one ``unique_key`` merge incremental, one snapshot, one seed CSV and
    twelve generic tests (one planted to fail)."""
    rng = random.Random(seed)
    cutoff = f"{rng.randint(1999, 2001)}-{rng.randint(1, 12):02d}-01"
    inc_mod = rng.randint(2, 5)
    sources = {t: os.path.join(data_dir, f"{t}.parquet")
               for t in ("orders", "lineitem", "customer", "part", "events")}
    models: dict[str, Model] = {}
    for name, (mat, parents, sql) in _TABLE_MODELS.items():
        fill = {"cutoff": cutoff, "incremental_filter": ""}
        dbt_fill = dict(fill)
        for p in parents:
            dbt_fill[p] = (f"{{{{ source('raw', '{p}') }}}}" if p in sources
                           else f"{{{{ ref('{p}') }}}}")
            fill[p] = f"{{{p}}}"
        if mat == "incremental":
            dbt_fill["incremental_filter"] = (
                f"{{% if is_incremental() %}}where o_custkey % {inc_mod} = 0 "
                f"{{% endif %}}")
        models[name] = Model(name, 0, mat, sql.format(**dbt_fill),
                             sql.format(**fill), parents)

    tiers = {"AUTOMOBILE": "gold", "BUILDING": "silver", "FURNITURE": "bronze",
             "HOUSEHOLD": "silver", "MACHINERY": "gold"}
    seed_rows = ["segment,tier"] + [f"{s},{t}" for s, t in tiers.items()]
    seed_sql = " union all ".join(
        f"select '{s}' as segment, '{t}' as tier" for s, t in tiers.items())
    models["segment_tiers"] = Model("segment_tiers", 0, "seed", "", seed_sql, [])

    snap_sql = ("select c_custkey, c_mktsegment, acctbal, cast(date "
                "'2024-01-01' as timestamp) as updated_at from {stg_customer}")
    snapshot = (
        "{% snapshot customer_snap %}\n"
        "{{ config(unique_key='c_custkey', strategy='timestamp', "
        "updated_at='updated_at') }}\n"
        + snap_sql.format(stg_customer="{{ ref('stg_customer') }}")
        + "\n{% endsnapshot %}\n")
    models["customer_snap"] = Model("customer_snap", 0, "snapshot", "",
                                    snap_sql, ["stg_customer"])

    schema_models: dict[str, dict] = {
        n: {"name": n, "config": {"materialized": m.materialized}}
        for n, m in models.items() if m.materialized not in ("seed", "snapshot")}
    schema_models["cust_orders_inc"]["config"]["unique_key"] = "o_custkey"
    test_sql: dict[str, str] = {}
    for model, col, ttype, kw in _TABLE_TESTS:
        spec = {ttype: kw} if kw else ttype
        schema_models[model].setdefault("columns", [])
        entry = next((c for c in schema_models[model]["columns"]
                      if c["name"] == col), None)
        if entry is None:
            entry = {"name": col, "tests": []}
            schema_models[model]["columns"].append(entry)
        entry["tests"].append(spec)
        vals = ", ".join(f"'{v}'" for v in kw.get("values", []))
        parent = kw.get("to", "").removeprefix("ref('").removesuffix("')")
        test_sql[f"{ttype}_{model}_{col}"] = _TEST_FAILURE_SQL[ttype].format(
            col=col, rel="{%s}" % model, vals=vals,
            parent="{%s}" % parent if parent else "", field=kw.get("field"))
    schema_yml = {
        "version": 2,
        "sources": [{"name": "raw", "tables": [
            {"name": t, "meta": {"location": p}} for t, p in sources.items()]}],
        "models": list(schema_models.values()),
    }
    _write_project(root, "tables_schema.yml",
                   {n: m for n, m in models.items()
                    if m.materialized not in ("seed", "snapshot")},
                   schema_yml,
                   seeds={"segment_tiers.csv": "\n".join(seed_rows) + "\n"},
                   snapshots={"customer_snap.sql": snapshot})

    proj = GeneratedProject(root, models, sources, {})
    proj.checks = {n: ("*", proj.duck(n)) for n, m in models.items()
                   if m.materialized in ("table", "incremental")}
    proj.checks["customer_snap"] = (
        "c_custkey, c_mktsegment, acctbal, cast(dbt_valid_from as string) "
        "as dbt_valid_from, dbt_valid_to",
        "select c_custkey, c_mktsegment, acctbal, cast(updated_at as varchar) "
        "as dbt_valid_from, null as dbt_valid_to from ("
        + proj.duck("customer_snap") + ")")
    refs = {m: f"({proj.duck(m)})" for m in models}
    proj.tests = {t: sql.format(**refs) for t, sql in test_sql.items()}
    counts: dict[str, int] = {}
    for m in models.values():
        counts[m.materialized] = counts.get(m.materialized, 0) + 1
    counts["test"] = len(_TABLE_TESTS)
    proj.schema_counts = counts
    return proj


def gen_dag_project(root: str, data_dir: str, seed: int,
                    n_views: int) -> GeneratedProject:
    """One project holding the layered view DAG and the table tail."""
    views = gen_views_project(root, data_dir, seed, n_views)
    tables = gen_tables_project(root, data_dir, seed)
    counts = dict(views.schema_counts)
    for k, v in tables.schema_counts.items():
        counts[k] = counts.get(k, 0) + v
    return GeneratedProject(root, {**views.models, **tables.models},
                            views.sources, {**views.checks, **tables.checks},
                            tables.tests, counts)


def _write_project(root: str, yml_name: str, models: dict[str, Model],
                   schema_yml: dict, seeds: dict[str, str] | None = None,
                   snapshots: dict[str, str] | None = None) -> None:
    os.makedirs(os.path.join(root, "models"), exist_ok=True)
    with open(os.path.join(root, "dbt_project.yml"), "w") as f:
        yaml.safe_dump({"name": PROJECT, "version": "1.0"}, f, sort_keys=True)
    with open(os.path.join(root, "models", yml_name), "w") as f:
        yaml.safe_dump(schema_yml, f, sort_keys=True)
    for n in sorted(models):
        with open(os.path.join(root, "models", f"{n}.sql"), "w") as f:
            f.write(models[n].dbt_sql + "\n")
    for sub, files in (("seeds", seeds), ("snapshots", snapshots)):
        for fn, text in (files or {}).items():
            os.makedirs(os.path.join(root, sub), exist_ok=True)
            with open(os.path.join(root, sub, fn), "w") as f:
                f.write(text)
