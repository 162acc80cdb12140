"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship end-to-end Engine build on sf0.001.
``queries()`` exposes one named gate per implemented operator family
(SURVEY.md §2 + LLM-pipeline extensions); ``oracle_sql()`` carries the
DuckDB-equivalent SQL for each, ANN gates included.  ``oracles.ORACLES``
is the one registry: a gate is live exactly when it has an oracle.

Determinism rules used throughout (both engines):
- money sums go through integer cents (``cast(round(x*10000) as bigint)``)
  so no float-summation-order drift;
- timestamps/dates in outputs are cast to strings;
- int aggregates are cast to bigint (DuckDB sum() yields hugeint);
- top-k windows always carry a unique tiebreaker column.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a testdata table.  events.parquet's ``ts`` physical type has
    varied across driver testdata generations — TIMESTAMP(NANOS) (which
    Spark's vectorized reader rejects: read ns-as-long, convert) and
    naive TIMESTAMP(MICROS) (which Spark reads as TIMESTAMP_NTZ: cast to
    the session type).  Normalize every form to a UTC TIMESTAMP so
    downstream ts arithmetic/streaming event-time is storage-agnostic.

    Session timezone is pinned to UTC: DuckDB oracle timestamps are
    naive, so the NTZ→LTZ cast is value-preserving and any driver-
    session TZ other than UTC would otherwise shift timestamp→string
    renderings and window boundaries."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        # integer div, NOT `/`: float division loses ulps at 1.7e18 ns
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _reg(spark: SparkSession, sf_dir: str) -> None:
    """Register the testdata parquet as temp views (idempotent)."""
    for t in TABLES:
        if os.path.exists(f"{sf_dir}/{t}.parquet"):
            _t(spark, sf_dir, t).createOrReplaceTempView(t)


def _drop_stale_memory_sinks(spark: SparkSession, prefix: str) -> str:
    """Memory-sink hygiene for the streaming gates: each invocation
    drains into a fresh uuid-named in-memory table, and a long session
    (bench repeats, rehearsal sweeps) would otherwise accumulate every
    prior drain's rows in JVM memory.  Drop earlier invocations' sinks
    for this gate, then mint the next name."""
    import uuid as _uuid

    for t in spark.catalog.listTables():
        if t.isTemporary and t.name.startswith(prefix):
            spark.catalog.dropTempView(t.name)
    return f"{prefix}{_uuid.uuid4().hex[:8]}"


_STABLE_COPY_CACHE: dict[tuple[str, str], str] = {}


def _stable_table_copy(sf_dir: str, table: str, prefix: str,
                       write_fn: Callable[[str], None]) -> str:
    """Write-once, cross-process-stable /tmp copy of a testdata table.

    Two failure classes this helper closes (r7 + r8 verdicts):
    - naming must NOT use Python ``hash()`` (per-process salted): a
      Structured-Streaming checkpoint that outlives the process records
      the old path and the next session dies with ``Wrong basePath``.
      Name = md5 of (sf_dir, table, source size+mtime), so the path is
      identical across sessions yet fresh when the driver regenerates
      testdata.
    - the write must be ATOMIC and at-most-once: the old
      ``mode("overwrite")`` let a concurrent session (driver gate +
      pytest) rewrite part files out from under the other's mid-drain
      AvailableNow stream.  Build under a pid-unique temp dir, then
      ``os.rename`` into the stable path; a loser of the race discards
      its temp dir and reuses the winner's copy (byte-identical: same
      deterministic transform of the same source file)."""
    import hashlib
    import shutil

    key = (prefix, sf_dir)
    if key in _STABLE_COPY_CACHE:
        return _STABLE_COPY_CACHE[key]
    src = f"{sf_dir}/{table}.parquet"
    try:
        st = os.stat(src)
        stamp = f"{st.st_size}:{int(st.st_mtime)}"
    except OSError:
        stamp = "nosrc"
    digest = hashlib.md5(
        f"{sf_dir}|{table}|{stamp}".encode()).hexdigest()[:12]
    out = f"/tmp/{prefix}_{digest}"
    if not os.path.exists(out):
        tmp = f"{out}.tmp.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_fn(tmp)
        try:
            os.rename(tmp, out)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race
    _STABLE_COPY_CACHE[key] = out
    return out


def _events_us_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize a µs-timestamp copy of events for Engine sources
    (external tables infer schema from the file, so the ns type must be
    rewritten once)."""
    # coalesce(1): a SINGLE part file makes every AvailableNow drain
    # one micro-batch, which funnel_stream_events' determinism
    # argument requires (the stateful funnel sorts by ts WITHIN a
    # batch; a multi-batch split with overlapping ts ranges could
    # process a user's events out of global ts order).  Gate-scale
    # data (≤100k rows) — no write-parallelism cost that matters.
    return _stable_table_copy(
        sf_dir, "events", "events_us",
        lambda tmp: _t(spark, sf_dir, "events").coalesce(1)
        .write.parquet(tmp),
    )


# =========================================================================
# flagship
# =========================================================================

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full Engine build (sources → staging views → ephemeral →
    table) on sf0.001, returning the revenue mart."""
    from dbt_core_spark import Engine, ProjectDef

    sf = "/root/testdata/sf0.001"
    p = ProjectDef(name="flagship")
    for t in ["orders", "lineitem", "customer"]:
        p.add_source("tpch", t, f"{sf}/{t}.parquet")
    p.models["stg_orders"] = """
        select o_orderkey as order_id, o_custkey as customer_id,
               o_orderstatus as status, cast(o_orderdate as date) as order_date
        from {{ source('tpch', 'orders') }}
    """
    p.models["stg_lineitem"] = """
        {{ config(materialized='ephemeral') }}
        select l_orderkey as order_id,
               l_extendedprice * (1 - l_discount) as revenue
        from {{ source('tpch', 'lineitem') }}
    """
    p.models["customer_revenue"] = """
        {{ config(materialized='table') }}
        select o.customer_id,
               count(distinct o.order_id) as n_orders,
               cast(round(sum(cast(round(l.revenue * 10000) as bigint)) / 10000.0, 2) as double) as revenue
        from {{ ref('stg_orders') }} o
        join {{ ref('stg_lineitem') }} l on o.order_id = l.order_id
        group by o.customer_id
    """
    eng = Engine(spark, p, schema="flagship_entry")
    res = eng.run()
    if not res.ok():
        raise RuntimeError(str([r.message for r in res.results]))
    return eng.table("customer_revenue")


# =========================================================================
# relational surface (executed by spark.sql → Catalyst)
# =========================================================================

_CENTS = "cast(round(({expr}) * 10000) as bigint)"


def _money_sum(expr: str, alias: str) -> str:
    """Float-order-independent SUM: integer ten-thousandths, then /1e4."""
    return (
        f"cast(sum({_CENTS.format(expr=expr)}) / 10000.0 as double) as {alias}"
    )


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    _reg(spark, sf_dir)
    return spark.sql(f"""
        select l_returnflag, l_linestatus,
               cast(sum(cast(l_quantity as bigint)) as bigint) as sum_qty,
               {_money_sum("l_extendedprice", "sum_base_price")},
               {_money_sum("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
               cast(count(*) as bigint) as count_order,
               cast(sum({_CENTS.format(expr="l_discount")}) as bigint) as sum_disc_e4
        from lineitem
        where l_shipdate <= timestamp '1998-09-02 00:00:00'
        group by l_returnflag, l_linestatus
    """)


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    _reg(spark, sf_dir)
    return spark.sql(f"""
        select o.o_orderkey as order_key,
               {_money_sum("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
               cast(o.o_orderdate as string) as order_date,
               o.o_orderpriority as order_priority
        from customer c
        join orders o on c.c_custkey = o.o_custkey
        join lineitem l on l.l_orderkey = o.o_orderkey
        where c.c_mktsegment = 'BUILDING'
          and o.o_orderdate < timestamp '1998-03-15 00:00:00'
          and l.l_shipdate > timestamp '1995-03-15 00:00:00'
        group by o.o_orderkey, o.o_orderdate, o.o_orderpriority
        order by revenue desc, order_key
        limit 10
    """)


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    _reg(spark, sf_dir)
    return spark.sql(f"""
        select n.n_name as nation,
               {_money_sum("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
        from customer c
        join orders o on c.c_custkey = o.o_custkey
        join lineitem l on l.l_orderkey = o.o_orderkey
        join supplier s on l.l_suppkey = s.s_suppkey
        join nation n on s.s_nationkey = n.n_nationkey
        join region r on n.n_regionkey = r.r_regionkey
        where r.r_name = 'ASIA'
          and c.c_nationkey = s.s_nationkey
          and o.o_orderdate >= timestamp '1996-01-01 00:00:00'
          and o.o_orderdate < timestamp '1998-01-01 00:00:00'
        group by n.n_name
    """)


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS correlated subquery → Catalyst left-semi join (TPC-H Q4
    shape, adapted to this schema)."""
    _reg(spark, sf_dir)
    return spark.sql("""
        select o_orderpriority as priority, cast(count(*) as bigint) as n_orders
        from orders o
        where o.o_orderdate >= timestamp '1996-01-01 00:00:00'
          and o.o_orderdate < timestamp '1996-07-01 00:00:00'
          and exists (select 1 from lineitem l
                      where l.l_orderkey = o.o_orderkey
                        and l.l_shipdate > o.o_orderdate)
        group by o_orderpriority
    """)


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + two-level aggregation (TPC-H Q13 shape)."""
    _reg(spark, sf_dir)
    return spark.sql("""
        select c_count, cast(count(*) as bigint) as custdist
        from (
            select c.c_custkey, cast(count(o.o_orderkey) as bigint) as c_count
            from customer c
            left join orders o on c.c_custkey = o.o_custkey
                 and o.o_orderpriority <> '1-URGENT'
            group by c.c_custkey
        ) group by c_count
    """)


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q17 shape): per-part average
    threshold.  avg of integer-valued doubles is order-independent, so
    no decimal dance needed."""
    _reg(spark, sf_dir)
    return spark.sql(f"""
        select cast(count(*) as bigint) as n_small,
               {_money_sum("l.l_extendedprice", "sum_price")}
        from lineitem l join part p on p.p_partkey = l.l_partkey
        where p.p_size <= 5
          and l.l_quantity < (select 0.2 * avg(l2.l_quantity)
                              from lineitem l2
                              where l2.l_partkey = l.l_partkey)
    """)


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN subquery with group-by/having (TPC-H Q18 shape)."""
    _reg(spark, sf_dir)
    return spark.sql("""
        select o.o_orderkey as order_key,
               cast(sum(cast(l.l_quantity as bigint)) as bigint) as total_qty
        from orders o join lineitem l on o.o_orderkey = l.l_orderkey
        where o.o_orderkey in (
            select l_orderkey from lineitem
            group by l_orderkey
            having sum(cast(l_quantity as bigint)) > 250)
        group by o.o_orderkey
    """)


def q14_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregation ratio (TPC-H Q14 shape)."""
    _reg(spark, sf_dir)
    return spark.sql("""
        select cast(sum(case when p.p_type like 'a%' then
                        cast(round((l.l_extendedprice * (1 - l.l_discount)) * 10000) as bigint)
                        else 0 end) as bigint) as promo_e4,
               cast(sum(cast(round((l.l_extendedprice * (1 - l.l_discount)) * 10000) as bigint)) as bigint) as total_e4
        from lineitem l join part p on l.l_partkey = p.p_partkey
        where l.l_shipdate >= timestamp '1997-01-01 00:00:00'
          and l.l_shipdate < timestamp '1997-04-01 00:00:00'
    """)


def q19_or_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive multi-clause predicate (TPC-H Q19 shape) — exercises
    OR-pushdown/CNF handling."""
    _reg(spark, sf_dir)
    return spark.sql(f"""
        select cast(count(*) as bigint) as n,
               {_money_sum("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
        from lineitem l join part p on p.p_partkey = l.l_partkey
        where (p.p_brand = 'Brand#12' and p.p_size between 1 and 15
               and l.l_quantity >= 1 and l.l_quantity <= 30)
           or (p.p_brand = 'Brand#23' and p.p_size between 1 and 25
               and l.l_quantity >= 10 and l.l_quantity <= 40)
           or (p.p_brand = 'Brand#34' and p.p_size between 1 and 35
               and l.l_quantity >= 20 and l.l_quantity <= 50)
    """)


def q22_global_avg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery + anti-join (TPC-H Q22 shape):
    above-average-balance customers with no open orders."""
    _reg(spark, sf_dir)
    return spark.sql("""
        select c.c_mktsegment as segment,
               cast(count(*) as bigint) as n_cust,
               cast(sum(cast(round(c.c_acctbal * 100) as bigint)) as bigint) as sum_bal_e2
        from customer c
        where c.c_acctbal > (select sum(cast(round(c2.c_acctbal * 100) as bigint))
                                    / count(*) / 100.0
                             from customer c2 where c2.c_acctbal > 0)
          and not exists (select 1 from orders o
                          where o.o_custkey = c.c_custkey
                            and o.o_orderstatus = 'O')
        group by c.c_mktsegment
    """)


def q2_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated aggregate-min subquery selecting rows that achieve the
    per-group minimum, plus a dimension-chain join (TPC-H Q2 shape; no
    partsupp table here, so the min is over lineitem unit prices)."""
    _reg(spark, sf_dir)
    return spark.sql("""
        select distinct p.p_partkey as part_key, s.s_name as supplier,
               n.n_name as nation,
               cast(l.l_extendedprice as double) as min_price
        from part p
        join lineitem l on l.l_partkey = p.p_partkey
        join supplier s on s.s_suppkey = l.l_suppkey
        join nation n on n.n_nationkey = s.s_nationkey
        join region r on r.r_regionkey = n.n_regionkey
        where r.r_name = 'EUROPE'
          and p.p_size = 15
          and l.l_extendedprice = (select min(l2.l_extendedprice)
                                   from lineitem l2
                                   where l2.l_partkey = p.p_partkey)
    """)


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan filter + aggregate (TPC-H Q6 shape) — the pure
    pushdown/pruning benchmark: predicate and 3-column projection should
    reach the parquet scan."""
    _reg(spark, sf_dir)
    return spark.sql("""
        select cast(sum(cast(round((l_extendedprice * l_discount) * 10000) as bigint)) as bigint) as revenue_e4,
               cast(count(*) as bigint) as n_lines
        from lineitem
        where l_shipdate >= timestamp '1997-01-01 00:00:00'
          and l_shipdate < timestamp '1998-01-01 00:00:00'
          and l_discount >= cast(0.05 as double) and l_discount <= cast(0.07 as double)
          and l_quantity < 24
    """)


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation-pair disjunction across a 5-way join, grouped by year
    (TPC-H Q7 shape)."""
    _reg(spark, sf_dir)
    return spark.sql("""
        select supp_nation, cust_nation, l_year,
               cast(sum(vol_e4) as bigint) as revenue_e4
        from (
            select n1.n_name as supp_nation, n2.n_name as cust_nation,
                   cast(year(l.l_shipdate) as bigint) as l_year,
                   cast(round((l.l_extendedprice * (1 - l.l_discount)) * 10000) as bigint) as vol_e4
            from supplier s
            join lineitem l on s.s_suppkey = l.l_suppkey
            join orders o on o.o_orderkey = l.l_orderkey
            join customer c on c.c_custkey = o.o_custkey
            join nation n1 on n1.n_nationkey = s.s_nationkey
            join nation n2 on n2.n_nationkey = c.c_nationkey
            where ((n1.n_name = 'NATION_1' and n2.n_name = 'NATION_2')
                or (n1.n_name = 'NATION_2' and n2.n_name = 'NATION_1'))
              and l.l_shipdate >= timestamp '1996-01-01 00:00:00'
              and l.l_shipdate < timestamp '1998-01-01 00:00:00'
        ) shipping
        group by supp_nation, cust_nation, l_year
    """)


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-share-by-year: conditional aggregation over a 6-way join
    with a region filter (TPC-H Q8 shape).  Numerator and denominator
    are emitted as exact integer ten-thousandths instead of dividing, so
    the oracle compare is float-order-proof."""
    _reg(spark, sf_dir)
    return spark.sql("""
        select cast(year(o.o_orderdate) as bigint) as o_year,
               cast(sum(case when n1.n_name = 'NATION_3'
                        then cast(round((l.l_extendedprice * (1 - l.l_discount)) * 10000) as bigint)
                        else 0 end) as bigint) as nation_vol_e4,
               cast(sum(cast(round((l.l_extendedprice * (1 - l.l_discount)) * 10000) as bigint)) as bigint) as total_vol_e4
        from lineitem l
        join part p on p.p_partkey = l.l_partkey
        join supplier s on s.s_suppkey = l.l_suppkey
        join orders o on o.o_orderkey = l.l_orderkey
        join customer c on c.c_custkey = o.o_custkey
        join nation n1 on n1.n_nationkey = s.s_nationkey
        join nation n2 on n2.n_nationkey = c.c_nationkey
        join region r on r.r_regionkey = n2.n_regionkey
        where r.r_name = 'AMERICA'
          and p.p_type = 'PROMO'
          and o.o_orderdate >= timestamp '1996-01-01 00:00:00'
          and o.o_orderdate < timestamp '1998-01-01 00:00:00'
        group by year(o.o_orderdate)
    """)


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit by supplier-nation and order-year with a LIKE part filter
    (TPC-H Q9 shape; no ps_supplycost column, so profit = discounted
    revenue)."""
    _reg(spark, sf_dir)
    return spark.sql("""
        select n.n_name as nation,
               cast(year(o.o_orderdate) as bigint) as o_year,
               cast(sum(cast(round((l.l_extendedprice * (1 - l.l_discount)) * 10000) as bigint)) as bigint) as profit_e4
        from lineitem l
        join part p on p.p_partkey = l.l_partkey
        join supplier s on s.s_suppkey = l.l_suppkey
        join orders o on o.o_orderkey = l.l_orderkey
        join nation n on n.n_nationkey = s.s_nationkey
        where p.p_name like '%widget%'
        group by n.n_name, year(o.o_orderdate)
    """)


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 revenue ranking of customers with returned lineitems in a
    quarter (TPC-H Q10 shape); unique tiebreaker keeps the limit
    deterministic."""
    _reg(spark, sf_dir)
    return spark.sql(f"""
        select c.c_custkey as customer_key, c.c_name as customer,
               n.n_name as nation,
               {_money_sum("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
               cast(round(c.c_acctbal * 100) as bigint) as acctbal_e2
        from customer c
        join orders o on o.o_custkey = c.c_custkey
        join lineitem l on l.l_orderkey = o.o_orderkey
        join nation n on n.n_nationkey = c.c_nationkey
        where o.o_orderdate >= timestamp '1997-01-01 00:00:00'
          and o.o_orderdate < timestamp '1997-04-01 00:00:00'
          and l.l_returnflag = 'R'
        group by c.c_custkey, c.c_name, n.n_name, c.c_acctbal
        order by revenue desc, customer_key
        limit 20
    """)


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-HAVING against an uncorrelated global-scalar subquery
    (TPC-H Q11 shape; part value measured from lineitem instead of
    partsupp)."""
    _reg(spark, sf_dir)
    return spark.sql("""
        select l.l_partkey as part_key,
               cast(sum(cast(round(l.l_extendedprice * 10000) as bigint)) as bigint) as value_e4
        from lineitem l
        join supplier s on s.s_suppkey = l.l_suppkey
        join nation n on n.n_nationkey = s.s_nationkey
        where n.n_name = 'NATION_3'
        group by l.l_partkey
        having sum(cast(round(l.l_extendedprice * 10000) as bigint)) >
               (select cast(2.0 as double) * sum(v) / count(*) from (
                    select sum(cast(round(l2.l_extendedprice * 10000) as bigint)) as v
                    from lineitem l2
                    join supplier s2 on s2.s_suppkey = l2.l_suppkey
                    join nation n2 on n2.n_nationkey = s2.s_nationkey
                    where n2.n_name = 'NATION_3'
                    group by l2.l_partkey))
    """)


def q12_late_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional priority-class counts over late shipments (TPC-H Q12
    shape; lateness = shipped >60 days after order date, since this
    schema has no commit/receipt dates)."""
    _reg(spark, sf_dir)
    return spark.sql("""
        select l.l_linestatus as linestatus,
               cast(sum(case when o.o_orderpriority in ('1-URGENT', '2-HIGH')
                             then 1 else 0 end) as bigint) as high_line_count,
               cast(sum(case when o.o_orderpriority not in ('1-URGENT', '2-HIGH')
                             then 1 else 0 end) as bigint) as low_line_count
        from orders o join lineitem l on o.o_orderkey = l.l_orderkey
        where l.l_shipdate > o.o_orderdate + interval '60' day
          and l.l_shipdate >= timestamp '1997-01-01 00:00:00'
          and l.l_shipdate < timestamp '1998-01-01 00:00:00'
        group by l.l_linestatus
    """)


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate view + equality against its global max (TPC-H Q15
    shape).  Revenue in exact integer ten-thousandths so the max-equality
    join cannot drift between engines."""
    _reg(spark, sf_dir)
    return spark.sql("""
        with revenue as (
            select l_suppkey as supplier_no,
                   sum(cast(round((l_extendedprice * (1 - l_discount)) * 10000) as bigint)) as total_e4
            from lineitem
            where l_shipdate >= timestamp '1997-01-01 00:00:00'
              and l_shipdate < timestamp '1997-04-01 00:00:00'
            group by l_suppkey
        )
        select s.s_suppkey as supplier_key, s.s_name as supplier,
               cast(r.total_e4 as bigint) as total_revenue_e4
        from supplier s join revenue r on s.s_suppkey = r.supplier_no
        where r.total_e4 = (select max(total_e4) from revenue)
    """)


def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per part attributes with a NOT-IN exclusion
    subquery (TPC-H Q16 shape; exclusion predicate adapted to this
    schema's supplier columns)."""
    _reg(spark, sf_dir)
    return spark.sql("""
        select p.p_brand as brand, p.p_type as type, p.p_size as size,
               cast(count(distinct l.l_suppkey) as bigint) as supplier_cnt
        from lineitem l join part p on p.p_partkey = l.l_partkey
        where p.p_brand <> 'Brand#1'
          and p.p_size in (1, 5, 10, 15, 20)
          and l.l_suppkey not in (select s_suppkey from supplier
                                  where s_acctbal < 1000)
        group by p.p_brand, p.p_type, p.p_size
    """)


def q20_part_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested IN-chains with a correlated share threshold (TPC-H Q20
    shape): suppliers who shipped more than twice a matching part's mean
    per-supplier volume (scale-invariant threshold).  Expressed as an
    aggregate-join rather than a correlated HAVING — same semantics, and
    Catalyst turns it into one shuffle on l_partkey plus a broadcast of
    the part filter."""
    _reg(spark, sf_dir)
    return spark.sql("""
        with sp as (
            select l_suppkey, l_partkey,
                   sum(cast(l_quantity as bigint)) as supp_qty
            from lineitem
            where l_partkey in (select p_partkey from part
                                where p_name like 'blue%')
            group by l_suppkey, l_partkey),
        pt as (
            select l_partkey, sum(supp_qty) as part_qty,
                   count(*) as n_supp
            from sp group by l_partkey)
        select s.s_suppkey as supplier_key, s.s_name as supplier
        from supplier s
        where s.s_suppkey in (
            select sp.l_suppkey
            from sp join pt on pt.l_partkey = sp.l_partkey
            where sp.supp_qty > cast(2.0 as double) * pt.part_qty / pt.n_supp)
    """)


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-correlated EXISTS + NOT-EXISTS (TPC-H Q21 shape): the
    strictly-latest shipper in multi-supplier finished orders, shipped
    >30 days after the order date."""
    _reg(spark, sf_dir)
    return spark.sql("""
        select s.s_name as supplier, cast(count(*) as bigint) as numwait
        from supplier s
        join lineitem l1 on l1.l_suppkey = s.s_suppkey
        join orders o on o.o_orderkey = l1.l_orderkey
        where o.o_orderstatus = 'F'
          and l1.l_shipdate > o.o_orderdate + interval '30' day
          and exists (select 1 from lineitem l2
                      where l2.l_orderkey = l1.l_orderkey
                        and l2.l_suppkey <> l1.l_suppkey)
          and not exists (select 1 from lineitem l3
                          where l3.l_orderkey = l1.l_orderkey
                            and l3.l_suppkey <> l1.l_suppkey
                            and l3.l_shipdate > l1.l_shipdate)
        group by s.s_name
    """)


def recursive_month_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE month spine (new in Spark 4) joined to a per-month
    revenue aggregate — the recursive-CTE surface with an exact DuckDB
    mirror."""
    _reg(spark, sf_dir)
    return spark.sql("""
        with recursive months(m) as (
            select timestamp '1996-01-01 00:00:00'
            union all
            select m + interval '1' month from months
            where m < timestamp '1997-12-01 00:00:00'
        )
        select cast(m.m as string) as month_start,
               cast(coalesce(sum(cast(round((l.l_extendedprice * (1 - l.l_discount)) * 10000) as bigint)), 0) as bigint) as revenue_e4,
               cast(count(l.l_orderkey) as bigint) as n_lines
        from months m
        left join lineitem l
          on l.l_shipdate >= m.m and l.l_shipdate < m.m + interval '1' month
        group by m.m
    """)


def lateral_top3_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery with ORDER BY + LIMIT — per-segment
    top-3 orders by price, the lateral-join surface (distinct from the
    window-function top-k shape)."""
    _reg(spark, sf_dir)
    return spark.sql("""
        select s.segment, t.order_key,
               cast(round(t.o_totalprice * 100) as bigint) as price_e2
        from (select distinct c_mktsegment as segment from customer) s,
        lateral (select o.o_orderkey as order_key, o.o_totalprice
                 from orders o join customer c on o.o_custkey = c.c_custkey
                 where c.c_mktsegment = s.segment
                 order by o.o_totalprice desc, o.o_orderkey
                 limit 3) t
    """)


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left-anti join."""
    _reg(spark, sf_dir)
    return spark.sql("""
        select c.c_custkey as customer_key, c.c_mktsegment as segment
        from customer c
        where not exists (select 1 from orders o where o.o_custkey = c.c_custkey
                    and o.o_orderstatus = 'P')
    """)


def map_struct_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type surface: per-priority status→count MAP built with
    map_from_entries over sorted struct entries, struct field access,
    map cardinality, element_at lookup — then exploded back to rows so
    the DuckDB oracle can verify the same relation without needing
    engine-identical map internals."""
    _reg(spark, sf_dir)
    return spark.sql("""
        with counts as (
            select o_orderpriority as priority, o_orderstatus as status,
                   cast(count(*) as bigint) as cnt
            from orders group by 1, 2
        ), m as (
            select priority,
                   map_from_entries(
                       array_sort(collect_list(struct(status as k, cnt as v)))
                   ) as status_map
            from counts group by priority
        )
        select priority, e.k as status, e.v as n,
               cast(cardinality(status_map) as bigint) as n_statuses,
               cast(coalesce(element_at(status_map, 'O'), 0) as bigint) as n_open
        from m lateral view explode(
            transform(map_entries(status_map),
                      x -> struct(x.key as k, x.value as v))) t as e
    """)


def rollup_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP + grouping() indicators (cube/rollup surface)."""
    _reg(spark, sf_dir)
    return spark.sql("""
        select coalesce(l_returnflag, 'ALL') as returnflag,
               coalesce(l_linestatus, 'ALL') as linestatus,
               cast(grouping(l_returnflag) as bigint) as g_flag,
               cast(grouping(l_linestatus) as bigint) as g_status,
               cast(sum(cast(l_quantity as bigint)) as bigint) as sum_qty
        from lineitem
        group by rollup(l_returnflag, l_linestatus)
    """)


def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregation pivot (jaffle-shop 'orders' model shape,
    ref: tests/fixtures/jaffle_shop.py:8-156)."""
    _reg(spark, sf_dir)
    return spark.sql("""
        select o_orderpriority as priority,
               cast(sum(case when o_orderstatus = 'O' then 1 else 0 end) as bigint) as n_open,
               cast(sum(case when o_orderstatus = 'F' then 1 else 0 end) as bigint) as n_filled,
               cast(sum(case when o_orderstatus = 'P' then 1 else 0 end) as bigint) as n_pending
        from orders
        group by o_orderpriority
    """)


def unpivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (stack): wide per-priority status counts back to long form."""
    _reg(spark, sf_dir)
    return spark.sql("""
        with wide as (
            select o_orderpriority as priority,
                   cast(sum(case when o_orderstatus = 'O' then 1 else 0 end) as bigint) as n_open,
                   cast(sum(case when o_orderstatus = 'F' then 1 else 0 end) as bigint) as n_filled,
                   cast(sum(case when o_orderstatus = 'P' then 1 else 0 end) as bigint) as n_pending
            from orders group by o_orderpriority
        )
        select priority, status, n
        from wide
        unpivot (n for status in (n_open as `O`, n_filled as `F`, n_pending as `P`))
    """)


def window_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    _reg(spark, sf_dir)
    return spark.sql("""
        select customer_key, order_key, total_price, rk
        from (
            select o_custkey as customer_key, o_orderkey as order_key,
                   o_totalprice as total_price,
                   row_number() over (partition by o_custkey
                                      order by o_totalprice desc, o_orderkey) as rk
            from orders
        ) where rk <= 3
    """)


def running_revenue_by_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    _reg(spark, sf_dir)
    return spark.sql("""
        select o_custkey as customer_key, o_orderkey as order_key,
               cast(sum(cast(round(o_totalprice * 100) as bigint))
                    over (partition by o_custkey
                          order by o_orderdate, o_orderkey
                          rows between unbounded preceding and current row)
                    / 100.0 as double) as running_total
        from orders
    """)


def rolling_7day_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame with a calendar interval (vs ROWS frames elsewhere):
    per-customer trailing-7-day order totals."""
    _reg(spark, sf_dir)
    return spark.sql("""
        select o_custkey as customer_key, o_orderkey as order_key,
               cast(o_orderdate as string) as order_date,
               cast(sum(cast(round(o_totalprice * 100) as bigint))
                    over (partition by o_custkey order by o_orderdate
                          range between interval 7 days preceding and current row)
                    / 100.0 as double) as trailing_7d_total
        from orders
    """)


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) — the batch analog of
    streaming session windows (SURVEY §2.E note)."""
    _reg(spark, sf_dir)
    return spark.sql("""
        with gaps as (
            select user_id, ts, event_id,
                   case when lag(ts) over w is null
                          or (cast(ts as double) - cast(lag(ts) over w as double)) > 1800
                        then 1 else 0 end as is_new
            from events
            -- NULL ts/users excluded (Spark NULLS FIRST vs DuckDB
            -- NULLS LAST in the window sort; unattributable sessions
            -- are meaningless) — gate-fuzz finding
            where ts is not null and user_id is not null
            window w as (partition by user_id order by ts, event_id)
        ), sess as (
            select user_id, ts,
                   sum(is_new) over (partition by user_id order by ts, event_id
                                     rows between unbounded preceding and current row) as session_id
            from gaps
        )
        select user_id, cast(session_id as bigint) as session_id,
               cast(count(*) as bigint) as n_events,
               unix_micros(min(ts)) as session_start_us,
               unix_micros(max(ts)) as session_end_us
        from sess
        group by user_id, session_id
    """)


def hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time rollup: hour buckets × event_type."""
    _reg(spark, sf_dir)
    return spark.sql(f"""
        select date_format(date_trunc('hour', ts), 'yyyy-MM-dd HH:mm:ss') as hour_bucket,
               event_type,
               cast(count(*) as bigint) as n,
               cast(count(distinct user_id) as bigint) as n_users,
               {_money_sum("value", "sum_value")}
        from events
        group by 1, 2
    """)


def stats_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate statistics (mean/variance/stddev) computed from exact
    integer sums — order-independent, unlike naive float stddev."""
    _reg(spark, sf_dir)
    return spark.sql("""
        with s as (
            select l_returnflag,
                   cast(count(*) as bigint) as n,
                   sum(cast(l_quantity as bigint)) as sq,
                   sum(cast(l_quantity as bigint) * cast(l_quantity as bigint)) as sq2
            from lineitem group by l_returnflag
        )
        select l_returnflag,
               n,
               sq / n / 1.0 as mean_qty,
               -- nullif: a singleton group's sample variance is
               -- undefined; DuckDB's float division yields NULL where
               -- Spark ANSI would throw DIVIDE_BY_ZERO (gate-fuzz
               -- finding)
               (sq2 - sq * sq / n / 1.0) / nullif(n - 1, 0) as var_qty,
               sqrt((sq2 - sq * sq / n / 1.0) / nullif(n - 1, 0)) as stddev_qty
        from s
    """)


def percentiles_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark percentile ≡ DuckDB
    quantile_cont, linear interpolation)."""
    _reg(spark, sf_dir)
    return spark.sql("""
        select l_returnflag,
               cast(percentile(l_quantity, 0.25) as double) as p25,
               cast(percentile(l_quantity, 0.5) as double) as p50,
               cast(percentile(l_quantity, 0.75) as double) as p75
        from lineitem group by l_returnflag
    """)


def dynamic_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame pivot with explicit value list (deterministic column
    set) — the relational PIVOT operator."""
    ev = _t(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .count()
        # subset: a bare na.fill(0) would also clobber a NULL user_id
        # group key to 0 (gate-fuzz finding)
        .na.fill(0, subset=kinds)
        .select(
            "user_id",
            *[F.col(c).cast("bigint").alias(f"n_{c}") for c in kinds],
        )
    )


def pandas_udf_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized pandas UDF in the hot path (the sanctioned slow
    path when built-ins can't express the kernel): reversed-text md5 —
    trivially a stand-in for tokenizers/scorers shipped as Python."""
    from dbt_core_spark.functions.udfs import reverse_text
    from dbt_core_spark.operators.dedup import ensure_parallelism

    docs = _t(spark, sf_dir, "documents")
    return ensure_parallelism(docs).select(
        "doc_id", F.md5(reverse_text(F.col("text"))).alias("rev_md5")
    )


def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    _reg(spark, sf_dir)
    return spark.sql("""
        select cast(get_json_object(props, '$.k') as bigint) as k,
               cast(count(*) as bigint) as n
        from events
        group by 1
    """)


def set_ops_statuses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT / INTERSECT surface (ref: utils fixture_except/intersect)."""
    _reg(spark, sf_dir)
    return spark.sql("""
        select o_custkey as customer_key from orders where o_orderstatus = 'O'
        intersect
        select o_custkey from orders where o_orderstatus = 'F'
        except
        select o_custkey from orders where o_totalprice > 400000
    """)


# =========================================================================
# cross-database function surface (§2.E)
# =========================================================================

def xdb_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_core_spark.functions import xdb

    _reg(spark, sf_dir)
    return spark.sql(f"""
        select o_orderkey as order_key,
               cast({xdb.dateadd('day', 30, 'o_orderdate')} as string) as due_date,
               cast({xdb.datediff("timestamp '1995-01-01 00:00:00'", 'o_orderdate', 'month')} as bigint) as months_since_95,
               cast({xdb.date_trunc('month', 'o_orderdate')} as string) as order_month,
               cast({xdb.last_day('o_orderdate')} as string) as month_end
        from orders
        where o_orderkey <= 5000
    """)


def xdb_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_core_spark.functions import xdb

    _reg(spark, sf_dir)
    return spark.sql(f"""
        select p_partkey as part_key,
               {xdb.concat(['p_brand', "'#'", 'p_type'])} as brand_type,
               cast({xdb.length('p_name')} as bigint) as name_len,
               cast({xdb.position("'a'", 'p_name')} as bigint) as first_a,
               {xdb.replace('p_type', "' '", "'_'")} as type_snake,
               {xdb.right('p_name', 4)} as name_tail,
               {xdb.split_part('p_type', "' '", 1)} as type_head,
               {xdb.hash('p_partkey')} as key_hash,
               {xdb.safe_cast('p_size', 'string')} as size_str,
               cast({xdb.equals('p_brand', "'Brand#1'")} as boolean) as is_brand1
        from part
        where p_partkey <= 1000
    """)


def xdb_listagg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_core_spark.functions import xdb

    _reg(spark, sf_dir)
    return spark.sql(f"""
        select r.r_name as region_name,
               {xdb.listagg('n.n_name', "','", order_by='n.n_name', limit=3)} as top3_nations,
               cast({xdb.any_value("r.r_regionkey")} as bigint) as region_key,
               cast({xdb.bool_or("n.n_nationkey > 20")} as boolean) as has_late_nation
        from region r join nation n on n.n_regionkey = r.r_regionkey
        group by r.r_name
    """)


def xdb_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_core_spark.functions import xdb

    _reg(spark, sf_dir)
    spine = xdb.date_spine("day", "'1995-01-01'", "'1995-02-01'")
    return spark.sql(f"""
        with spine as ({spine})
        select cast(s.date_day as string) as date_day,
               cast(count(o.o_orderkey) as bigint) as n_orders
        from spine s
        left join orders o on o.o_orderdate = s.date_day
        group by s.date_day
    """)


def xdb_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_core_spark.functions import xdb

    _reg(spark, sf_dir)
    arr = xdb.array_append(
        xdb.array_concat(xdb.array_construct(["r_regionkey", "r_regionkey * 10"]),
                         xdb.array_construct(["100"])),
        "999",
    )
    return spark.sql(f"""
        select r_name as region_name, explode({arr}) as v from region
    """).withColumn("v", F.col("v").cast("bigint"))


def generate_series_powers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_core_spark.functions import xdb

    return spark.sql(
        f"select generated_number, cast({xdb.get_powers_of_two('generated_number')} as bigint) as pow2 "
        f"from ({xdb.generate_series(64)})"
    ).withColumn("generated_number", F.col("generated_number").cast("bigint"))


# =========================================================================
# engine-driven (materializations exercised end-to-end)
# =========================================================================

def _fresh_engine_schema(spark: SparkSession, schema: str) -> None:
    """Drop the gate's databases in BOTH the catalog and on disk.

    ``DROP DATABASE … CASCADE`` only removes what the *current*
    metastore knows about.  When a fresh driver session runs against a
    warehouse directory that still holds ``<db>.db/<table>`` from a
    previous process (driver r7: engine_compaction failed with
    LOCATION_ALREADY_EXISTS on ``saveAsTable``), the catalog drop is a
    no-op on disk.  Physically remove each schema's warehouse location
    after the drop so every engine_* gate that ``saveAsTable``s is
    idempotent across sessions.
    """
    import shutil
    from urllib.parse import unquote, urlparse

    wh_uri = spark.conf.get("spark.sql.warehouse.dir", "")
    parsed = urlparse(wh_uri)
    wh = unquote(parsed.path) if parsed.scheme in ("", "file") else ""
    for db in (schema, f"{schema}__sources", f"{schema}_dbt_test__audit"):
        spark.sql(f"DROP DATABASE IF EXISTS `{db}` CASCADE")
        if wh:
            loc = os.path.join(wh, f"{db}.db")
            if os.path.isdir(loc):
                shutil.rmtree(loc, ignore_errors=True)


def engine_view_table_ephemeral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view + ephemeral + table materializations through the Engine."""
    from dbt_core_spark import Engine, ProjectDef

    schema = "drv_vte"
    _fresh_engine_schema(spark, schema)
    p = ProjectDef(name="drv")
    p.add_source("tpch", "orders", f"{sf_dir}/orders.parquet")
    p.add_source("tpch", "lineitem", f"{sf_dir}/lineitem.parquet")
    p.models["stg_orders"] = """
        select o_orderkey as order_key, o_orderstatus as status
        from {{ source('tpch','orders') }}
    """
    p.models["stg_items"] = """
        {{ config(materialized='ephemeral') }}
        select l_orderkey as order_key,
               cast(round(l_extendedprice * (1 - l_discount) * 10000) as bigint) as rev_e4
        from {{ source('tpch','lineitem') }}
    """
    p.models["status_revenue"] = """
        {{ config(materialized='table') }}
        select o.status,
               cast(sum(i.rev_e4) / 10000.0 as double) as revenue,
               cast(count(distinct o.order_key) as bigint) as n_orders
        from {{ ref('stg_orders') }} o
        join {{ ref('stg_items') }} i on o.order_key = i.order_key
        group by o.status
    """
    eng = Engine(spark, p, schema=schema)
    res = eng.run()
    if not res.ok():
        raise RuntimeError(str([r.message for r in res.results if r.status == "error"]))
    return eng.table("status_revenue")


def engine_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental merge: first run loads orders < 1997, second run upserts
    1996-onward (overlapping year ⇒ real updates); final table must equal
    the full aggregation."""
    from dbt_core_spark import Engine, ProjectDef

    schema = "drv_inc"
    _fresh_engine_schema(spark, schema)
    p = ProjectDef(name="drv")
    p.add_source("tpch", "orders", f"{sf_dir}/orders.parquet")
    p.models["cust_orders"] = """
        {{ config(materialized='incremental', unique_key='customer_key') }}
        select o_custkey as customer_key,
               cast(count(*) as bigint) as n_orders,
               cast(max(cast(o_orderdate as string)) as string) as last_order_date
        from {{ source('tpch','orders') }}
        where o_orderdate < timestamp '{{ var("cutoff") }} 00:00:00'
        group by o_custkey
    """
    eng1 = Engine(spark, p, schema=schema, vars={"cutoff": "1997-01-01"})
    r1 = eng1.run()
    if not r1.ok():
        raise RuntimeError(str([r.message for r in r1.results]))
    # second run: recompute *complete* per-customer aggregates (no cutoff)
    # for customers seen since 1996, merge over the stale rows
    p.models["cust_orders"] = """
        {{ config(materialized='incremental', unique_key='customer_key') }}
        select o_custkey as customer_key,
               cast(count(*) as bigint) as n_orders,
               cast(max(cast(o_orderdate as string)) as string) as last_order_date
        from {{ source('tpch','orders') }}
        {% if is_incremental() %}
        where o_custkey in (select distinct o_custkey from {{ source('tpch','orders') }}
                            where o_orderdate >= timestamp '1996-01-01 00:00:00')
        {% endif %}
        group by o_custkey
    """
    eng2 = Engine(spark, p, schema=schema)
    r2 = eng2.run()
    if not r2.ok():
        raise RuntimeError(str([r.message for r in r2.results]))
    return eng2.table("cust_orders")


def engine_snapshot_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 snapshot over two source states with pinned update
    timestamps → fully deterministic history table."""
    from dbt_core_spark import Engine, ProjectDef

    schema = "drv_snap"
    _fresh_engine_schema(spark, schema)
    p = ProjectDef(name="drv")
    p.add_source("tpch", "customer", f"{sf_dir}/customer.parquet")
    base_sql = """
        select c_custkey as customer_key, c_name as name,
               {acctbal} as acctbal,
               timestamp '{ts}' as updated_at
        from {{{{ source('tpch','customer') }}}}
        where c_custkey <= 200
    """
    p.snapshots["cust_snap"] = {
        "sql": base_sql.format(acctbal="c_acctbal", ts="2020-01-01 00:00:00"),
        "unique_key": "customer_key", "strategy": "timestamp",
        "updated_at": "updated_at",
    }
    eng1 = Engine(spark, p, schema=schema)
    r1 = eng1.snapshot()
    if not r1.ok():
        raise RuntimeError(str([r.message for r in r1.results]))
    # state 2: customers with key%10=0 get +100 balance at a later ts
    p.snapshots["cust_snap"]["sql"] = base_sql.format(
        acctbal="case when c_custkey % 10 = 0 then c_acctbal + 100 else c_acctbal end",
        ts="2020-02-01 00:00:00",
    ).replace("timestamp '2020-02-01 00:00:00' as updated_at",
              "case when c_custkey % 10 = 0 then timestamp '2020-02-01 00:00:00' "
              "else timestamp '2020-01-01 00:00:00' end as updated_at")
    eng2 = Engine(spark, p, schema=schema)
    r2 = eng2.snapshot()
    if not r2.ok():
        raise RuntimeError(str([r.message for r in r2.results]))
    return spark.table(f"{schema}.cust_snap").select(
        "customer_key", "name",
        F.col("acctbal").cast("double").alias("acctbal"),
        F.col("dbt_valid_from").cast("string").alias("valid_from"),
        F.col("dbt_valid_to").cast("string").alias("valid_to"),
    )


def engine_microbatch_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Microbatch incremental over events, one batch per day for the first
    five days of the stream; event-time filter pushed into the upstream
    source read per batch."""
    import datetime as dt

    from dbt_core_spark import Engine, ProjectDef

    schema = "drv_mb"
    _fresh_engine_schema(spark, schema)
    p = ProjectDef(name="drv")
    p.add_source("ev", "events", _events_us_path(spark, sf_dir))
    p.models["daily_events"] = """
        {{ config(materialized='incremental', incremental_strategy='microbatch',
                  event_time='ts', batch_size='day', begin='2024-01-01',
                  unique_key='event_id') }}
        select event_id, ts, user_id, event_type, value
        from {{ source('ev','events') }}
    """
    eng = Engine(spark, p, schema=schema)
    # mark source event_time so the per-batch filter is injected
    for node in eng.manifest.sources.values():
        node.config["event_time"] = "ts"
    res = eng.run(
        event_time_start=dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc),
        event_time_end=dt.datetime(2024, 1, 5, tzinfo=dt.timezone.utc),
    )
    if not res.ok():
        raise RuntimeError(str([r.message for r in res.results]))
    return spark.table(f"{schema}.daily_events").select(
        "event_id", F.unix_micros("ts").alias("ts_us"),
        "user_id", "event_type",
        F.col("value").cast("double").alias("value"),
    )


def engine_insert_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental insert_overwrite with dynamic partition overwrite:
    second run rewrites only the partitions present in its batch."""
    from dbt_core_spark import Engine, ProjectDef

    schema = "drv_iow"
    _fresh_engine_schema(spark, schema)
    p = ProjectDef(name="drv")
    p.add_source("ev", "events", _events_us_path(spark, sf_dir))
    p.models["daily_counts"] = """
        {{ config(materialized='incremental',
                  incremental_strategy='insert_overwrite',
                  partition_by='day') }}
        select cast(cast(ts as date) as string) as day,
               event_type, cast(count(*) as bigint) as n
        from {{ source('ev','events') }}
        {% if is_incremental() %}
          where ts >= timestamp '2024-01-15 00:00:00'
        {% endif %}
        group by 1, 2
    """
    eng = Engine(spark, p, schema=schema)
    r1 = eng.run()
    if not r1.ok():
        raise RuntimeError(str([r.message for r in r1.results]))
    eng2 = Engine(spark, p, schema=schema)
    r2 = eng2.run()  # overwrites only days >= Jan 15; earlier days untouched
    if not r2.ok():
        raise RuntimeError(str([r.message for r in r2.results]))
    return spark.table(f"{schema}.daily_counts")


def engine_python_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python model (`def model(dbt, session)`) with a real DataFrame —
    first-class citizen, no code shipping (ref: ADR-004)."""
    from pyspark.sql import functions as PF

    from dbt_core_spark import Engine, ProjectDef

    schema = "drv_py"
    _fresh_engine_schema(spark, schema)
    p = ProjectDef(name="drv")
    p.add_source("tpch", "orders", f"{sf_dir}/orders.parquet")
    p.models["stg_orders"] = (
        "select o_orderkey, o_custkey, o_totalprice from {{ source('tpch','orders') }}"
    )

    def top_customers(dbt, session):
        df = dbt.ref("stg_orders")
        return (
            df.groupBy("o_custkey")
            .agg(
                PF.count("*").cast("bigint").alias("n_orders"),
                (PF.sum(PF.round(PF.col("o_totalprice") * 100).cast("bigint")) / 100.0)
                .cast("double").alias("total_spend"),
            )
            .filter(PF.col("n_orders") >= 10)
            .withColumnRenamed("o_custkey", "customer_key")
        )

    p.python_models["top_customers"] = top_customers
    p.model_configs["top_customers"] = {
        "materialized": "table", "depends_on": ["stg_orders"]}
    eng = Engine(spark, p, schema=schema)
    res = eng.run()
    if not res.ok():
        raise RuntimeError(str([r.message for r in res.results]))
    return eng.table("top_customers")


def dedup_embedding_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup: drop the higher id of any pair
    with cosine ≥ threshold; return survivors."""
    from dbt_core_spark.operators.similarity import cosine_pairs

    emb = _t(spark, sf_dir, "embeddings")
    pairs = cosine_pairs(emb, "embedding", "vec_id", threshold=0.45)
    losers = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return emb.join(losers, "vec_id", "left_anti").select("vec_id", "label")


def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data pipeline: quality filter → language filter
    → near-dup removal (n-gram Jaccard ≥ 0.5 keeps lowest id) —
    the canonical pre-training corpus cleaning flow as ONE lazy plan."""
    from dbt_core_spark.operators.dedup import ngram_jaccard_pairs
    from dbt_core_spark.operators.textstats import detect_language, quality_features

    docs = _t(spark, sf_dir, "documents")
    qual = quality_features(docs, "text", "doc_id").select(
        "doc_id", "n_words", "quality_score")
    lang = detect_language(docs, "text", "doc_id").select("doc_id", "detected_lang")
    keep = (
        docs.join(qual, "doc_id")
        .join(lang, "doc_id")
        .filter((F.col("quality_score") >= 0.6) & (F.col("detected_lang") == "en"))
        # persisted: the dedup stage consumes keep three times (sizes +
        # both join sides); caching avoids recomputing the feature joins
        .persist()
    )
    dup_losers = (
        ngram_jaccard_pairs(keep, "text", "doc_id", n=3, threshold=0.5)
        .select(F.col("id_b").alias("doc_id")).distinct()
    )
    return keep.join(dup_losers, "doc_id", "left_anti").select(
        "doc_id", "detected_lang", "n_words",
        F.col("quality_score").alias("quality_score"))


def engine_streaming_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming_table materialization: the model runs as a checkpointed
    Structured Streaming pipeline (AvailableNow) over a stream source;
    re-runs are exactly-once no-ops until new files arrive."""
    import shutil

    from dbt_core_spark import Engine, ProjectDef

    schema = "drv_stream"
    # Reset CROSS-SESSION streaming state at gate entry (r8 verdict):
    # the checkpoint under spark-warehouse/_streaming is keyed only by
    # relation name and outlives the driver process; a prior session's
    # checkpoint records that session's source part files, and replaying
    # it against this session's source copy would either fail
    # (basePath mismatch) or double-ingest renamed part files.  The
    # exactly-once demonstration is the INTRA-gate second eng.run()
    # below, which the reset does not touch.
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "/tmp/spark-warehouse"
    ).removeprefix("file:")
    shutil.rmtree(
        os.path.join(wh, "_streaming", f"{schema}__events_clean"),
        ignore_errors=True,
    )
    spark.sql(f"DROP DATABASE IF EXISTS {schema} CASCADE")
    p = ProjectDef(name="drv")
    p.add_source("raw", "events", _events_us_path(spark, sf_dir), stream=True)
    p.models["events_clean"] = """
        {{ config(materialized='streaming_table') }}
        select event_id, ts, user_id, upper(event_type) as event_type
        from {{ source('raw', 'events') }}
    """
    eng = Engine(spark, p, schema=schema)
    res = eng.run()
    if not res.ok():
        raise RuntimeError(str([r.message for r in res.results]))
    eng.run()  # second run: checkpoint makes it a no-op (exactly-once)
    spark.sql(f"refresh table {schema}.events_clean")
    return spark.table(f"{schema}.events_clean").select(
        "event_id", F.unix_micros("ts").alias("ts_us"), "user_id", "event_type"
    )


def engine_generic_test_failures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic-test operator output: the failing rows of an
    accepted_values test (stored via store_failures)."""
    from dbt_core_spark import Engine, ProjectDef

    schema = "drv_test"
    _fresh_engine_schema(spark, schema)
    p = ProjectDef(name="drv")
    p.add_source("ev", "events", _events_us_path(spark, sf_dir))
    p.models["stg_events"] = (
        "select event_id, event_type from {{ source('ev','events') }}"
    )
    p.tests["accepted_ev_types"] = {
        "type": "accepted_values", "model": "stg_events", "column": "event_type",
        "values": ["click", "view"], "severity": "warn", "store_failures": True,
    }
    eng = Engine(spark, p, schema=schema)
    r1 = eng.run()
    if not r1.ok():
        raise RuntimeError(str([r.message for r in r1.results]))
    eng.test()
    return spark.table(f"{schema}_dbt_test__audit.accepted_ev_types").select(
        "value_field", F.col("n_records").cast("bigint").alias("n_records")
    )


# =========================================================================
# LLM-pipeline operators
# =========================================================================

def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_core_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id").select("doc_id", "lang", "n_chars")


def dedup_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_core_spark.operators.textstats import fingerprint

    docs = _t(spark, sf_dir, "documents")
    return fingerprint(docs, "text", "doc_id")


def ngram_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_core_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.2)


def minhash_lsh_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_core_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "text", "doc_id", n=3, num_perm=64,
                             bands=32, threshold=0.7)


_PII_AUG = (
    "concat(text, ' contact u', cast(doc_id as string), '@example.com or +1 "
    "555-123-', lpad(cast(doc_id % 10000 as string), 4, '0'), ' ssn 123-45-', "
    "lpad(cast(doc_id % 10000 as string), 4, '0'), ' ip 10.0.', "
    "cast(doc_id % 256 as string), '.7')"
)


def pii_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (corpus hygiene): deterministic PII-shaped spans are
    injected into the synthetic docs, then redacted by the operator —
    output carries the scrubbed-text md5 + per-kind redaction counts so
    the oracle verifies the exact replacement text."""
    from dbt_core_spark.operators.textstats import scrub_pii

    docs = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_PII_AUG} as text"
    )
    return scrub_pii(docs, "text", "doc_id").selectExpr(
        "doc_id", "md5(scrubbed) as scrubbed_md5",
        "n_email", "n_ssn", "n_phone", "n_ipv4",
    )


def winnow_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) document fingerprints — MOSS-style;
    per-(doc, fingerprint) rows, md5-portable so DuckDB reproduces them
    bit-for-bit."""
    from dbt_core_spark.operators.dedup import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, "text", "doc_id", k=3, w=4)


def cc_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact connected components over the n-gram-Jaccard≥0.5 pair
    graph (iterative min-label propagation; oracle = DuckDB recursive
    CTE): one row per clustered doc with its component's min id."""
    from dbt_core_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)
    return connected_components(pairs).selectExpr(
        "id as doc_id", "cast(component as bigint) as component"
    )


def chunk_documents_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length packing: overlapping 40-word chunks (10 overlap),
    one row per (doc, chunk) — shuffle-free per-row map."""
    from dbt_core_spark.operators.textstats import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, "text", "doc_id", chunk_words=40, overlap=10)


def assign_splits_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucketed train/val/test assignment (portable
    md5 arithmetic — stable across engines and cluster sizes)."""
    from dbt_core_spark.operators.textstats import assign_splits

    docs = _t(spark, sf_dir, "documents")
    return assign_splits(docs, "doc_id",
                         {"train": 0.9, "val": 0.05, "test": 0.05})


def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_core_spark.operators.dedup import simhash

    docs = _t(spark, sf_dir, "documents").filter("text is not null")
    return simhash(docs, "text", "doc_id")


def text_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_core_spark.operators.textstats import quality_features

    docs = _t(spark, sf_dir, "documents")
    return quality_features(docs, "text", "doc_id")


def gopher_repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters: duplicate-word fraction + top-bigram
    coverage per document (Rae et al. 2021)."""
    from dbt_core_spark.operators.textstats import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs, "text", "doc_id")


def quantize_embeddings_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column —
    FAISS-SQ8-style storage reduction, pure JVM HOFs, exact oracle.

    The ``q`` array is posexploded to (vec_id, pos, qval) before return:
    array cells must never reach the driver's pandas canonicalizer
    (same convention as xdb_arrays)."""
    from dbt_core_spark.operators.similarity import quantize_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    out = quantize_embeddings(emb, "embedding", "vec_id")
    return out.select(
        "vec_id", "scale", F.posexplode("q").alias("pos", "qval")
    ).select(
        "vec_id",
        "scale",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("qval").cast("bigint").alias("qval"),
    )


def incremental_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: sign a NEW batch (doc_id >= 400) and match
    it against the stored corpus index (doc_id < 400) — banded candidate
    join + exact-Jaccard verify, never a corpus self-join."""
    from dbt_core_spark.operators.dedup import minhash_index, minhash_match

    docs = _t(spark, sf_dir, "documents")
    corpus_ix = minhash_index(docs.filter("doc_id < 400"))
    batch_ix = minhash_index(docs.filter("doc_id >= 400"))
    return minhash_match(batch_ix, corpus_ix, threshold=0.7)


def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing any 3-gram with the
    'benchmark' probe subset (doc_id % 50 == 0) are flagged with their
    distinct-hit count."""
    from dbt_core_spark.operators.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    probes = docs.filter("doc_id % 50 = 0")
    corpus = docs.filter("doc_id % 50 <> 0")
    return decontaminate(corpus, probes, n=3)


def boilerplate_ngram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/C4-style cross-document boilerplate: fraction of each
    doc's distinct 3-grams that occur in ≥5 distinct documents."""
    from dbt_core_spark.operators.textstats import boilerplate_ngram_stats

    docs = _t(spark, sf_dir, "documents")
    return boilerplate_ngram_stats(docs, "text", "doc_id", n=3, min_docs=5)


def source_cap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document caps — anti-domination sampling (≤7 docs per
    source, deterministic by ascending id)."""
    from dbt_core_spark.operators.textstats import cap_per_group

    docs = _t(spark, sf_dir, "documents")
    return cap_per_group(docs, "source", "doc_id", cap=7)


def language_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_core_spark.operators.textstats import detect_language

    docs = _t(spark, sf_dir, "documents")
    return detect_language(docs, "text", "doc_id")


def token_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_core_spark.operators.textstats import bpe_token_estimate, token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").cast("bigint").alias("n_tokens_ws"),
        bpe_token_estimate("text").alias("n_tokens_bpe"),
    )


def cosine_pairs_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_core_spark.operators.similarity import cosine_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_pairs(emb, "embedding", "vec_id", threshold=0.4)


def cosine_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_core_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, "embedding", "vec_id", k=3)


def cosine_topk_blas_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k via Arrow+BLAS (broadcast index + mapInPandas matmul)
    — same results as cosine_topk_embeddings; cosine rounded to 9 dp so
    the oracle compare is reduction-order-independent."""
    from dbt_core_spark.operators.similarity import cosine_topk_blas

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk_blas(emb, "embedding", "vec_id", k=3)


def ann_lsh_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane LSH top-k.  "Approximate" refers to recall
    vs exact search — the computation itself is fully deterministic
    (md5-seeded hyperplanes), so the DuckDB oracle reproduces buckets,
    candidate set, and cosines bit-for-bit."""
    from dbt_core_spark.operators.similarity import lsh_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_cosine_topk(emb, "embedding", "vec_id", k=3, dim=64, planes=5, tables=8)


def ann_ivf_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat top-k, gate variant: kmeans_iters=0 pins the centroids
    to the deterministic id-ordered seed sample, making the entire
    assign→probe→score path SQL-expressible (exact DuckDB oracle).
    The Lloyd-refined production variant (kmeans_iters>=1) is recall-
    tested in tests/test_similarity.py."""
    from dbt_core_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(emb, "embedding", "vec_id", k=3, n_cells=16, n_probe=4,
                    kmeans_iters=0)


def ann_ivf_blas_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production IVF shape: sample-fit numpy centroids, one Arrow
    assignment pass, per-cell applyInPandas matmul, global merge.
    Gate variant: kmeans_iters=0 → centroids are the id-ordered seed
    sample, so the same deterministic SQL oracle as ann_ivf_topk
    applies (BLAS vs fold reduction differences are absorbed by the
    6 dp rounding, same as cosine_topk_blas)."""
    from dbt_core_spark.operators.similarity import ivf_topk_blas

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk_blas(emb, "embedding", "vec_id", k=3, n_cells=16, n_probe=4,
                         kmeans_iters=0)


def ann_ivf_index_query_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once / search-many IVF: index the corpus (kmeans_iters=0 →
    deterministic seed centroids; centroids + assignments are plain
    DataFrames a production pipeline persists as tables), then search
    it with the vec_id%20==0 batch — the incremental-ingest ANN shape.
    Exact SQL oracle (the ann_ivf family's determinism conventions)."""
    from dbt_core_spark.operators.similarity import (
        ivf_index_build,
        ivf_index_search,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents, assigns = ivf_index_build(emb, n_cells=16, kmeans_iters=0)
    # composing build+search in ONE job: seal the assignment pass so it
    # executes once (production persists it as a table instead)
    assigns = assigns.localCheckpoint(eager=False)
    batch = emb.filter(F.col("vec_id") % 20 == 0)
    return ivf_index_search(cents, assigns, batch, k=3, n_probe=4)


def ann_ivf_index_append_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index APPEND lifecycle: build the IVF index on the vec_id%20!=0
    corpus, append the %20==0 ingest batch via ivf_index_append (one
    Arrow pass over the batch — the corpus is never re-assigned), then
    search the batch against the combined assignments.  The appended
    cells are bit-identical to a full rebuild's, so the whole
    build→append→search composition keeps an exact SQL oracle."""
    from dbt_core_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_build,
        ivf_index_search,
    )

    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 20 != 0)
    batch = emb.filter(F.col("vec_id") % 20 == 0)
    cents, assigns = ivf_index_build(corpus, n_cells=16, kmeans_iters=0)
    appended = ivf_index_append(cents, batch)
    combined = assigns.unionByName(appended).localCheckpoint(eager=False)
    return ivf_index_search(cents, combined, batch, k=3, n_probe=4)


def containment_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment pairs (threshold 0.5 on either
    side): the sub-document dedup filter that catches quoted/subset
    documents symmetric Jaccard misses.  Exact DuckDB oracle (integer
    division semantics shared with the jaccard oracle)."""
    from dbt_core_spark.operators.dedup import ngram_containment_pairs

    return ngram_containment_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.5
    )


def dup_span_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplicate spans (suffix-array-dedup
    approximation, Lee et al. 2022): maximal word spans covered by
    5-grams occurring in ≥2 distinct documents.  Catches partially
    copied passages whole-doc dedup misses; exact DuckDB oracle
    (md5-hashed grams, per-doc island windows)."""
    from dbt_core_spark.operators.dedup import dup_ngram_spans

    return dup_ngram_spans(
        _t(spark, sf_dir, "documents"), k=5, min_docs=2
    )


def dup_span_cut_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed substring dedup: detect duplicated 5-gram spans, then
    cut them out and rebuild the clean token stream — the full
    detect→remove action of Lee et al. substring dedup, end to end
    against one oracle."""
    from dbt_core_spark.operators.dedup import cut_dup_spans, dup_ngram_spans

    docs = _t(spark, sf_dir, "documents")
    spans = dup_ngram_spans(docs, k=5, min_docs=2)
    return cut_dup_spans(docs, spans)


def dsir_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scores (Xie et al. 2023): hashed-unigram
    log-ratio of target (lang='en') vs raw corpus distributions,
    integer micro-nat sums for bit-exact cross-engine totals."""
    from dbt_core_spark.operators.corpus import dsir_score

    docs = _t(spark, sf_dir, "documents")
    return dsir_score(docs, docs.filter(F.col("lang") == "en"), dim=256)


def ann_recall_ivf_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the deterministic IVF index (kmeans_iters=0,
    n_probe=4) against exact BLAS top-3 — ANN quality measurement as a
    first-class operator; both sides and the recall math have exact
    DuckDB oracles."""
    from dbt_core_spark.operators.similarity import (
        ann_recall,
        cosine_topk_blas,
        ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    exact = cosine_topk_blas(emb, "embedding", "vec_id", k=3)
    approx = ivf_topk(emb, "embedding", "vec_id", k=3, n_cells=16,
                      n_probe=4, kmeans_iters=0)
    return ann_recall(exact, approx, k=3)


def hash_embed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing text embeddings (hashing trick): md5 bucket +
    sign, signed counts L2-normalized — the model-free baseline that
    closes text→vector→ANN in-engine.  Sparse exploded output
    (doc_id, pos, val) at 6 dp; exact DuckDB oracle."""
    from dbt_core_spark.operators.textstats import hash_embed

    docs = _t(spark, sf_dir, "documents")
    emb = hash_embed(docs, dim=64)
    return (
        emb.select("doc_id", F.posexplode("embedding").alias("pos", "val"))
        .filter(F.col("val") != 0.0)
        .select("doc_id", "pos", F.round("val", 6).alias("val"))
    )


def semantic_dedup_incremental_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-flow SemDeDup: the vec_id%20==0 batch deduped against the
    indexed rest-of-corpus (batch-vs-corpus only — never a self-join),
    on the persisted IVF index.  kmeans_iters=0 → exact SQL oracle."""
    from dbt_core_spark.operators.similarity import (
        ivf_index_build,
        semantic_dedup_incremental,
    )

    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 20 != 0)
    batch = emb.filter(F.col("vec_id") % 20 == 0)
    cents, assigns = ivf_index_build(corpus, n_cells=16, kmeans_iters=0)
    assigns = assigns.localCheckpoint(eager=False)  # one-job composition
    return semantic_dedup_incremental(cents, assigns, batch, tau=0.2)


def asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (point-in-time): each event matched to the user's most
    recent order at-or-before the event time.  Custom operator — Spark
    has no native ASOF JOIN; DuckDB's native one is the oracle."""
    from dbt_core_spark.operators.asof import asof_join

    events = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders")
    # deduplicate right to one row per (key, ts) for determinism
    r = (
        orders.groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("last_order_key"))
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("ots"),
            "last_order_key",
        )
    )
    out = asof_join(events, r, on="user_id", left_ts="ts", right_ts="ots",
                    right_values=["last_order_key"])
    return out.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "last_order_key"
    )


def multi_granularity_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate: hour AND day rollups in one
    pass via GROUPING SETS."""
    _reg(spark, sf_dir)
    return spark.sql(f"""
        with base as (
            select date_format(date_trunc('hour', ts), 'yyyy-MM-dd HH:mm:ss') as hour_b,
                   date_format(date_trunc('day', ts), 'yyyy-MM-dd') as day_b,
                   value
            from events
        )
        select coalesce(hour_b, '') as hour_bucket,
               coalesce(day_b, '') as day_bucket,
               cast(grouping(hour_b) as bigint) as g_hour,
               cast(grouping(day_b) as bigint) as g_day,
               cast(count(*) as bigint) as n,
               {_money_sum("value", "sum_value")}
        from base
        group by grouping sets ((hour_b), (day_b))
    """)


def simhash_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs by Hamming distance ≤ 8, found via
    pigeonhole chunk blocking (never a cross join)."""
    from dbt_core_spark.operators.dedup import simhash_pairs

    docs = _t(spark, sf_dir, "documents").filter("text is not null")
    out = simhash_pairs(docs, "text", "doc_id", max_hamming=4, bits=32)
    return out.select("id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming"))


def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (md5-portable, oracle-verifiable unlike
    HLL) vs the exact distinct count, per event_type."""
    from dbt_core_spark.operators.sketches import kmv_distinct

    ev = _t(spark, sf_dir, "events")
    sketch = kmv_distinct(ev, "user_id", ["event_type"], k=64)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact"))
    return sketch.join(exact, "event_type")


def hll_distinct_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog (md5-derived registers, exact integer
    harmonic sum — engine-portable, unlike stock HLL impls) vs the
    exact distinct count, per event_type."""
    from dbt_core_spark.operators.sketches import hll_distinct

    ev = _t(spark, sf_dir, "events")
    sketch = hll_distinct(ev, "event_id", ["event_type"], p=8)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("event_id").cast("bigint").alias("n_exact"))
    return sketch.join(exact, "event_type")


def tfidf_top_terms_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-3 terms per document by
    tf·ln(N/df), term-ascending tiebreak."""
    from dbt_core_spark.operators.textstats import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "text", "doc_id", k=3)


def build_vocab_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary build: corpus term counts → contiguous
    token ids by (count desc, term asc)."""
    from dbt_core_spark.operators.textstats import build_vocab

    docs = _t(spark, sf_dir, "documents")
    return build_vocab(docs, "text", vocab_size=50000, min_count=2)


def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: rebalance skewed sources to
    ≈8 expected docs each via an exact-integer md5 keep-threshold."""
    from dbt_core_spark.operators.textstats import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(docs, "source", "doc_id", per_group=8)


def bloom_membership_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership (deterministic md5 bit positions): the
    corpus doc_id set sketched into ≤4096 bits, broadcast to a probe
    set — false positives reproduce exactly in the oracle."""
    from dbt_core_spark.operators.sketches import bloom_membership

    docs = _t(spark, sf_dir, "documents")
    probes = spark.range(200).select((F.col("id") * 97 + 5).alias("probe_id"))
    out = bloom_membership(docs, probes, "doc_id", "probe_id",
                           m_bits=4096, k=3)
    present = docs.select(F.col("doc_id").alias("probe_id")).distinct()
    return (
        out.join(present.withColumn("_p", F.lit(True)), "probe_id", "left")
        .select(
            "probe_id",
            "might_contain",
            F.coalesce(F.col("_p"), F.lit(False)).alias("actually_present"),
            (F.col("might_contain") & ~F.coalesce(F.col("_p"), F.lit(False))
             ).alias("false_positive"),
        )
    )


def pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style contiguous sequence packing: docs → fixed 256-token
    bins per source, deterministic by ascending doc_id."""
    from dbt_core_spark.operators.textstats import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, "text", "doc_id", "source", budget=256)


def quantile_sketch_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram quantile sketch (deterministic t-digest
    replacement): p50/p95/p99 of events.value per event_type from a
    256-bin histogram — sketch state ≤256 rows/group at any scale."""
    from dbt_core_spark.operators.sketches import histogram_quantiles

    ev = _t(spark, sf_dir, "events")
    return histogram_quantiles(
        ev, "value", ["event_type"], quantiles=(0.5, 0.95, 0.99),
        lo=0.0, hi=500.0, n_bins=256)


def streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming end-to-end: parquet file stream →
    watermark(1s) → 1h tumbling windows → AvailableNow drain to a memory
    sink.  Emits exactly the windows closed by the final watermark
    (max event ms − 1 s), which the SQL oracle reproduces."""

    from dbt_core_spark.streaming.structured import (
        run_to_memory,
        stream_source,
        windowed_rollup,
    )

    path = _events_us_path(spark, sf_dir)
    schema = spark.read.parquet(path).schema
    stream = stream_source(spark, path, schema, fmt="parquet")
    rolled = windowed_rollup(
        stream, "ts", window_duration="1 hour", watermark="1 second",
        group_cols=["event_type"], aggs=[F.count("*").alias("n")],
    )
    name = _drop_stale_memory_sinks(spark, "stream_roll_")
    run_to_memory(rolled, name)
    return spark.table(name).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        F.col("n").cast("bigint").alias("n"),
    )


def multimodal_features_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing + Arrow-batched mapInPandas feature stub."""
    from dbt_core_spark.operators.multimodal import attach_media, extract_features

    docs = _t(spark, sf_dir, "documents")
    return extract_features(attach_media(docs, "text", "doc_id"))


def multimodal_decode_wav_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL dependency-free codecs end-to-end: deterministic WAV/PPM
    payloads synthesized per document, then struct+numpy decoded back —
    features (duration/peak/RMS, width/height/brightness) are
    analytically predictable, so the decode path has an exact SQL
    oracle."""
    from dbt_core_spark.operators.multimodal import decode_media, synth_media

    docs = _t(spark, sf_dir, "documents")
    return decode_media(synth_media(docs, "text", "doc_id")).select(
        "media_id", "kind", "width", "height", "sample_rate",
        "n_samples", "duration_ms", "peak", "mean_value",
    )


def streaming_session_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming sessionization: parquet stream →
    watermark(1s) → session_window(10 min) per user → AvailableNow
    drain.  Emits exactly the sessions closed by the final watermark
    (last_event + gap <= max ts − 1 s), which the SQL oracle reproduces
    with islands-and-gaps."""

    from dbt_core_spark.streaming.structured import (
        run_to_memory,
        session_rollup,
        stream_source,
    )

    path = _events_us_path(spark, sf_dir)
    schema = spark.read.parquet(path).schema
    stream = stream_source(spark, path, schema, fmt="parquet")
    sessions = session_rollup(
        stream, "ts", gap="10 minutes", watermark="1 second",
        group_cols=["user_id"], aggs=[F.count("*").alias("n")],
    )
    name = _drop_stale_memory_sinks(spark, "stream_sess_")
    run_to_memory(sessions, name)
    return spark.table(name).select(
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("n").cast("bigint").alias("n"),
    )


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_core_spark.operators.multimodal import attach_media, frame_sample

    docs = _t(spark, sf_dir, "documents")
    media = attach_media(docs, "text", "doc_id").withColumn(
        "meta",
        F.struct(
            F.col("meta.mime").alias("mime"),
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
            ((F.col("media_id") % 5 + 1) * 1000).cast("bigint").alias("duration_ms"),
        ),
    )
    return frame_sample(media, every_ms=1000)


# -------------------------------------------------------------------------
# corpus composition (operators/corpus.py + similarity.semantic_dedup)
# -------------------------------------------------------------------------

def _lined_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with text re-flowed into 3-word lines — the testdata
    stores single-line texts, so line-level ops derive a deterministic
    multi-line form (same derivation mirrored in the SQL oracle)."""
    docs = _t(spark, sf_dir, "documents")
    # materialize the split once: referencing split(text) inside the
    # transform lambda re-evaluates it per line (~33x/doc) — measured
    # 2x slower at sf0.1.  Embedded newlines are flattened first: a
    # reflowed "line" carrying its own \n would split again inside
    # line_dedup while the oracle counts word-slice lines (gate-fuzz
    # finding; testdata is single-line so the sf gate never saw it).
    # NULL-text docs are excluded: they have no lines, and the oracle's
    # _LINED CTE carries the same filter (r6 NULL-doc fuzz; the doc-
    # operator convention — most doc oracles filter `text is not null`)
    return (
        docs.filter(F.col("text").isNotNull())
        .withColumn(
            "ws", F.split(F.regexp_replace(F.col("text"), "\n", " "), " ")
        )
        .withColumn(
            "text",
            F.expr(
                "concat_ws('\n', transform("
                " sequence(0, int((size(ws) - 1) / 3)),"
                " i -> concat_ws(' ', slice(ws, i * 3 + 1, 3))))"
            ),
        )
        .drop("ws")
    )


def line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-level boilerplate removal: lines appearing in
    >= 3 distinct documents are dropped from every document."""
    from dbt_core_spark.operators.corpus import line_dedup

    return line_dedup(_lined_docs(spark, sf_dir), min_docs=3)


def ngram_lm_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained add-1 bigram LM quality score per document
    (micro-nat integer arithmetic — bit-exact cross-engine)."""
    from dbt_core_spark.operators.corpus import ngram_lm_score

    return ngram_lm_score(_t(spark, sf_dir, "documents"), k_smooth=1)


def epoch_shuffle_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: md5(seed:id) → (shard, position),
    no global sort."""
    from dbt_core_spark.operators.corpus import epoch_shuffle

    return epoch_shuffle(_t(spark, sf_dir, "documents"), seed=42, num_shards=8)


# target mixture: source src<i> gets weight (i+1)·4762 ppm — a skewed
# spec so per-source sampling rates genuinely differ in the gate check
MIXTURE_PPM = {f"src{i}": (i + 1) * 4762 for i in range(20)}


def mixture_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture downsampling to skewed ppm weights; budget bound
    by the scarcest source, exact integer keep rule."""
    from dbt_core_spark.operators.corpus import mixture_sample

    return mixture_sample(_t(spark, sf_dir, "documents"), MIXTURE_PPM, seed=0)


def bpe_pair_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate statistics: top-50 adjacent character pairs
    weighted by word frequency."""
    from dbt_core_spark.operators.corpus import bpe_pair_stats

    return bpe_pair_stats(_t(spark, sf_dir, "documents"), top_n=50)


def webdataset_pipeline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data pipeline — the loader contract a training
    job actually consumes, end to end: mixture-sample the corpus to the
    target ppm weights, epoch-shuffle the survivors into (shard, pos),
    stream them out as WebDataset tar shards (epoch shard = tar shard,
    key = zero-padded position), read the tars back, and emit the
    manifest (shard, key, payload md5, doc_id).  Every stage is
    deterministic (integer/md5 math, byte-stable tars), so the whole
    composition has an exact DuckDB oracle — the readback manifest must
    equal the SQL-derived one bit for bit."""
    import os
    import shutil

    from dbt_core_spark.operators.corpus import epoch_shuffle, mixture_sample
    from dbt_core_spark.sources.writers import (
        read_webdataset_shards,
        write_webdataset_shards,
    )

    docs = _t(spark, sf_dir, "documents")
    picked = mixture_sample(docs, MIXTURE_PPM, seed=0).select("doc_id")
    sampled = docs.join(picked, "doc_id")
    shuf = epoch_shuffle(sampled, seed=42, num_shards=8)
    staged = sampled.join(shuf, "doc_id").select(
        "doc_id",
        "shard",
        F.format_string("%03d-%08d-%d", "shard", "pos", "doc_id").alias("key"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    path = os.path.join(
        "/tmp", f"wds_pipeline_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(path, ignore_errors=True)
    write_webdataset_shards(
        staged, path, n_shards=8, key_col="key", payload_col="payload",
        meta_cols=["doc_id"], shard_col="shard",
    )
    rb = read_webdataset_shards(spark, path)
    return rb.select(
        "shard",
        "key",
        F.md5(F.col("payload")).alias("payload_md5"),
        F.get_json_object("meta", "$.doc_id").cast("bigint").alias("doc_id"),
    )


def tokenize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-application tokenization: build_vocab over the corpus,
    then map every word to its token id (OOV → -1), exploded to
    (doc_id, pos, token_id)."""
    from dbt_core_spark.operators.corpus import tokenize_with_vocab
    from dbt_core_spark.operators.textstats import build_vocab

    docs = _t(spark, sf_dir, "documents")
    vocab = build_vocab(docs, "text", vocab_size=50000, min_count=2)
    return tokenize_with_vocab(docs, vocab)


def pool_embeddings_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk->document mean-pooling: per-label element-wise mean of the
    embedding vectors, exploded to (label, pos, mean_val); exact decimal
    sums make the accumulation order-independent cross-engine."""
    from dbt_core_spark.operators.similarity import pool_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    return pool_embeddings(emb, group_col="label")


def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup within coarse k-means cells (kmeans_iters=0 so centroid
    seeding is deterministic: first 16 vec_ids).  tau=0.42 is tuned to
    the synthetic embeddings (max pairwise cosine ≈ 0.47 — real corpora
    use 0.9+); the op semantics are threshold-independent.  n_cells=16
    bounds the within-cell quadratic to ~n²/16 pairs — at production
    scale cells grow with the corpus (SemDeDup uses 10k+ clusters)."""
    from dbt_core_spark.operators.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, tau=0.42, n_cells=16, kmeans_iters=0)


def semantic_dedup_blas_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production BLAS variant of SemDeDup (per-cell matmul via
    applyInPandas, hot-cell re-split) — identical results to the fold
    variant after 6-dp rounding; shares its SQL oracle (the ivf_topk /
    ivf_topk_blas precedent)."""
    from dbt_core_spark.operators.similarity import semantic_dedup_blas

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup_blas(emb, tau=0.42, n_cells=16, kmeans_iters=0)


def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed point-in-interval join: every 200th event defines a
    ±5-minute window; count and fixed-point-sum all events landing in
    each window.  A naive Spark inequality join is a nested-loop
    O(|events|·|windows|); range_join's temporal bucketing turns it into
    one shuffle join on the bucket key (operators/asof.py)."""
    from dbt_core_spark.operators.asof import range_join

    ev = _t(spark, sf_dir, "events")
    win = ev.filter("event_id % 200 = 0").select(
        F.col("event_id").alias("window_id"),
        (F.col("ts") - F.expr("INTERVAL 300 SECONDS")).alias("wstart"),
        (F.col("ts") + F.expr("INTERVAL 300 SECONDS")).alias("wend"),
    )
    joined = range_join(
        ev.select("event_id", "ts", "value"), win,
        "ts", "wstart", "wend", bucket_width=600,
    )
    return joined.groupBy("window_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.expr("cast(round(value * 10000) as bigint)")).alias("value_e4"),
    )


def classifier_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed-linear quality-classifier inference over
    documents (derived md5 weights → zero-shuffle row-local fold;
    operators/textstats.py:classifier_score)."""
    from dbt_core_spark.operators.textstats import classifier_score

    docs = _t(spark, sf_dir, "documents")
    return classifier_score(docs, "text", "doc_id", dim=256)


def cms_heavy_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over document words: the 4×1024
    deterministic md5 sketch, then distinct-word point queries ≥500.
    Sketch shuffle is bounded by depth·width per partition regardless of
    corpus size (operators/sketches.py:cms_heavy_hitters)."""
    from dbt_core_spark.operators.dedup import normalized_words
    from dbt_core_spark.operators.sketches import cms_heavy_hitters

    docs = _t(spark, sf_dir, "documents").filter("text is not null")
    # sealed: the exploded words feed TWO consumers (sketch build +
    # distinct probe) — without the seal the tokenize/explode runs
    # twice (the BLAS-kernel lineage lesson)
    words = docs.select(
        F.explode(normalized_words(F.col("text"))).alias("word")
    ).localCheckpoint(eager=False)
    return cms_heavy_hitters(words, "word", threshold=500, depth=4, width=1024)


def pq_encode_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011): 64-dim floats
    → 4 subspace codes against a deterministic 16-code codebook — the
    ~64× storage-compression tier under IVF
    (operators/similarity.py:pq_encode)."""
    from dbt_core_spark.operators.similarity import pq_codebook, pq_encode

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb, dim=64, m=4, ks=16)
    out = pq_encode(emb, cb, dim=64, m=4)
    return out.select(
        "vec_id", F.col("sub").cast("int").alias("sub"),
        F.col("code").cast("int").alias("code"),
    )


def pq_search_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-3 over PQ codes for the vec_id%50 query batch: per-query
    LUT broadcast + one (sub, code) equi-join — raw vectors never
    rescanned (operators/similarity.py:pq_search)."""
    from dbt_core_spark.operators.similarity import (
        pq_codebook, pq_encode, pq_search)

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb, dim=64, m=4, ks=16)
    codes = pq_encode(emb, cb, dim=64, m=4)
    queries = emb.filter("vec_id % 50 = 0")
    return pq_search(codes, queries, cb, k=3, dim=64, m=4)


def normalize_text_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/CCNet-style text canonicalization (unicode punctuation → ASCII,
    control-char strip, whitespace collapse) — zero-shuffle row-local
    expressions (operators/textstats.py:normalize_text)."""
    from dbt_core_spark.operators.textstats import normalize_text

    docs = _t(spark, sf_dir, "documents")
    return normalize_text(docs, "text", "doc_id")


def gram_matrix_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed X^T X over the embedding corpus in e8 fixed point —
    per-term half-up rounding makes the integer sums order-free and
    engine-portable; shuffle bounded by partitions·d²
    (operators/similarity.py:gram_matrix; feeds pca_project)."""
    from dbt_core_spark.operators.similarity import gram_matrix

    emb = _t(spark, sf_dir, "embeddings")
    return gram_matrix(emb, "embedding", dim=64)


def funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view→click→purchase funnel per user: greedy earliest completion
    with strictly-increasing times, ONE groupBy(user) shuffle + row-local
    fold (operators/sequence.py:funnel; oracle = nested-min SQL form)."""
    from dbt_core_spark.operators.sequence import funnel

    ev = _t(spark, sf_dir, "events")
    out = funnel(ev, ["view", "click", "purchase"], tiebreak_col="event_id")
    # epoch micros, not raw timestamps: collect() renders TimestampType
    # in the PROCESS-local zone, so a non-UTC driver environment would
    # shift values the DuckDB oracle reads naively (TZ-sweep finding;
    # funnel_stream_events made the same choice from birth).
    # try_element_at, NOT element_at: step_ts has steps_completed
    # entries, and under ANSI mode a partial funnel (every sf corpus
    # user completes all 3 steps, so only the fuzz suite caught this)
    # makes plain element_at THROW instead of yielding the oracle's
    # NULL (gate-fuzz finding, tests/test_gate_fuzz.py).
    return out.select(
        "user_id",
        "steps_completed",
        F.unix_micros(F.try_element_at("step_ts", F.lit(1))).alias("t1_us"),
        F.unix_micros(F.try_element_at("step_ts", F.lit(2))).alias("t2_us"),
        F.unix_micros(F.try_element_at("step_ts", F.lit(3))).alias("t3_us"),
    )


def random_projection_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse JL projection 64→16 dims: md5-derived ±1/0 matrix baked
    into the plan as literals, corpus pass is a zero-shuffle row-local
    fold (operators/similarity.py:random_projection)."""
    from dbt_core_spark.operators.similarity import random_projection

    emb = _t(spark, sf_dir, "embeddings")
    return random_projection(emb, dim=64, out_dim=16)


# fixed ranked merge list for the BPE gate query — training itself is
# a driver-side loop (pytest-verified vs an independent reference);
# the APPLICATION replace-chain is what the SQL oracle reproduces
_BPE_GATE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("an", "d"), ("e", "r"), ("o", "n"), ("r", "e"),
]


def bpe_token_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus subword-token frequencies under a ranked BPE merge list:
    word-count vocabulary (one bounded shuffle) → literal replace-chain
    merge application on vocabulary entries, pure JVM
    (operators/corpus.py:bpe_token_counts)."""
    from dbt_core_spark.operators.corpus import bpe_token_counts

    docs = _t(spark, sf_dir, "documents")
    return bpe_token_counts(docs, _BPE_GATE_MERGES)


def streaming_cms_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed count-min sketch: parquet file stream →
    per-hour (row, pos, cnt) counter tables, state bounded by
    windows·depth·width; bit-identical to batch cms_build per window
    (streaming/structured.py:streaming_cms)."""

    from dbt_core_spark.streaming.structured import (
        run_to_memory, stream_source, streaming_cms)

    path = _events_us_path(spark, sf_dir)
    schema = spark.read.parquet(path).schema
    stream = stream_source(spark, path, schema, fmt="parquet")
    sk = streaming_cms(stream, "ts", "event_type",
                       window_duration="1 hour", watermark="1 second",
                       depth=3, width=64)
    name = _drop_stale_memory_sinks(spark, "stream_cms_")
    run_to_memory(sk, name)
    return spark.table(name).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.col("row").cast("int").alias("row"),
        F.col("pos").cast("bigint").alias("pos"),
        F.col("cnt").cast("bigint").alias("cnt"),
    )


def funnel_stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful funnel (applyInPandasWithState step machine,
    state = two scalars/user) drained AvailableNow over the events
    parquet; compared on each user's FIRST completion time, which is
    tie-order-invariant and equals the batch nested-min form — the
    same batch-replay-determinism gate streaming_cms established
    (streaming/stateful.py:funnel_stream)."""

    from dbt_core_spark.streaming.stateful import funnel_stream
    from dbt_core_spark.streaming.structured import (
        run_to_memory, stream_source)

    path = _events_us_path(spark, sf_dir)
    schema = spark.read.parquet(path).schema
    stream = stream_source(spark, path, schema, fmt="parquet")
    out = funnel_stream(stream, ["view", "click", "purchase"])
    name = _drop_stale_memory_sinks(spark, "stream_funnel_")
    run_to_memory(out, name)
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.min("completed_at").alias("_fc"))
        .select(
            F.col("user_id"),
            F.unix_micros("_fc").alias("first_completed_us"),
        )
    )


def zorder_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering codes over (o_custkey, o_orderdate):
    the write-layout operator behind two-column parquet data skipping —
    integer-exact scaling + bit interleave, one tiny min/max broadcast
    (operators/layout.py:zorder_code)."""
    from dbt_core_spark.operators.layout import zorder_code

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.datediff("o_orderdate", F.lit("1970-01-01")).alias("odays"),
    )
    return zorder_code(orders, "o_custkey", "odays", bits=8).select(
        "o_orderkey", "zcode"
    )


def kmv_jaccard_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary overlap between two corpus halves from k=256 KMV
    sketches — "how much does the new crawl overlap the trained
    corpus?" without a distinct-join
    (operators/sketches.py:kmv_jaccard)."""
    from dbt_core_spark.operators.dedup import normalized_words
    from dbt_core_spark.operators.sketches import kmv_jaccard

    docs = _t(spark, sf_dir, "documents").filter("text is not null")
    # sealed: both corpus halves consume the same exploded-words frame
    words = docs.select(
        "source", F.explode(normalized_words(F.col("text"))).alias("word")
    ).localCheckpoint(eager=False)
    a = words.filter(F.length("source") <= 4).select("word")   # src0..src9
    b = words.filter(F.length("source") > 4).select("word")    # src10..src19
    return kmv_jaccard(a, b, "word", k=256)


def count_anomalies_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly volume-anomaly flags per event type: |cnt−μ| > 2σ decided
    in pure integer arithmetic ((cnt·n−s)² > 4·(ss·n−s²)) — float-free,
    bit-reproducible (operators/sequence.py:count_anomalies)."""
    from dbt_core_spark.operators.sequence import count_anomalies

    ev = _t(spark, sf_dir, "events")
    out = count_anomalies(ev, z=2)
    return out.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "cnt",
        "is_anomaly",
    )


def pipeline_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed quality gate: normalize_text → hashed-classifier scoring
    → keep-filter — the canonical front of a pretraining ingest,
    operators chained as DataFrames (oracle chains the same CTEs)."""
    from dbt_core_spark.operators.textstats import (
        classifier_score, normalize_text)

    docs = _t(spark, sf_dir, "documents")
    norm = normalize_text(docs, "text", "doc_id").select(
        "doc_id", F.col("text_norm").alias("text")
    )
    scored = classifier_score(norm, "text", "doc_id", dim=256)
    return scored.filter("label = 'keep'").select(
        "doc_id", "n_words", "logit_e6"
    )


def ivfpq_search_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC: coarse IVF cell pruning + residual-PQ ADC scan — the
    combined 100 TB ANN architecture (candidates ÷ n_cells/n_probe,
    bytes-per-candidate ÷ dim·4/m)
    (operators/similarity.py:ivfpq_search)."""
    from dbt_core_spark.operators.similarity import ivfpq_search

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id % 50 = 0")
    return ivfpq_search(emb, queries, k=3, n_cells=16, n_probe=4,
                        m=4, ks=16, dim=64)


def ivfpq_index_lifecycle_embeddings(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-IVFPQ deletion lifecycle (r11 — the compressed tier
    gains the build-once/serve-many/delete form the flat IVF index
    already has): build (cents, codebook, integer code table) once,
    tombstone the vec_id%6==0 codes while the STANDING centroids and
    codebook stay put (FAISS IndexIVFPQ.remove_ids — trained
    artifacts never re-seed on delete), then serve the %50 query
    batch through the probed-cells ADC scan
    (operators/similarity.py:ivfpq_index_build/delete/search).  The
    oracle is the ivfpq_search replay with only the candidate scan
    filtered to survivors — standing-model semantics, not a rebuild."""
    from dbt_core_spark.operators.similarity import (
        ivfpq_index_build,
        ivfpq_index_delete,
        ivfpq_index_search,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents, cb, codes = ivfpq_index_build(emb, n_cells=16, m=4, ks=16,
                                         dim=64)
    codes = ivfpq_index_delete(
        codes, emb.filter("vec_id % 6 = 0").select("vec_id"))
    # sealed: the LUT join reads the standing code table — without the
    # seal the build encode pass replays per consumer
    codes = codes.localCheckpoint(eager=False)
    return ivfpq_index_search(cents, cb, codes,
                              emb.filter("vec_id % 50 = 0"),
                              k=3, n_probe=4, m=4, dim=64)


def ivfpq_index_append_embeddings(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-IVFPQ ingest lifecycle (r11): build the index on the
    vec_id%7≠0 history, APPEND the %7=0 batch through the STANDING
    centroids and codebook (FAISS IndexIVFPQ.add — trained artifacts
    never re-train on ingest; only the batch is assigned/encoded),
    then serve the %50 query batch over the merged code table
    (operators/similarity.py:ivfpq_index_append).  The oracle replays
    the search with the coarse seeds and codebook seeds drawn from
    the HISTORY slice only, while assignment/encode/scan cover the
    full corpus — standing-model ingest semantics."""
    from dbt_core_spark.operators.similarity import (
        ivfpq_index_append,
        ivfpq_index_build,
        ivfpq_index_search,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents, cb, codes = ivfpq_index_build(
        emb.filter("vec_id % 7 != 0"), n_cells=16, m=4, ks=16, dim=64)
    # sealed: cents/cb feed the append AND the search (≥2 branches)
    cents = cents.localCheckpoint(eager=False)
    cb = cb.localCheckpoint(eager=False)
    merged = ivfpq_index_append(
        cents, cb, codes, emb.filter("vec_id % 7 = 0"), m=4, dim=64)
    merged = merged.localCheckpoint(eager=False)
    return ivfpq_index_search(cents, cb, merged,
                              emb.filter("vec_id % 50 = 0"),
                              k=3, n_probe=4, m=4, dim=64)


def multimodal_resize_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image geometry: gradient-pattern PPM synthesis → nearest-
    neighbor 8×6 resize (integer index sampling) → pixel stats, all
    Arrow mapInPandas; non-image (WAV) rows pass through with NULL dims
    (operators/multimodal.py:resize_media)."""
    from dbt_core_spark.operators.multimodal import resize_media, synth_media

    docs = _t(spark, sf_dir, "documents")
    media = synth_media(docs, pattern="gradient")
    out = resize_media(media, out_w=8, out_h=6)
    return out.select(
        "media_id", "src_width", "src_height", "width", "height",
        "sum_value", "mean_value",
    )


def wav_spectrogram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FFT feature extraction: 8-point rfft magnitude spectrogram
    of the synthetic square-wave WAVs — whose spectrum is analytically
    a single Nyquist line of height amp·n_fft, so the numpy FFT path is
    exactly oracle-checked (operators/multimodal.py:wav_spectrogram)."""
    from dbt_core_spark.operators.multimodal import synth_media, wav_spectrogram

    docs = _t(spark, sf_dir, "documents")
    return wav_spectrogram(synth_media(docs), n_fft=8)


def curriculum_order_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: difficulty buckets by fixed n_chars
    thresholds → md5 shard + within-shard position; no global sort
    anywhere (operators/corpus.py:curriculum_order)."""
    from dbt_core_spark.operators.corpus import curriculum_order

    docs = _t(spark, sf_dir, "documents")
    return curriculum_order(docs, "n_chars", boundaries=[200.0, 300.0, 400.0],
                            id_col="doc_id", n_shards=4)


def skew_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics on events.user_id: top-10 hottest keys with
    corpus share and uniformity-relative skew factor, all integer
    outputs (operators/skew.py:skew_report)."""
    from dbt_core_spark.operators.skew import skew_report

    ev = _t(spark, sf_dir, "events")
    return skew_report(ev, "user_id", top_n=10)


def pmi_collocations_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by PMI over adjacent word pairs (word2vec's
    phrase-detection step), micro-nat integers, ranking bounded by the
    frequent-pair vocabulary (operators/corpus.py:pmi_collocations)."""
    from dbt_core_spark.operators.corpus import pmi_collocations

    docs = _t(spark, sf_dir, "documents")
    return pmi_collocations(docs, min_count=5, top_n=50)


def tfidf_cosine_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse tf-idf cosine pairs via inverted-index join — only docs
    sharing a surviving term ever pair; idf in integer milli-nats so
    all accumulation is bigint (operators/textstats.py:
    tfidf_cosine_pairs)."""
    from dbt_core_spark.operators.textstats import tfidf_cosine_pairs

    docs = _t(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(docs, threshold=0.6, max_df_frac=0.8)


def asof_tolerance_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a merge_asof-style tolerance: the matched order
    is nulled when more than 30 days older than the event — same
    windowed plan, one extra carried column + row-local guard
    (operators/asof.py:asof_join tolerance)."""
    from dbt_core_spark.operators.asof import asof_join

    events = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders")
    r = (
        orders.groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("last_order_key"))
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("ots"),
            "last_order_key",
        )
    )
    out = asof_join(events, r, on="user_id", left_ts="ts", right_ts="ots",
                    right_values=["last_order_key"],
                    tolerance=30 * 86400)
    return out.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"),
        "last_order_key",
    )


def cohort_retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle over events: distinct (user,
    week) rollup → min-week cohorts → offset counts; shuffles keyed on
    users / the tiny cohort×offset grid only
    (operators/sequence.py:cohort_retention)."""
    from dbt_core_spark.operators.sequence import cohort_retention

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev, granularity="week")


def engine_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction end-to-end: a deliberately fragmented
    (32-file) orders table is compacted with a Z-order rewrite on
    (custkey, orderdate-days); the query returns per-priority count +
    fixed-point price sums read back AFTER the rewrite, proving the
    compaction is byte-lossless (oracle computes straight from the
    source parquet).  operators/relations.py:compact_table."""
    from dbt_core_spark.operators.relations import compact_table

    schema = "drv_compact"
    _fresh_engine_schema(spark, schema)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS `{schema}`")
    rel = f"{schema}.orders_frag"
    orders = _t(spark, sf_dir, "orders").withColumn(
        "odays", F.datediff("o_orderdate", F.lit("1970-01-01"))
    )
    orders.repartition(32).write.mode("overwrite").saveAsTable(rel)
    rpt = compact_table(spark, rel, target_file_mb=256,
                        zorder_by=["o_custkey", "odays"])
    if rpt["files_before"] < 16:
        raise RuntimeError(f"expected fragmentation, got {rpt}")
    return (
        spark.table(rel)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.expr("cast(round(o_totalprice * 100) as bigint)"))
            .alias("price_e2"),
        )
    )


def detect_script_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-block script detection (multilingual-crawl triage before
    language-ID): per-block regexp counts + fixed-priority dominant
    label, zero shuffles (operators/textstats.py:detect_script)."""
    from dbt_core_spark.operators.textstats import detect_script

    docs = _t(spark, sf_dir, "documents")
    return detect_script(docs, "text", "doc_id")


def event_transitions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey transition matrix (sankey/markov input): one
    user-keyed lead window, pair counts, integer e6 outgoing shares
    (operators/sequence.py:event_transitions)."""
    from dbt_core_spark.operators.sequence import event_transitions

    ev = _t(spark, sf_dir, "events")
    return event_transitions(ev, tiebreak_col="event_id")


def cms_merge_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch mergeability under the driver gate: CMS sketches of the
    two corpus halves merged (cms_merge) must reproduce the whole-corpus
    heavy hitters BIT-FOR-BIT — the property that lets per-shard /
    per-day sketches roll up at 100 TB.  Shares cms_heavy_words'
    oracle verbatim (merge == whole is the claim being tested)."""
    from dbt_core_spark.operators.dedup import normalized_words
    from dbt_core_spark.operators.sketches import (
        cms_build, cms_estimate, cms_merge)

    docs = _t(spark, sf_dir, "documents").filter("text is not null")
    words = docs.select(
        "doc_id", F.explode(normalized_words(F.col("text"))).alias("word")
    ).localCheckpoint(eager=False)
    a = cms_build(words.filter("doc_id < 250"), "word", depth=4, width=1024)
    b = cms_build(words.filter("doc_id >= 250"), "word", depth=4, width=1024)
    merged = cms_merge(a, b)
    items = words.select("word").distinct()
    est = cms_estimate(merged, items, "word", depth=4, width=1024)
    return est.filter(F.col("est_cnt") >= 500)


def contrastive_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training triples for embedding models: adjacent-chunk
    positives + deterministic md5-bucketed same-index negatives — never
    a cross join, never RAND()
    (operators/textstats.py:contrastive_pairs)."""
    from dbt_core_spark.operators.textstats import (
        chunk_documents, contrastive_pairs)

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_words=40, overlap=10)
    return contrastive_pairs(chunks)


def journey_paths_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 event trigram paths across user journeys — path mining as
    one lead window + wordcount shuffle over path strings
    (operators/sequence.py:journey_paths)."""
    from dbt_core_spark.operators.sequence import journey_paths

    ev = _t(spark, sf_dir, "events")
    return journey_paths(ev, n=3, top_n=50, tiebreak_col="event_id")


def lexical_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity quality signals: TTR, hapax fraction, unigram
    entropy — e6 integer ratios + per-type micro-nat entropy terms
    (operators/textstats.py:lexical_stats)."""
    from dbt_core_spark.operators.textstats import lexical_stats

    docs = _t(spark, sf_dir, "documents")
    return lexical_stats(docs, "text", "doc_id")


def interarrival_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap stats in exact microsecond integers
    (mean/min/max + raw Σ, Σ² for burstiness) — one lag window + one
    rollup (operators/sequence.py:interarrival_stats)."""
    from dbt_core_spark.operators.sequence import interarrival_stats

    ev = _t(spark, sf_dir, "events")
    return interarrival_stats(ev, tiebreak_col="event_id")


def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact distributed k-means (k=4, 2 Lloyd iterations) over
    the embedding corpus: e4-quantized vectors, centroids broadcast as
    literal expressions so assignment is a ZERO-shuffle narrow map; the
    update shuffle is bounded by k·d·partitions records per iteration
    (operators/clustering.py:kmeans_fixed).  Exact DuckDB oracle
    replays the whole loop in bigint arithmetic."""
    from dbt_core_spark.operators.clustering import kmeans_fixed

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_fixed(emb, k=4, iters=2)


def cluster_curation_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-then-curate: md5-seeded balanced sample (25/cluster) ∪
    farthest-from-centroid outliers (10/cluster) over the k-means
    assignment — the diversity-sampling + pruning stage of an
    embedding-curation pipeline.  Rank filters compile to
    WindowGroupLimit so the per-cluster shuffle stays k·n·partitions
    (operators/clustering.py:cluster_sample,cluster_outliers)."""
    from dbt_core_spark.operators.clustering import (
        cluster_outliers,
        cluster_sample,
        kmeans_fixed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    assign = kmeans_fixed(emb, k=4, iters=2).localCheckpoint(
        eager=False
    )  # feeds the sample AND outlier branches
    samp = cluster_sample(assign, n_per=25).select(
        "vec_id", "cluster", F.lit("sample").alias("tag"), "rk"
    )
    outl = cluster_outliers(assign, n_per=10).select(
        "vec_id", "cluster", F.lit("outlier").alias("tag"), "rk"
    )
    return samp.unionByName(outl)


def kmeans_incremental_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-once / assign-forever ingest flow: centroids trained on
    the 95% standing corpus (vec_id % 20 != 0), persisted as a k-row
    model table, and the held-out ingest batch assigned against it with
    the zero-shuffle apply map — no retraining pass over corpus history
    (operators/clustering.py:kmeans_centroids,kmeans_apply; the
    ivf_index_build/search precedent)."""
    from dbt_core_spark.operators.clustering import (
        kmeans_apply,
        kmeans_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    model = kmeans_centroids(emb.filter("vec_id % 20 != 0"), k=4, iters=2)
    batch = emb.filter("vec_id % 20 = 0")
    return kmeans_apply(batch, model)


def bm25_rank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Okapi, k1=1.2 / b=0.75 as exact
    rationals): every 13th document is a query against the full corpus,
    top-5 per query by integer micro-unit score.  Plan shape: distinct
    query terms inverted-index-joined to corpus postings (cost
    Σ df(term), never |queries|×|corpus|), per-query top-k as a
    WindowGroupLimit (operators/textstats.py:bm25_rank)."""
    from dbt_core_spark.operators.textstats import bm25_rank

    docs = _t(spark, sf_dir, "documents")
    queries_df = docs.filter("doc_id % 13 = 0")
    return bm25_rank(docs, queries_df, top_k=5)


def decontaminate_bloom_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered benchmark decontamination: 5-gram shingles of
    the probe subset (doc_id % 7 = 0) folded into an array<bigint>
    bitset (12 bits/key, 7 hashes) that prefilters corpus shingles
    JVM-side; the confirm join kills every false positive, so results
    are bit-identical to exact decontaminate — same oracle shape
    (operators/dedup.py:decontaminate_bloom)."""
    from dbt_core_spark.operators.dedup import decontaminate_bloom

    docs = _t(spark, sf_dir, "documents")
    probes = docs.filter("doc_id % 7 = 0")
    return decontaminate_bloom(docs, probes, n=5)


def hybrid_retrieval_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full hybrid-RAG retrieval path in one composed gate (the
    webdataset_pipeline_docs precedent): bm25_index (build-once) →
    bm25_query (lexical top-5 for every 29th document) fused via
    reciprocal-rank fusion with an exact dense cosine top-5 over the
    matching embedding queries.  Integer-exact end to end — BM25
    micro-unit scores, floor(1e9/(60+rank)) bigint RRF terms — so the
    fused ranking hashes identically across engines."""
    from dbt_core_spark.operators.similarity import cosine_topk
    from dbt_core_spark.operators.textstats import (
        bm25_index,
        bm25_query,
        rrf_fuse,
    )

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    # sealed: bm25_query consumes the ephemeral index twice (constants
    # agg + postings join) — the ≥2-branch lineage rule
    index = bm25_index(docs).localCheckpoint(eager=False)
    lex = bm25_query(index, docs.filter("doc_id % 29 = 0"), top_k=5)
    dense = cosine_topk(
        emb, "embedding", "vec_id", k=5,
        queries=emb.filter("vec_id % 29 = 0"),
    ).withColumnRenamed("nbr_id", "doc_id")
    return rrf_fuse([lex, dense], k=60, top_k=5)


def bm25_index_append_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental lexical-index maintenance (the ann_ivf_index_append
    analog): an index built on the 90% standing corpus
    (doc_id % 10 != 0) absorbs the held-out ingest batch via
    bm25_index_append — only the batch is tokenized, df/idf and the
    corpus constants are refreshed from merged integer postings — and
    then serves the standard query workload.  The oracle is the full
    one-shot BM25 over the union, so the gate pins
    append ≡ rebuild end to end."""
    from dbt_core_spark.operators.textstats import (
        bm25_index,
        bm25_index_append,
        bm25_query,
    )

    docs = _t(spark, sf_dir, "documents")
    # both indexes are ephemeral here (a real deployment reads them
    # from parquet): sealed because append consumes the standing index
    # three times (constants, overlap probe, merge) and bm25_query
    # consumes the merged one twice
    index = bm25_index(
        docs.filter("doc_id % 10 != 0")).localCheckpoint(eager=False)
    merged = bm25_index_append(
        index, docs.filter("doc_id % 10 = 0")).localCheckpoint(eager=False)
    return bm25_query(merged, docs.filter("doc_id % 13 = 0"), top_k=5)


def _docs_stream_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize a multi-file copy of documents for the streaming
    decontamination gate (a file-stream source needs a directory; multi
    file → the AvailableNow drain really exercises micro-batching —
    the operator is stateless, so the split can't change results).
    Naming + write-once/atomic-rename discipline via
    ``_stable_table_copy`` (r8 advice: the old per-key overwrite could
    rewrite part files under a concurrent session's mid-drain stream)."""
    return _stable_table_copy(
        sf_dir, "documents", "docs_stream",
        lambda tmp: _t(spark, sf_dir, "documents").repartition(4)
        .write.parquet(tmp),
    )


def streaming_decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time benchmark decontamination: the documents table
    streamed as micro-batches (2 files/trigger), Bloom-prefiltered
    against the static probe subset (doc_id % 11 = 0) and exact-
    confirmed by a stream-static join — stateless/append-mode, drained
    AvailableNow.  Emits the (doc_id, shingle) match stream, which is
    deterministic under ANY micro-batch split and equals the batch
    recipe's matches (streaming/structured.py:streaming_decontaminate)."""
    from dbt_core_spark.streaming.structured import (
        run_to_memory,
        stream_source,
        streaming_decontaminate,
    )

    path = _docs_stream_path(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    stream = stream_source(
        spark, path, spark.read.parquet(path).schema, fmt="parquet",
        options={"maxFilesPerTrigger": "2"},
    )
    matches = streaming_decontaminate(
        stream, docs.filter("doc_id % 11 = 0"), n=5)
    name = _drop_stale_memory_sinks(spark, "stream_decon_")
    run_to_memory(matches, name)
    return spark.table(name).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "shingle")


def perceptron_language_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine classifier TRAINING: a 3-epoch batch perceptron learns
    English-vs-other from hashed bag-of-words counts (labels derived
    from the lang column), then scores the whole corpus — train and
    serve in one engine, no external ML stack.  Every epoch is an
    order-free integer batch update, so the DuckDB oracle replays the
    full training loop and the served scores bit-for-bit
    (operators/textstats.py:perceptron_train,perceptron_apply; the
    kmeans_fixed replayed-training precedent)."""
    from dbt_core_spark.operators.textstats import (
        perceptron_apply,
        perceptron_train,
    )

    docs = _t(spark, sf_dir, "documents")
    labeled = docs.withColumn(
        "y", F.when(F.col("lang") == "en", 1).otherwise(-1))
    model = perceptron_train(labeled, "y", dim=64, epochs=3)
    return perceptron_apply(docs, model, dim=64)


def pr_curve_language_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-threshold selection (r9 verdict item 5): the binary
    perceptron language filter's scores swept over every distinct
    threshold — predict positive iff score >= t — against the gold
    en-language id set, yielding the full precision/recall/F1 curve
    in ONE pass (operators/textstats.py:pr_curve; row-identical to
    classification_metrics per threshold, pytest-pinned).  Cumulative
    bigint confusion counts down the threshold lattice, micro-unit
    ratios; the DuckDB oracle replays the perceptron training AND the
    sweep's windows."""
    from dbt_core_spark.operators.textstats import (
        perceptron_apply,
        perceptron_train,
        pr_curve,
    )

    docs = _t(spark, sf_dir, "documents")
    labeled = docs.withColumn(
        "y", F.when(F.col("lang") == "en", 1).otherwise(-1))
    model = perceptron_train(labeled, "y", dim=64, epochs=3)
    scored = perceptron_apply(docs, model, dim=64)
    pos = docs.filter("lang = 'en'").select("doc_id")
    return pr_curve(scored, pos)


def threshold_select_language_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point selection closing the eval tier (r11): the
    F1-optimal threshold off the perceptron language filter's
    pr_curve sweep — one row, ties to the lowest threshold (prefer
    recall at equal F1; operators/textstats.py:select_threshold —
    one min-struct aggregate over the distinct-threshold-sized
    curve).  The DuckDB oracle replays the training, the sweep, and
    the argmax."""
    from dbt_core_spark.operators.textstats import (
        perceptron_apply,
        perceptron_train,
        select_threshold,
    )

    docs = _t(spark, sf_dir, "documents")
    labeled = docs.withColumn(
        "y", F.when(F.col("lang") == "en", 1).otherwise(-1))
    model = perceptron_train(labeled, "y", dim=64, epochs=3)
    scored = perceptron_apply(docs, model, dim=64)
    pos = docs.filter("lang = 'en'").select("doc_id")
    return select_threshold(scored, pos)


def bpe_train_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine tokenizer TRAINING at corpus scale: 8 BPE merges
    learned by the BATCHED distributed trainer (r11: up to
    batch_size=8 provably-exact merges per vocabulary-wide pair-count
    scan instead of one Spark job per merge — the production-vocab
    throughput fix, r10 verdict item 2; merge-for-merge identical to
    the one-merge-per-scan form and to bpe_train, pytest-pinned incl.
    the created-pair adversarial corpus a naive independent-set batcher
    gets wrong).
    The vocabulary never reaches the driver (operators/corpus.py:
    bpe_train_batched — collects ≤ scan_top_k pair rows per scan).
    The DuckDB oracle replays all 8 training steps ONE MERGE AT A
    TIME: per-step zipped-unnest pair counts, (count desc,
    lexicographic) argmax, and the boundary-safe double-space merge
    replace — so the gate cross-checks the batching itself."""
    from dbt_core_spark.operators.corpus import bpe_train_batched

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train_batched(docs, n_merges=8, batch_size=8)
    return spark.createDataFrame(
        [(i + 1, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "step int, lhs string, rhs string, merged string")


def auc_language_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-free scorer evaluation (the pr_curve integral): exact
    ROC-AUC of the binary perceptron language filter against the gold
    en ids — Mann-Whitney U with midrank ties, all bigint (a constant
    scorer yields exactly 500000)
    (operators/textstats.py:auc_score).  The DuckDB oracle replays the
    training, the distinct-score midrank windows, and the final fold."""
    from dbt_core_spark.operators.textstats import (
        auc_score,
        perceptron_apply,
        perceptron_train,
    )

    docs = _t(spark, sf_dir, "documents")
    labeled = docs.withColumn(
        "y", F.when(F.col("lang") == "en", 1).otherwise(-1))
    model = perceptron_train(labeled, "y", dim=64, epochs=3)
    scored = perceptron_apply(docs, model, dim=64)
    pos = docs.filter("lang = 'en'").select("doc_id")
    return auc_score(scored, pos)


def calibration_language_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-calibration table (reliability diagram) for the binary
    perceptron language filter: 10 equal-width bigint score bins, one
    row per non-empty bin with observed positive rate and floored mean
    score — the does-the-score-mean-anything check run before a
    pr_curve threshold is picked
    (operators/textstats.py:score_calibration).  All integer; the
    oracle replays binning, rates, and the floor-exact mean."""
    from dbt_core_spark.operators.textstats import (
        perceptron_apply,
        perceptron_train,
        score_calibration,
    )

    docs = _t(spark, sf_dir, "documents")
    labeled = docs.withColumn(
        "y", F.when(F.col("lang") == "en", 1).otherwise(-1))
    model = perceptron_train(labeled, "y", dim=64, epochs=3)
    scored = perceptron_apply(docs, model, dim=64)
    pos = docs.filter("lang = 'en'").select("doc_id")
    return score_calibration(scored, pos, n_bins=10)


def perceptron_ovr_language_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-CLASS in-engine training (r8 perceptron-family depth step):
    five one-vs-rest batch perceptrons — one per language — trained
    jointly (one featurize pass, one dot pass per epoch with k
    aggregate columns, one k-column delta aggregation), then the
    corpus is routed to its argmax class (ties break by class name).
    Integer-exact; the DuckDB oracle replays all five training loops
    and the argmax serve bit-for-bit
    (operators/textstats.py:perceptron_train_ovr,perceptron_apply_ovr)."""
    from dbt_core_spark.operators.textstats import (
        perceptron_apply_ovr,
        perceptron_train_ovr,
    )

    docs = _t(spark, sf_dir, "documents")
    model = perceptron_train_ovr(
        docs, "lang", classes=["de", "en", "es", "fr", "zh"],
        dim=64, epochs=3)
    return perceptron_apply_ovr(docs, model, dim=64)


def perceptron_avg_language_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVERAGED-perceptron training + serve (the second r8 depth step
    on the in-engine classifier family): same 3-epoch English-vs-other
    training loop as perceptron_language_docs, but served from the
    bigint SUM of the per-epoch weight snapshots — Freund-Schapire
    averaging without division, still integer-exact, the oracle
    replays every epoch and sums the snapshot CTEs
    (operators/textstats.py:perceptron_train_averaged)."""
    from dbt_core_spark.operators.textstats import (
        perceptron_apply,
        perceptron_train_averaged,
    )

    docs = _t(spark, sf_dir, "documents")
    labeled = docs.withColumn(
        "y", F.when(F.col("lang") == "en", 1).otherwise(-1))
    model = perceptron_train_averaged(labeled, "y", dim=64, epochs=3)
    return perceptron_apply(docs, model, dim=64)


def decontaminate_cut_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-LEVEL decontamination end to end (r8 depth step on the
    decontamination family): detect every benchmark 5-gram span in the
    training corpus (probe = doc_id % 11 == 0, the streaming gate's
    split) with contamination_spans, then CUT the spans and keep the
    documents via cut_dup_spans — the "remove the quoted benchmark
    text, keep the doc" action real pipelines want instead of
    whole-doc drops.  Returns (doc_id, text_clean, n_words,
    n_removed); exact DuckDB oracle replays grams → probe membership →
    island merge → positional cut."""
    from dbt_core_spark.operators.dedup import (
        contamination_spans,
        cut_dup_spans,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter("doc_id % 11 != 0")
    probes = docs.filter("doc_id % 11 = 0")
    spans = contamination_spans(corpus, probes, n=5)
    return cut_dup_spans(corpus, spans)


def ann_ivf_rebalance_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index MAINTENANCE: a deliberately coarse index (4 cells over
    the whole corpus) rebalanced with max_cell_rows=25 — every hot
    cell splits into ceil(n/25) sub-cells seeded from its stride-
    spread members (id-rank positions 0, s, 2s, … — r9 seeding), and
    ONLY hot-cell members re-assign (rounded-cosine
    argmax); the emitted (vec_id, cell) table is the next index
    snapshot, exact in both engines including the deterministic fresh
    cell numbering (operators/similarity.py:ivf_index_rebalance —
    completes the build/search/append lifecycle)."""
    from dbt_core_spark.operators.similarity import (
        ivf_index_build,
        ivf_index_rebalance,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents, assigns = ivf_index_build(emb, n_cells=4, kmeans_iters=0)
    # sealed: rebalance consumes the assignment pass four ways (counts,
    # seeds, moved, cold) — the ≥2-branch lineage rule
    assigns = assigns.localCheckpoint(eager=False)
    _, assigns2 = ivf_index_rebalance(cents, assigns, max_cell_rows=25)
    return assigns2.select(
        F.col("id").alias("vec_id"),
        F.col("cell").cast("int").alias("cell"),
    )


def corpus_diff_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-versioning diff between two derived corpus snapshots:
    old = docs without the %17==3 residue, new = docs without the
    %17==5 residue with every %13==0 text amended — exercising all
    four statuses (added/removed/changed/unchanged) through the single
    hash-before-join full-outer plan (operators/corpus.py:corpus_diff)."""
    from dbt_core_spark.operators.corpus import corpus_diff

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter("doc_id % 17 != 3")
    new = docs.filter("doc_id % 17 != 5").withColumn(
        "text",
        F.when(
            (F.col("doc_id") % 13 == 0) & F.col("text").isNotNull(),
            F.concat_ws(" ", F.col("text"), F.lit("v2")),
        ).otherwise(F.col("text")),
    )
    return corpus_diff(old, new)


def ngram_loops_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate-repetition (model-loop) detection over a corpus with
    deterministic loops injected: every %19==0 document gets its first
    four normalized words prepended three times, creating a 4-gram
    that repeats back-to-back ≥4 times (the prepended copies plus the
    original opening), exactly the LLM loop failure shape.
    ngram_loop_runs(n=4, min_repeats=3) must emit identical maximal
    runs in both engines (operators/corpus.py:ngram_loop_runs)."""
    from dbt_core_spark.operators.corpus import ngram_loop_runs
    from dbt_core_spark.operators.dedup import normalized_words

    docs = _t(spark, sf_dir, "documents")
    f4 = F.array_join(F.slice(normalized_words(F.col("text")), 1, 4), " ")
    looped = docs.withColumn(
        "text",
        F.when(
            (F.col("doc_id") % 19 == 0) & F.col("text").isNotNull(),
            F.concat_ws(" ", f4, f4, f4, F.col("text")),
        ).otherwise(F.col("text")),
    )
    return ngram_loop_runs(looped, n=4, min_repeats=3)


def vocab_drift_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-distribution drift between the corpus_diff_docs snapshots
    (old = %17!=3, new = %17!=5 with %13 texts amended): top-50 terms
    by absolute contribution to KL(new‖old), micro-nat integers
    (operators/corpus.py:vocab_drift)."""
    from dbt_core_spark.operators.corpus import vocab_drift

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter("doc_id % 17 != 3")
    new = docs.filter("doc_id % 17 != 5").withColumn(
        "text",
        F.when(
            (F.col("doc_id") % 13 == 0) & F.col("text").isNotNull(),
            F.concat_ws(" ", F.col("text"), F.lit("v2")),
        ).otherwise(F.col("text")),
    )
    return vocab_drift(old, new, top_k=50)


def streaming_bm25_serve_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standing index, STREAMING query workload: the documents table
    streamed as micro-batches (2 files/trigger), its %13 residue
    treated as a request stream and served per batch against a sealed
    BM25 index via the foreachBatch pattern
    (streaming/structured.py:stream_serve_foreach_batch).  Per-query
    top-k is request-row-local, so the drained union is identical to
    the one-shot batch ranking under ANY micro-batch split — the
    oracle IS bm25_rank over the same corpus and queries."""
    import tempfile

    from dbt_core_spark.operators.textstats import (
        _bm25_constants,
        bm25_index,
        bm25_query,
    )
    from dbt_core_spark.streaming.structured import (
        stream_serve_foreach_batch,
        stream_source,
    )

    path = _docs_stream_path(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    # sealed: bm25_query consumes the ephemeral index per batch
    # (constants agg + postings join) — the ≥2-branch lineage rule
    index = bm25_index(docs).localCheckpoint(eager=False)
    # validate the snapshot's constants ONCE, serve many: each batch
    # otherwise re-scans the full index for the invariant check
    # (optimization r11; the ivf_centroid_matrix precedent)
    consts = _bm25_constants(index)
    stream = stream_source(
        spark, path, spark.read.parquet(path).schema, fmt="parquet",
        options={"maxFilesPerTrigger": "2"},
    )
    work = tempfile.mkdtemp(prefix="bm25_serve_")
    out, ckpt = f"{work}/out", f"{work}/ckpt"
    stream_serve_foreach_batch(
        stream.filter("doc_id % 13 = 0"),
        lambda batch: bm25_query(index, batch, top_k=5, consts=consts),
        out, ckpt,
    )
    if not os.path.isdir(out):  # no query rows arrived at all
        return spark.createDataFrame(
            [], "query_id bigint, doc_id bigint, score_micro bigint, "
                "rank int")
    # the sink carries a batch_id partition column (the exactly-once
    # batch_id-keyed layout) — emit the bm25_rank contract columns
    return spark.read.parquet(out).select(
        "query_id", "doc_id", "score_micro", "rank")


def multimodal_phash_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE detection — the dedup verb of the
    multimodal tier: synthetic gradient PPMs (the %23==1 corpus
    slice, bounded so the class-twin pair count stays gate-sized) plus
    an exact CLONE of every image under shifted ids (the guaranteed
    hamming-0 stratum), fingerprinted with the integer-exact aHash and
    paired via lossless 4-band Hamming blocking at radius 3
    (operators/multimodal.py:phash_media/phash_dup_pairs).  WAV rows
    hash to NULL and drop.  Everything is integer, so the DuckDB
    oracle replays the whole pipeline exactly from the gradient
    formula."""
    from dbt_core_spark.operators.multimodal import (
        phash_dup_pairs,
        phash_media,
        synth_media,
    )

    corpus = _t(spark, sf_dir, "documents").filter("doc_id % 23 = 1")
    media = synth_media(corpus, pattern="gradient")
    clones = synth_media(corpus, pattern="gradient").select(
        (F.col("media_id") + F.lit(10**9)).alias("media_id"), "data")
    # sealed: the banded self-join consumes the hash frame on both
    # sides — without the seal every side replays the Arrow decode
    # pass (the ≥2-branch lineage rule)
    hashes = phash_media(media.unionByName(clones)).localCheckpoint(
        eager=False)
    return phash_dup_pairs(hashes, max_hamming=3)


def _embs_stream_path(spark: SparkSession, sf_dir: str) -> str:
    """Multi-file copy of embeddings for the streaming ANN serving
    gate (same discipline as ``_docs_stream_path``: write-once atomic
    stable path; 4 files so the AvailableNow drain really
    micro-batches)."""
    return _stable_table_copy(
        sf_dir, "embeddings", "embs_stream",
        lambda tmp: _t(spark, sf_dir, "embeddings").repartition(4)
        .write.parquet(tmp),
    )


def streaming_ann_serve_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense serving parity with streaming_bm25_serve_docs: the
    embeddings table streamed as micro-batches (2 files/trigger), its
    %20 residue treated as a request stream of query vectors and
    served per batch with ``ivf_index_search`` against a sealed
    standing IVF index (build-once / serve-many — the index is never
    rebuilt per batch; per-batch cost is the batch's probed cells
    only).  Per-query top-k is request-row-local, so the drained union
    is identical to the one-shot search under ANY micro-batch split —
    the oracle IS ann_ivf_index_query_embeddings."""
    import tempfile

    from dbt_core_spark.operators.similarity import (
        ivf_centroid_matrix,
        ivf_index_build,
        ivf_index_search,
    )
    from dbt_core_spark.streaming.structured import (
        stream_serve_foreach_batch,
        stream_source,
    )

    path = _embs_stream_path(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    cents, assigns = ivf_index_build(emb, n_cells=16, kmeans_iters=0)
    # sealed: every micro-batch's search probes the standing
    # assignments — without the seal each batch would replay the
    # whole build assignment pass (the ≥2-branch lineage rule)
    assigns = assigns.localCheckpoint(eager=False)
    # the driver-side centroid matrix once per snapshot, not once per
    # batch; a micro-batch within the search's broadcast cap
    # (max_cell_rows rows and _BROADCAST_BYTES of vectors; any trigger-
    # bounded one here) is served in one Arrow pass over its probed
    # cells, with no member shuffle
    cmat = ivf_centroid_matrix(cents)
    stream = stream_source(
        spark, path, spark.read.parquet(path).schema, fmt="parquet",
        options={"maxFilesPerTrigger": "2"},
    )
    work = tempfile.mkdtemp(prefix="ann_serve_")
    out, ckpt = f"{work}/out", f"{work}/ckpt"
    stream_serve_foreach_batch(
        stream.filter("vec_id % 20 = 0"),
        lambda batch: ivf_index_search(cents, assigns, batch,
                                       k=3, n_probe=4,
                                       centroid_matrix=cmat),
        out, ckpt,
    )
    if not os.path.isdir(out):  # no query rows arrived at all
        return spark.createDataFrame(
            [], "query_id long, nbr_id long, cosine double, rank int")
    return spark.read.parquet(out).select(
        "query_id", "nbr_id", "cosine", "rank")


def multimodal_video_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate VIDEO detection — the third media type of the
    multimodal dedup tier (images: phash, audio: landmarks): the
    %19==4 corpus synthesized as concatenated-netpbm clips (time-
    shifted gradient frames; exact clones under +1e9 ids), container-
    walked and aHashed per frame in one Arrow pass, then matched on
    exact (frame position, 64-bit hash) keys — blocked by the key,
    never all-pairs (operators/multimodal.py:synth_video/
    video_frame_hashes/video_dup_pairs; the aHash core is shared with
    phash_media).  Everything is integer, so the DuckDB oracle replays
    the whole pipeline from the gradient formula."""
    from dbt_core_spark.operators.multimodal import (
        synth_video,
        video_dup_pairs,
        video_frame_hashes,
    )

    corpus = _t(spark, sf_dir, "documents").filter("doc_id % 19 = 4")
    media = synth_video(corpus)
    clones = synth_video(corpus).select(
        (F.col("media_id") + F.lit(10**9)).alias("media_id"), "data")
    # sealed: the key self-join consumes the hash frame on both sides
    # — without the seal every side replays the Arrow container walk
    hashes = video_frame_hashes(
        media.unionByName(clones)).localCheckpoint(eager=False)
    return video_dup_pairs(hashes)


def multimodal_video_align_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-offset video alignment (r9 verdict item 3): the %19==4
    corpus as concatenated-netpbm clips plus TRIMMED clones (first
    frame dropped, positions re-based, ids under +1e9) — the exact
    configuration position-exact video_dup_pairs cannot see.
    video_dup_pairs_aligned matches frame hashes WITHOUT position in
    the key and groups candidates by their position delta (the audio
    landmark dt machinery re-keyed), so every source/trimmed-clone
    pair surfaces at one consistent offset with nf-1 matched frames
    (operators/multimodal.py:video_dup_pairs_aligned).  All integer;
    the DuckDB oracle replays hashes, offset grouping, and the
    best-offset window from the gradient formula."""
    from dbt_core_spark.operators.multimodal import (
        synth_video,
        video_dup_pairs_aligned,
        video_frame_hashes,
    )

    corpus = _t(spark, sf_dir, "documents").filter("doc_id % 19 = 4")
    media = synth_video(corpus)
    trimmed = synth_video(corpus, frame_offset=1).select(
        (F.col("media_id") + F.lit(10**9)).alias("media_id"), "data")
    # sealed: the hash-key self-join consumes the frame on both sides
    hashes = video_frame_hashes(
        media.unionByName(trimmed)).localCheckpoint(eager=False)
    return video_dup_pairs_aligned(hashes, min_frames=2)


def bm25_index_delete_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 index deletion lifecycle: build the postings index once,
    tombstone the doc_id%6==0 documents WITHOUT re-tokenizing (df/idf
    and the two corpus scalars re-aggregate from surviving postings —
    bit-identical to rebuilding on the remaining corpus, which is what
    the oracle replays), then serve the %13 query batch from the
    shrunken index (operators/textstats.py:bm25_index_delete)."""
    from dbt_core_spark.operators.textstats import (
        bm25_index,
        bm25_index_delete,
        bm25_query,
    )

    docs = _t(spark, sf_dir, "documents")
    index = bm25_index(docs).localCheckpoint(eager=False)
    shrunk = bm25_index_delete(
        index, docs.filter("doc_id % 6 = 0").select("doc_id"))
    shrunk = shrunk.localCheckpoint(eager=False)  # constants agg + join
    return bm25_query(shrunk, docs.filter("doc_id % 13 = 0"), top_k=5)


def ann_ivf_index_delete_embeddings(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index deletion lifecycle: build once, tombstone the
    vec_id%6==0 vectors from the ASSIGNMENTS while the standing
    centroids stay put (production delete semantics — no re-seeding,
    no assignment shift; FAISS remove_ids), then serve the %20 query
    batch — exactly the full-index ranking with deleted neighbors gone
    (operators/similarity.py:ivf_index_delete; the oracle replays
    standing-centroid semantics, not a rebuild)."""
    from dbt_core_spark.operators.similarity import (
        ivf_index_build,
        ivf_index_delete,
        ivf_index_search,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents, assigns = ivf_index_build(emb, n_cells=16, kmeans_iters=0)
    assigns = ivf_index_delete(
        assigns, emb.filter("vec_id % 6 = 0").select("vec_id"))
    # sealed: every probe batch reads the standing assignments —
    # without the seal the build assignment pass replays per consumer
    assigns = assigns.localCheckpoint(eager=False)
    return ivf_index_search(cents, assigns,
                            emb.filter("vec_id % 20 = 0"),
                            k=3, n_probe=4)


def ann_ivf_lifecycle_embeddings(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED index-deletion lifecycle (r9 verdict item 6): build a
    deliberately coarse IVF index (4 cells), DELETE the vec_id%6==0
    tombstones from the assignments (standing centroids — FAISS
    remove_ids semantics), REBALANCE the survivor-hot cells at
    max_cell_rows=25 (sub-centroids seed from stride-spread SURVIVING
    members; the empty-cell fresh-id guard is exactly the code path a
    post-delete index exercises), then SERVE the %20 query batch on
    the rebalanced snapshot.  Every step is the already-gated operator
    — what this gate pins is their COMPOSITION: the oracle replays
    delete → rebalance → search end-to-end in one SQL query
    (operators/similarity.py:ivf_index_delete,ivf_index_rebalance,
    ivf_index_search)."""
    from dbt_core_spark.operators.similarity import (
        ivf_index_build,
        ivf_index_delete,
        ivf_index_rebalance,
        ivf_index_search,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents, assigns = ivf_index_build(emb, n_cells=4, kmeans_iters=0)
    assigns = ivf_index_delete(
        assigns, emb.filter("vec_id % 6 = 0").select("vec_id"))
    # sealed: rebalance consumes the post-delete assignments four ways
    # (counts, seeds, moved, cold) — the ≥2-branch lineage rule
    assigns = assigns.localCheckpoint(eager=False)
    cents2, assigns2 = ivf_index_rebalance(cents, assigns,
                                           max_cell_rows=25)
    # sealed: serving probes read the standing snapshot, not a replay
    assigns2 = assigns2.localCheckpoint(eager=False)
    return ivf_index_search(cents2, assigns2,
                            emb.filter("vec_id % 20 = 0"),
                            k=3, n_probe=4)


def classifier_eval_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation closing the loop on the trainer tier: the
    naive_bayes_language_docs predictions on the held-out third scored
    against the gold ``lang`` labels — per-class confusion counts and
    precision/recall/F1 in exact integer micro units
    (operators/textstats.py:classification_metrics; F1 via the
    2tp/(2tp+fp+fn) identity so it stays one bigint division)."""
    from dbt_core_spark.operators.textstats import classification_metrics

    docs = _t(spark, sf_dir, "documents")
    preds = naive_bayes_language_docs(spark, sf_dir).localCheckpoint(
        eager=False)  # consumed by both confusion aggregates
    gold = docs.filter("doc_id % 3 = 0 AND lang IS NOT NULL").select(
        "doc_id", "lang")
    return classification_metrics(preds, gold, pred_col="label",
                                  label_col="lang")


def credit_card_detect_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum-validated PII detection: every 5th document gets a
    deterministic injected 16-digit number ((doc_id·7919) mod 1e16,
    zero-padded; even docs carry it dash-grouped), then
    detect_credit_cards extracts 13–19-digit candidate runs and
    Luhn-verifies each — random digit strings fail the checksum, the
    standard card-PII false-positive fix
    (operators/textstats.py:detect_credit_cards; RE2-compatible regex
    so DuckDB extracts identically, Luhn fold replayed in SQL).

    The card is injected behind a ' #' delimiter (r9 ADVICE): the
    candidate regex accepts single spaces between digit groups, so a
    document whose text END in digits would otherwise merge with the
    appended card into one >19-digit non-candidate and mask the
    planted positive on both engines."""
    from dbt_core_spark.operators.textstats import detect_credit_cards

    docs = _t(spark, sf_dir, "documents").filter(
        "doc_id % 5 = 0 AND text IS NOT NULL")
    aug = docs.selectExpr(
        "doc_id",
        "lpad(cast((doc_id * 7919) % 10000000000000000 as string), 16, '0')"
        " as num",
        "text",
    ).selectExpr(
        "doc_id",
        "concat(text, ' #', case when doc_id % 2 = 0"
        " then concat(substr(num, 1, 4), '-', substr(num, 5, 4), '-',"
        " substr(num, 9, 4), '-', substr(num, 13, 4))"
        " else num end) as text",
    )
    return detect_credit_cards(aug)


def naive_bayes_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NB training: sufficient statistics of the %3==1 and
    %3==2 slices computed SEPARATELY (per ingest batch), merged by
    exact bigint addition, finalized, and served on the held-out
    %3==0 slice — bit-identical to retraining on the union, so the
    oracle IS naive_bayes_language_docs (the bm25_index_append
    append-≡-rebuild contract, applied to model training;
    operators/textstats.py:naive_bayes_counts/merge/finalize)."""
    from dbt_core_spark.operators.textstats import (
        naive_bayes_apply,
        naive_bayes_counts,
        naive_bayes_finalize,
        naive_bayes_merge,
    )

    docs = _t(spark, sf_dir, "documents")
    batch_a = docs.filter("doc_id % 3 = 1 AND lang IS NOT NULL")
    batch_b = docs.filter("doc_id % 3 = 2 AND lang IS NOT NULL")
    tc, dc = naive_bayes_merge(
        naive_bayes_counts(batch_a, "lang"),
        naive_bayes_counts(batch_b, "lang"))
    weights, class_stats = naive_bayes_finalize(
        tc.localCheckpoint(eager=False), dc.localCheckpoint(eager=False))
    weights = weights.localCheckpoint(eager=False)
    class_stats = class_stats.localCheckpoint(eager=False)
    return naive_bayes_apply(docs.filter("doc_id % 3 = 0"),
                             weights, class_stats)


def retrieval_eval_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation closing the loop on the retrieval
    tier: the bm25_rank_docs ranking (every 13th doc as a query, top-5)
    scored against deterministic relevance judgments — a query's
    relevant set is the doc_id%11==3 slice sharing its ``source`` —
    with per-query MRR@5 / recall@5 / NDCG@5 in exact integer micro
    units (operators/textstats.py:retrieval_metrics; discounts floored
    per term, ratios as bigint division)."""
    from dbt_core_spark.operators.textstats import (
        bm25_rank,
        retrieval_metrics,
    )

    docs = _t(spark, sf_dir, "documents")
    queries_df = docs.filter("doc_id % 13 = 0")
    # sealed: the metrics join consumes the ranking twice conceptually
    # (hits + first-rank agg) and the BM25 pipeline is expensive to
    # replay (the bm25_rank internal seal covers the index; this seal
    # covers the ranked output consumed by the eval join)
    rankings = bm25_rank(docs, queries_df, top_k=5).localCheckpoint(
        eager=False)
    qrels = (
        queries_df.select(F.col("doc_id").alias("query_id"), "source")
        .join(docs.filter("doc_id % 11 = 3").select("doc_id", "source"),
              "source")
        .filter("query_id != doc_id")
        .select("query_id", "doc_id")
    )
    return retrieval_metrics(rankings, qrels, k=5)


def oov_rate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage monitoring: a 500-term vocabulary built on the
    even-doc slice, OOV counts/rate over EVERY document — rising OOV on
    fresh slices is the retrain-the-tokenizer trigger
    (operators/corpus.py:oov_rate on textstats.build_vocab output).
    Pure integer arithmetic end to end (bigint div, no floats)."""
    from dbt_core_spark.operators.corpus import oov_rate
    from dbt_core_spark.operators.textstats import build_vocab

    docs = _t(spark, sf_dir, "documents")
    vocab = build_vocab(docs.filter("doc_id % 2 = 0"), vocab_size=500)
    # sealed: the anti-join consumes the vocabulary as a broadcast —
    # without the seal the wordcount + double-window build replays
    # under the broadcast exchange (the ≥2-branch lineage rule)
    vocab = vocab.localCheckpoint(eager=False)
    return oov_rate(docs, vocab)


def audio_fingerprint_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate AUDIO detection — the second media type of the
    multimodal dedup tier (images: multimodal_phash_dedup_docs): the
    %23==2 even-doc corpus synthesized as amplitude-varying WAVs (plus
    exact clones under +1e9 ids), decoded to integer frame energies in
    one Arrow pass, landmark-fingerprinted (strict energy peaks →
    fan-out pairs → quantized keys — Wang 2003 constellation, integer-
    exact), and matched on shared landmark keys — blocked by the key,
    never all-pairs (operators/multimodal.py:audio_energy_frames/
    audio_fingerprint/audio_dup_pairs).  Everything after the PCM16
    decode is exact int64, so the DuckDB oracle replays the pipeline
    from the 'am' synthesis formula."""
    from dbt_core_spark.operators.multimodal import (
        audio_dup_pairs,
        audio_energy_frames,
        audio_fingerprint,
        synth_media,
    )

    corpus = _t(spark, sf_dir, "documents").filter(
        "doc_id % 23 = 2 AND doc_id % 2 = 0")
    media = synth_media(corpus, pattern="am")
    clones = synth_media(corpus, pattern="am").select(
        (F.col("media_id") + F.lit(10**9)).alias("media_id"), "data")
    # sealed: the peaks self-join and the landmark-key join each
    # consume the frame table on both sides — without the seal every
    # side replays the Arrow decode pass (the ≥2-branch lineage rule)
    frames = audio_energy_frames(
        media.unionByName(clones)).localCheckpoint(eager=False)
    return audio_dup_pairs(audio_fingerprint(frames))


def naive_bayes_language_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine multinomial Naive Bayes, trained AND served: fit on
    the doc_id%3≠0 slice with label = lang (one aggregation pass — no
    epochs), classify the held-out doc_id%3=0 slice.  Every learned
    weight is a floor-rounded micro-nat bigint and serving scores are
    exact bigint sums, so the DuckDB oracle replays training + serving
    bit-for-bit (operators/textstats.py:naive_bayes_train/apply — the
    count-based complement of the perceptron tier)."""
    from dbt_core_spark.operators.textstats import (
        naive_bayes_apply,
        naive_bayes_train,
    )

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter("doc_id % 3 != 0 AND lang IS NOT NULL")
    weights, class_stats = naive_bayes_train(train, "lang")
    # sealed: apply joins the weights frame twice (matched sum + the
    # class cross-join reads class_stats) — without the seal each
    # branch replays the training aggregation (≥2-branch lineage rule)
    weights = weights.localCheckpoint(eager=False)
    class_stats = class_stats.localCheckpoint(eager=False)
    return naive_bayes_apply(docs.filter("doc_id % 3 = 0"),
                             weights, class_stats)


def minhash_index_delete_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash index DELETION lifecycle (r10 verdict item 4 — the
    missing delete leg of the near-dup index): build the corpus index
    (doc_id < 400), tombstone the %6==0 ids
    (dedup.py:minhash_index_delete — one anti-join; signature rows are
    per-document so delete ≡ rebuild bit-identically, pytest-pinned),
    then match the doc_id >= 400 batch against the SHRUNK index through
    the banded candidate join + exact-Jaccard verify.  The DuckDB
    oracle replays the match over the surviving corpus — a tombstoned
    doc appearing in any pair fails the gate."""
    from dbt_core_spark.operators.dedup import (
        minhash_index,
        minhash_index_delete,
        minhash_match,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus_ix = minhash_index(docs.filter("doc_id < 400"))
    dead = docs.filter("doc_id < 400 AND doc_id % 6 = 0") \
        .select(F.col("doc_id").alias("id"))
    shrunk = minhash_index_delete(corpus_ix, dead)
    batch_ix = minhash_index(docs.filter("doc_id >= 400"))
    return minhash_match(batch_ix, shrunk, threshold=0.7)


def langid_nb_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED language identification (r10 verdict item 3): char-
    TRIGRAM multinomial NB fit on the doc_id%3≠0 slice with label =
    lang, serving the held-out %3=0 slice — the real-operator upgrade
    over the 4-language stopword heuristic (language_id_docs): the
    feature space is every character trigram of the normalized text
    (boundary-padded), so the model covers ANY labeled language, not a
    hand-picked stopword list.  Every learned weight is a
    floor-rounded micro-nat bigint and serving scores are exact bigint
    sums, so the DuckDB oracle replays training + serving bit-for-bit
    (operators/textstats.py:char_ngrams/langid_train/langid_apply —
    naive_bayes_train with the char-n-gram tokenizer)."""
    from dbt_core_spark.operators.textstats import langid_apply, langid_train

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter("doc_id % 3 != 0 AND lang IS NOT NULL")
    weights, class_stats = langid_train(train)
    # sealed: apply joins weights + class_stats across ≥2 branches
    weights = weights.localCheckpoint(eager=False)
    class_stats = class_stats.localCheckpoint(eager=False)
    return langid_apply(docs.filter("doc_id % 3 = 0"),
                        weights, class_stats)


def langid_eval_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation row for the trained langid: the langid_nb_docs
    predictions on the held-out third scored against the gold ``lang``
    labels — per-class confusion counts and precision/recall/F1 in
    exact integer micro units (the classifier_eval_docs lattice,
    closing the eval loop on the r11 langid upgrade)."""
    from dbt_core_spark.operators.textstats import classification_metrics

    docs = _t(spark, sf_dir, "documents")
    preds = langid_nb_docs(spark, sf_dir).localCheckpoint(
        eager=False)  # consumed by both confusion aggregates
    gold = docs.filter("doc_id % 3 = 0 AND lang IS NOT NULL").select(
        "doc_id", "lang")
    return classification_metrics(preds, gold, pred_col="label",
                                  label_col="lang")


def knn_classify_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification over the embedding column (r11 — the
    non-parametric member of the trainable-filter tier, and the
    semi-supervised curation verb: propagate the vec_id%3≠0 slice's
    labels onto the held-out %3=0 slice by majority vote of the k=5
    nearest neighbors by cosine).  Neighbor search is the exact
    matmul-batched ``cosine_topk_blas`` path (round-9dp rank
    contract); the vote tie-break is pinned votes DESC → best rank
    ASC → label ASC, so the DuckDB oracle replays search + vote
    bit-for-bit (operators/similarity.py:knn_classify)."""
    from dbt_core_spark.operators.similarity import knn_classify

    emb = _t(spark, sf_dir, "embeddings")
    labeled = emb.filter("vec_id % 3 != 0")
    queries = emb.filter("vec_id % 3 = 0")
    return knn_classify(labeled, queries, k=5)


def knn_eval_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation row for the kNN classifier: the knn_classify
    predictions on the held-out third scored against the gold
    ``label`` column — per-class confusion counts and
    precision/recall/F1 in exact integer micro units (the
    classifier_eval_docs lattice closing the eval loop on the kNN
    family, as langid_eval does for the trained langid)."""
    from dbt_core_spark.operators.textstats import classification_metrics

    emb = _t(spark, sf_dir, "embeddings")
    preds = (
        knn_classify_embeddings(spark, sf_dir)
        .withColumnRenamed("query_id", "vec_id")
        # consumed by both confusion aggregates
        .localCheckpoint(eager=False)
    )
    gold = emb.filter("vec_id % 3 = 0 AND label IS NOT NULL").select(
        "vec_id", "label")
    return classification_metrics(preds, gold, id_col="vec_id",
                                  pred_col="pred_label",
                                  label_col="label")


def knn_classify_ivf_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-accelerated kNN classification (r11 — the 100 TB shape of
    knn_classify_embeddings): the labeled corpus is indexed ONCE with
    the persisted IVF build (kmeans_iters=0 pins the centroid seeds
    so the composition has an exact SQL oracle, the
    ann_ivf_index_query precedent), the held-out query batch searches
    only its n_probe=4 nearest cells, and the majority vote runs over
    the ANN neighbor frame — classification cost per query drops by
    ~n_cells/n_probe with no corpus pass at serve time
    (operators/similarity.py:ivf_index_build/ivf_index_search/
    knn_classify with ``neighbors=``)."""
    from dbt_core_spark.operators.similarity import (
        ivf_index_build,
        ivf_index_search,
        knn_classify,
    )

    emb = _t(spark, sf_dir, "embeddings")
    labeled = emb.filter("vec_id % 3 != 0 AND label IS NOT NULL") \
        .localCheckpoint(eager=False)  # feeds build AND the vote join
    queries = emb.filter("vec_id % 3 = 0")
    cents, assigns = ivf_index_build(labeled, n_cells=16, kmeans_iters=0)
    # sealed: a batch over the broadcast cap takes the exchange search,
    # which consumes the standing assignments ≥2 ways (skew-split cell
    # counts + the member block side) — without the seal the corpus
    # assignment Arrow pass replays per consumer, the same rule every
    # other IVF gate already applies (optimization r11)
    assigns = assigns.localCheckpoint(eager=False)
    nbrs = ivf_index_search(cents, assigns, queries, k=5, n_probe=4)
    return knn_classify(labeled, queries, neighbors=nbrs)


def _stump_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared doc-stat feature frame for the stump gates: two exact
    integer features (n_chars from the table, n_words via the
    normalized-words pipeline — the token_counts parity chain) and a
    binary is-English label (NULL lang → NULL label, dropped by
    training)."""
    from dbt_core_spark.operators.dedup import normalized_words

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.size(normalized_words("text")).cast("bigint").alias("n_words"),
        F.when(F.col("lang").isNull(), F.lit(None).cast("int"))
        .when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0))
        .alias("y"),
    )


def stump_train_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump training (r11 — the tree-family member of the
    trainable-filter tier): exhaustive exact split search over the
    (n_chars, n_words) doc stats on the doc_id%3≠0 slice, label =
    is-English; every split statistic is a bigint count and the
    tie-break is pinned (error ASC → feature ASC → threshold ASC),
    so the DuckDB oracle replays the whole search bit-for-bit — the
    learned-threshold upgrade over hand-set Gopher-style cutoffs
    (operators/textstats.py:stump_train)."""
    from dbt_core_spark.operators.textstats import stump_train

    feats = _stump_features(spark, sf_dir).filter("doc_id % 3 != 0")
    return stump_train(feats, ["n_chars", "n_words"], label_col="y")


def stump_classify_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stump serving (r11): the trained 1-row model broadcast-routes
    the held-out doc_id%3=0 slice through the learned
    ``value <= threshold`` rule — whole-stage-codegen CASE, no
    driver collect, NULL chosen-feature → NULL pred (surfaced, not
    guessed) (operators/textstats.py:stump_apply)."""
    from dbt_core_spark.operators.textstats import stump_apply

    stump = stump_train_docs(spark, sf_dir)
    held = _stump_features(spark, sf_dir).filter("doc_id % 3 = 0")
    return stump_apply(held, stump, ["n_chars", "n_words"])


def group_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment (r11): split by the
    NEAR-DUPLICATE-CLUSTER root instead of the doc id, so every
    member of a Jaccard≥0.5 cluster lands in the same split — the
    within-corpus contamination channel per-doc hashed splits leave
    open (Lee et al. 2022 §6).  Exact connected components over the
    n-gram-Jaccard pair graph give the roots (the cc_dedup
    machinery); singletons hash as their own group, so the
    distribution degrades exactly to assign_splits as the pair graph
    thins (operators/textstats.py:group_split).  Oracle = recursive-
    CTE components + the shared md5-bucket lattice."""
    from dbt_core_spark.operators.dedup import ngram_jaccard_pairs
    from dbt_core_spark.operators.textstats import group_split

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)
    return group_split(docs, pairs)


def classifier_summary_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-row scoreboard for the trainer tier (r11): micro accuracy +
    MACRO-averaged P/R/F1 over the naive_bayes held-out predictions —
    the imbalance-robust roll-up of classifier_eval_docs (micro
    accuracy alone rewards majority-class prediction).  Exact integer
    identities over the per-class frame: Σtp·1e6 div Σn_gold and
    per-class-micro means with floor division
    (operators/textstats.py:classification_summary)."""
    from dbt_core_spark.operators.textstats import classification_summary

    docs = _t(spark, sf_dir, "documents")
    preds = naive_bayes_language_docs(spark, sf_dir).localCheckpoint(
        eager=False)  # consumed by both confusion aggregates
    gold = docs.filter("doc_id % 3 = 0 AND lang IS NOT NULL").select(
        "doc_id", "lang")
    return classification_summary(preds, gold, pred_col="label",
                                  label_col="lang")


def strip_html_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→text extraction (r11): each document is deterministically
    wrapped in markup (tags + a script block with JS content + a
    comment + double-escaped entities + a style block on even ids —
    the synth_media convention for exercising a decoder without
    external fixtures), then strip_html must recover the prose:
    script/style/comment contents gone, tags → spaces, the six
    standard entities decoded with &amp; last (double-escape rule),
    whitespace collapsed.  Pure JVM regexp chain, zero shuffles
    (operators/textstats.py:strip_html)."""
    from dbt_core_spark.operators.textstats import strip_html

    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.when(F.col("doc_id") % 2 == 0,
               F.lit("<style>p { color: red }</style>"))
        .otherwise(F.lit("")),
        F.lit('<div class="d"><p>'), F.col("text"),
        F.lit('</p>\n<script type="t">var x = 1 &lt; 2;</script>'
              "<!-- hidden -->&amp;amp; &quot;q&#39;s&quot;&nbsp;"
              "<br/></div>"),
    )
    return strip_html(docs.select("doc_id", html.alias("text")))


def pagerank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank over the duplicate-similarity graph
    (r11): the Jaccard≥0.5 pair graph symmetrized to directed edges,
    nodes = ALL documents (singletons settle at the (1-d) floor),
    3 sweeps at d=0.85 in micro units with floor division — the
    centrality signal for canonical-representative selection inside
    dup clusters (the graph-tier verb on top of
    connected_components).  Fixed-iteration integer semantics make
    the DuckDB oracle an exact 3-step unroll — float PageRank has no
    such oracle (operators/graphs.py:pagerank)."""
    from dbt_core_spark.operators.dedup import ngram_jaccard_pairs
    from dbt_core_spark.operators.graphs import pagerank

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(pairs.select(
        F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    return pagerank(edges, nodes=docs.select("doc_id"), iters=3) \
        .selectExpr("node as doc_id", "pagerank_micro")


def ppr_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank (r11): random walk with restart over the
    same Jaccard pair graph, teleporting only to the doc_id%10=0 seed
    set — rank the corpus by graph proximity to a trusted seed set
    (the curation query: 'more documents like these'; Haveliwala
    2002).  Seeds start at 1e6 micro and carry the restart term;
    non-seeds earn mass only through in-edges, so disconnected
    non-seeds stay exactly 0 (operators/graphs.py:pagerank with
    ``seeds=``).  Oracle = the same exact 3-sweep unroll with the
    seed predicate in the base/restart terms."""
    from dbt_core_spark.operators.dedup import ngram_jaccard_pairs
    from dbt_core_spark.operators.graphs import pagerank

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(pairs.select(
        F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    seeds = docs.filter("doc_id % 10 = 0").select("doc_id")
    return pagerank(edges, nodes=docs.select("doc_id"), iters=3,
                    seeds=seeds) \
        .selectExpr("node as doc_id", "pagerank_micro")


def group_kfold_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe K-fold assignment (r11): fold = md5 bucket of the
    duplicate-cluster root mod 5 — GroupKFold semantics over learned
    dup groups, the cross-validation sibling of group_split_docs
    (operators/textstats.py:group_kfold)."""
    from dbt_core_spark.operators.dedup import ngram_jaccard_pairs
    from dbt_core_spark.operators.textstats import group_kfold

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)
    return group_kfold(docs, pairs, k=5)


def streaming_knn_serve_embeddings(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CLASSIFICATION serving (r11) — the trainable-filter
    tier joins the exactly-once serving family (BM25 ranks, dense
    ANN): the %3=0 residue streamed as micro-batched classification
    requests, each batch searched against the SEALED standing
    labeled-IVF index and majority-voted per query
    (knn_classify with injected ivf_index_search neighbors).  The
    vote is request-row-local, so the drained union is identical to
    the one-shot classification under ANY micro-batch split — the
    oracle IS knn_classify_ivf_embeddings' 3-scale-verified replay
    (operators/similarity.py + streaming/structured.py:
    stream_serve_foreach_batch — batch_id-keyed idempotent writes)."""
    import tempfile

    from dbt_core_spark.operators.similarity import (
        ivf_centroid_matrix,
        ivf_index_build,
        ivf_index_search,
        knn_classify,
    )
    from dbt_core_spark.streaming.structured import (
        stream_serve_foreach_batch,
        stream_source,
    )

    path = _embs_stream_path(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    labeled = emb.filter("vec_id % 3 != 0 AND label IS NOT NULL") \
        .localCheckpoint(eager=False)  # feeds build AND per-batch votes
    cents, assigns = ivf_index_build(labeled, n_cells=16, kmeans_iters=0)
    # sealed: every micro-batch probes the standing assignments (the
    # ≥2-branch lineage rule — without the seal each batch replays
    # the corpus assignment pass)
    assigns = assigns.localCheckpoint(eager=False)
    # the centroid matrix hoisted out of the per-batch plan; each
    # micro-batch takes the broadcast serve (see
    # streaming_ann_serve_embeddings)
    cmat = ivf_centroid_matrix(cents)
    # the per-batch vote join needs only (vec_id, label) — a sealed
    # 2-column projection, so each micro-batch scans narrow label
    # blocks instead of the full-row (embedding-carrying) corpus seal
    # (optimization r12; guide §2.3 — project before the per-batch
    # join).  knn_classify only touches the vector column when it has
    # to run its own search; neighbors are injected here.
    labels = labeled.select("vec_id", "label").localCheckpoint(
        eager=False)
    stream = stream_source(
        spark, path, spark.read.parquet(path).schema, fmt="parquet",
        options={"maxFilesPerTrigger": "2"},
    )
    work = tempfile.mkdtemp(prefix="knn_serve_")
    out, ckpt = f"{work}/out", f"{work}/ckpt"
    stream_serve_foreach_batch(
        stream.filter("vec_id % 3 = 0"),
        lambda batch: knn_classify(
            labels, batch,
            neighbors=ivf_index_search(cents, assigns, batch,
                                       k=5, n_probe=4,
                                       centroid_matrix=cmat)),
        out, ckpt,
    )
    if not os.path.isdir(out):  # no request rows arrived at all
        return spark.createDataFrame(
            [], "query_id long, pred_label int, votes bigint, "
                "best_rank int")
    return spark.read.parquet(out).select(
        "query_id", "pred_label", "votes", "best_rank")


def corpus_profile_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset-card row (r11): volume / length / exact-dup
    / language-mix statistics per source, every one an exact integer
    (mean and dup-rate as floor divisions) — the profile a corpus
    registry publishes next to each source and diffs across snapshots
    (operators/corpus.py:corpus_profile; datasheets-for-datasets
    practice).  A NULL source profiles as its own group; its top_lang
    is NULL via standard join semantics on both engines."""
    from dbt_core_spark.operators.corpus import corpus_profile

    return corpus_profile(_t(spark, sf_dir, "documents"))


def centroid_classify_embeddings(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) classification (r11): one integer
    prototype per label from the vec_id%3≠0 slice (fixed-point
    floor(x·1000+0.5) quantization + floor-exact per-position means),
    the %3=0 slice served by nearest prototype under bigint squared
    L2 — the train-k-prototypes/serve-k·dim classifier completing
    the embedding-classifier family (kNN = corpus search; this =
    constant-size model).  Integer-exact end-to-end, oracle replays
    training + serving bit-for-bit
    (operators/similarity.py:centroid_classify)."""
    from dbt_core_spark.operators.similarity import centroid_classify

    emb = _t(spark, sf_dir, "embeddings")
    return centroid_classify(
        emb.filter("vec_id % 3 != 0"), emb.filter("vec_id % 3 = 0"))


# =========================================================================
# registry
# =========================================================================

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every gate, keyed by name: exactly the names ``oracle_sql()``
    carries, each bound to the same-named function in this module."""
    from oracles import ORACLES  # repo-root oracles.py

    return {name: globals()[name] for name in ORACLES}


def oracle_sql() -> dict[str, str]:
    from oracles import ORACLES  # repo-root oracles.py

    return dict(ORACLES)
